"""Percentiles, failure counting and span arithmetic for the benchmark."""
import math
from dataclasses import dataclass, field

TAIL_CANDIDATES = (99, 95, 90)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the sample at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def beyond(n, p):
    """How many of n samples lie beyond the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n):
    """The highest of p99/p95/p90 that still has at least ten samples
    beyond it, or None when even p90 has fewer."""
    for p in TAIL_CANDIDATES:
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def median(values):
    return percentile(values, 50)


@dataclass
class Tally:
    """Statements attempted and failed. A refused connection, an RPC
    error, a timeout and a wrong result are all failures; failures are
    kept by statement name, never dropped."""
    attempted: int = 0
    failed: int = 0
    failures: dict = field(default_factory=dict)

    def ok(self):
        self.attempted += 1

    def fail(self, name, reason):
        self.attempted += 1
        self.failed += 1
        self.failures.setdefault(name, str(reason)[:300])

    def wrong(self, name, reason):
        """A statement already counted as attempted returned a wrong
        result when checked after the timed phase."""
        self.failed += 1
        self.failures.setdefault(name, "wrong result: " + str(reason)[:300])

    @property
    def error_rate(self):
        return self.failed / self.attempted if self.attempted else 0.0


def covered(interval, others):
    """Length of the part of `interval` covered by the union of `others`
    (all (start, end) pairs)."""
    s0, e0 = interval
    clipped = sorted((max(s, s0), min(e, e0)) for s, e in others
                     if min(e, e0) > max(s, s0))
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span of one statement: its duration minus the
    part of it that its child spans cover. Overlapping children are
    counted once. Spans are dicts with name, start, end and parent (the
    parent's name); returns {name: self time} summed per name."""
    out = {}
    for sp in spans:
        kids = [(c["start"], c["end"]) for c in spans if c.get("parent") == sp["name"]]
        own = (sp["end"] - sp["start"]) - covered((sp["start"], sp["end"]), kids)
        out[sp["name"]] = out.get(sp["name"], 0) + own
    return out
