#!/usr/bin/env python3
"""Served-path benchmark: SQL text in over Arrow Flight, Arrow batches out.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Builds the engine from this checkout (once), writes the fixed sf0.1
dataset (once), starts graft.Serve and drives it from stock
pyarrow.flight clients in a closed loop for --seconds. Every distinct
statement served is then checked against DuckDB. The last stdout line
is the result JSON; the line before it carries the run's context
(seed, host, failures by statement name).

--trace 1 is the separate traced run: the benchmark's harness opens a
session with graft.Serve's settings and replays the workload's
statements, plus a seeded sample of the in-process operator queries,
through each layer's public entry points, recording a span per call.
See README.md for the workloads, metrics and predictions.
"""
import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import flightsql  # noqa: E402
import procs  # noqa: E402
import workloads  # noqa: E402
from oracle import Oracle  # noqa: E402
from stats import Tally, beyond, median, percentile, self_times, tail_percentile  # noqa: E402
from pyarrow import flight  # noqa: E402

# per workload: closed-loop clients, and the tail percentile (fixed from
# stats.tail_percentile() at the sample count a run yields)
WORKLOADS = {
    "interactive": {"clients": 4, "tail": 95},
    "export": {"clients": 1, "tail": 90},
}
WARM_S = 5                # untimed warm-up before the measured phase
STATEMENT_TIMEOUT_S = 60
PIPELINE_PER_FAMILY = 1   # operator queries per family in the traced run


def mb(n):
    return n / (1024.0 * 1024.0)


def metric(value, unit):
    return {"value": value, "unit": unit}


def context(seed, cpus):
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=procs.ROOT,
                                capture_output=True, text=True, timeout=10).stdout.strip()
    except OSError:
        commit = ""
    return {"seed": seed, "nproc": cpus, "loadavg_before": os.getloadavg(),
            "jvm": procs.jvm_version(), "git_commit": commit or "unknown"}


def analytic_texts(classpath, build_key):
    """The TPC-H family's oracle texts, dumped once per build."""
    f = procs.WORK / f"tpch_texts-{build_key}.json"
    if not f.exists():
        out = subprocess.run(
            [procs.java(), "-cp", classpath, "graft.perfbench.Texts"],
            capture_output=True, text=True, timeout=120, check=True)
        f.write_text(out.stdout)
    return json.loads(f.read_text())


# ---- the untraced, end-to-end run ---------------------------------------

def closed_loop(port, streams, seconds):
    """Each client sends its stream's next statement only after the
    previous one finished, until the deadline. Returns per-statement
    records and the measured wall time."""
    records = [[] for _ in streams]
    start = time.monotonic()
    deadline = start + seconds
    opts = flight.FlightCallOptions(timeout=STATEMENT_TIMEOUT_S)

    def client_loop(i):
        client = flight.FlightClient(f"grpc://127.0.0.1:{port}")
        try:
            for stmt in streams[i]:
                if time.monotonic() >= deadline:
                    break
                t0 = time.monotonic_ns()
                try:
                    res = flightsql.run(client, stmt, opts)
                    records[i].append((stmt, res, None))
                except Exception as e:  # refused, RPC error, timeout
                    records[i].append((stmt, None, f"{type(e).__name__}: {e}"))
                    if time.monotonic_ns() - t0 < 1e6:
                        time.sleep(0.001)
        finally:
            client.close()

    threads = [threading.Thread(target=client_loop, args=(i,)) for i in range(len(streams))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return [r for rs in records for r in rs], time.monotonic() - start


def warm_up(port, workload, seed):
    """Untimed: every template first, then the workload's own mix with
    other keys until WARM_S has passed, so JIT and codegen settle before
    the clock starts."""
    clients = WORKLOADS[workload]["clients"]
    t0 = time.monotonic()
    closed_loop(port, workloads.warm(workload, random.Random(f"{seed}/warm"), clients), 3600)
    rest = WARM_S - (time.monotonic() - t0)
    if rest > 0:
        closed_loop(port, workloads.streams(workload, f"{seed}/warm", clients, 20000), rest)


def steal_ticks():
    """Host time taken from this machine's CPUs (the steal column of
    /proc/stat): the host-noise figure recorded with each run."""
    return int(open("/proc/stat").readline().split()[8])


def count(records, tally):
    for stmt, _, err in records:
        if err is None:
            tally.ok()
        else:
            tally.fail(stmt.name, err)


def check_distinct(results, oracle, tally):
    """Outside the timed phase: check each distinct statement's first
    result against DuckDB; a wrong one counts as a failed attempt."""
    seen = {}
    for stmt, res in results:
        seen.setdefault(stmt.key, (stmt, res.table))
    for stmt, table in seen.values():
        try:
            diff = oracle.check(stmt, table)
        except Exception as e:
            diff = f"check failed: {type(e).__name__}: {e}"
        if diff:
            tally.wrong(stmt.name, diff)
    return len(seen)


def per_template(records):
    by = {}
    for stmt, res, err in records:
        if err is None:
            by.setdefault(stmt.name, []).append(res.latency_ms)
    return {k: [len(v), round(median(v), 1)] for k, v in sorted(by.items())}


def run_e2e(args, classpath, data_dir, cpus, info):
    cfg = WORKLOADS[args.workload]
    server = procs.serve(classpath, data_dir, cpus)
    try:
        setup_s = server.wait_ready()
        t_warm = time.monotonic()
        warm_up(server.port, args.workload, args.seed)
        info["warm_s"] = time.monotonic() - t_warm
        streams = workloads.streams(args.workload, args.seed, cfg["clients"], 20000)
        rss_reset = server.reset_peak_rss()
        gc_mark = server.gc_mark()
        cpu0, steal0, own0 = server.cpu_s(), steal_ticks(), os.times()
        records, wall = closed_loop(server.port, streams, args.seconds)
        cpu1, steal1, own1 = server.cpu_s(), steal_ticks(), os.times()
        info["host_steal_share"] = (steal1 - steal0) / procs.CLK_TCK / wall / cpus
        info["client_cpu_share"] = ((own1.user + own1.system - own0.user - own0.system)
                                    / wall / cpus)
        peak_rss = server.peak_rss_mb()
        server.collect()
        gcs = server.heap_after_gc_mb(gc_mark)
    finally:
        t_stop = time.monotonic()
        server.stop()
        info["stop_s"] = time.monotonic() - t_stop
    t_check = time.monotonic()
    tally = Tally()
    oracle = Oracle(data_dir)
    count(records, tally)
    info["distinct_checked"] = check_distinct(
        [(s, r) for s, r, e in records if e is None], oracle, tally)
    info["check_s"] = time.monotonic() - t_check
    good = [r for _, r, e in records if e is None]
    if not good:
        raise RuntimeError("no statement completed")
    lat = [r.latency_ms for r in good]
    p = cfg["tail"]
    info.update({
        "samples": len(lat), "tail_percentile": p,
        "p50_ms_by_template": per_template(records),
        "tail_samples_beyond": beyond(len(lat), p),
        "tail_rule_percentile": tail_percentile(len(lat)), "rss_peak_reset": rss_reset,
        # on-heap figures, not gated: they spread over 0.2 across seeds
        "live_heap_mb": next((mb for k, mb in reversed(gcs) if k == "Full"), None),
        "heap_after_young_gc_peak_mb": max([mb for k, mb in gcs if k == "Young"], default=None),
        "error_rate": tally.error_rate, "failures": tally.failures})
    metrics = {
        "setup_s": metric(setup_s, "s"),
        "latency_p50_ms": metric(median(lat), "ms"),
        "latency_tail_ms": metric(percentile(lat, p), "ms"),
        "ttfb_p50_ms": metric(median([r.ttfb_ms for r in good]), "ms"),
        "statements_per_s": metric(len(good) / wall, "1/s"),
        "rows_per_s": metric(sum(r.table.num_rows for r in good) / wall, "1/s"),
        "server_cpu_ms_per_stmt": metric((cpu1 - cpu0) * 1000.0 / len(good), "ms"),
        "server_peak_rss_mb": metric(peak_rss, "MB"),
    }
    return tally, metrics


# ---- the traced run -----------------------------------------------------

class Harness(procs.Server):
    """The benchmark's in-process harness (graft.perfbench.Harness)."""

    def __init__(self, classpath, data_dir, cpus):
        super().__init__(classpath, "graft.perfbench.Harness", [str(data_dir)], cpus)
        self.ready = self.read()
        self.t_ready = time.monotonic()
        self.port = self.ready["port"]

    def read(self):
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError("harness exited")
            if line.startswith("PB "):
                return json.loads(line[3:])

    def call(self, **cmd):
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        reply = self.read()
        if reply.get("error"):
            raise RuntimeError(reply["error"])
        return reply


def bound_text(stmt):
    """The SQL text a prepared statement executes once its $1 is bound."""
    return stmt.sql.replace("$1", str(stmt.param)) if stmt.kind == "prepared" else stmt.sql


SERVER_SPANS = ("gateway.getinfo", "gateway.sql", "catalyst.optimize",
                "catalyst.plan", "arrow.stream", "flight.frame")


def trace_served(h, stmts, seconds, tally, spans_out):
    """Replay statements layer by layer, then over the wire, for
    `seconds`; then the same statements over the wire again, with no
    layer replay. Returns per-statement layer records and two
    statements_per_s figures, each from the wire flows alone (one
    execution per statement on both sides): during the traced loop,
    and in the plain loop."""
    client = flight.FlightClient(f"grpc://127.0.0.1:{h.port}")
    opts = flight.FlightCallOptions(timeout=STATEMENT_TIMEOUT_S)
    rows, done = [], []
    t0 = time.monotonic()
    try:
        for i, stmt in enumerate(stmts):
            if time.monotonic() - t0 >= seconds:
                break
            sid = f"s{i}"
            start = time.monotonic_ns()
            try:
                layers = None
                if stmt.kind != "metadata":
                    layers = h.call(cmd="sql", id=sid, text=bound_text(stmt),
                                    getinfo=stmt.kind in ("twostep", "prepared"))
                res = flightsql.run(client, stmt, opts)
            except Exception as e:
                tally.fail(stmt.name, f"{type(e).__name__}: {e}")
                continue
            tally.ok()
            end = time.monotonic_ns()
            spans = [{"name": "stmt", "start": start, "end": end, "parent": None},
                     {"name": "flight.client", "start": res.start_ns,
                      "end": res.end_ns, "parent": "stmt"}]
            spans += layers["spans"] if layers else []
            spans_out.append({"id": sid, "workload": stmt.name, "spans": spans,
                              "spark": layers and layers["spark"]})
            rows.append((stmt, res, layers))
            done.append(stmt)
        plain_ms = [flightsql.run(client, stmt, opts).latency_ms for stmt in done]
    finally:
        client.close()
    traced_ms = [res.latency_ms for _, res, _ in rows]
    return (rows, len(done) * 1000.0 / max(sum(traced_ms), 1e-9),
            len(done) * 1000.0 / max(sum(plain_ms), 1e-9))


def dur_ms(layers, name):
    for sp in layers["spans"]:
        if sp["name"] == name:
            return (sp["end"] - sp["start"]) / 1e6
    return None


def med(values):
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else 0.0


def mean(values):
    values = [v for v in values if v is not None]
    return statistics.fmean(values) if values else 0.0


SPARK_MEDIANS = ("jobs", "stages", "tasks", "job_wall_ms", "task_run_ms",
                 "task_cpu_ms", "task_busy_share", "input_mb", "peak_exec_mem_mb")
SPARK_MEANS = ("shuffle_read_mb", "shuffle_write_mb", "spill_mb")


def spark_metrics(prefix, sparks):
    out = {}
    for k in SPARK_MEDIANS + SPARK_MEANS:
        name = k.replace("jobs", "jobs_per_stmt").replace("stages", "stages_per_stmt") \
                .replace("tasks", "tasks_per_stmt")
        agg = med if k in SPARK_MEDIANS else mean
        unit = {"ms": "ms", "mb": "MB"}.get(k.rsplit("_", 1)[-1], "count")
        if k == "task_busy_share":
            unit = "share"
        out[f"{prefix}spark.{name}"] = metric(agg([s[k] for s in sparks]), unit)
    return out


def served_layer_metrics(rows):
    with_layers = [(s, r, l) for s, r, l in rows if l]
    L = [l for _, _, l in with_layers]
    m = {}
    for span in ("dialect.rewrite", "parser.parse", "gateway.sql", "gateway.getinfo",
                 "catalyst.optimize", "catalyst.plan", "arrow.schema", "arrow.stream",
                 "arrow.first_batch", "flight.frame"):
        m[span + "_ms"] = metric(med([dur_ms(l, span) for l in L]), "ms")
    wire = []
    for _, r, l in with_layers:
        server = sum(dur_ms(l, s) or 0.0 for s in SERVER_SPANS)
        wire.append(r.latency_ms - server)
    m["flight.wire_ms"] = metric(med(wire), "ms")
    m["flight.rpcs_per_stmt"] = metric(mean([r.rpcs for _, r, _ in rows]), "count")
    m["flight.mb_out"] = metric(med([mb(l["flight_bytes"]) for l in L]), "MB")
    m["arrow.batches_per_stmt"] = metric(med([l["batches"] for l in L]), "count")
    m["arrow.mb_per_stmt"] = metric(med([mb(l["arrow_bytes"]) for l in L]), "MB")
    m.update(spark_metrics("", [l["spark"] for l in L]))
    return m


def trace_pipeline(h, names, data_dir, oracle, tally, spans_out):
    """Each sampled operator query: dumped and checked against its
    oracle SQL (this first execution also fills CacheOnce and the
    memos), then traced, then run untraced for the overhead figure."""
    traced, plain, recs = 0.0, 0.0, []
    for name in names:
        dump = procs.WORK / "dumps" / name
        try:
            d = h.call(cmd="llm_dump", name=name, dir=str(dump))
            diff = oracle.check_parquet(dump, d.get("oracle"))
            t = h.call(cmd="llm_trace", id=f"llm:{name}", name=name)
            p = h.call(cmd="llm_plain", name=name)
        except Exception as e:
            tally.fail(name, f"{type(e).__name__}: {e}")
            continue
        tally.ok()
        if diff:
            tally.wrong(name, diff)
        traced += max(sp["end"] for sp in t["spans"]) - min(sp["start"] for sp in t["spans"])
        plain += p["end"] - p["start"]
        spans_out.append({"id": t["id"], "workload": "pipeline", "spans": t["spans"],
                          "spark": t["spark"]})
        recs.append(t)
    m = {
        "pipeline.llm.build_ms": metric(med([dur_ms(t, "llm.build") for t in recs]), "ms"),
        "pipeline.llm.exec_ms": metric(med([dur_ms(t, "llm.exec") for t in recs]), "ms"),
        "pipeline.catalyst.optimize_ms": metric(
            med([dur_ms(t, "catalyst.optimize") for t in recs]), "ms"),
        "pipeline.catalyst.plan_ms": metric(med([dur_ms(t, "catalyst.plan") for t in recs]), "ms"),
        "pipeline.memo.rebuilds": metric(sum(t["memo_rebuilds"] for t in recs), "count"),
        "pipeline.memo.evictions": metric(sum(t["memo_evictions"] for t in recs), "count"),
        "pipeline.trace_overhead_share": metric(
            1.0 - plain / traced if traced else 0.0, "share"),
    }
    m.update(spark_metrics("pipeline.", [t["spark"] for t in recs]))
    return m


def run_traced(args, classpath, data_dir, cpus, info):
    tally = Tally()
    oracle = Oracle(data_dir)
    spans_out = []
    h = Harness(classpath, data_dir, cpus)
    try:
        h.wait_ready()
        warmup_s = time.monotonic() - h.t_ready
        warm_up(h.port, args.workload, args.seed)
        stmts = workloads.streams(args.workload, args.seed, 1, 20000)[0]
        rows, traced_sps, plain_sps = trace_served(h, stmts, args.seconds, tally, spans_out)
        names = workloads.pipeline_sample(args.seed, h.ready["families"], PIPELINE_PER_FAMILY)
        metrics = trace_pipeline(h, names, data_dir, oracle, tally, spans_out)
    finally:
        h.stop()
    check_distinct([(s, r) for s, r, _ in rows], oracle, tally)
    metrics.update(served_layer_metrics(rows))
    metrics.update({
        "setup.spark_s": metric(h.ready["spark_s"], "s"),
        "setup.gateway_open_s": metric(h.ready["gateway_open_s"], "s"),
        "setup.warmup_s": metric(warmup_s, "s"),
        "trace.overhead_share": metric(1.0 - traced_sps / plain_sps, "share"),
    })
    # self time per layer, from the recorded spans (overlaps counted once)
    for rec in spans_out:
        rec["self_ns"] = self_times(rec["spans"])
    info.update({"traced_statements": len(rows), "pipeline_sample": names,
                 "statements_per_s_traced": traced_sps,
                 "statements_per_s_untraced": plain_sps,
                 "error_rate": tally.error_rate, "failures": tally.failures})
    spans_file = procs.WORK / "results" / f"spans-{args.workload}-{args.seed}.json"
    spans_file.parent.mkdir(parents=True, exist_ok=True)
    spans_file.write_text(json.dumps({"statements": spans_out}))
    info["spans_file"] = str(spans_file.relative_to(procs.ROOT))
    return tally, metrics


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()

    # the engine sources sit beside the benchmark; without them there is
    # nothing to measure
    if not (procs.ROOT / "src" / "main" / "scala").is_dir():
        sys.exit("perfbench: engine sources not found next to perfbench/")
    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    classpath, build_key = procs.build()
    data_dir = datagen.ensure(procs.WORK / "data")
    info = context(args.seed, cpus)
    info["source_hash"] = build_key
    info["workload"] = args.workload
    run = run_traced if args.trace else run_e2e
    tally, metrics = run(args, classpath, data_dir, cpus, info)
    info["duckdb_analytic_s"] = Oracle(data_dir).time_texts(
        analytic_texts(classpath, build_key).values())
    info["loadavg_after"] = os.getloadavg()
    info["wall_s"] = time.monotonic() - t_start
    result = {"correct": tally.failed == 0, "attempted": tally.attempted,
              "failed": tally.failed, "metrics": metrics}
    out = procs.WORK / "results" / f"{args.workload}-{args.seed}-t{args.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps({"context": info, "result": result}, indent=1))
    print(json.dumps({"context": info}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
