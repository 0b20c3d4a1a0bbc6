"""Deterministic sf0.1 dataset for the benchmark.

Writes the ten fixture tables (same names, columns, types and value
domains as the repository's sf0.1 test tier) as one parquet file each.
The data is fixed: it derives from a constant seed, so every run and
every commit reads the same bytes. The workload seed only shapes the
statements sent.
"""
import hashlib
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
ROWS = {"supplier": 1000, "customer": 15000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000,
        "embeddings": 2000}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
P_WORDS = ["large", "hot", "blue", "small", "red", "green", "steel", "cold"]
P_NOUNS = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ("join a value fast column sort scan small customer merge hash line "
         "spark part batch slow group row filter query key big window table "
         "stream order data vector agg the").split()

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in microseconds


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _pick(rng, choices, n):
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables():
    """Every table as a pyarrow Table, built from DATA_SEED alone."""
    rng = np.random.default_rng(DATA_SEED)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = ROWS["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999, 9999, n)})
    n = ROWS["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999, 9999, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n)})
    n = ROWS["part"]
    names = np.char.add(np.char.add(
        np.asarray(P_WORDS)[rng.integers(0, len(P_WORDS), n)], " "),
        np.asarray(P_NOUNS)[rng.integers(0, len(P_NOUNS), n)])
    out["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": names.astype(object),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n).astype(str)).astype(object)),
        "p_type": _pick(rng, P_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 2)})
    n = ROWS["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n)})
    n = ROWS["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, ROWS["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, ROWS["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts(EPOCH_1995 + 86_400_000_000
                          + rng.integers(0, 2499, n) * DAY_US)})
    n = ROWS["events"]
    # whole microseconds, so every engine reads the same instant
    ts = 1_704_067_200_000_000 + np.sort(rng.integers(0, 30 * DAY_US, n))
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": _money(rng, 0, 560, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = ROWS["documents"]
    lens = rng.integers(8, 90, n)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    texts, at = [], 0
    for ln in lens:
        texts.append(" ".join(words[at:at + ln]))
        at += ln
    for i in range(0, n, 97):  # exact duplicates for the dedup operators
        texts[i + 1 if i + 1 < n else i] = texts[i]
    out["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64)})
    n = ROWS["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.15, (n, 64))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    # rows arrive unsorted, like the fixture tier's fact tables
    perm = rng.permutation(ROWS["lineitem"])
    out["lineitem"] = out["lineitem"].take(pa.array(perm))
    return out


def ensure(data_dir):
    """Write the dataset into data_dir; later calls reuse it while this
    generator's source is unchanged, and rewrite it otherwise."""
    data_dir = Path(data_dir)
    done = data_dir / "_COMPLETE"
    key = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:16]
    if done.exists() and done.read_text().strip() == key:
        return data_dir
    data_dir.mkdir(parents=True, exist_ok=True)
    done.unlink(missing_ok=True)
    for name, table in tables().items():
        tmp = data_dir / f".{name}.parquet.tmp"
        pq.write_table(table, tmp, compression="snappy")
        os.replace(tmp, data_dir / f"{name}.parquet")
    done.write_text(key + "\n")
    return data_dir
