"""Seeded input generator for the benchmark.

Writes the ten batch tables the query registry reads (the TPC-H-ish star
schema plus `events`, `documents` and `embeddings`, with the column types
and value distributions of the fixture tables the oracle checks run
against) and, for the live workload, the event files the generator thread
releases into the stream's drop-dir. The same seed always gives the same
bytes; the program under test only ever sees these files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_EVENTS = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start_day, n_days, n):
    return EPOCH_1995 + (start_day + rng.integers(0, n_days, n)) * DAY_US


def batch_tables(out_dir, seed, sf):
    """All ten registry tables at scale factor `sf` into `out_dir`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_users = int(50_000 * sf), int(15_000 * sf)
    n_emb = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    _write(pa.table({"r_regionkey": pa.array(range(5), i32),
                     "r_name": REGIONS}), f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
           f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}), f"{out_dir}/supplier.parquet")
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)}),
        f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, 0, 2400, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}), f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, 1, 2499, n_line)}), f"{out_dir}/lineitem.parquet")

    gaps = rng.exponential(30 * DAY_US / n_evt, n_evt).astype(np.int64) + 1
    _write(pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": EPOCH_EVENTS + np.cumsum(gaps),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), i64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}),
        f"{out_dir}/events.parquet")

    # Documents: random word strings, with ~5% near-duplicates (another
    # document's text plus a "dup" marker) so the dedup tiers find pairs.
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 101)))
             for _ in range(n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[rng.integers(0, n_doc)] + " dup"
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)}), f"{out_dir}/documents.parquet")

    # Embeddings: unit vectors around ten label centroids.
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = 0.15 * centers[labels] + rng.normal(0, 0.125, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)}), f"{out_dir}/embeddings.parquet")


STREAM_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])


def stream_files(out_dir, seed, backlog_files, backlog_events, live_files,
                 live_events, file_interval_s, late_frac=0.01, late_max_s=300.0):
    """The pre-staged backlog, then the live files (one per release tick).

    Backlog files hold `backlog_events` events each, live files
    `live_events`. Event time advances `file_interval_s` per file;
    `late_frac` of the events are out of order, up to `late_max_s` back,
    which stays inside the jobs' 10-minute watermark. user_id is
    Zipf-skewed and the event-type mix is fixed per seed. Writes and
    returns the manifest: file name, first event id and event count.
    """
    rng = np.random.default_rng(seed + 7919)
    os.makedirs(out_dir, exist_ok=True)
    mix = rng.dirichlet(np.full(len(EVENT_TYPES), 8.0))
    base = EPOCH_EVENTS + 90 * DAY_US
    manifest = []
    eid = 0
    for f in range(backlog_files + live_files):
        n = backlog_events if f < backlog_files else live_events
        offs = np.sort(rng.uniform(0, file_interval_s, n)) + f * file_interval_s
        late = rng.random(n) < late_frac
        offs[late] -= rng.uniform(0, late_max_s, late.sum())
        ts = base + (offs * 1e6).astype(np.int64)
        ids = np.arange(eid, eid + n)
        eid += n
        table = pa.table({
            "event_id": ids,
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": np.minimum(rng.zipf(1.3, n), 5000).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n, p=mix),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }, schema=STREAM_SCHEMA)
        name = f"part-{f:05d}.parquet"
        _write(table, f"{out_dir}/{name}")
        manifest.append((name, int(ids[0]), n))
    with open(f"{out_dir}/manifest.tsv", "w") as fh:
        fh.writelines(f"{f}\t{i}\t{n}\n" for f, i, n in manifest)
    return manifest
