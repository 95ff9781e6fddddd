"""Seeded input generator for the benchmark.

Writes the engine's input tables (the TPC-H-like star schema plus events,
documents and embeddings) as one single-row-group parquet file per table,
with the column names, types and value domains the engine's loaders and
its `Tables.fixtureProblems` gate expect. The same seed always gives
byte-identical tables; every seed gives tables of the same size.

`lake_input` builds the multi-file, `date=YYYY-MM-DD` partitioned events
root the lake pipeline reads: the base events replicated by user (replica
r shifts user_id by r * users and event_id by r * events), each replica
moved by a whole-day offset. The offsets are a fixed set the seed only
permutes, so the dates, the files and the replica-days inside any date
window are the same for every seed.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
PART_ADJ = "blue hot small old red new cold large".split()
PART_NOUN = "bolt gear anvil ring widget rod plate gizmo".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
US_PER_DAY = 86_400_000_000


def sizes(sf, rows=None):
    """Row counts per table at scale factor `sf`; `rows` overrides some."""
    return dict({
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "users": int(15_000 * sf), "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }, **(rows or {}))


def _ts_us(day0, rng, n, days):
    """`n` microsecond timestamps uniform over `days` days from `day0`."""
    base = np.datetime64(day0, "us").astype(np.int64)
    return base + rng.integers(0, days * US_PER_DAY, n)


def _days(day0, rng, n, days):
    base = np.datetime64(day0, "us").astype(np.int64)
    return base + rng.integers(0, days, n) * US_PER_DAY


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(1, table.num_rows))


def _ts_array(us):
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def dimensions():
    """The fixed region and nation dimensions."""
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})}


def events(n, rng):
    """Events over January 2024, event_id in timestamp order; `n` is a
    `sizes` dict."""
    e = n["events"]
    return pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": _ts_array(np.sort(_ts_us("2024-01-01", rng, e, 30))),
        "user_id": pa.array(rng.integers(0, n["users"], e), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})


def tables(sf, seed, rows=None):
    """All input tables as pyarrow Tables, keyed by table name."""
    rng = np.random.default_rng(seed)
    n = sizes(sf, rows)
    out = dimensions()
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)]})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 1)})
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000, 500_000, o),
        "o_orderdate": _ts_array(_days("1995-01-01", rng, o, 2404)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)]})
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, li)],
        "l_shipdate": _ts_array(_days("1995-01-02", rng, li, 2498))})
    out["events"] = events(n, rng)
    d = n["documents"]
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k))
             for k in rng.integers(10, 100, d)]
    # ~5% near duplicates: another document's text plus a " dup" suffix
    for i in np.flatnonzero(rng.random(d) < 0.05):
        texts[i] = texts[int(rng.integers(0, d))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    m = n["embeddings"]
    vec = rng.standard_normal((m, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32())})
    return out


def write_fixture(root, sf, seed, rows=None):
    """Write every table as `<root>/<name>.parquet`; returns bytes written."""
    os.makedirs(root, exist_ok=True)
    total = 0
    for name, t in tables(sf, seed, rows).items():
        path = os.path.join(root, f"{name}.parquet")
        _write(t, path)
        total += os.path.getsize(path)
    return total


def lake_input(root, sf, seed, replicas=10, span_days=40, files_per_day=2):
    """Date-partitioned events root plus the dimension tables beside it.

    Returns (bytes of the events root, sorted list of partition dates)."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    ev = events(n, rng)
    users = n["users"]
    rows = ev.num_rows
    ts0 = ev["ts"].cast(pa.int64()).to_numpy()
    cols = {k: ev[k].to_numpy(zero_copy_only=False) for k in ev.column_names}
    # one fixed set of day shifts, spread evenly over the span; the seed only
    # deals them out to the replicas, so every seed gives the same dates, the
    # same files and the same replica-days inside any date window. A
    # replica's file within its date follows its shift's rank, not the
    # replica number.
    ranks = rng.permutation(replicas)
    shifts = np.linspace(0, span_days - 30, replicas).round().astype(np.int64)[ranks]
    parts = []
    for r in range(replicas):
        parts.append({
            "event_id": cols["event_id"] + r * rows,
            "ts": ts0 + int(shifts[r]) * US_PER_DAY,
            "user_id": cols["user_id"] + r * users,
            "event_type": cols["event_type"], "value": cols["value"],
            "props": cols["props"], "file": np.full(rows, ranks[r] % files_per_day)})
    merged = {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
    day = merged["ts"] // US_PER_DAY
    events_root = os.path.join(root, "events.parquet")
    shutil.rmtree(events_root, ignore_errors=True)
    total = 0
    dates = []
    for dval in np.unique(day):
        date = str(np.datetime64(int(dval), "D"))
        dates.append(date)
        ddir = os.path.join(events_root, f"date={date}")
        os.makedirs(ddir)
        sel = np.flatnonzero(day == dval)
        for f in range(files_per_day):
            idx = sel[merged["file"][sel] == f]
            if len(idx) == 0:
                continue
            idx = idx[np.argsort(merged["event_id"][idx], kind="stable")]
            t = pa.table({
                "event_id": pa.array(merged["event_id"][idx], pa.int64()),
                "ts": _ts_array(merged["ts"][idx]),
                "user_id": pa.array(merged["user_id"][idx], pa.int64()),
                "event_type": pa.array(merged["event_type"][idx], pa.string()),
                "value": pa.array(merged["value"][idx], pa.float64()),
                "props": pa.array(merged["props"][idx], pa.string())})
            path = os.path.join(ddir, f"part-{f:05d}.parquet")
            _write(t, path)
            total += os.path.getsize(path)
    for name, t in dimensions().items():
        _write(t, os.path.join(root, f"{name}.parquet"))
    return total, dates
