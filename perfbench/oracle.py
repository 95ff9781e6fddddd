"""Correctness checks for the benchmark's outputs, computed with DuckDB.

Query workloads: each query's parquet output is compared with the DuckDB
result of its oracle SQL over the same generated tables (columns sorted by
name, row order as written, values equal). A query without oracle SQL gets
a rows-only check: the output must exist and hold at least one row.

Lake workload: the marts of the full-refresh lake are compared with DuckDB
runs of the catalog's oracle SQL for the same marts (`user_city_mart`,
`zone_report`, `recommendations`) over the generated events root, after
mapping the mart's columns onto the oracle's; the stage-1 interim of both
the full and the incremental lake is compared with the `geo_enrich` oracle.

`check_*` functions return {name: problem} for every mismatch; an empty
dict means every output is correct.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype in (np.int8, np.int16, np.int32, np.uint32):
            df[c] = df[c].astype(np.int64)
    return df.reset_index(drop=True)


def compare(got, want):
    """'' when the frames are equal, else a short description."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        same = [_equal(x, y) for x, y in zip(a, b)]
        if not all(same):
            i = same.index(False)
            return f"{c}[row {i}]: got {a.iloc[i]!r}, want {b.iloc[i]!r}"
    return ""


def _equal(x, y):
    scalars = not isinstance(x, tuple) and not isinstance(y, tuple)
    if scalars and pd.isna(x) and pd.isna(y):
        return True
    return bool(x == y)


def read_output(path):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        return None
    return pd.concat([_read_part(path, f) for f in files], ignore_index=True)


def _read_part(root, f):
    """One part file plus the hive partition columns in its path."""
    df = pd.read_parquet(f)
    rel = os.path.relpath(os.path.dirname(f), root)
    for seg in [] if rel == "." else rel.split(os.sep):
        k, _, v = seg.partition("=")
        df[k] = int(v) if v.lstrip("-").isdigit() else v
    return df


def tables_con(data_dir):
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{path}/*/*.parquet', hive_partitioning = false)")
        elif os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def check_queries(data_dir, out_dir, oracle_sql, names):
    con = tables_con(data_dir)
    bad = {}
    for name in names:
        got = read_output(os.path.join(out_dir, name))
        if got is None:
            bad[name] = "no output"
        elif name not in oracle_sql:
            if len(got) == 0:
                bad[name] = "rows-only check: empty output"
        else:
            problem = compare(got, con.sql(oracle_sql[name]).df())
            if problem:
                bad[name] = problem
    return bad


def _user_city(df):
    df = df.copy()
    df["travel_path"] = df.pop("travel_array").map(
        lambda a: None if a is None else "|".join(a))
    return df.sort_values("user_id")


def _recommendations(df):
    df = df.drop(columns=["processed_dttm"]).copy()
    df["dist_km_e2"] = np.floor(df.pop("dist_km") * 100 + 0.5).astype(np.int64)
    return df.sort_values(["user_left", "user_right", "channel"])


def _zone_report(df):
    return df.sort_values(["week", "month", "zone_id"])


MARTS = {"user_city": ("user_city_mart", _user_city),
         "zone_report": ("zone_report", _zone_report),
         "recommendations": ("recommendations", _recommendations)}


def _interim(df):
    out = df[["event_id", "zone_id", "zone_name"]].astype({"zone_id": "int64"})
    out["dist_km_e2"] = np.floor(df["dist_km"] * 100 + 0.5).astype(np.int64)
    return out.sort_values("event_id")


def check_lake(data_dir, full, incremental, oracle_sql):
    """Compares the full-refresh lake's marts, and the stage-1 interim of
    both lakes, with DuckDB."""
    con = tables_con(data_dir)
    bad = {}
    checks = [(full, "analytics/" + mart, q, shape)
              for mart, (q, shape) in MARTS.items()]
    checks += [(lake, "interim/mes_geo", "geo_enrich", _interim)
               for lake in (full, incremental)]
    want = {}
    for lake, rel, q, shape in checks:
        name = f"{os.path.basename(lake)}/{rel}"
        got = read_output(os.path.join(lake, rel))
        if got is None:
            bad[name] = "no output"
            continue
        if q not in want:
            want[q] = con.sql(oracle_sql[q]).df()
        problem = compare(shape(got).reset_index(drop=True), want[q])
        if problem:
            bad[name] = problem
    return bad
