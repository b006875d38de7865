"""Output check for analytics_sf001: each sampled query's result against
its DuckDB oracle SQL on the same generated tables (the engine's own
correctness gate, applied to the benchmark's inputs)."""
import glob
import math

import duckdb

from .gen_relational import TABLES
from .report import median, percentile, timed_cycles


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _cell_eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if a is None or b is None:
        return a is None and b is None
    try:
        eq = a == b
        return bool(eq) if not hasattr(eq, "all") else bool(eq.all())
    except ValueError:
        return list(a) == list(b)


def compare(con, result_dir, sql):
    """None when equal, else the first difference found."""
    files = glob.glob(f"{result_dir}/*.parquet")
    if not files:
        return "no result files"
    got = _canon(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
    want = _canon(con.execute(sql).fetchdf())
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != oracle {list(want.columns)}"
    if [str(t) for t in got.dtypes] != [str(t) for t in want.dtypes]:
        return f"dtypes {list(got.dtypes)} != oracle {list(want.dtypes)}"
    if len(got) != len(want):
        return f"rows {len(got)} != oracle {len(want)}"
    for col in got.columns:
        for i, (a, b) in enumerate(zip(got[col].tolist(), want[col].tolist())):
            if not _cell_eq(a, b):
                return f"{col}[{i}]: {a!r} != oracle {b!r}"
    return None


def check(data_dir, run_dir, result, truth):
    """(op -> failure reason or None, named figures, per-layer counts).
    A query whose
    checked result differs from its oracle fails every timed run of it."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for f in result["facts"]:
        if not f["name"].startswith("check."):
            continue
        q, v = f["name"][len("check."):], f["value"]
        if v["error"] is not None:
            out[q] = "result write failed: " + v["error"]
        elif v["oracle"] is None:
            out[q] = "no oracle SQL declared"
        else:
            try:
                out[q] = compare(con, f"{run_dir}/check/{q}", v["oracle"])
            except Exception as e:  # a broken oracle or result is a failed check
                out[q] = f"{type(e).__name__}: {e}"
    con.close()
    timed = timed_cycles(result)
    queries = [op["ms"] for op in result["ops"] if op["kind"] == "query" and op["cycle"] in timed]
    suites = [c["ms"] / 1000.0 for c in result["cycles"] if c["cycle"] in timed]
    facts = {"query_p50_ms": (median(queries), "ms"),
             "query_p90_ms": (percentile(queries, 90), "ms"),
             "suite_s": (median(suites), "s"),
             "oracle_checked": (sum(1 for v in out.values() if v is None), "count")}
    return (lambda op: out.get(op["name"][len("queries."):], "query not checked")), facts, {}
