"""Output check for hfc_monthly_refresh: every M1-M8 read against the
generator's truth for that month, and the final repository store
against the truth's store digest."""
import math

import pyarrow as pa
import pyarrow.parquet as pq

from .gen_hfc import digest
from .report import median, timed_cycles

STORE_COLS = ["id", "name", "type", "author", "sha", "last_modified", "private",
              "card_data", "gated", "disabled", "likes"]
DYNAMIC = ("m1", "m5", "m8")


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return (a is not None and b is not None
                and math.isclose(float(a), float(b), rel_tol=1e-12, abs_tol=1e-15))
    return a == b


def rows_equal(got, want, ordered):
    """None when equal, else the first difference."""
    if len(got) != len(want):
        return f"{len(got)} rows, truth has {len(want)}"
    key = lambda r: sorted((k, str(v)) for k, v in r.items())
    if not ordered:
        got, want = sorted(got, key=key), sorted(want, key=key)
    for g, w in zip(got, want):
        if set(g) != set(w) or not all(_same(g[k], w[k]) for k in w):
            return f"row {g} != truth {w}"
    return None


def store_rows(store_dir):
    t = pq.read_table(store_dir, columns=STORE_COLS)
    t = t.set_column(STORE_COLS.index("last_modified"), "last_modified",
                     t.column("last_modified").cast(pa.timestamp("us", tz="UTC")).cast(pa.int64()))
    return [dict(zip(STORE_COLS, r)) for r in zip(*(t.column(c).to_pylist() for c in STORE_COLS))]


def check(data_dir, run_dir, result, truth):
    facts = {(f["cycle"], f["name"]): f["value"] for f in result["facts"]}
    cycles = sorted({op["cycle"] for op in result["ops"]})
    bad = {}
    for c in cycles:
        b = truth["batches"][c]
        for m in ("m1", "m2", "m3", "m4", "m5", "m6", "m7", "m8"):
            if (c, m) in facts:
                want = b[m] if m in DYNAMIC else truth["static"][m]
                why = rows_equal(facts[(c, m)], want, ordered=(m == "m1"))
                if why:
                    bad[(c, f"hfc.{m}")] = why
    if cycles:
        last = cycles[-1]
        store = f"{run_dir}/hfc/repository"
        got = digest(store_rows(store))
        if got != truth["batches"][last]["store_digest"]:
            bad[(last, "hfc.refresh")] = "final store differs from the truth"

    refresh = [f["value"] for f in result["facts"] if f["name"] == "refresh"]
    written = sum(v["bytes_written"] for v in refresh)
    batch = sum(v["batch_bytes"] for v in refresh)
    timed = timed_cycles(result)
    ops = [o for o in result["ops"] if o["cycle"] in timed]
    facts_out = {
        "refresh_p50_s": (median([o["ms"] for o in ops if o["kind"] == "refresh"]) / 1000.0, "s"),
        "metrics_p50_ms": (median([o["ms"] for o in ops if o["kind"] == "read"]), "ms"),
        "write_amp": (written / batch if batch else 0.0, "ratio"),
        "months": (len(cycles), "count"),
    }
    layer = {
        "hfc.store_files": (sum(v["store_files"] for v in refresh) / len(refresh)) if refresh else 0.0,
        "hfc.write_amp": facts_out["write_amp"][0],
    }
    return (lambda op: bad.get((op["cycle"], op["name"]))), facts_out, layer
