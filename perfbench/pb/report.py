"""Metric naming, summary statistics and the result line."""
import json
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_name(name):
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def median(xs):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


def timed_cycles(result):
    """Cycles whose timings count: not warm-up, not traced."""
    return {c["cycle"] for c in result["cycles"] if not c["warmup"] and not c["traced"]}


def percentile(xs, p):
    """Nearest-rank percentile (p in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


class Metrics:
    """Ordered name -> (value, unit)."""

    def __init__(self):
        self.items = {}

    def put(self, name, value, unit):
        check_name(name)
        if not UNIT_RE.match(unit):
            raise ValueError(f"bad unit {unit!r} for {name}")
        if name in self.items:
            raise ValueError(f"metric {name} reported twice")
        self.items[name] = (float(value), unit)

    def lines(self, workload):
        return [f"metric {workload} {n} {_fmt(v)} {u}" for n, (v, u) in self.items.items()]

    def as_json(self):
        return {n: {"value": _json_num(v), "unit": u} for n, (v, u) in self.items.items()}


def _fmt(v):
    return repr(v) if isinstance(v, float) and math.isfinite(v) else str(v)


def _json_num(v):
    if not math.isfinite(v):
        raise ValueError("metric values must be finite")
    return v


def result_line(correct, attempted, failed, metrics):
    """The compact single-line JSON object that ends stdout."""
    if attempted < 1 or failed < 0 or failed > attempted:
        raise ValueError(f"bad op counts attempted={attempted} failed={failed}")
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics.as_json()},
                      separators=(",", ":"), allow_nan=False)


def parse_tail(stdout):
    """Parse the result object from the last line of a run's stdout."""
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if not lines:
        raise ValueError("empty output")
    obj = json.loads(lines[-1])
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected keys {sorted(obj)}")
    if not isinstance(obj["correct"], bool):
        raise ValueError("correct must be a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(obj[k], int) or isinstance(obj[k], bool):
            raise ValueError(f"{k} must be a whole number")
    for name, m in obj["metrics"].items():
        check_name(name)
        if set(m) != {"value", "unit"} or not UNIT_RE.match(m["unit"]):
            raise ValueError(f"bad metric entry {name}: {m}")
        if not isinstance(m["value"], (int, float)) or isinstance(m["value"], bool):
            raise ValueError(f"metric {name} value is not a number")
    return obj
