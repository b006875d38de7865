"""Span arithmetic and the per-layer metrics of a traced run.

The JVM side (`Tracer.scala`) writes spans (id, parent, trace, name,
start, end), the Spark jobs and stages tagged with the span that was
open when they started, and query-planning phases. A span's layer is
the part of its name before the first dot. Cycles alternate untraced /
traced in a traced run; per-layer metrics use the traced cycles only,
and the tracing overhead is the traced minus the untraced median cycle
time.
"""
from collections import defaultdict

from .report import median


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(spans):
    """span id -> duration minus the part of it covered by child spans."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            children[s["parent"]].append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        out[s["id"]] = (hi - lo) - union_length(clip(children[s["id"]], lo, hi))
    return out


class Trace:
    def __init__(self, doc, cycles, cpus):
        self.spans = doc["spans"]
        self.by_id = {s["id"]: s for s in self.spans}
        self.jobs = doc["jobs"]
        self.stages = doc["stages"]
        self.plans = doc["plans"]
        self.cpus = cpus
        self.cycles = cycles
        self.traced = [c["cycle"] for c in cycles if c["traced"]]
        self.self_us = self_times(self.spans)

    # -- span helpers -----------------------------------------------------
    def in_scope(self, pred):
        """Traced spans matching pred."""
        return [s for s in self.spans if pred(s) and s["traced"]]

    def root_of(self, span_id, pred):
        """Nearest ancestor-or-self span matching pred, or None."""
        while span_id is not None and span_id >= 0:
            s = self.by_id[span_id]
            if pred(s):
                return s
            span_id = s["parent"]
        return None

    def named(self, name, cycles=True):
        return self.in_scope(lambda s: s["name"] == name and (s["trace"] >= 0) == cycles)

    def mean_self_ms(self, name, cycles=True):
        ss = self.named(name, cycles)
        return sum(self.self_us[s["id"]] for s in ss) / 1000.0 / len(ss) if ss else 0.0

    def mean_attr(self, name, key):
        vals = [s["attrs"][key] for s in self.named(name) if key in s["attrs"]]
        return sum(vals) / len(vals) if vals else 0.0

    def _under(self, records, pred):
        """Records (jobs/stages) whose span is pred or nested in one."""
        return [r for r in records if r["span"] >= 0 and self.root_of(r["span"], pred)]

    def jobs_under(self, pred):
        return self._under(self.jobs, pred)

    def stages_under(self, pred):
        return self._under(self.stages, pred)

    def plan_ms_under(self, pred):
        """Planning time of queries that started inside a matching span."""
        total = 0.0
        roots = [s for s in self.spans if s["traced"] and pred(s)]
        for p in self.plans:
            t = p["start_us"]
            if any(s["start_us"] <= t <= s["end_us"] for s in roots):
                total += p["plan_ms"]
        return total

    # -- metrics ---------------------------------------------------------
    def per_layer(self):
        n = max(1, len(self.traced))
        in_cycle = lambda s: s["trace"] >= 0 and s["traced"]
        cycle_spans = self.in_scope(lambda s: s["name"] == "cycle" and s["trace"] >= 0)
        wall_us = sum(s["end_us"] - s["start_us"] for s in cycle_spans)
        jobs = self.jobs_under(in_cycle)
        stages = self.stages_under(in_cycle)
        job_us = 0
        for c in cycle_spans:
            ivs = [(j["start_us"], j["end_us"]) for j in jobs
                   if self.root_of(j["span"], lambda s: s["id"] == c["id"])]
            job_us += union_length(clip(ivs, c["start_us"], c["end_us"]))
        ssum = lambda k, st=stages: float(sum(x[k] for x in st))
        m = {}
        m["spark.jobs"] = len(jobs) / n
        m["spark.stages"] = len(stages) / n
        m["spark.tasks"] = ssum("tasks") / n
        m["spark.job_ms"] = job_us / 1000.0 / n
        m["spark.gap_ms"] = (wall_us - job_us) / 1000.0 / n
        m["spark.gap_frac"] = (wall_us - job_us) / wall_us if wall_us else 0.0
        m["spark.executor_run_ms"] = ssum("run_ms") / n
        m["spark.executor_cpu_ms"] = ssum("cpu_ms") / n
        m["spark.gc_ms"] = ssum("gc_ms") / n
        m["spark.core_busy_frac"] = (ssum("run_ms") * 1000.0 / (wall_us * self.cpus)
                                     if wall_us else 0.0)
        for k in ("scan_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes", "output_bytes", "failed_tasks"):
            m[f"spark.{k}"] = ssum(k) / n

        # queries + plans (analytics_sf001)
        is_query = lambda s: in_cycle(s) and s["name"].startswith("queries.q")
        queries = self.in_scope(is_query)
        nq = max(1, len(queries))
        m["queries.build_ms"] = (sum(s["end_us"] - s["start_us"] for s in self.in_scope(
            lambda s: in_cycle(s) and s["name"] == "queries.build")) / 1000.0 / nq)
        q_jobs = self.jobs_under(is_query)
        m["queries.jobs_per_query"] = len(q_jobs) / nq if queries else 0.0
        gap = 0
        for q in queries:
            ivs = [(j["start_us"], j["end_us"]) for j in q_jobs
                   if self.root_of(j["span"], lambda s: s["id"] == q["id"])]
            gap += (q["end_us"] - q["start_us"]) - union_length(clip(ivs, q["start_us"], q["end_us"]))
        m["queries.gap_ms_per_query"] = gap / 1000.0 / nq if queries else 0.0
        m["plans.plan_ms"] = self.plan_ms_under(is_query) / nq if queries else 0.0

        # hfc (hfc_monthly_refresh)
        m["hfc.normalize_ms"] = self.mean_self_ms("hfc.normalize", cycles=False)
        m["hfc.refresh_ms"] = self.mean_self_ms("hfc.refresh")
        m["hfc.partitions_touched"] = self.mean_attr("hfc.refresh", "partitions_touched")
        m["hfc.partitions_total"] = self.mean_attr("hfc.refresh", "partitions_total")
        refreshes = self.named("hfc.refresh")
        m["hfc.bytes_written"] = (ssum("output_bytes", self.stages_under(
            lambda s: in_cycle(s) and s["name"] == "hfc.refresh")) / len(refreshes)
            if refreshes else 0.0)
        for i in range(1, 9):
            m[f"hfc.m{i}_ms"] = self.mean_self_ms(f"hfc.m{i}")
        m["hfc.metrics_scan_bytes"] = ssum("scan_bytes", self.stages_under(
            lambda s: in_cycle(s) and s["name"].startswith("hfc.m"))) / n
        hfc_us = union_length([(s["start_us"], s["end_us"]) for s in self.in_scope(
            lambda s: in_cycle(s) and s["name"].startswith("hfc."))])
        m["hfc.span_frac"] = hfc_us / wall_us if wall_us else 0.0

        # sources / functions / operators (web_corpus_build)
        m["sources.warc_ms"] = self.mean_self_ms("sources.warc")
        m["functions.extract_ms"] = self.mean_self_ms("functions.extract")
        m["functions.signature_ms"] = self.mean_self_ms("functions.signature")
        m["operators.quality_ms"] = self.mean_self_ms("operators.quality")
        m["operators.lsh_ms"] = self.mean_self_ms("operators.lsh")
        m["operators.cc_ms"] = self.mean_self_ms("operators.cc")
        ccs = self.named("operators.cc")
        m["operators.cc_jobs"] = (len(self.jobs_under(
            lambda s: in_cycle(s) and s["name"] == "operators.cc")) / len(ccs) if ccs else 0.0)
        m["operators.decontam_ms"] = self.mean_self_ms("operators.decontam")
        m["operators.pack_ms"] = self.mean_self_ms("operators.pack")
        m["operators.store_ms"] = self.mean_self_ms("operators.store")

        traced = [c["ms"] for c in self.cycles if c["traced"]]
        untraced = [c["ms"] for c in self.cycles if not c["traced"] and not c["warmup"]]
        m["trace.overhead_ms"] = (median(traced) - median(untraced)
                                  if traced and untraced else 0.0)
        return m
