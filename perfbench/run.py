#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (sbt, offline), generates
the workload's inputs from the seed (cached by seed and generator
version under .perfbench/data), runs one JVM with `local[N]`
(N = min(4, usable cpus)), checks every output, prints each metric as
`metric <workload> <name> <value> <unit>` and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (see README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".perfbench"
sys.path.insert(0, str(BENCH))

from pb import layers, report  # noqa: E402
from pb import trace as tracing  # noqa: E402

# Time limits: the JVM of one run, and the build a fresh checkout needs.
JVM_TIMEOUT_S = 140
BUILD_TIMEOUT_S = 840
MAX_CPUS = 4
HEAP = "3g"
CACHE_KEEP = 3

# One fixed, family-stratified sample of SparkEntry.queries: one query
# per name-prefix family, drawn with random.Random(20241017) from the
# family's queries whose committed sf0.1 wall was <= 0.5 s (the
# cheapest one where none was).
ANALYTICS_SAMPLE = [
    "q17_rollup_revenue", "qa07_asof_coverage", "qc03_chunking",
    "qd01_exact_dedup", "qe09_abandoned_views", "qf04_pyrepr_compat",
    "qg10_neighborhood", "qi03_sketch_mv", "qj01_join_mass",
    "qk04_scd2_churn", "ql01_record_linkage", "qm10_audio_neardup_wide",
    "qp13_target_mix", "qr01_data_card", "qs10_hard_negatives",
    "qt31_l_diversity", "qx06_crawl_schedule", "qz03_hilbert_layout",
]

# A run measures a fixed number of cycles, round(seconds / nominal
# cycle time), at least one; a traced run at least three (untraced,
# traced, untraced: the traced cycle is compared with the two around
# it). hfc_monthly_refresh runs one more, untimed warm-up month first.
NOMINAL_CYCLE_S = {"analytics_sf001": 10, "hfc_monthly_refresh": 5, "web_corpus_build": 18}

# The workload's primary operation: op_p50_ms is its median latency.
PRIMARY = {"analytics_sf001": "query", "hfc_monthly_refresh": "refresh",
           "web_corpus_build": "incr_batch"}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(PRIMARY))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = p.parse_args(argv)
    if a.seed < 0:
        p.error("--seed must be >= 0")
    if not 1 <= a.seconds <= 120:
        p.error("--seconds must be within 1..120")
    return a


def usable_cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    n = min(MAX_CPUS, n)
    if n < 1:
        fail(f"invalid cpu count {n}")
    return n


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(Path(submit).resolve().parent.parent) if submit else None
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark install found (set SPARK_HOME)")
    return home


def build():
    """Compile engine + harness once per source state; returns the
    runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"engine sources not found under {ROOT / 'src' / 'main'}")
    for tool in ("sbt", "java"):
        if not shutil.which(tool):
            fail(f"{tool} not found on PATH")
    files = sorted(p for d in (ROOT / "src" / "main", BENCH / "src") for p in d.rglob("*")
                   if p.is_file())
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp = h.hexdigest()
    out = WORK / "build"
    if (out / "stamp").exists() and (out / "stamp").read_text() == stamp:
        return (out / "classpath").read_text()
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, capture_output=True, text=True,
                       timeout=BUILD_TIMEOUT_S)
    cp = [ln for ln in p.stdout.splitlines() if "perfbench_2.13" in ln and ":" in ln]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed", 1)
    out.mkdir(parents=True, exist_ok=True)
    (out / "classes.jsa").unlink(missing_ok=True)  # recorded against the previous jar
    (out / "classpath").write_text(cp[-1].strip())
    (out / "stamp").write_text(stamp)
    return cp[-1].strip()


def generator(workload):
    if workload == "analytics_sf001":
        from pb import gen_relational as g
    elif workload == "hfc_monthly_refresh":
        from pb import gen_hfc as g
    else:
        from pb import gen_warc as g
    return g


def inputs(workload, seed):
    """Generated inputs for (workload, seed), cached by generator version."""
    g = generator(workload)
    d = WORK / "data" / f"{workload}-v{g.VERSION}-s{seed}"
    if not (d / "truth.json").exists():
        tmp = d.with_name(d.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        truth = g.generate(seed, str(tmp))
        (tmp / "truth.json").write_text(json.dumps(truth, sort_keys=True))
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    os.utime(d)
    cached = sorted((p for p in d.parent.glob(f"{workload}-v*") if p.is_dir() and ".tmp" not in p.name),
                    key=lambda p: p.stat().st_mtime, reverse=True)
    for old in cached[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)
    return d, json.loads((d / "truth.json").read_text())


def run_jvm(cp, workload, data, run_dir, cycles, trace, cpus):
    # a fixed heap and young generation: G1 would otherwise size both
    # from measured GC times, so peak RSS would follow the machine's
    # speed (it moved by a third between runs of one seed). The heap
    # is not pre-touched: RSS counts only the regions the engine used
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn384m", "-XX:-UsePerfData"]
    # class-data sharing: the first run in a checkout records the loaded
    # classes, later runs map them instead of parsing jars again
    jsa = WORK / "build" / "classes.jsa"
    cmd.append(f"-XX:SharedArchiveFile={jsa}" if jsa.exists() else f"-XX:ArchiveClassesAtExit={jsa}")
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Dspark.local.dir={run_dir / 'spark-tmp'}", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main", "--workload", workload, "--data", str(data),
            "--out", str(run_dir), "--cycles", str(cycles), "--trace", str(trace),
            "--cpus", str(cpus)]
    if workload == "analytics_sf001":
        cmd += ["--queries", ",".join(ANALYTICS_SAMPLE)]
    env = dict(os.environ, LC_ALL="C.utf8", LANG="C.utf8")
    (run_dir / "tmp").mkdir()
    with open(run_dir / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            fail(f"stopped by signal {signum}", 1)
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM exceeded the time budget; log: {run_dir / 'jvm.log'}", 1)
    if rc != 0:
        sys.stderr.write((run_dir / "jvm.log").read_text()[-3000:])
        fail(f"JVM exited with {rc}", 1)


def checker(workload):
    if workload == "analytics_sf001":
        from pb import check_analytics as c
    elif workload == "hfc_monthly_refresh":
        from pb import check_hfc as c
    else:
        from pb import check_web as c
    return c


def main(argv):
    a = parse_args(argv)
    cpus = usable_cpus()
    cp = build()
    data, truth = inputs(a.workload, a.seed)
    run_dir = WORK / "runs" / a.workload
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    cycles = max(3 if a.trace else 1, round(a.seconds / NOMINAL_CYCLE_S[a.workload]))
    run_jvm(cp, a.workload, data, run_dir, cycles, a.trace, cpus)
    res = json.loads((run_dir / "result.json").read_text())

    # op -> failure reason: a thrown error, or a failed output check
    verdicts, facts, layer_counts = checker(a.workload).check(str(data), str(run_dir), res, truth)
    failures = {}
    for i, op in enumerate(res["ops"]):
        why = op["error"] or verdicts(op)
        if why:
            failures[i] = why
    for i, why in list(failures.items())[:20]:
        op = res["ops"][i]
        print(f"FAIL cycle {op['cycle']} {op['name']}: {why}", file=sys.stderr)

    m = report.Metrics()
    timed = report.timed_cycles(res)
    prim = [op["ms"] for op in res["ops"]
            if op["kind"] == PRIMARY[a.workload] and op["cycle"] in timed]
    cycles = [c["ms"] for c in res["cycles"] if c["cycle"] in timed]
    attempted = len(res["ops"])
    if a.trace == 0:
        e2e = {"setup_s": res["setup_s"],
               "op_p50_ms": report.median(prim),
               "cycle_s": report.median(cycles) / 1000.0,
               "success_rate": 1.0 - len(failures) / attempted,
               "peak_rss_mb": res["peak_rss_mb"]}
        for name, unit, _, _ in layers.END_TO_END:
            m.put(name, e2e[name], unit)
        # the workload's own named figures, for people; not in the JSON
        extra = report.Metrics()
        extra.put("error_rate", len(failures) / attempted, "ratio")
        extra.put("op_p90_ms", report.percentile(prim, 90), "ms")
        extra.put("op_samples", len(prim), "count")
        for name, (v, unit) in facts.items():
            extra.put(name, v, unit)
        lines = m.lines(a.workload) + extra.lines(a.workload)
    else:
        doc = json.loads((run_dir / "trace.json").read_text())
        layer = tracing.Trace(doc, res["cycles"], cpus).per_layer()
        layer.update(layer_counts)
        for name, unit, _ in layers.PER_LAYER:
            m.put(name, layer.get(name, 0.0), unit)
        lines = m.lines(a.workload)
    print(f"# {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"cpus={cpus} cycles={len(res['cycles'])} ops={attempted} failed={len(failures)}")
    for ln in lines:
        print(ln)
    sys.stdout.flush()
    print(report.result_line(not failures, attempted, len(failures), m))


if __name__ == "__main__":
    main(sys.argv[1:])
