"""Output checks for web_corpus_build, stage by stage, against the
generator's planted truth. A failed check fails the op that produced
the output it reads."""
import glob
import os

import pyarrow.parquet as pq

from .gen_warc import doc_id, jaccard
from .report import median, timed_cycles

STAGES = ["sources.warc", "functions.extract", "operators.quality", "operators.lsh",
          "operators.cc", "operators.decontam", "operators.pack"]
PAIR_SAMPLE = 200
# Share of the planted duplicate pairs (exact and near, Jaccard >= the
# threshold) that must end in one cluster. MinHash rows are seeded by
# index, so recall is fixed for a data seed; every seed tried reached 1.0.
RECALL_FLOOR = 0.95


def _read(path, cols):
    t = pq.read_table(path, columns=cols)
    return [dict(zip(cols, r)) for r in zip(*(t.column(c).to_pylist() for c in cols))]


def check_cycle(d, truth, bad, c):
    thr = truth["threshold"]
    fail = lambda stage, why: bad.setdefault((c, stage), why)

    raw = _read(f"{d}/raw", ["recordType"])
    quarantined = sum(1 for x in raw if x["recordType"] == "_error")
    expect = truth["pages"] + truth["not_found"] + truth["segments"] + truth["malformed"]
    if quarantined != truth["malformed"] or len(raw) != expect:
        fail("sources.warc", f"{len(raw)} records / {quarantined} quarantined, "
                             f"planted {expect} / {truth['malformed']}")

    docs = {x["url"] for x in _read(f"{d}/docs", ["url"])}
    lowq = set(truth["low_quality"])
    if len(docs) != truth["pages"]:
        fail("functions.extract", f"{len(docs)} documents, planted {truth['pages']}")

    kept = {x["doc_id"]: x for x in _read(f"{d}/kept", ["doc_id", "url", "text"])}
    kept_urls = {x["url"] for x in kept.values()}
    if kept_urls & lowq:
        fail("operators.quality", f"{len(kept_urls & lowq)} low-quality pages kept")
    elif kept_urls != docs - lowq:
        fail("operators.quality", f"{len(docs - lowq - kept_urls)} good pages dropped")

    pairs = sorted((x["a_id"], x["b_id"], x["jaccard"])
                   for x in _read(f"{d}/pairs", ["a_id", "b_id", "jaccard"]))
    step = max(1, len(pairs) // PAIR_SAMPLE)
    for a, b, j in pairs[::step]:
        exact = jaccard(kept[a]["text"], kept[b]["text"])
        if not (a < b and exact >= thr and abs(exact - j) < 1e-6):
            fail("operators.lsh", f"pair ({a},{b}) reports {j}, exact Jaccard {exact}")
            break

    clusters = {x["doc_id"]: x for x in _read(f"{d}/clusters", ["doc_id", "cluster_id", "is_dup"])}
    cl = lambda url: clusters.get(doc_id(url), {}).get("cluster_id")
    broken = [p for p in truth["exact_pairs"] if cl(p[0]) is None or cl(p[0]) != cl(p[1])]
    if broken or any(x["cluster_id"] > i or x["is_dup"] != (x["cluster_id"] != i)
                     for i, x in clusters.items()) or set(clusters) != set(kept):
        fail("operators.cc", f"{len(broken)} exact duplicate pairs split, or bad decisions")
    planted = [tuple(p) for p in truth["exact_pairs"] + truth["near_pairs"]]
    found = sum(1 for a, b in planted if cl(a) is not None and cl(a) == cl(b))
    if found < RECALL_FLOOR * len(planted):
        fail("operators.cc", f"duplicate recall {found}/{len(planted)} below {RECALL_FLOOR}")

    flags = {x["doc_id"]: x["contaminated"] for x in _read(f"{d}/decontam", ["doc_id", "contaminated"])}
    missed = [u for u in truth["contaminated"] if not flags.get(doc_id(u))]
    if missed:
        fail("operators.decontam", f"{len(missed)} contaminated pages not flagged")

    placed = sorted((x["start_off"], x["doc_id"], x["n_tokens"]) for x in
                    _read(f"{d}/packed", ["doc_id", "n_tokens", "start_off"]))
    final = {i for i, x in clusters.items() if not x["is_dup"] and not flags.get(i)}
    off = 0
    for start, i, n in placed:
        if start != off or i not in kept or n != len(kept[i]["text"].split()):
            fail("operators.pack", f"doc {i} placed at {start}, expected {off}")
            break
        off = start + n + 1
    if {i for _, i, _ in placed} != final:
        fail("operators.pack", "packed documents differ from the kept, unique, clean set")
    return {"records": len(raw), "quarantined": quarantined, "kept": len(kept),
            "verified": len(pairs), "planted": len(planted), "found": found, "store": len(final)}


def check(data_dir, run_dir, result, truth):
    bad = {}
    facts = {(f["cycle"], f["name"]): f["value"] for f in result["facts"]}
    cycles = sorted({op["cycle"] for op in result["ops"]})
    done = {(op["cycle"], op["name"]) for op in result["ops"] if op["error"] is None}
    per = {}
    for c in cycles:
        if all((c, s) in done for s in STAGES + ["operators.store_init"]):
            per[c] = check_cycle(f"{run_dir}/web-c{c}", truth, bad, c)
        stored = per.get(c, {}).get("store", 0)
        for b, inc in enumerate(truth["incremental"]):
            dec = facts.get((c, f"incr-{b}"))
            if dec is None:
                continue
            dup = {x["doc_id"]: x["dup_of"] for x in dec}
            urls = inc["exact"] + inc["near"] + inc["new"]
            why = None
            if set(dup) != {doc_id(u) for u in urls}:
                why = "decisions do not cover the batch"
            elif any(dup[doc_id(u)] is None for u in inc["exact"]):
                why = "an exact copy of a stored page was not flagged"
            elif any(dup[doc_id(u)] is None for u in inc["near"]):
                why = "a near copy of a stored page was not flagged"
            elif any(dup[doc_id(u)] is not None for u in inc["new"]):
                why = "a new page was flagged as a duplicate"
            if why:
                bad[(c, f"operators.store#{b}")] = why
            appended = sum(1 for v in dup.values() if v is None)
            per.setdefault(c, {}).setdefault("batches", []).append((stored, appended))
            stored += appended
        if c in per and "store" in per[c]:
            # the store holds the seeded documents plus each batch's new ones
            held = len(_read(f"{run_dir}/web-c{c}/store", ["id"]))
            if held != stored:
                bad.setdefault((c, "operators.store_init"),
                               f"store holds {held} signatures, expected {stored}")

    ops = result["ops"]
    timed = timed_cycles(result)
    builds = [sum(o["ms"] for o in ops if o["cycle"] == c and o["name"] in STAGES)
              for c in per if "kept" in per[c] and c in timed]
    incr = [o["ms"] for o in ops if o["kind"] == "incr_batch" and o["cycle"] in timed]
    full = [v for v in per.values() if "kept" in v]
    mean = lambda k: sum(v[k] for v in full) / len(full) if full else 0.0
    batches = [b for v in per.values() for b in v.get("batches", [])]
    planted = sum(v["planted"] for v in full)
    facts_out = {
        "corpus_docs_per_s": (truth["pages"] / (median(builds) / 1000.0) if builds else 0.0, "1/s"),
        "incr_batch_p50_s": (median(incr) / 1000.0 if incr else 0.0, "s"),
        "dup_recall": (sum(v["found"] for v in full) / planted if planted else 0.0, "ratio"),
        "corpus_pages": (truth["pages"], "count"),
    }
    warc_bytes = sum(os.path.getsize(f) for f in glob.glob(f"{data_dir}/warc/*.warc.gz"))
    cand = [v for (c, n), v in facts.items() if n == "candidate_pairs"]
    layer = {
        "sources.warc_bytes": warc_bytes if full else 0.0,
        "sources.records": mean("records"),
        "sources.quarantined": mean("quarantined"),
        "operators.quality_kept": mean("kept"),
        "operators.candidate_pairs": sum(cand) / len(cand) if cand else 0.0,
        "operators.verified_pairs": mean("verified"),
        "operators.dup_recall": facts_out["dup_recall"][0],
        "operators.store_rows_read": (sum(s for s, _ in batches) / len(batches)) if batches else 0.0,
        "operators.store_rows_appended": (sum(a for _, a in batches) / len(batches)) if batches else 0.0,
    }

    batch_of, seen = {}, {}
    for o in ops:
        if o["name"] == "operators.store":
            batch_of[id(o)] = seen.get(o["cycle"], 0)
            seen[o["cycle"]] = batch_of[id(o)] + 1

    def verdict(op):
        if op["name"] == "operators.store":
            return bad.get((op["cycle"], f"operators.store#{batch_of[id(op)]}"))
        return bad.get((op["cycle"], op["name"]))
    return verdict, facts_out, layer
