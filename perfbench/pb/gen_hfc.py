"""Seeded generator for hfc_monthly_refresh: HFC-shaped bronze, monthly
repository batches, and the truth both imply.

Shape follows the June-2024 census of the reference dump (BASELINE.md)
scaled down to N_REPOS repositories: 62.6% models / 13.8% datasets /
23.6% spaces, ~58 repo_file rows per repository with 14.8% single-file
repositories and one repository at the extractor's 10,000-file cap, a
huggingtweets-like organisation owning 4.7% of the models, a Zipf tail
of other authors, discussions on a minority of repositories, and git
history on a third of the models.

Each monthly batch is silver-shaped `repository` rows with an explicit
`seq` column, written in seq order, mixing stale counter-only rows
(last_modified before the month), fresh upserts, new repositories and
in-batch duplicate keys. The truth replays the batches in plain Python:
stale rows refresh only `likes` of existing keys, fresh rows replace or
insert, and the last row by seq wins within each path.
"""
import datetime as dt
import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 1
N_REPOS = 1000
N_BATCHES = 24
TYPE_SHARE = [("model", 0.626), ("dataset", 0.138), ("space", 0.236)]
MEGA_ORG, MEGA_SHARE = "huggingtweets", 0.047
SINGLE_FILE_SHARE, FILE_CAP = 0.148, 10000
EMOJI = "\U0001F917"
EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
BASE_MONTH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

TS = pa.timestamp("us", tz="UTC")
REPO_SCHEMA = pa.schema([
    ("id", pa.string()), ("name", pa.string()), ("type", pa.string()),
    ("author", pa.string()), ("sha", pa.string()), ("last_modified", TS),
    ("private", pa.bool_()), ("card_data", pa.string()), ("gated", pa.string()),
    ("disabled", pa.bool_()), ("likes", pa.int32())])
LISTING_SCHEMA = pa.schema([f for f in REPO_SCHEMA if f.name not in ("id", "type")])
BATCH_SCHEMA = REPO_SCHEMA.append(pa.field("seq", pa.int64()))
LFS = pa.struct([("size", pa.int64()), ("sha256", pa.string()), ("pointer_size", pa.int64())])
SIBLING = pa.struct([("rfilename", pa.string()), ("size", pa.int64()),
                     ("blob_id", pa.string()), ("lfs", LFS)])


def _sha(*parts):
    return hashlib.sha1(":".join(map(str, parts)).encode()).hexdigest()


def _us(t):
    return int((t - EPOCH).total_seconds()) * 1_000_000 + t.microsecond


def _month(k):
    y, m = divmod(BASE_MONTH.month - 1 + k, 12)
    return BASE_MONTH.replace(year=BASE_MONTH.year + y, month=m + 1)


def _ts(us):
    return EPOCH + dt.timedelta(microseconds=us)


def clean(card):
    """The cleaning Normalize applies to card_data (emoji stripped)."""
    return None if card is None else card.replace(EMOJI, "")


def norm_gated(g):
    return None if g in ("manual", "auto") else g


def _file_counts(r, n):
    counts = []
    for _ in range(n):
        u = r.random()
        if u < 0.01:
            counts.append(0)                      # file-less repositories are skipped
        elif u < 0.01 + SINGLE_FILE_SHARE:
            counts.append(1)
        else:
            # heavy tail with a mean of ~58 files per repository overall
            counts.append(min(FILE_CAP, 2 + int(r.lognormvariate(3.05, 1.45))))
    counts[r.randrange(n)] = FILE_CAP
    return counts


class _Gen:
    def __init__(self, seed):
        self.seed = seed
        self.r = random.Random(seed * 7919 + 17)

    def repos(self):
        r = self.r
        n_authors = int(0.52 * N_REPOS)
        weights = [1.0 / (i + 1) ** 0.7 for i in range(n_authors)]
        authors = [f"user{i:05d}" for i in range(n_authors)]
        repos = []
        for i in range(N_REPOS):
            u, tpe = r.random(), "space"
            acc = 0.0
            for t, share in TYPE_SHARE:
                acc += share
                if u < acc:
                    tpe = t
                    break
            if tpe == "model" and r.random() < MEGA_SHARE:
                author = MEGA_ORG
            else:
                author = r.choices(authors, weights)[0]
            name = f"{author}/{tpe[0]}{i:05d}"
            card = r.choice([None, "license: mit", f"license: apache-2.0 {EMOJI}",
                             "tags: [nlp]", f"{EMOJI} demo"])
            lm = _us(BASE_MONTH) - r.randrange(1, 730 * 86400) * 1_000_000 - r.randrange(10**6)
            repos.append({
                "id": f"{tpe}s/{name}", "name": name, "type": tpe, "author": author,
                "sha": _sha(self.seed, "repo", i), "last_modified": lm,
                "private": r.random() < 0.02, "card_data": card,
                "gated": r.choices([None, "manual", "auto", "false"], [85, 5, 5, 5])[0],
                "disabled": r.random() < 0.01, "likes": min(1_000_000, int(r.paretovariate(1.3)) - 1)})
        return repos

    def generate(self, out):
        r = self.r
        repos = self.repos()
        bronze = f"{out}/bronze"
        os.makedirs(bronze)
        os.makedirs(f"{out}/batches")
        for tpe, _ in TYPE_SHARE:
            rows = [x for x in repos if x["type"] == tpe]
            t = pa.Table.from_pylist([{k: (_ts(v) if k == "last_modified" else v)
                                       for k, v in x.items() if k not in ("id", "type")}
                                      for x in rows], LISTING_SCHEMA)
            if tpe == "dataset":
                pwc = [f"pwc-{i}" if r.random() < 0.076 else None for i in range(len(rows))]
                t = t.append_column("paperswithcode_id", pa.array(pwc, pa.string()))
            pq.write_table(t, f"{bronze}/{tpe}s.parquet")

        # repo_file siblings
        counts = _file_counts(r, N_REPOS)
        files = {}
        sib_rows = []
        for x, n in zip(repos, counts):
            names = (["README.md", ".gitattributes", "config.json"][:n]
                     + [f"data/part-{j:05d}.parquet" for j in range(max(0, n - 3))])
            files[x["id"]] = names
            sibs = []
            for j, fn in enumerate(names):
                big = fn.endswith(".parquet") and r.random() < 0.6
                size = r.randrange(100, 5_000_000)
                sibs.append({"rfilename": fn, "size": size, "blob_id": _sha(x["id"], fn),
                             "lfs": {"size": size, "sha256": _sha("lfs", x["id"], fn) + "00" * 4,
                                     "pointer_size": 134} if big else None})
            sib_rows.append({"repo_id": x["id"], "siblings": sibs})
        pq.write_table(pa.Table.from_pylist(sib_rows, pa.schema(
            [("repo_id", pa.string()), ("siblings", pa.list_(SIBLING))])),
            f"{bronze}/repo_siblings.parquet", row_group_size=4096)

        # git history on a third of the models
        commits, deltas = [], []
        m3_counts = {}
        models = [x for x in repos if x["type"] == "model"]
        for x in models:
            if r.random() >= 1 / 3 or not files[x["id"]]:
                continue
            n = min(200, 1 + int(r.expovariate(1 / 14)))
            m3_counts[x["id"]] = n
            for c in range(n):
                sha = _sha(self.seed, "commit", x["id"], c)
                when = _us(dt.datetime(2022, 1, 1, tzinfo=dt.timezone.utc)) + r.randrange(700 * 86400) * 1_000_000
                commits.append({"sha": sha, "repo_id": x["id"], "author_name": x["author"],
                                "author_date": _ts(when), "author_tz": 0,
                                "committer_name": x["author"], "committer_date": _ts(when),
                                "committer_tz": 0, "message": f"update {c}",
                                "in_main_branch": True, "insertions": r.randrange(500),
                                "deletions": r.randrange(200), "source": "git"})
                fns = files[x["id"]]
                for fn in sorted(set(r.choice(fns) for _ in range(r.randint(1, 4)))):
                    ct = r.choices(["MODIFY", "ADD", "DELETE", "RENAME"], [70, 20, 5, 5])[0]
                    old = None if ct == "ADD" else (f"old/{fn}" if ct == "RENAME" else fn)
                    new = None if ct == "DELETE" else fn
                    deltas.append({"repo_id": x["id"], "repo_name": x["name"], "sha": sha,
                                   "change_type": ct, "old_path": old, "new_path": new,
                                   "diff": f"@@ -1 +1 @@ {c}", "added_lines": r.randrange(50),
                                   "deleted_lines": r.randrange(50), "nloc": r.randrange(1000),
                                   "committer_date": when})
        commit_schema = pa.schema([
            ("sha", pa.string()), ("repo_id", pa.string()), ("author_name", pa.string()),
            ("author_date", TS), ("author_tz", pa.int32()), ("committer_name", pa.string()),
            ("committer_date", TS), ("committer_tz", pa.int32()), ("message", pa.string()),
            ("in_main_branch", pa.bool_()), ("insertions", pa.int32()),
            ("deletions", pa.int32()), ("source", pa.string())])
        pq.write_table(pa.Table.from_pylist(commits, commit_schema), f"{bronze}/commits.parquet")
        delta_schema = pa.schema([
            ("repo_id", pa.string()), ("repo_name", pa.string()), ("sha", pa.string()),
            ("change_type", pa.string()), ("old_path", pa.string()), ("new_path", pa.string()),
            ("diff", pa.string()), ("added_lines", pa.int32()), ("deleted_lines", pa.int32()),
            ("nloc", pa.int32())])
        pq.write_table(pa.Table.from_pylist(deltas, delta_schema), f"{bronze}/deltas.parquet")

        # discussions + their events
        commit_of = {}
        for c in commits:
            commit_of.setdefault(c["repo_id"], []).append(c["sha"])
        discs, events = [], []
        users = [f"user{i:05d}" for i in range(200)]
        for x in repos:
            if r.random() >= 0.08:
                continue
            for num in range(1, 2 + min(28, int(r.expovariate(0.45)))):
                pull = r.random() < 0.4
                status = r.choice(["open", "closed", "merged"] if pull else ["open", "closed"])
                merge = None
                if pull and status == "merged":
                    merge = (r.choice(commit_of[x["id"]]) if x["id"] in commit_of and r.random() < 0.7
                             else _sha("dangling", x["id"], num))
                created = _us(dt.datetime(2023, 1, 1, tzinfo=dt.timezone.utc)) + r.randrange(300 * 86400) * 1_000_000
                discs.append({"num": num, "repo_id": x["id"],
                              "author": x["author"] if r.random() < 0.5 else r.choice(users),
                              "title": f"discussion {num}", "status": status,
                              "created_at": _ts(created), "is_pull_request": pull,
                              "target_branch": "refs/heads/main" if pull else None,
                              "merge_commit_oid": merge, "diff": None, "git_reference": None})
                for e in range(1 + int(r.expovariate(0.5))):
                    kind = r.choices(["comment", "status-change", "commit", "title-change"], [70, 10, 10, 10])[0]
                    events.append({
                        "id": _sha("event", x["id"], num, e)[:24], "discussion_num": num,
                        "repo_id": x["id"], "event_type": kind,
                        "created_at": _ts(created + e * 3_600_000_000), "author": r.choice(users),
                        "content": f"comment {e}", "edited": False, "hidden": False,
                        "new_status": "closed", "summary": f"commit {e}",
                        "sha": _sha("evsha", e), "old_title": "a", "new_title": "b",
                        "full_data": json.dumps({"type": kind, "n": e})})
        disc_schema = pa.schema([
            ("num", pa.int32()), ("repo_id", pa.string()), ("author", pa.string()),
            ("title", pa.string()), ("status", pa.string()), ("created_at", TS),
            ("is_pull_request", pa.bool_()), ("target_branch", pa.string()),
            ("merge_commit_oid", pa.string()), ("diff", pa.string()),
            ("git_reference", pa.string())])
        pq.write_table(pa.Table.from_pylist(discs, disc_schema), f"{bronze}/discussions.parquet")
        event_schema = pa.schema([
            ("id", pa.string()), ("discussion_num", pa.int32()), ("repo_id", pa.string()),
            ("event_type", pa.string()), ("created_at", TS), ("author", pa.string()),
            ("content", pa.string()), ("edited", pa.bool_()), ("hidden", pa.bool_()),
            ("new_status", pa.string()), ("summary", pa.string()), ("sha", pa.string()),
            ("old_title", pa.string()), ("new_title", pa.string()), ("full_data", pa.string())])
        pq.write_table(pa.Table.from_pylist(events, event_schema), f"{bronze}/discussion_events.parquet")

        # monthly batches, replayed into the truth as they are written
        state = {x["id"]: {**x, "card_data": clean(x["card_data"]), "gated": norm_gated(x["gated"])}
                 for x in repos}
        m3_repo = max(sorted(m3_counts), key=lambda k: m3_counts[k])
        static = static_metrics(counts, deltas, m3_repo, discs, events, self._datasets_pwc(bronze))
        batches = []
        next_id = N_REPOS
        for k in range(N_BATCHES):
            rows, next_id = self.batch(state, k, next_id)
            limit = _us(_month(k))
            pq.write_table(pa.Table.from_pylist(
                [{**x, "last_modified": _ts(x["last_modified"])} for x in rows], BATCH_SCHEMA),
                f"{out}/batches/batch-{k:03d}.parquet")
            apply_batch(state, rows, limit)
            batches.append({"file": f"batches/batch-{k:03d}.parquet", "limit_us": limit,
                            "limit": _month(k).strftime("%Y-%m-%d %H:%M:%S"),
                            "rows": len(rows), "store_digest": digest(state.values()),
                            "m1": m1(state), "m5": m5(state, discs), "m8": m8(state, discs)})
        with open(f"{out}/batches.tsv", "w") as f:
            for b in batches:
                f.write(f"{b['file']}\t{b['limit']}\n")
        with open(f"{out}/m3_repo.txt", "w") as f:
            f.write(m3_repo)
        return {"generator": "hfc", "version": VERSION, "seed": self.seed,
                "repos": N_REPOS, "repo_files": sum(counts), "commits": len(commits),
                "deltas": len(deltas), "discussions": len(discs), "events": len(events),
                "m3_repo": m3_repo, "static": static,
                "batches": batches}

    def _datasets_pwc(self, bronze):
        t = pq.read_table(f"{bronze}/datasets.parquet", columns=["paperswithcode_id"])
        return t.column(0).to_pylist()

    def batch(self, state, k, next_id):
        r = self.r
        start = _us(_month(k))
        span = _us(_month(k + 1)) - start
        keys = sorted(state)
        rows = []
        for key in r.sample(keys, int(0.05 * len(keys))):       # stale: counters only apply
            x = dict(state[key])
            x.update(likes=r.randrange(10_000), sha=_sha("ignored", k, key), card_data="ignored")
            rows.append(x)
        for key in r.sample(keys, int(0.02 * len(keys))):       # fresh upserts
            x = dict(state[key])
            x.update(likes=r.randrange(10_000), sha=_sha(self.seed, k, key),
                     last_modified=start + r.randrange(span), card_data=f"card {k}",
                     author=x["author"] if r.random() < 0.95 else f"user{r.randrange(200):05d}")
            rows.append(x)
        for _ in range(int(0.01 * N_REPOS)):                    # new repositories
            tpe = r.choice(["model", "dataset", "space"])
            name = f"user{r.randrange(200):05d}/{tpe[0]}{next_id:05d}"
            next_id += 1
            rows.append({"id": f"{tpe}s/{name}", "name": name, "type": tpe,
                         "author": name.split("/")[0], "sha": _sha(self.seed, "new", name),
                         "last_modified": start + r.randrange(span), "private": False,
                         "card_data": None, "gated": None, "disabled": False,
                         "likes": r.randrange(100)})
        stale_ghosts = [{**rows[0], "id": f"models/ghost/{k}-{i}", "name": f"ghost/{k}-{i}",
                         "last_modified": start - 86_400_000_000} for i in range(3)]                      # stale keys not in the store
        dups = []
        for x in r.sample(rows, len(rows) // 10):                # in-batch duplicate keys
            y = dict(x)
            y["likes"] = r.randrange(10_000)
            if r.random() < 0.3 and y["last_modified"] < start:  # stale key also upserted fresh
                y["last_modified"] = start + r.randrange(span)
                y["sha"] = _sha("both", k, y["id"])
            dups.append(y)
        rows = rows + stale_ghosts
        r.shuffle(rows)
        rows += dups                                             # duplicates come later in seq
        for i, x in enumerate(rows):
            x["seq"] = i
        return rows, next_id


def apply_batch(state, rows, limit_us):
    """IncrementalRefresh semantics: stale rows update likes of existing
    keys, fresh rows upsert; the last row by seq wins within each path."""
    stale, fresh = {}, {}
    for x in sorted(rows, key=lambda x: x["seq"]):
        (stale if x["last_modified"] < limit_us else fresh)[x["id"]] = x
    for key, x in stale.items():
        if key in state:
            state[key] = {**state[key], "likes": x["likes"]}
    for key, x in fresh.items():
        state[key] = {k: v for k, v in x.items() if k != "seq"}


def store_row(x):
    return [x["id"], x["name"], x["type"], x["author"], x["sha"], x["last_modified"],
            x["private"], x["card_data"], x["gated"], x["disabled"], x["likes"]]


def digest(rows):
    h = hashlib.sha256()
    for row in sorted(json.dumps(store_row(x)) for x in rows):
        h.update(row.encode() + b"\n")
    return h.hexdigest()


def bucket(v, bounds):
    fmt = lambda d: str(int(d)) if float(d).is_integer() else str(d)
    if v < bounds[0]:
        return f"<{fmt(bounds[0])}"
    for lo, hi in zip(bounds, bounds[1:]):
        if v < hi:
            return f"[{fmt(lo)},{fmt(hi)})"
    return f">={fmt(bounds[-1])}"


def _hist(values, bounds, key):
    out = {}
    for v in values:
        b = bucket(v, bounds)
        out[b] = out.get(b, 0) + 1
    return [{"bucket": b, key: n} for b, n in sorted(out.items())]


def m1(state, k=10):
    n = {}
    for x in state.values():
        if x["type"] == "model":
            n[x["author"]] = n.get(x["author"], 0) + 1
    top = sorted(n.items(), key=lambda a: (-a[1], a[0]))[:k]
    return [{"author": a, "n_models": c} for a, c in top]


def m5(state, discs):
    with_disc = {d["repo_id"] for d in discs}
    out = {}
    for x in state.values():
        t = out.setdefault(x["type"], [0, 0])
        t[0] += 1
        t[1] += x["id"] in with_disc
    return [{"type": t, "n_repos": a, "n_with_discussions": b, "share": b / a}
            for t, (a, b) in sorted(out.items())]


def m8(state, discs):
    per = {}
    for d in discs:
        owner = state[d["repo_id"]]["author"]
        p = per.setdefault(d["repo_id"], [0, 0])
        p[0] += 1
        p[1] += d["author"] != owner
    return [{"repo_id": k, "n_discussions": a, "non_owner_share": b / a}
            for k, (a, b) in sorted(per.items())]


def static_metrics(counts, deltas, m3_repo, discs, events, pwc):
    """M2, M3, M4, M6, M7: inputs the monthly batches never touch."""
    m2 = _hist([c for c in counts if c > 0], [2, 6, 11, 16, 51], "n_repos")
    cell = {}
    for d in deltas:
        if d["repo_id"] != m3_repo:
            continue
        fn = d["old_path"] if d["change_type"] == "DELETE" else d["new_path"]
        month = _ts(d["committer_date"]).strftime("%Y-%m-01")
        cell[(fn, month)] = cell.get((fn, month), 0) + 1
    m3 = [{"filename": f, "month": m, "n_modifications": n} for (f, m), n in sorted(cell.items())]
    has = sum(1 for p in pwc if p is not None)
    m4 = [x for x in ({"has_pwc": False, "n_datasets": len(pwc) - has},
                      {"has_pwc": True, "n_datasets": has}) if x["n_datasets"] > 0]
    per_repo = {}
    for d in discs:
        per_repo[d["repo_id"]] = per_repo.get(d["repo_id"], 0) + 1
    m6 = _hist(per_repo.values(), [2, 6, 11], "n_repos")
    comments = {}
    for e in events:
        if e["event_type"] == "comment":
            k = (e["repo_id"], e["discussion_num"])
            comments[k] = comments.get(k, 0) + 1
    per = {}
    for (repo, _), n in comments.items():
        p = per.setdefault(repo, [0, 0])
        p[0] += n
        p[1] += 1
    m7 = _hist([a / b for a, b in per.values()], [1.5, 2.5, 5.0], "n_repos")
    return {"m2": m2, "m3": m3, "m4": m4, "m6": m6, "m7": m7}


def generate(seed, out_dir):
    return _Gen(seed).generate(out_dir)
