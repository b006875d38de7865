"""Seeded generator for web_corpus_build: gzipped WARC segments with
planted ground truth, a held-out benchmark set, and incremental batches.

Every record is its own gzip member, as in Common Crawl. The corpus
plants, at fixed rates:
  - exact duplicates (same page body under another URL);
  - near-duplicate cliques (variants of one page, ~2% of words edited
    each) and chains (each page ~4% away from the previous one, so a
    chain's ends fall below the threshold and its component has
    diameter > 3, which takes connected components several rounds);
  - pages carrying a passage of a held-out benchmark document;
  - low-quality pages (too short, no stopwords, or mostly non-words);
  - malformed records (an unreadable Content-Length) closing some
    segments, and a few 404 responses.
The truth lists each planted group by URL, the near-duplicate pairs at
or above the Jaccard threshold (exact distinct word-3-gram Jaccard on
the text the extractor yields), and per incremental batch which pages
copy a stored page and which are new.
"""
import gzip
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 2
N_PAGES = 600
N_SEGMENTS = 8
N_MALFORMED = 2
N_HOSTS = 50
THRESHOLD = 0.7
EXACT_RATE = 0.03
N_CLIQUES, CLIQUE_EXTRA = 10, (2, 4)
N_CHAINS, CHAIN_LEN = 6, 6
N_CONTAMINATED = 10
LOWQ_RATE = 0.05
N_404 = 8
N_INCR_BATCHES, INCR_EXACT, INCR_NEAR, INCR_NEW = 4, 10, 6, 30
BENCH_DOCS = 40
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
NAV = "home news archive contact"
FOOTER = "copyright example press"

_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "qu", "den", "mar", "pol",
        "tes", "bri", "cor", "lin", "gar", "fen", "dal", "mon"]


def _vocab(seed_word, n, prefix=""):
    r = random.Random(seed_word)
    words = set()
    while len(words) < n:
        words.add(prefix + "".join(r.choice(_SYL) for _ in range(r.randint(2, 3))))
    return sorted(words)


# Fixed vocabularies: the seed changes which words pages use, not the
# language. The benchmark set draws from its own words, so a corpus page
# shares a 5-gram with it only where a passage was planted.
VOCAB = _vocab("corpus", 4000)
BENCH_VOCAB = _vocab("bench", 800, prefix="zx")


def shingles(text, n=3):
    w = text.split()
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    if not sa and not sb:
        return 0.0
    inter = len(sa & sb)
    return round(inter / (len(sa) + len(sb) - inter), 6)


def doc_id(url):
    """The engine's doc id: first 15 hex digits of sha256(url)."""
    return int(hashlib.sha256(url.encode()).hexdigest()[:15], 16)


class _Gen:
    def __init__(self, seed):
        self.seed = seed
        self.r = random.Random(seed * 104729 + 3)
        self.n_urls = 0

    def url(self):
        self.n_urls += 1
        return f"http://site{self.r.randrange(N_HOSTS)}.example/p/{self.seed}/{self.n_urls}"

    def body(self, n_words):
        r = self.r
        words = [r.choice(STOPWORDS) if r.random() < 0.25 else r.choice(VOCAB)
                 for _ in range(n_words)]
        return " ".join(words)

    def edit(self, text, frac):
        r = self.r
        w = text.split()
        for i in r.sample(range(len(w)), max(1, int(frac * len(w)))):
            w[i] = r.choice(VOCAB)
        return " ".join(w)

    @staticmethod
    def html(title, text):
        paras = text.split()
        cut = len(paras) // 2
        p1, p2 = " ".join(paras[:cut]), " ".join(paras[cut:])
        links = " ".join(f'<a href="/{w}">{w}</a>' for w in NAV.split())
        return (f"<!DOCTYPE html><html><head><title>{title}</title>"
                f"<style>body {{ margin: 0 }}</style>"
                f"<script>var t = '<p>x</p>'; track();</script></head>"
                f"<body><nav>{links}</nav><!-- main --><p>{p1}</p>\n<p>{p2} &amp; more</p>"
                f"<footer>{FOOTER}</footer></body></html>")

    @staticmethod
    def extracted(title, text):
        """What the HTML extractor yields for html(title, text)."""
        return f"{title} {NAV} {text} & more {FOOTER}"

    def page(self, text, title=None):
        title = title or f"page {self.r.randrange(10**6)}"
        return {"url": self.url(), "title": title, "text": text,
                "html": self.html(title, text), "status": 200}

    def generate(self, out):
        r = self.r
        bench = [" ".join(r.choice(BENCH_VOCAB) for _ in range(80)) for _ in range(BENCH_DOCS)]
        base = [self.page(self.body(r.randint(200, 350))) for _ in range(N_PAGES)]
        planted = set()
        pages = list(base)
        exact = []
        for p in r.sample(base, int(EXACT_RATE * N_PAGES)):
            q = {**p, "url": self.url()}
            pages.append(q)
            exact.append((p["url"], q["url"]))
            planted.update((p["url"], q["url"]))
        groups = []
        free = [p for p in base if p["url"] not in planted]
        r.shuffle(free)
        for _ in range(N_CLIQUES):
            p = free.pop()
            group = [p] + [self.page(self.edit(p["text"], 0.02), p["title"])
                           for _ in range(r.randint(*CLIQUE_EXTRA))]
            pages += group[1:]
            planted.update(p["url"] for p in group)
            groups.append(("clique", group))
        for _ in range(N_CHAINS):
            group = [free.pop()]
            for _ in range(CHAIN_LEN - 1):
                group.append(self.page(self.edit(group[-1]["text"], 0.04), group[0]["title"]))
            pages += group[1:]
            planted.update(p["url"] for p in group)
            groups.append(("chain", group))
        contaminated = []
        for p in free[:N_CONTAMINATED]:
            b = r.choice(bench).split()
            k = r.randrange(0, len(b) - 20)
            w = p["text"].split()
            at = r.randrange(len(w))
            p["text"] = " ".join(w[:at] + b[k:k + 20] + w[at:])
            p["html"] = self.html(p["title"], p["text"])
            contaminated.append(p["url"])
        lowq = []
        for i in range(int(LOWQ_RATE * N_PAGES)):
            kind = i % 3
            if kind == 0:
                text = self.body(r.randint(15, 30))
            elif kind == 1:
                text = " ".join(r.choice(VOCAB) for _ in range(r.randint(200, 300)))
            else:
                text = " ".join(str(r.randrange(10**6)) if r.random() < 0.5 else r.choice(VOCAB)
                                for _ in range(r.randint(200, 300)))
            q = self.page(text)
            pages.append(q)
            lowq.append(q["url"])
        for _ in range(N_404):
            q = self.page(self.body(100))
            q["status"] = 404
            pages.append(q)
        r.shuffle(pages)

        near_pairs = []
        for kind, group in groups:
            ex = [self.extracted(p["title"], p["text"]) for p in group]
            for i in range(len(group)):
                for j in range(i + 1, len(group)):
                    if jaccard(ex[i], ex[j]) >= THRESHOLD:
                        near_pairs.append((group[i]["url"], group[j]["url"]))

        os.makedirs(f"{out}/warc")
        os.makedirs(f"{out}/incr")
        for s in range(N_SEGMENTS):
            self.write_segment(f"{out}/warc/seg-{s:03d}.warc.gz", pages[s::N_SEGMENTS],
                               malformed=s < N_MALFORMED)
        pq.write_table(pa.table({"text": bench}), f"{out}/bench.parquet")

        stored = [p for p in base if p["url"] not in planted and p["url"] not in contaminated]
        incr = []
        for b in range(N_INCR_BATCHES):
            copies = [{**p, "url": self.url()} for p in r.sample(stored, INCR_EXACT)]
            near = [self.page(self.edit(p["text"], 0.02), p["title"])
                    for p in r.sample(stored, INCR_NEAR)]
            new = [self.page(self.body(r.randint(200, 350))) for _ in range(INCR_NEW)]
            batch = copies + near + new
            r.shuffle(batch)
            self.write_segment(f"{out}/incr/batch-{b:03d}.warc.gz", batch, malformed=False)
            incr.append({"exact": [p["url"] for p in copies], "near": [p["url"] for p in near],
                         "new": [p["url"] for p in new]})

        ok = [p for p in pages if p["status"] == 200]
        return {"generator": "warc", "version": VERSION, "seed": self.seed,
                "threshold": THRESHOLD, "pages": len(ok), "segments": N_SEGMENTS,
                "malformed": N_MALFORMED, "not_found": N_404,
                "exact_pairs": exact, "near_pairs": near_pairs,
                "groups": [{"kind": k, "urls": [p["url"] for p in g]} for k, g in groups],
                "contaminated": contaminated, "low_quality": lowq, "incremental": incr}

    def write_segment(self, path, pages, malformed):
        def record(kind, url, payload, ctype):
            head = (f"WARC/1.0\r\nWARC-Type: {kind}\r\nWARC-Target-URI: {url}\r\n"
                    f"WARC-Date: 2024-06-01T00:00:00Z\r\n"
                    f"WARC-Record-ID: <urn:sha1:{hashlib.sha1(url.encode()).hexdigest()}>\r\n"
                    f"Content-Type: {ctype}\r\nContent-Length: {len(payload)}\r\n\r\n")
            return gzip.compress(head.encode() + payload + b"\r\n\r\n", mtime=0)
        with open(path, "wb") as f:
            f.write(record("warcinfo", "", b"software: perfbench generator\r\n",
                           "application/warc-fields"))
            for p in pages:
                status = "200 OK" if p["status"] == 200 else "404 Not Found"
                http = (f"HTTP/1.1 {status}\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
                        .encode() + p["html"].encode())
                f.write(record("response", p["url"], http, "application/http; msgtype=response"))
            if malformed:
                f.write(gzip.compress(b"WARC/1.0\r\nWARC-Type: response\r\n"
                                      b"Content-Length: unreadable\r\n\r\n", mtime=0))


def generate(seed, out_dir):
    return _Gen(seed).generate(out_dir)
