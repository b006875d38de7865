"""Tests of the benchmark's own machinery.

    python3 perfbench/tests/test_perfbench.py
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest
from pathlib import Path
from unittest import mock

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))

from pb import gen_hfc, gen_relational, gen_warc, layers, report  # noqa: E402
from pb.trace import self_times, union_length  # noqa: E402


def _same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorDeterminism(unittest.TestCase):
    """Same seed -> byte-identical inputs and truth; another seed differs."""

    def _check(self, gen):
        with tempfile.TemporaryDirectory() as tmp:
            dirs = [os.path.join(tmp, n) for n in ("a", "b", "c")]
            for d in dirs:
                os.makedirs(d)
            truth = [gen.generate(1, dirs[0]), gen.generate(1, dirs[1]), gen.generate(2, dirs[2])]
            self.assertTrue(_same_tree(dirs[0], dirs[1]))
            self.assertEqual(json.dumps(truth[0], sort_keys=True), json.dumps(truth[1], sort_keys=True))
            self.assertFalse(_same_tree(dirs[0], dirs[2]))

    def test_relational(self):
        with mock.patch.object(gen_relational, "SF", 0.001):
            self._check(gen_relational)

    def test_hfc(self):
        with mock.patch.multiple(gen_hfc, N_REPOS=300, N_BATCHES=3):
            self._check(gen_hfc)

    def test_warc(self):
        with mock.patch.multiple(gen_warc, N_PAGES=120, N_CLIQUES=3, N_CHAINS=2,
                                 N_CONTAMINATED=3, INCR_EXACT=3, INCR_NEAR=2, INCR_NEW=5):
            self._check(gen_warc)


class HfcTruth(unittest.TestCase):
    """The batch replay follows IncrementalRefresh's contract."""

    def row(self, key, seq, lm, likes, sha="s"):
        return {"id": key, "name": key, "type": "model", "author": "a", "sha": sha,
                "last_modified": lm, "private": False, "card_data": None, "gated": None,
                "disabled": False, "likes": likes, "seq": seq}

    def test_apply_batch(self):
        state = {"k1": {k: v for k, v in self.row("k1", 0, 5, 1).items() if k != "seq"},
                 "k2": {k: v for k, v in self.row("k2", 0, 5, 1).items() if k != "seq"}}
        limit = 10
        rows = [self.row("k1", 1, 6, 7, sha="stale-ignored"),   # stale: likes only
                self.row("k1", 4, 6, 8, sha="stale-ignored"),   # later stale row wins
                self.row("ghost", 2, 6, 9),                     # stale, unknown key: ignored
                self.row("k2", 3, 12, 5, sha="fresh"),          # fresh: full upsert
                self.row("k2", 0, 6, 3),                        # stale for k2, then fresh wins
                self.row("k3", 5, 11, 2, sha="new")]            # new key
        gen_hfc.apply_batch(state, rows, limit)
        self.assertEqual(sorted(state), ["k1", "k2", "k3"])
        self.assertEqual((state["k1"]["likes"], state["k1"]["sha"], state["k1"]["last_modified"]), (8, "s", 5))
        self.assertEqual((state["k2"]["likes"], state["k2"]["sha"]), (5, "fresh"))
        self.assertNotIn("seq", state["k3"])

    def test_bucket_labels_match_engine(self):
        self.assertEqual(gen_hfc.bucket(1, [2, 6, 11]), "<2")
        self.assertEqual(gen_hfc.bucket(6, [2, 6, 11]), "[6,11)")
        self.assertEqual(gen_hfc.bucket(11, [2, 6, 11]), ">=11")
        self.assertEqual(gen_hfc.bucket(2.0, [1.5, 2.5, 5.0]), "[1.5,2.5)")
        self.assertEqual(gen_hfc.bucket(5.0, [1.5, 2.5, 5.0]), ">=5")


class MetricNames(unittest.TestCase):
    def test_catalogue_names_and_units(self):
        names = [n for n, *_ in layers.END_TO_END] + [n for n, *_ in layers.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            report.check_name(n)
        for _, unit, *_ in layers.END_TO_END + layers.PER_LAYER:
            self.assertRegex(unit, report.UNIT_RE.pattern)

    def test_grammar_rejects(self):
        for bad in ["", "has space", "-lead", "x" * 65, "a/b", "é"]:
            with self.assertRaises(ValueError):
                report.check_name(bad)

    def test_benchmark_json_matches_catalogue(self):
        path = BENCH.parent / "BENCHMARK.json"
        if not path.exists():
            self.skipTest("no BENCHMARK.json next to the benchmark")
        doc = json.loads(path.read_text())
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"]) for m in doc["end_to_end"]],
                         [tuple(x) for x in layers.END_TO_END])
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]],
                         [(n, u, "higher" if n in layers.HIGHER else "lower")
                          for n, u, _ in layers.PER_LAYER])
        self.assertTrue(any(m["name"] == "setup_s" for m in doc["end_to_end"]))


class ResultLine(unittest.TestCase):
    def metrics(self):
        m = report.Metrics()
        m.put("setup_s", 0.8127, "s")
        m.put("op_p50_ms", 12.5, "ms")
        return m

    def test_round_trip_from_last_line(self):
        line = report.result_line(True, 10, 0, self.metrics())
        out = "metric w setup_s 0.8127 s\n" + line + "\n"
        obj = report.parse_tail(out)
        self.assertEqual(obj["attempted"], 10)
        self.assertEqual(obj["metrics"]["setup_s"], {"value": 0.8127, "unit": "s"})
        self.assertNotIn("\n", line)

    def test_rejects_malformed_tails(self):
        good = json.loads(report.result_line(True, 3, 1, self.metrics()))
        bad = [dict(good, extra=1), {k: v for k, v in good.items() if k != "failed"},
               dict(good, attempted=True), dict(good, attempted=2.5), dict(good, correct="yes"),
               dict(good, metrics={"bad name": {"value": 1, "unit": "s"}}),
               dict(good, metrics={"x": {"value": "1", "unit": "s"}})]
        for b in bad:
            with self.assertRaises(ValueError):
                report.parse_tail(json.dumps(b))
        with self.assertRaises(ValueError):
            report.parse_tail("")
        with self.assertRaises(ValueError):
            report.result_line(True, 0, 0, self.metrics())

    def test_non_finite_values_refused(self):
        m = report.Metrics()
        m.put("x", float("nan"), "ms")
        with self.assertRaises(ValueError):
            report.result_line(True, 1, 0, m)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start_us": start, "end_us": end}

    def test_union(self):
        self.assertEqual(union_length([]), 0)
        self.assertEqual(union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(union_length([(0, 10), (2, 3), (10, 12)]), 12)
        self.assertEqual(union_length([(5, 5), (7, 6)]), 0)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [self.span(0, -1, 0, 100),
                 self.span(1, 0, 10, 40),
                 self.span(2, 0, 30, 60),     # overlaps its sibling: counted once
                 self.span(3, 1, 15, 20),     # grandchild: only affects its parent
                 self.span(4, 0, 90, 130)]    # runs past the parent: clipped
        st = self_times(spans)
        self.assertEqual(st[0], 100 - 50 - 10)
        self.assertEqual(st[1], 30 - 5)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 5)
        self.assertEqual(st[4], 40)


if __name__ == "__main__":
    unittest.main()
