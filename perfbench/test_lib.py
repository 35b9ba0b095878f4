"""Tests of the benchmark's own helpers: python3 -m unittest discover perfbench"""

import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import lib  # noqa: E402


def dir_digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class TailPercentile(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        value, pct, n, beyond = lib.tail_percentile(list(range(1, 101)))
        self.assertEqual((value, n, beyond), (90, 100, 10))
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in range(1, 101) if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 6, 4, 10, 11, 12]
        self.assertEqual(lib.tail_percentile(xs)[0], 2)
        self.assertAlmostEqual(lib.tail_percentile(xs)[1], 100.0 * 2 / 12)

    def test_too_few_samples_falls_back_to_max(self):
        self.assertEqual(lib.tail_percentile([3, 1, 2]), (3, 100.0, 3, 0))
        self.assertEqual(lib.tail_percentile([]), (0.0, 0.0, 0, 0))


class SelfTime(unittest.TestCase):
    def span(self, a, b):
        return {"start": a, "end": b}

    def test_overlapping_children_count_once(self):
        parent = self.span(0, 100)
        kids = [self.span(10, 40), self.span(30, 60), self.span(55, 70)]
        self.assertEqual(lib.self_time(parent, kids), 100 - 60)

    def test_children_clipped_to_parent(self):
        parent = self.span(0, 100)
        kids = [self.span(-20, 10), self.span(90, 150), self.span(200, 300)]
        self.assertEqual(lib.self_time(parent, kids), 80)

    def test_nested_and_identical_children(self):
        parent = self.span(0, 100)
        kids = [self.span(20, 80), self.span(30, 40), self.span(20, 80)]
        self.assertEqual(lib.self_time(parent, kids), 40)
        self.assertEqual(lib.self_time(parent, []), 100)


class LayerRecords(unittest.TestCase):
    def test_probe_phases_join_the_attempt_record(self):
        def span(i, parent, name, a, b):
            return {"id": i, "parent": parent, "attempt": 7, "name": name, "start": a, "end": b}
        spans = [span(1, 0, "wordcount", 0, 100), span(2, 1, "run", 0, 100),
                 span(3, 0, "probe", 200, 260), span(4, 3, "parse", 200, 210),
                 span(5, 3, "plan", 210, 260)]
        attempt = {"id": 7, "pass": 2, "job": "wordcount", "traced": True, "wall_s": 1e-7,
                   "build_s": 0.0, "error": None}
        rec, = lib.layer_records(spans, [], [attempt])
        self.assertEqual(sorted(rec["phases"]), ["parse", "plan", "run"])
        self.assertAlmostEqual(rec["phases"]["plan"]["wall_s"], 50e-9)


class Generators(unittest.TestCase):
    def test_corpus_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a = gen.make_corpus(f"{t}/a", 7, text_lines=2000, kv_lines=1200, files=5)
            b = gen.make_corpus(f"{t}/b", 7, text_lines=2000, kv_lines=1200, files=5)
            c = gen.make_corpus(f"{t}/c", 8, text_lines=2000, kv_lines=1200, files=5)
            self.assertEqual(dir_digest(f"{t}/a"), dir_digest(f"{t}/b"))
            self.assertEqual(a[1], b[1])
            self.assertNotEqual(dir_digest(f"{t}/a"), dir_digest(f"{t}/c"))
            self.assertNotEqual(a[1], c[1])

    def test_tables_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            gen.make_tables(f"{t}/a", 0.001, seed=3)
            gen.make_tables(f"{t}/b", 0.001, seed=3)
            gen.make_tables(f"{t}/c", 0.001, seed=4)
            self.assertEqual(dir_digest(f"{t}/a"), dir_digest(f"{t}/b"))
            self.assertNotEqual(dir_digest(f"{t}/a"), dir_digest(f"{t}/c"))

    def test_corpus_has_the_awkward_lines(self):
        with tempfile.TemporaryDirectory() as t:
            dirs, _, _ = gen.make_corpus(t, 1, text_lines=3000, kv_lines=600, files=4)
            lines = lib.read_output_lines(dirs["text"])
            self.assertTrue(any(not l.strip() for l in lines))
            self.assertTrue(any("\t" in l for l in lines))
            self.assertTrue(any(l != l.lower() for l in lines))


class KvChecker(unittest.TestCase):
    def test_accepts_the_generator_result(self):
        text = ["a b\ta", "", "  B a", " \t"]
        want = gen.expected_results(text, [], [])["wordcount"]
        self.assertEqual(want, {"a": "3", "b": "1", "B": "1"})
        self.assertIsNone(lib.check_kv_output(["a 3", "b 1", "B 1"], want))

    def test_rejects_a_planted_wrong_count(self):
        want = {"a": "3", "b": "1"}
        bad = lib.check_kv_output(["a 4", "b 1"], want)
        self.assertIn("'a'", bad)

    def test_rejects_missing_and_duplicate_keys(self):
        want = {"a": "3", "b": "1"}
        self.assertIsNotNone(lib.check_kv_output(["a 3"], want))
        self.assertIsNotNone(lib.check_kv_output(["a 3", "b 1", "a 3"], want))

    def test_map_only_output_is_a_multiset(self):
        want = sorted(["k 1", "k 1", "j 2"])
        self.assertIsNone(lib.check_kv_output(["k 1", "j 2", "k 1"], want))
        self.assertIsNotNone(lib.check_kv_output(["k 1", "j 2"], want))

    def test_kv_parse_matches_the_engine_rule(self):
        self.assertEqual(gen.parse_kv("\t key  v w"), ("key", "v w"))
        self.assertEqual(gen.parse_kv("key"), ("key", ""))
        self.assertIsNone(gen.parse_kv(" \t "))


if __name__ == "__main__":
    unittest.main()
