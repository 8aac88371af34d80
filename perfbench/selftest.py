#!/usr/bin/env python3
"""Self-tests of the benchmark's own arithmetic and generators.

    python3 perfbench/selftest.py

Needs no build and no Spark: it checks that a seed reproduces its
inputs byte for byte, the per-step medians behind wall_s and the tail,
the interquartile mean, self-time arithmetic over overlapping child
spans, job attribution, and the cdc latest-wins model against a
hand-written changelog.
"""
import glob
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
import refs  # noqa: E402
import run  # noqa: E402

SMALL_CDC = dict(gen.CDC_SIZES, keys=500, batch=50, batches=4)
SMALL_CORPUS = dict(gen.CORPUS_SIZES, docs=300, vectors=100)
SMALL_MARTS = dict(gen.MARTS_SIZES, customer=50, part=40, orders=200, lineitem=600, events=300)


def digest_tree(root):
    h = hashlib.sha256()
    for dirpath, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class Generators(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(dir=os.path.join(BENCH, ".work")
                                    if os.path.isdir(os.path.join(BENCH, ".work")) else None)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def twice(self, make, seed_a, seed_b):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        make(a, seed_a)
        make(b, seed_a)
        make(c, seed_b)
        self.assertEqual(digest_tree(a), digest_tree(b))
        self.assertNotEqual(digest_tree(a), digest_tree(c))

    def test_cdc_same_seed_same_bytes(self):
        self.twice(lambda p, s: gen.gen_cdc(p, s, SMALL_CDC), 7, 8)

    def test_corpus_same_seed_same_bytes(self):
        self.twice(lambda p, s: gen.gen_corpus(p, s, SMALL_CORPUS), 7, 8)

    def test_marts_same_seed_same_bytes(self):
        self.twice(lambda p, s: gen.gen_marts(p, s, SMALL_MARTS), 7, 8)

    def test_corpus_plants_duplicates(self):
        gen.gen_corpus(self.tmp, 3, SMALL_CORPUS)
        import pyarrow.parquet as pq
        texts = pq.read_table(os.path.join(self.tmp, "documents.parquet"))["text"].to_pylist()
        self.assertEqual(len(texts), SMALL_CORPUS["docs"])
        self.assertLess(len(set(texts)), len(texts))

    def test_cdc_log_is_consistent(self):
        snap, batches = gen.cdc_rows(5, SMALL_CDC)
        live = {r["id"] for r in snap}
        seqs = []
        for b in batches:
            for e in sorted(b, key=lambda e: e["seq"]):
                seqs.append(e["seq"])
                if e["op"] == "c":
                    self.assertNotIn(e["id"], live)
                    live.add(e["id"])
                else:
                    self.assertIn(e["id"], live)
                    if e["op"] == "d":
                        live.remove(e["id"])
        self.assertEqual(seqs, list(range(1, len(seqs) + 1)))
        # some batches arrive out of log order
        self.assertTrue(any([e["seq"] for e in b] != sorted(e["seq"] for e in b) for b in batches))


class FastOracle(unittest.TestCase):
    """The numpy evaluation of the d06 oracle against DuckDB's own."""

    def test_minhash_clusters_match_duckdb(self):
        cached = glob.glob(os.path.join(BENCH, ".work", "build", "oracles-corpus-*.json"))
        if not cached:
            self.skipTest("no oracle text cached yet: run the corpus workload once")
        with open(cached[0]) as f:
            sql = json.load(f)["d06_dup_clusters"]
        tmp = tempfile.mkdtemp()
        try:
            gen.gen_corpus(tmp, 11, dict(SMALL_CORPUS, docs=400))
            con = refs.duckdb_views(tmp)
            _, rows = refs.minhash_clusters(con, sql)
            want = con.execute(sql).fetchall()
            self.assertEqual(sorted(map(tuple, rows)), sorted(want))
            self.assertLess(len(want), 400)  # planted duplicates cluster
        finally:
            shutil.rmtree(tmp)


class StepStats(unittest.TestCase):
    @staticmethod
    def step(name, p, ms):
        return {"name": name, "pass": p, "t0": 0, "t1": int(ms * 1e6)}

    def test_medians_wall_and_tail(self):
        # two passes of a, b, a; one slow outlier of b
        steps = [self.step("a", 0, 100), self.step("b", 0, 900), self.step("a", 0, 300),
                 self.step("a", 1, 200), self.step("b", 1, 400), self.step("a", 1, 200)]
        med = run.step_medians(steps)
        self.assertAlmostEqual(med["a"], 0.2)
        self.assertAlmostEqual(med["b"], 0.65)
        self.assertAlmostEqual(run.pass_wall(steps, med), 2 * 0.2 + 0.65)
        self.assertEqual(run.slowest_step(med), ("b", med["b"]))

    def test_interquartile_mean_drops_a_quarter_each_side(self):
        self.assertAlmostEqual(run.interquartile_mean([9, 1, 5, 4, 6, 100, 0, 3]), 4.5)
        self.assertAlmostEqual(run.interquartile_mean(list(range(9))), 4.0)
        self.assertAlmostEqual(run.interquartile_mean([7, 1]), 4.0)

    def test_pass_numbers_need_not_start_at_zero(self):
        steps = [self.step("a", 3, 100), self.step("a", 4, 300)]
        self.assertAlmostEqual(run.pass_wall(steps, run.step_medians(steps)), 0.2)


class SelfTime(unittest.TestCase):
    def test_union_of_overlaps(self):
        self.assertEqual(layers.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(layers.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(layers.union_length([]), 0)

    def test_overlapping_children_count_once_and_clip(self):
        nodes = {"p": (0, 100), "a": (10, 40), "b": (30, 60), "c": (90, 120), "d": (200, 210)}
        parent = {"a": "p", "b": "p", "c": "p"}
        s = layers.self_times(nodes, parent)
        # children cover [10, 60) and [90, 100): 60 of the parent's 100
        self.assertEqual(s["p"], 40)
        self.assertEqual(s["a"], 30)
        self.assertEqual(s["d"], 10)

    def test_jobs_follow_property_then_containment(self):
        spans = [{"id": 1, "t0": 0, "t1": 100}, {"id": 2, "t0": 10, "t1": 50}]
        jobs = [{"id": 7, "span": 1, "t0": 20}, {"id": 8, "span": 0, "t0": 20},
                {"id": 9, "span": 0, "t0": 70}, {"id": 10, "span": 0, "t0": 500}]
        self.assertEqual(layers.attribute_jobs(spans, jobs), {7: 1, 8: 2, 9: 1})


class CdcModel(unittest.TestCase):
    """A changelog written by hand, with its latest-wins states."""
    snapshot = [{"id": 1, "seq": 0, "name": "a", "amount": 10, "dt": "2024-01-02"},
                {"id": 2, "seq": 0, "name": "b", "amount": 20, "dt": "2024-01-03"}]
    batches = [
        # file order is not log order: seq 2 lands before seq 1
        [{"op": "u", "id": 1, "seq": 2, "name": "a2", "amount": 12, "dt": "2024-01-02"},
         {"op": "u", "id": 1, "seq": 1, "name": "a1", "amount": 11, "dt": "2024-01-02"},
         {"op": "c", "id": 3, "seq": 3, "name": "c", "amount": 30, "dt": "2024-01-02"}],
        [{"op": "d", "id": 2, "seq": 4, "name": "b", "amount": 20, "dt": "2024-01-03"},
         {"op": "d", "id": 1, "seq": 5, "name": "a2", "amount": 12, "dt": "2024-01-02"}],
        [{"op": "c", "id": 2, "seq": 6, "name": "b6", "amount": 26, "dt": "2024-01-03"}],
    ]
    expected = [
        {1: ("a", 10, 0), 2: ("b", 20, 0)},
        {1: ("a2", 12, 2), 2: ("b", 20, 0), 3: ("c", 30, 3)},
        {3: ("c", 30, 3)},
        {2: ("b6", 26, 6), 3: ("c", 30, 3)},
    ]
    days = {1: "2024-01-02", 2: "2024-01-03", 3: "2024-01-02"}

    def fp(self, rendered):
        f = refs.Fingerprint()
        for r in rendered:
            f.add(r)
        return f.pair()

    def test_states_points_and_mart(self):
        got = refs.latest_wins(self.snapshot, self.batches, point_keys=[2])
        max_seq = [{"2024-01-02": 0, "2024-01-03": 0}, {"2024-01-02": 3, "2024-01-03": 0},
                   {"2024-01-02": 5, "2024-01-03": 4}, {"2024-01-02": 5, "2024-01-03": 6}]
        for i, state in enumerate(self.expected):
            rows = [f"{k}|{seq}|{n}|{a}|{self.days[k]}" for k, (n, a, seq) in state.items()]
            self.assertEqual(got["states"][i], self.fp(rows), f"state {i}")
            self.assertEqual(got["points"][i], self.fp(
                [f"{k}|{seq}|{n}|{a}|{self.days[k]}" for k, (n, a, seq) in state.items() if k == 2]))
            mart = []
            for dt, ms in max_seq[i].items():
                live = [a for k, (_, a, _) in state.items() if self.days[k] == dt]
                mart.append(f"{dt}|{len(live)}|{sum(live)}|{ms}")
            self.assertEqual(got["marts"][i], self.fp(mart), f"mart {i}")

    def test_row_hash_is_md5_prefix_little_endian(self):
        self.assertEqual(refs.row_hash("abc"), int.from_bytes(
            bytes.fromhex("900150983cd24fb0"), "little"))


if __name__ == "__main__":
    unittest.main(verbosity=1)
