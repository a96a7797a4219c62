"""Tests of the benchmark's own arithmetic and input generation.

Run from the root of a checkout:  python3 -m unittest perfbench/test_perfbench.py
"""
import filecmp
import os
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import metrics  # noqa: E402


def op(i, t0, t1, name="q", cls="read", failed=False, wrong=False, rows=1,
       build_ms=0.0, exec_ms=0.0, version=-1):
    return {"id": i, "name": name, "cls": cls, "t0": t0, "t1": t1,
            "failed": failed, "wrong": wrong, "rows": rows,
            "build_ms": build_ms, "exec_ms": exec_ms, "version": version}


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.pct(xs, 50), 50)
        self.assertEqual(metrics.pct(xs, 90), 90)
        self.assertEqual(metrics.pct(xs, 100), 100)
        self.assertEqual(metrics.pct([7], 99), 7)

    def test_tail_is_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.tail(list(range(1000)))[1:], (99.0, 1000))
        self.assertEqual(metrics.tail(list(range(100)))[1:], (90.0, 100))
        # 99 samples: p90 leaves 9 beyond, so p80 (19 beyond)
        self.assertEqual(metrics.tail(list(range(99)))[1:], (80.0, 99))
        self.assertEqual(metrics.tail(list(range(20)))[1:], (50.0, 20))

    def test_tail_value_and_count(self):
        xs = [float(i) for i in range(1, 101)]
        value, p, n = metrics.tail(xs)
        self.assertEqual((value, p, n), (90.0, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_tail_with_too_few_samples_is_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))


class Intervals(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching(self):
        self.assertEqual(metrics.union_ms([(0, 100), (10, 20), (30, 40)]), 100)
        self.assertEqual(metrics.union_ms([(10, 20), (20, 30)]), 20)
        self.assertEqual(metrics.union_ms([]), 0)

    def test_clipped_to_the_op(self):
        self.assertEqual(metrics.union_ms([(0, 10), (8, 30)], 5, 20), 15)
        self.assertEqual(metrics.union_ms([(30, 40)], 5, 20), 0)

    def test_driver_gap_is_wall_minus_job_union(self):
        raw = {"ops": [op(1, 0.0, 100.0)], "spans": [], "qe": [],
               "jobs": [{"job": 0, "op": 1, "t0": 10, "t1": 50, "stages": 1},
                        {"job": 1, "op": 1, "t0": 40, "t1": 70, "stages": 2},
                        {"job": 2, "op": -1, "t0": 0, "t1": 100, "stages": 1}],
               "tasks": {"1": {"tasks": 4, "run_ms": 120}},
               "setups": [{"session_ms": 1, "warmup_ms": 2}],
               "window": {"t0": 0.0, "t1": 100.0}, "extra": {}, "curation_chain": []}
        m = metrics.per_layer(raw, cores=4)
        self.assertEqual(m["exec.job_ms"], 60)
        self.assertEqual(m["driver.gap_ms"], 40)
        self.assertEqual(m["exec.jobs"], 2)
        self.assertEqual(m["exec.stages"], 3)
        self.assertEqual(m["exec.untagged_jobs"], 1)
        self.assertEqual(m["exec.parallel_eff"], 120 / (60 * 4))


class Failures(unittest.TestCase):
    def test_wrong_and_failed_ops_both_count(self):
        ops = [op(1, 0, 1), op(2, 1, 2, failed=True), op(3, 2, 3, wrong=True),
               op(4, 3, 4)]
        self.assertEqual(metrics.fail_frac(ops), 0.5)
        self.assertEqual(metrics.fail_frac([]), 0.0)

    def test_a_failed_whole_run_check_counts_as_attempted_and_failed(self):
        ops = [op(1, 0, 1), op(2, 1, 2, wrong=True), op(3, 2, 3)]
        self.assertEqual(metrics.failures(ops, [True, False]), (2, 5))
        self.assertEqual(metrics.fail_frac(ops, [True, False]), 0.4)

    def test_end_to_end_figures_are_as_measured(self):
        raw = {"ops": [op(1, 0, 100), op(2, 100, 300)], "chain": [],
               "window": {"t0": 0, "t1": 300}, "peak_rss_kb": 2048,
               "peak_heap_mb": 300.5,
               "setups": [{"total_s": 3.0}, {"total_s": 1.0},
                          {"total_s": 2.0}]}
        e = metrics.end_to_end(raw)
        self.assertEqual(e["lat_p50_ms"], 100)
        self.assertEqual(e["lat_tail_ms"], 200)
        # the first set-up is cold and left out
        self.assertEqual(e["setup_s"], 1.5)
        self.assertAlmostEqual(e["ops_per_s"], 2 / 0.3)
        self.assertEqual(e["peak_rss_mb"], 2.0)
        self.assertEqual(e["peak_heap_mb"], 300.5)

    def test_chain_requests_are_whole_passes(self):
        ops = [op(1, 0, 1, "a"), op(2, 1, 3, "b"), op(3, 3, 4, "a"),
               op(4, 4, 8, "b"), op(5, 8, 9, "a")]
        reqs = metrics.requests({"ops": ops, "chain": ["a", "b"]})
        self.assertEqual([(r["t0"], r["t1"]) for r in reqs], [(0, 3), (3, 8)])
        self.assertEqual(metrics.requests({"ops": ops, "chain": []}), ops)


class Checkpoints(unittest.TestCase):
    def test_checkpoint_commits_are_those_at_multiples_of_the_interval(self):
        ops = [op(1, 0, 10, "insert", "write", version=4),
               op(2, 10, 60, "merge", "write", version=5),
               op(3, 60, 70, "read_point"),
               op(4, 70, 80, "delete", "write", version=6),
               op(5, 80, 150, "insert", "write", version=10)]
        raw = {"ops": ops, "spans": [], "qe": [], "jobs": [], "tasks": {},
               "setups": [{"session_ms": 1, "warmup_ms": 2}],
               "window": {"t0": 0, "t1": 150}, "curation_chain": [],
               "extra": {"checkpoint_interval": 5, "checkpoints_written": 2,
                         "version_at_start": 3, "version_at_end": 10}}
        m = metrics.per_layer(raw, cores=4)
        self.assertEqual(m["tablelog.commit_ms.checkpoint"], 60)
        self.assertEqual(m["tablelog.commit_ms.max"], 70)
        self.assertEqual(m["tablelog.checkpoints"], 2)
        self.assertEqual(m["tablelog.versions"], 7)


class Inputs(unittest.TestCase):
    def write(self, d, seed):
        for w in ("lakehouse_rw", "curation_pipeline"):
            gen.write(gen.inputs(w, seed), os.path.join(d, w))

    def files(self, d):
        return sorted(os.path.relpath(os.path.join(r, f), d)
                      for r, _, fs in os.walk(d) for f in fs)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        here = os.path.dirname(os.path.abspath(__file__))
        with tempfile.TemporaryDirectory(dir=here) as a, \
                tempfile.TemporaryDirectory(dir=here) as b, \
                tempfile.TemporaryDirectory(dir=here) as c:
            self.write(a, 7)
            self.write(b, 7)
            self.write(c, 8)
            names = self.files(a)
            self.assertEqual(len(names), 3)
            for f in names:
                self.assertTrue(filecmp.cmp(os.path.join(a, f),
                                            os.path.join(b, f), shallow=False), f)
                self.assertFalse(filecmp.cmp(os.path.join(a, f),
                                             os.path.join(c, f), shallow=False), f)

    def test_each_replica_is_the_fixture_under_a_letter_bijection(self):
        base = gen.fixture(100)["documents"]
        three = gen.corpus(3, base_rows=100, replicas=3)["documents"]
        texts = base.column("text").to_pylist()
        self.assertEqual(three.column("doc_id").to_pylist(),
                         [k * 100 + i for k in range(3) for i in range(100)])
        copies = three.column("text").to_pylist()
        for k in range(3):
            copy = copies[k * 100:(k + 1) * 100]
            pairs = {(a, b) for t, c in zip(texts, copy) for a, b in zip(t, c)}
            # one image per letter and one preimage per image, so
            # duplicates and shingle overlaps within the copy are the
            # fixture's
            self.assertEqual(len({a for a, _ in pairs}), len(pairs))
            self.assertEqual(len({b for _, b in pairs}), len(pairs))
            self.assertEqual([len(c) for c in copy], [len(t) for t in texts])
        docs = [set(copies[k * 100:(k + 1) * 100]) for k in range(3)]
        self.assertFalse(docs[0] & docs[1] or docs[1] & docs[2]
                         or docs[0] & docs[2])

    def test_isometries_keep_norms_and_cosines(self):
        v = np.random.default_rng(0).standard_normal((5, gen.EMB_DIM))
        for idx in (0, 1, 70, 500, 1023):
            w = gen._isometry(v, idx)
            np.testing.assert_allclose(w @ w.T, v @ v.T, atol=1e-9)
        self.assertEqual("the data".translate(gen._bijection(0)), "the data")
        for idx in (1, 77, 1295):
            tr = gen._bijection(idx)
            self.assertEqual(sorted(tr), sorted(tr.values()))


if __name__ == "__main__":
    unittest.main()
