#!/usr/bin/env python3
"""Self-tests of the benchmark. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests

The last test compiles the driver (perfbench/build.py) and runs its
Spark-free self-test main.
"""
import filecmp
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

# Scratch files stay inside the checkout, like the benchmark's own.
tempfile.tempdir = os.path.join(run.ROOT, ".bench_tmp", "tests")
os.makedirs(tempfile.tempdir, exist_ok=True)


def _gen(out, seed):
    return gen.generate(out, seed, sf=0.001, docs=60, doc_files=3, drops=2,
                        tables={"tpch", "events", "corpus"})


def _files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            sa, sb = _gen(a, 5), _gen(b, 5)
            self.assertEqual(sa, sb)
            files = _files(a)
            self.assertEqual(files, _files(b))
            match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_other_corpus(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            _gen(a, 5), _gen(b, 6)
            part = os.path.join("documents.parquet", "part-00000.parquet")
            self.assertFalse(filecmp.cmp(os.path.join(a, part), os.path.join(b, part), shallow=False))

    def test_layout_and_counts(self):
        with tempfile.TemporaryDirectory() as a:
            s = _gen(a, 1)
            self.assertEqual(len(os.listdir(os.path.join(a, "documents.parquet"))), 3)
            self.assertEqual(s["documents"]["rows"], 60)
            self.assertEqual(s["drops"]["rows"], 2)  # 1% of 60 docs, at least one per drop
            self.assertEqual(sorted(os.listdir(os.path.join(a, "drops"))),
                             ["part-00003.parquet", "part-00004.parquet"])
            for name, st in s.items():
                self.assertGreater(st["bytes"], 0, name)


class TailRuleTest(unittest.TestCase):
    def test_highest_rung_with_ten_beyond(self):
        xs = [float(i) for i in range(1, 37)]  # 36 samples
        self.assertEqual(stats.tail(xs), (70, 26.0, 36, 10))

    def test_many_samples_reach_p99(self):
        pct, _, n, beyond = stats.tail([float(i) for i in range(1000)])
        self.assertEqual((pct, n, beyond), (99, 1000, 10))

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (50, 2.0, 3, 1))

    def test_median(self):
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class AccountingTest(unittest.TestCase):
    def test_throw_and_mismatch_are_failures(self):
        raw = {"attempted": 10, "failures": [["q_boom", "java.lang.IllegalStateException: injected"]]}
        correct, attempted, failures = run.outcome(raw, {"q_bad": "rows 3 vs oracle 4"})
        self.assertFalse(correct)
        self.assertEqual(attempted, 10)
        self.assertEqual([f["query"] for f in failures], ["q_boom", "q_bad"])

    def test_clean_run_is_correct(self):
        self.assertEqual(run.outcome({"attempted": 4, "failures": []}, {}), (True, 4, []))

    def test_store_bytes_per_input_byte(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "documents.parquet"))
            for name, size in [("documents.parquet/part-0.parquet", 300),
                               ("documents.parquet/part-1.parquet", 100),
                               ("embeddings.parquet", 100)]:
                with open(os.path.join(d, name), "wb") as f:
                    f.write(b"x" * size)
            self.assertEqual(run.store_ratio(1000, d), 2.0)

    def test_pass_count_depends_on_seconds_only(self):
        self.assertEqual(run.plan_passes("corpus_warm", 10, 0), (4, 0))
        self.assertEqual(run.plan_passes("corpus_append", 10, 0), (6, 0))
        self.assertEqual(run.plan_passes("mr_analytics", 10, 0), (3, 0))
        self.assertEqual(run.plan_passes("corpus_append", 10, 1), (3, 3))
        self.assertEqual(run.plan_passes("corpus_warm", 10, 1), (2, 2))


class DriverSelfTest(unittest.TestCase):
    def test_scala_accounting(self):
        classes = build.build()
        with tempfile.TemporaryDirectory() as d:
            r = subprocess.run(["java", "-XX:-UsePerfData", "-cp",
                                classes + os.pathsep + build.spark_jars(), "perfbench.SelfTest", d],
                               capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)


if __name__ == "__main__":
    unittest.main()
