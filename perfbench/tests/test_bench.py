"""Checks of the benchmark's own machinery (no Spark needed):

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import ledger  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(BENCH), ".bench_work")


class InputsTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=SCRATCH)

    def tearDown(self):
        self.tmp.cleanup()

    def gen(self, workload, seed, name):
        out = os.path.join(self.tmp.name, name)
        facts, digest = gen.generate(workload, seed, out)
        return out, facts, digest

    def test_same_seed_gives_identical_bytes(self):
        for w in gen.GENERATORS:
            a, fa, ha = self.gen(w, 7, f"{w}-a")
            b, fb, hb = self.gen(w, 7, f"{w}-b")
            self.assertEqual(ha, hb, w)
            self.assertEqual(fa, fb, w)
            names = sorted(os.listdir(a))
            self.assertEqual(names, sorted(os.listdir(b)))
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)

    def test_other_seed_changes_inputs(self):
        for w in gen.GENERATORS:
            _, _, ha = self.gen(w, 7, f"{w}-a")
            _, _, hb = self.gen(w, 8, f"{w}-b")
            self.assertNotEqual(ha, hb, w)

    def test_checksum_covers_the_files(self):
        out, _, digest = self.gen("lakehouse_sql", 3, "lake")
        self.assertEqual(digest, gen.checksum(out))
        with open(os.path.join(out, "ops.tsv"), "a") as f:
            f.write("scan\t0\t0\n")
        self.assertNotEqual(digest, gen.checksum(out))

    def test_planted_counts(self):
        _, f, _ = self.gen("curation_dedup", 5, "docs")
        self.assertEqual(f["exact_redundant"], f["planted_exact_copies"])
        self.assertEqual(f["norm_redundant"],
                         f["planted_exact_copies"] + f["planted_case_variants"])


class PercentileTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        xs = list(range(1, 100))  # 99 samples: 9 lie beyond the p90
        self.assertIsNone(run.percentile(xs, 0.9))
        xs = list(range(1, 101))  # 100 samples: 10 lie beyond the p90
        self.assertEqual(run.percentile(xs, 0.9), 90)

    def test_ties_at_the_tail_do_not_count_as_beyond(self):
        xs = [1] * 50 + [5] * 60
        self.assertIsNone(run.percentile(xs, 0.9))

    def test_median_is_always_reported(self):
        self.assertEqual(run.percentile([3, 1, 2], 0.5), 2)
        self.assertIsNone(run.percentile([], 0.5))


class LedgerTest(unittest.TestCase):
    def test_flags_only_moved_counts(self):
        a = {"ml.als_cv.jobs": 76, "ml.als_cv.tasks": 970,
             "ml.als_cv.self_s": 10.0, "sources.merge.manifest_reads": 5,
             "codegen.compilations": 400}
        b = dict(a, **{"ml.als_cv.jobs": 77, "ml.als_cv.self_s": 20.0,
                       "sources.merge.manifest_reads": 7})
        moved = [m for m, _, _ in ledger.diff(a, b)]
        self.assertEqual(moved, ["sources.merge.manifest_reads"])

    def test_identical_ledgers_flag_nothing(self):
        a = {"operators.containment.shuffle_bytes": 1.9e7, "x.jobs": 3}
        self.assertEqual(ledger.diff(a, dict(a)), [])


if __name__ == "__main__":
    unittest.main()
