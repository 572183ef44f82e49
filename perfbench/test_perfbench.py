"""The benchmark's own tests. Run from the repository root:

  python3 perfbench/test_perfbench.py            # all (~4 minutes: two JVM runs)
  python3 perfbench/test_perfbench.py GenTest    # generator only (seconds)
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "test")


class GenTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in gen.WORKLOADS:
            a, b = os.path.join(SCRATCH, w, "a"), os.path.join(SCRATCH, w, "b")
            for d in (a, b):
                shutil.rmtree(d, ignore_errors=True)
                gen.generate(w, 7, d)
            files = [os.path.relpath(os.path.join(r, f), a)
                     for r, _, fs in os.walk(a) for f in fs]
            self.assertTrue(files)
            _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)

    def test_other_seed_other_inputs(self):
        for seed in (1, 2):
            d = os.path.join(SCRATCH, "seed", str(seed))
            shutil.rmtree(d, ignore_errors=True)
            gen.generate("er_dirty_skewed", seed, d)
        self.assertFalse(filecmp.cmp(os.path.join(SCRATCH, "seed", "1", "part.parquet"),
                                     os.path.join(SCRATCH, "seed", "2", "part.parquet"),
                                     shallow=False))


class DecompositionTest(unittest.TestCase):
    """A traced run compares every traced (stage-by-stage) operation's
    outputs with the first operation's, which calls the public pipeline
    (ErPipeline.run / CurationPipeline.run); any difference is a failed
    operation. The DuckDB checks run on the same outputs."""

    def run_traced(self, workload):
        out = subprocess.run(
            [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
             "--seed", "0", "--seconds", "1", "--trace", "1"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_er_decomposition_equals_pipeline(self):
        r = self.run_traced("er_dirty_skewed")
        self.assertEqual((r["correct"], r["failed"]), (True, 0))
        self.assertGreater(r["metrics"]["metablocking.weighting.wall_s"]["value"], 0)
        # the matching residual's rows are the matches the public call wrote
        self.assertGreater(r["metrics"]["matching.rows_out"]["value"], 0)

    def test_curation_decomposition_equals_pipeline(self):
        r = self.run_traced("curation_neardup")
        self.assertEqual((r["correct"], r["failed"]), (True, 0))
        self.assertGreater(r["metrics"]["dedup.minhash.wall_s"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
