"""Tests of the benchmark itself, not of graft.

Run from the repository root (each workload test starts one JVM, so the
file takes a few minutes):

    python3 -m unittest discover -s perfbench/tests -v

- Every output check can fail: a run with --corrupt-expected corrupts
  the expected side of each check, and every check must then report
  FAIL, the result line must say correct=false, and the exit code is 1.
- The generator is deterministic: one seed gives byte-identical inputs.
- A directory that holds only BENCHMARK.json and perfbench/ cannot run
  the benchmark: the command exits non-zero and prints no result line.
"""

import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join("perfbench", "run.py")
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen  # noqa: E402

CHECKS = {
    "olap_dashboard": ["olap.wire_equals_unrouted"],
    "ingest_admit": ["ingest.fresh_reads_match_truth", "ingest.streams_healthy"],
    "corpus_curate": ["curate.verified_pairs_exact", "curate.planted_recall", "curate.exact_groups",
                      "curate.keep_one_per_cluster", "curate.knn_recall_at_10"],
}


def run_bench(workload, *extra, cwd=ROOT):
    return subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "3",
         "--trace", "0"] + list(extra),
        cwd=cwd, capture_output=True, text=True, timeout=1200)


class CorruptedExpectationsFail(unittest.TestCase):
    def assert_all_checks_fail(self, workload):
        p = run_bench(workload, "--corrupt-expected")
        self.assertEqual(p.returncode, 1, p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        for name in CHECKS[workload]:
            self.assertIn("check FAIL %s:" % name, p.stdout, "%s did not fail" % name)

    def test_olap_dashboard(self):
        self.assert_all_checks_fail("olap_dashboard")

    def test_ingest_admit(self):
        self.assert_all_checks_fail("ingest_admit")

    def test_corpus_curate(self):
        self.assert_all_checks_fail("corpus_curate")


class GeneratorIsDeterministic(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        work = os.path.join(ROOT, ".bench_build", "test-gen")
        shutil.rmtree(work, ignore_errors=True)
        try:
            for w in gen.SIZES:
                a = gen.ensure_inputs(os.path.join(work, "a"), w, 11)
                b = gen.ensure_inputs(os.path.join(work, "b"), w, 11)
                cmp = filecmp.dircmp(a, b)
                self.assertEqual(self._diffs(cmp), [], w)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def _diffs(self, cmp):
        out = list(cmp.left_only) + list(cmp.right_only)
        _, mismatch, errors = filecmp.cmpfiles(cmp.left, cmp.right, cmp.common_files, shallow=False)
        out += mismatch + errors
        for sub in cmp.subdirs.values():
            out += self._diffs(sub)
        return out


class BareDirectoryRefuses(unittest.TestCase):
    def test_only_benchmark_files(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".bench_build"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__", "project/target"))
            p = subprocess.run(
                [sys.executable, RUN, "--workload", "olap_dashboard", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=bare, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
