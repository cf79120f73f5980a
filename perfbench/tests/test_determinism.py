"""Determinism tests of the benchmark itself.

- The same seed gives byte-identical inputs and the same op plan; a
  different seed gives different ones.
- Two traced runs on one seed give identical Spark job, stage and
  written-file counts per op.

Run from the repository root:
    python3 perfbench/tests/test_determinism.py
The traced-run test runs each workload twice (a few minutes); set
PERFBENCH_TEST_WORKLOADS=query_mix (comma-separated) to narrow it.
"""
import json
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen_data  # noqa: E402
import run  # noqa: E402

with open(os.path.join(BENCH, "workloads.json")) as fh:
    SPEC = json.load(fh)["workloads"]
WORKLOADS = os.environ.get("PERFBENCH_TEST_WORKLOADS", ",".join(SPEC)).split(",")


class InputsFollowTheSeed(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b = gen_data.tables(5), gen_data.tables(5)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_other_seed_other_tables(self):
        a, b = gen_data.tables(5), gen_data.tables(6)
        for name in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
            self.assertFalse(a[name].equals(b[name]), name)

    def test_plans_follow_the_seed(self):
        info = {"embeddings": (gen_data.SIZES["embeddings"], 0)}
        for name in SPEC:
            same = run.plan_lines(name, SPEC[name], 5, info)
            self.assertEqual(same, run.plan_lines(name, SPEC[name], 5, info), name)
            self.assertNotEqual(same, run.plan_lines(name, SPEC[name], 6, info), name)


class TracedCountsRepeat(unittest.TestCase):
    def traced_ops(self, workload, seed):
        cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
               "--seed", str(seed), "--seconds", "1", "--trace", "1"]
        r = subprocess.run(cmd, capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stdout[-2000:] + r.stderr[-2000:])
        path = os.path.join(".bench_build", "results", f"{workload}-s{seed}-t1.ops.json")
        with open(path) as fh:
            return {o["op"]: (o["jobs"], o["stages"], o["files_written"]) for o in json.load(fh)}

    def test_two_runs_same_counts(self):
        for workload in WORKLOADS:
            with self.subTest(workload=workload):
                first = self.traced_ops(workload, 11)
                second = self.traced_ops(workload, 11)
                self.assertTrue(first)
                self.assertEqual(first, second)


if __name__ == "__main__":
    unittest.main()
