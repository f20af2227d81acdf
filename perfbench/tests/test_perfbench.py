"""Tests of the lake benchmark: every workload runs at a tiny scale, prints
every metric BENCHMARK.json names, and fails when any check's expected
value is perturbed.

    python3 -m unittest discover -s perfbench/tests -v

Each case starts a JVM; the whole file takes a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload, trace=0, perturb=0, cwd=ROOT, runner=RUN):
    p = subprocess.run(
        [sys.executable, runner, "--workload", workload, "--seed", "7",
         "--seconds", "8", "--trace", str(trace), "--sf", "0.001",
         "--perturb", str(perturb)],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines


class BenchmarkTest(unittest.TestCase):
    def check_result(self, lines, section):
        last = json.loads(lines[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed",
                                     "metrics"})
        self.assertEqual(list(last["metrics"]),
                         [m["name"] for m in SPEC[section]])
        units = {m["name"]: m["unit"] for m in SPEC[section]}
        for name, v in last["metrics"].items():
            self.assertEqual(v["unit"], units[name], name)
            self.assertIsInstance(v["value"], (int, float), name)
        self.assertGreaterEqual(last["attempted"], 1)
        return last

    def test_end_to_end_metrics(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, lines = run(w)
                last = self.check_result(lines, "end_to_end")
                self.assertEqual(rc, 0, lines)
                self.assertTrue(last["correct"])
                self.assertEqual(last["failed"], 0)
                for name, v in last["metrics"].items():
                    self.assertGreater(v["value"], 0, name)
                shown = [x for x in lines if x.startswith("metric ")]
                self.assertTrue(any(".op_fail_ratio = 0 " in x
                                    for x in shown), shown)

    def test_per_layer_metrics(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, lines = run(w, trace=1)
                last = self.check_result(lines, "per_layer")
                self.assertEqual(rc, 0, lines)
                m = {k: v["value"] for k, v in last["metrics"].items()}
                self.assertAlmostEqual(
                    m["spark.job_busy_ms"] + m["spark.driver_only_ms"],
                    m["spark.timed_wall_ms"], delta=1e-6)
                self.assertGreater(m["spark.jobs"], 0)
                self.assertGreater(m["graftlog.commit_fs_open.log"], 0)

    def test_every_check_fires_when_perturbed(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, lines = run(w, perturb=1)
                last = json.loads(lines[-1])
                self.assertNotEqual(rc, 0)
                self.assertFalse(last["correct"])
                checks = [x for x in lines if x.startswith("check ")]
                self.assertTrue(checks)
                for c in checks:
                    self.assertIn("FAILED", c)
                # every call's answer is checked too, and each call's
                # check is perturbed as well: all of them fail
                self.assertEqual(last["failed"], last["attempted"])

    def test_refuses_without_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "test-bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(os.path.join(ROOT, "perfbench"),
                            os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "tests"))
            rc, lines = run(WORKLOADS[0], cwd=bare,
                            runner=os.path.join(bare, "perfbench", "run.py"))
            self.assertNotEqual(rc, 0)
            self.assertEqual(lines, [])
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
