#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

  python3 perfbench/test_run.py

Each test drives perfbench/run.py on tiny inputs (a few thousand pages), so
the whole file takes a few minutes, most of it JVM and Spark start-up.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORK = os.path.join(ROOT, ".bench_build", "perfbench", "test-work")
TINY = ["--pages", "3000", "--seconds", "1"]


def run(*args, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--work", WORK] + list(args)
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


class TinyRuns(unittest.TestCase):
    def check_metrics(self, workload: str, trace: int):
        r = result(run("--workload", workload, "--seed", "3", "--trace", str(trace), *TINY))
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"])
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(r["failed"], 0)
        wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(sorted(r["metrics"]), sorted(m["name"] for m in wanted))
        for m in wanted:
            got = r["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        return r

    def test_every_workload_prints_every_metric(self):
        for w in SPEC["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    r = self.check_metrics(w["name"], trace)
                    if not trace:
                        self.assertEqual(r["metrics"]["ok_frac"]["value"], 1)

    def test_wrong_expected_checksum_fails_iterations(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                r = result(run("--workload", w["name"], "--seed", "3", "--trace", "0",
                               "--expect-checksum", "12345", *TINY))
                self.assertFalse(r["correct"])
                self.assertGreater(r["failed"], 0)
                fail_frac = r["failed"] / r["attempted"]
                self.assertGreater(fail_frac, 0)
                self.assertLess(r["metrics"]["ok_frac"]["value"], 1)
                self.assertNotIn("wall_s", r["metrics"])  # failures are never timed

    def test_failed_ops_queries_are_not_timed(self):
        # one query throws, another's result is checked against a wrong oracle
        r = result(run("--workload", "kg_clean", "--seed", "3", "--trace", "1",
                       "--break-query", "q_dedup_exact", "--wrong-oracle", "q_embed_topk",
                       *TINY))
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 2)
        self.assertNotIn("ops.q_dedup_exact.s", r["metrics"])
        self.assertNotIn("ops.q_embed_topk.s", r["metrics"])
        self.assertGreater(r["metrics"]["ops.q_dedup_jaccard.s"]["value"], 0)

    def test_refuses_to_run_without_the_program(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p))
            proc = run("--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                       "--seconds", "1", "--trace", "0", cwd=d)
            self.assertNotEqual(proc.returncode, 0)
            self.assertEqual(proc.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
