"""Smoke test of the benchmark itself, at tiny sizes.

    python3 perfbench/smoke_test.py        # from the repository root

For every workload: an untraced and a traced run each print every metric
BENCHMARK.json names, with its unit, and pass their checks; a run that
drops one output row (``--corrupt``) is caught and exits non-zero. Takes
a few minutes: every run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def bench(workload: str, *extra: str) -> tuple[int, dict, str]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "3", "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    return out.returncode, json.loads(lines[-1]) if lines else {}, out.stdout


class SmokeTest(unittest.TestCase):
    def check_metrics(self, result: dict, stdout: str, spec: list[dict]):
        self.assertEqual(set(result["metrics"]), {m["name"] for m in spec})
        for m in spec:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            self.assertIn(f"{m['name']} = ", stdout)

    def test_workloads(self):
        for w in SPEC["workloads"]:
            for trace, spec in (("0", SPEC["end_to_end"]), ("1", SPEC["per_layer"])):
                with self.subTest(workload=w["name"], trace=trace):
                    code, result, stdout = bench(w["name"], "--trace", trace)
                    self.assertEqual(code, 0, stdout)
                    self.assertTrue(result["correct"])
                    self.assertEqual(result["failed"], 0)
                    self.assertGreaterEqual(result["attempted"], 1)
                    self.check_metrics(result, stdout, spec)

    def test_dropped_row_is_caught(self):
        # kinesis_ingest: one user row missing from the table; corpus_dedup:
        # one planted-unique document missing; vector_search: one neighbour
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                code, result, stdout = bench(w["name"], "--trace", "0", "--corrupt")
                self.assertNotEqual(code, 0, stdout)
                self.assertFalse(result["correct"])
                self.assertGreater(result["failed"], 0)

    def test_refuses_to_run_without_the_program(self):
        bare = os.path.join(ROOT, ".perfbench_work", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            out = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload",
                 "kinesis_ingest", "--seed", "1", "--seconds", "1",
                 "--trace", "0"],
                cwd=bare, capture_output=True, text=True, timeout=180,
            )
        finally:
            shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(out.returncode, 0)
        self.assertEqual(out.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
