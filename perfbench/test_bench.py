#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 perfbench/test_bench.py            # every test (about 5 minutes on 4 cores)
    python3 perfbench/test_bench.py -k checks  # only the output-check self-test

- the output checks accept correct results and reject corrupted ones
  (perfbench.SelfTest, which also proves the generated PDFs extract to the
  planted text and that the restated embedder matches the program's);
- a tiny run (--seconds 1) of every workload, untraced and traced, prints
  exactly the metrics BENCHMARK.json names, with their units;
- without the engine sources next to it the benchmark fails without
  printing a result.
"""

import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def bench(workload, trace, cwd=ROOT, script=HERE / "run.py"):
    return subprocess.run(
        [sys.executable, str(script), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=900)


class Checks(unittest.TestCase):
    def test_checks_reject_corrupted_results(self):
        cp = ":".join(map(str, build.build()))
        p = subprocess.run(["java", "-Xmx1g"] + run.ADD_OPENS_ARGS +
                           ["-cp", cp, "perfbench.SelfTest"],
                           capture_output=True, text=True, timeout=300)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        self.assertIn("selftest ok", p.stdout)


class TinyRuns(unittest.TestCase):
    def check(self, workload, trace, metrics):
        p = bench(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"], p.stderr[-3000:])
        self.assertGreaterEqual(last["attempted"], 1)
        self.assertEqual(last["failed"], 0)
        want = {m["name"]: m["unit"] for m in metrics}
        self.assertEqual(set(last["metrics"]), set(want))
        for name, v in last["metrics"].items():
            self.assertEqual(v["unit"], want[name], name)
            self.assertIsInstance(v["value"], (int, float), name)

    def test_every_workload_untraced(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check(w["name"], 0, SPEC["end_to_end"])

    def test_every_workload_traced(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check(w["name"], 1, SPEC["per_layer"])


class Hygiene(unittest.TestCase):
    def test_fails_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(HERE, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = bench(SPEC["workloads"][0]["name"], 0, cwd=d,
                      script=Path(d) / "perfbench" / "run.py")
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
