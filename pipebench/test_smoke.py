#!/usr/bin/env python3
"""Smoke test of the benchmark at the tiny input size.

    python3 pipebench/test_smoke.py        (from the repository root; a few minutes)

For every workload, with tracing off and on: the run exits 0, every output
check passes, and the last stdout line carries exactly the metrics that
BENCHMARK.json names, each with its unit. Also checks the two refusals:
a set SPARK_GRAFT_CONF, and a directory without the program's sources.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["flood_e2e", "deforestation_zonal", "curation_dedup"]


def bench(*args, cwd=ROOT, env=None):
    return subprocess.run([sys.executable, os.path.join("pipebench", "run.py"), *args],
                          cwd=cwd, env=env, capture_output=True, text=True, timeout=600)


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        cls.units = {
            0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]},
        }
        cls.workloads = [w["name"] for w in spec["workloads"]]

    def test_workloads_listed(self):
        self.assertEqual(self.workloads, WORKLOADS)

    def test_every_metric_printed_and_checks_pass(self):
        for workload in WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=workload, trace=trace):
                    p = bench("--workload", workload, "--seed", "3", "--seconds", "1",
                              "--trace", str(trace), "--size", "tiny")
                    self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                    out = json.loads(p.stdout.strip().splitlines()[-1])
                    self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(out["correct"], p.stderr[-3000:])
                    self.assertEqual(out["failed"], 0)
                    self.assertGreaterEqual(out["attempted"], 4)
                    self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()},
                                     self.units[trace])
                    for name, m in out["metrics"].items():
                        self.assertIsInstance(m["value"], (int, float), name)

    def test_refuses_leftover_conf_knob(self):
        env = dict(os.environ, SPARK_GRAFT_CONF="spark.sql.shuffle.partitions=7")
        p = bench("--workload", "flood_e2e", "--seed", "1", "--seconds", "1", env=env)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"metrics"', p.stdout)

    def test_refuses_without_program_sources(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copytree(HERE, os.path.join(d, "pipebench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            p = bench("--workload", "flood_e2e", "--seed", "1", "--seconds", "1", cwd=d)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main()
