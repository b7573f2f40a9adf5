#!/usr/bin/env python3
"""The benchmark harness's own tests.

    python3 graftbench/test_bench.py        (from the root of a graft checkout)

They build the harness if needed (as run.py does) and take a few minutes:
two of them run short planted-row benchmark runs.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402


def harness(*args):
    """Run graftbench.Main in its no-Spark modes and parse its JSON."""
    out = subprocess.run(["java", "-cp", run.build(), "graftbench.Main", *args],
                         capture_output=True, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def bench(*args):
    proc = subprocess.run([sys.executable, str(HERE / "run.py"), *args],
                          cwd=ROOT, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None), proc.stderr


class MetricNames(unittest.TestCase):
    def test_printed_metrics_equal_benchmark_json(self):
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        printed = harness("--list-metrics")
        for mode in ("end_to_end", "per_layer"):
            self.assertEqual([(m["name"], m["unit"]) for m in printed[mode]],
                             [(m["name"], m["unit"]) for m in spec[mode]], mode)


class Seeds(unittest.TestCase):
    def test_seed_changes_keys_and_values_not_mix_or_policy(self):
        for w in ("cql_read", "cql_write"):
            a, b = harness("--describe", w, "--seed", "1"), harness("--describe", w, "--seed", "2")
            self.assertEqual(a["kinds"], b["kinds"], w)
            self.assertEqual(a["policy"], b["policy"], w)
            self.assertNotEqual(a["texts"], b["texts"], w)
            same = sum(x == y for x, y in zip(a["texts"], b["texts"]))
            self.assertEqual(same, 0, f"{w}: {same} statements identical across seeds")

    def test_same_seed_same_plan(self):
        for w in ("cql_read", "cql_write"):
            self.assertEqual(harness("--describe", w, "--seed", "7"),
                             harness("--describe", w, "--seed", "7"))

    def test_plans_follow_the_fixed_cycles(self):
        kinds = harness("--describe", "cql_read", "--seed", "3")["kinds"]
        reads = sum(k.startswith("read") for k in kinds)
        self.assertEqual(reads / len(kinds), 0.9)
        w = harness("--describe", "cql_write", "--seed", "3")
        kinds, policy = w["kinds"], w["policy"]
        writes = [i for i, k in enumerate(kinds) if k.startswith("write")]
        flushes = [i for i, k in enumerate(kinds) if k == "flush"]
        for f in flushes:  # a flush follows every flush_every-th write
            self.assertEqual(sum(i < f for i in writes) % policy["flush_every"], 0)
        self.assertEqual(kinds.count("compact"), len(flushes) // policy["compact_every"])
        texts = [t for t in w["texts"] if not t.startswith("SELECT")]
        self.assertEqual(len(texts), len(set(texts)), "cql_write statements must be distinct")


class Checker(unittest.TestCase):
    def test_planted_wrong_row_fails_cql_run(self):
        code, res, err = bench("--workload", "cql_read", "--seed", "5", "--seconds", "1", "--plant")
        self.assertNotEqual(code, 0)
        self.assertIsNotNone(res, err[-2000:])
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertIn("planted", err)

    def test_planted_wrong_rows_fail_analytics_run(self):
        code, res, err = bench("--workload", "analytics", "--seed", "5", "--seconds", "1", "--plant")
        self.assertNotEqual(code, 0)
        self.assertIsNotNone(res, err[-2000:])
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 2)  # one oracle-checked, one digest-checked

    def test_benchmark_alone_fails_fast_without_result(self):
        lone = ROOT / ".bench_build" / "lone"
        shutil.rmtree(lone, ignore_errors=True)
        lone.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", lone)
        shutil.copytree(HERE, lone / "graftbench",
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        proc = subprocess.run([sys.executable, "graftbench/run.py", "--workload", "cql_read",
                               "--seed", "1", "--seconds", "1", "--trace", "0"],
                              cwd=lone, capture_output=True, text=True, timeout=180)
        shutil.rmtree(lone, ignore_errors=True)
        self.assertNotEqual(proc.returncode, 0)
        self.assertEqual(proc.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main(verbosity=2)
