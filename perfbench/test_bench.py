#!/usr/bin/env python3
"""Tests of the benchmark itself (not of the program):

    python3 perfbench/test_bench.py

- the generators give byte-identical inputs for one seed and different
  inputs for another;
- results render locale-independently, with names escaped;
- the command lists the metrics BENCHMARK.json names;
- without the program's sources the command fails fast and prints no result.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def selftest(*args):
    cp = build.build()
    out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "graftbench.SelfTest", *args],
                         capture_output=True, text=True, timeout=120, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        a, b, c = selftest("digest", "11"), selftest("digest", "11"), selftest("digest", "12")
        self.assertEqual(a["digests"], b["digests"])
        self.assertGreaterEqual(len(a["digests"]), 10)
        for table, digest in a["digests"].items():
            if table not in ("region", "nation"):  # fixed reference tables
                self.assertNotEqual(digest, c["digests"][table], table)


class OutputTest(unittest.TestCase):
    def test_german_locale_and_quoted_name(self):
        r = selftest("locale")
        self.assertEqual(r["locale"], "de_DE")
        self.assertEqual(r["formatted_by_locale"], "1234,5678")  # the trap Jackson avoids
        m = r["metrics"]['op "quoted" \\ name']
        self.assertEqual(m["value"], 1234.5678)
        self.assertEqual(r["metrics"]["tiny"]["value"], 1.25e-7)

    def test_command_metrics_match_benchmark_json(self):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([m["name"] for m in spec["end_to_end"]], list(run.END_TO_END))
        self.assertEqual([m["name"] for m in spec["per_layer"]], list(run.PER_LAYER))
        self.assertTrue({w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS))


class BareDirectoryTest(unittest.TestCase):
    def test_fails_fast_without_program_sources(self):
        bare = os.path.join(build.BUILD, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(build.ROOT, "BENCHMARK.json"), bare)
        try:
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ts_ingest",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=bare, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
