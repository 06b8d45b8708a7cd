#!/usr/bin/env python3
"""Self-tests of the graft benchmark.

    python3 perfbench/tests/test_bench.py

Runs graftbench.SelfTest (generator determinism, fingerprint sensitivity,
span self time, job attribution), checks that every metric name the
benchmark can print is well-formed and declared in BENCHMARK.json, and that
run.py fails without printing a result where the graft sources are absent.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


class BenchmarkSelfTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.cp = build.classpath(build.build())
        work = os.path.join(run.WORK, "selftest")
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
               f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
        for p in run.ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cls.cp, "graftbench.SelfTest", "--work", work]
        cls.proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600)
        shutil.rmtree(work, ignore_errors=True)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)

    def test_jvm_self_tests_pass(self):
        self.assertEqual(self.proc.returncode, 0, self.proc.stdout)
        self.assertIn("ok  fingerprint catches one perturbed value", self.proc.stdout)

    def test_metric_names_are_declared(self):
        printed = json.loads(self.proc.stdout.strip().splitlines()[-1])
        declared = {m["name"] for m in self.spec["end_to_end"] + self.spec["per_layer"]}
        for name in printed:
            self.assertRegex(name, NAME)
            self.assertIn(name, declared)
        self.assertEqual(set(printed), declared)

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]], run.WORKLOADS)

    def test_bare_checkout_fails_without_result(self):
        bare = os.path.join(run.WORK, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".build", ".work", "__pycache__"))
        proc = subprocess.run(self.spec["command"] + ["--workload", run.WORKLOADS[0],
                                                      "--seed", "1", "--seconds", "1",
                                                      "--trace", "0"],
                              cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                              text=True, timeout=180)
        shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(proc.returncode, 0)
        self.assertNotIn('"correct"', proc.stdout)


if __name__ == "__main__":
    unittest.main()
