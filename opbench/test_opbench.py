#!/usr/bin/env python3
"""The benchmark's own test: a wrong answer must be counted as a failed
op, never timed as a success, and the runner must refuse to produce a
result where the engine's sources are missing.

    python3 -m unittest opbench/test_opbench.py     # from the repo root

Each case is one short benchmark run (a few ops, about a minute).
"""
import json
import os
import shutil
import subprocess
import unittest

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))


def command(workload):
    """BENCHMARK.json's command for one short run of `workload`."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cmd = json.load(f)["command"]
    return cmd + ["--workload", workload, "--seed", "1", "--seconds", "1",
                  "--trace", "0"]


def run(workload, fault=None):
    cmd = command(workload) + (["--fault", fault] if fault else [])
    return subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True, timeout=900)


class WrongAnswersFail(unittest.TestCase):

    def assert_all_failed(self, workload, fault):
        p = run(workload, fault)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["attempted"], 3)
        self.assertEqual(res["failed"], res["attempted"])
        self.assertEqual(res["metrics"]["ok_ops_frac"]["value"], 0.0)

    def test_dropped_fold_row(self):
        self.assert_all_failed("fold_increment", "drop_row")

    def test_dropped_shard_row(self):
        self.assert_all_failed("corpus_batch", "drop_row")

    def test_extra_mover_file(self):
        self.assert_all_failed("corpus_batch", "extra_file")

    def test_missing_mover_file(self):
        self.assert_all_failed("corpus_batch", "missing_file")

    def test_clean_run_passes(self):
        p = run("corpus_batch")
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertEqual(res["metrics"]["ok_ops_frac"]["value"], 1.0)


class NoEngineNoResult(unittest.TestCase):

    def test_bare_directory_exits_nonzero(self):
        bare = os.path.join(ROOT, ".bench_build", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, os.path.basename(HERE)),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        try:
            p = subprocess.run(command("corpus_batch"), cwd=bare,
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
