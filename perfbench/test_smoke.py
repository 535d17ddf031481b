#!/usr/bin/env python3
"""Smoke tests of the benchmark itself, at toy size.

    python3 perfbench/test_smoke.py        (from the repository root)

Each workload runs once untraced and once traced at --scale tiny; every
metric BENCHMARK.json names must print with its unit. A corrupted
expected hash and a deleted destination file must each count as one
failed operation, and the runner must fail without a result line when
the repository's sources are absent.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
# the workload's own end-to-end metrics, printed on the line before the result
NAMED = {
    "remote": {"ftp_files_per_s": "files/s", "sftp_files_per_s": "files/s",
               "ftp_mb_per_s": "MB/s", "sftp_mb_per_s": "MB/s",
               "scan_file_s": "s", "scan_gftp_s": "s", "scan_gsftp_s": "s"},
    "corpus_batch": {"curation_job_s": "s", "graph_job_s": "s"},
}


def run(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"),
                        "--seed", "3", "--seconds", "1", *args],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


class Smoke(unittest.TestCase):

    def check(self, workload, trace):
        code, lines, err = run("--workload", workload, "--trace", str(trace),
                               "--scale", "tiny")
        self.assertEqual(code, 0, err[-2000:])
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in want})
        for m in want:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], (int, float))
        stamp = json.loads(lines[-3])["stamp"]
        for k in ("nproc", "heap", "jdk", "git_sha", "seed"):
            self.assertIn(k, stamp)
        named = {n["name"]: n for n in json.loads(lines[-2])["named"]}
        for name, unit in {**NAMED[workload], "fail_ratio": "failed/attempted"}.items():
            self.assertEqual(named[name]["unit"], unit)
            self.assertIsNotNone(named[name]["value"])
        return result

    def test_remote(self):
        for trace in (0, 1):
            self.check("remote", trace)

    def test_corpus_batch(self):
        for trace in (0, 1):
            self.check("corpus_batch", trace)

    def test_corrupted_hash_fails_one_operation(self):
        code, lines, err = run("--workload", "remote", "--scale", "tiny",
                               "--sabotage", "corrupt-hash")
        self.assertEqual(code, 0, err[-2000:])
        self.assertEqual(json.loads(lines[-1])["failed"], 1)

    def test_deleted_destination_file_fails_one_operation(self):
        code, lines, err = run("--workload", "remote", "--scale", "tiny",
                               "--sabotage", "delete-dest")
        self.assertEqual(code, 0, err[-2000:])
        self.assertEqual(json.loads(lines[-1])["failed"], 1)

    def test_fails_without_the_repository(self):
        bare = os.path.join(HERE, ".work", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".build", ".work", "target"))
        try:
            code, lines, _ = run("--workload", "remote", cwd=bare)
            self.assertNotEqual(code, 0)
            self.assertFalse(any(l.startswith("{\"correct\"") for l in lines))
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
