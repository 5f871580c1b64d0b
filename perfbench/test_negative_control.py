#!/usr/bin/env python3
"""Proof that the benchmark's output check can fail.

    python3 perfbench/test_negative_control.py

Runs sync_small twice: once as is, which must report no failures, and once
with --negative-control, where the benchmark hands SyncDriver a GraphSink
that silently drops one node delete; that run must report failures.
"""
import json
import os
import subprocess
import sys
import unittest

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(*extra):
    out = subprocess.run(
        [sys.executable, RUN, "--workload", "sync_small", "--seed", "7",
         "--seconds", "1", "--trace", "0", *extra],
        stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


class NegativeControl(unittest.TestCase):

    def test_clean_run_reports_no_failures(self):
        r = run()
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)

    def test_dropped_delete_is_reported(self):
        r = run("--negative-control")
        self.assertFalse(r["correct"])
        self.assertGreater(r["failed"], 0)
        self.assertLessEqual(r["failed"], r["attempted"])


if __name__ == "__main__":
    unittest.main()
