#!/usr/bin/env python3
"""Determinism check for the benchmark's seeded generators.

Run from the repository root:
    python3 perfbench/test_determinism.py

The same seed must give an identical input digest for every workload, and a
different seed a different one. DEFAULT_SEED is the seed claims are developed
on; HOLDOUT_SEED is kept aside so a claim can be re-checked on inputs it was
not tuned on.
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

DEFAULT_SEED = 1
HOLDOUT_SEED = 104729


def digests(cp, seed):
    out = subprocess.run(["java", "-Xmx1g", "-cp", cp, "perfbench.Main", "--digest", str(seed)],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    return dict(line.split(" ", 1) for line in out.strip().splitlines())


class Determinism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cp = run.build()
        cls.a = digests(cp, DEFAULT_SEED)
        cls.b = digests(cp, DEFAULT_SEED)
        cls.h = digests(cp, HOLDOUT_SEED)

    def test_workloads_present(self):
        self.assertEqual(sorted(self.a), ["dataprep", "olap", "oltp"])

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.a, self.b)

    def test_other_seed_other_inputs(self):
        for w in self.a:
            self.assertNotEqual(self.a[w], self.h[w], w)


if __name__ == "__main__":
    unittest.main()
