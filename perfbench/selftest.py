#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

Runs every workload for a few operations, once as is and once with
--perturb 1 (one wrong weight), and asserts that the clean run passes its
checks and the perturbed run fails them. Run from the root of a checkout:

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys
import unittest

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
WORKLOADS = ("raster_slab", "raster_tall")


def run(workload, perturb):
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", "0", "--max-ops", "2", "--perturb", str(perturb)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    assert p.returncode == 0, f"{workload}: exit code {p.returncode}"
    return json.loads(p.stdout.strip().splitlines()[-1])


class OutputChecks(unittest.TestCase):
    def test_clean_runs_pass_and_perturbed_runs_fail(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                clean = run(w, 0)
                self.assertTrue(clean["correct"], clean)
                self.assertEqual(clean["failed"], 0)
                self.assertGreaterEqual(clean["attempted"], 2)
                bad = run(w, 1)
                self.assertFalse(bad["correct"], bad)
                self.assertGreater(bad["failed"], 0)


if __name__ == "__main__":
    unittest.main()
