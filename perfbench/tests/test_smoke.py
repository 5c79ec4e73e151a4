"""End-to-end smoke tests: every workload at tiny scale, clean and with its
results perturbed. A perturbed run must fail its output checks and exit
non-zero, which shows that the checks bite. Each run starts a JVM with
Spark, so this module takes a few minutes.

    python3 -m unittest perfbench/tests/test_smoke.py     (from the repository root)
"""

import json
import os
import subprocess
import sys
import unittest

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "run.py")


def bench(workload, perturb, seconds=3):
    p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", str(seconds),
                        "--trace", "0", "--smoke", "1", "--perturb", str(perturb)],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]), [line for line in lines if line.startswith("check failed")]


class SmokeTest(unittest.TestCase):
    def test_clean_run_passes_every_check(self):
        code, result, failures = bench("sparql_olap", 0)
        self.assertEqual(code, 0, failures)
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertEqual(set(result["metrics"]), {"setup_s", "op_p50_ms", "op_tail_ms", "throughput_per_s"})

    def perturbed(self, workload):
        code, result, failures = bench(workload, 1)
        self.assertNotEqual(code, 0)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertTrue(failures)
        return failures

    def test_olap_checks_catch_a_perturbed_result(self):
        failures = self.perturbed("sparql_olap")
        # every query's oracle comparison bites, not just one
        self.assertGreaterEqual(len({f.split(":")[1] for f in failures}), 20)

    def test_fixpoint_checks_catch_a_perturbed_result(self):
        failures = self.perturbed("fixpoint")
        self.assertGreaterEqual(len({f.split(":")[1] for f in failures}), 7)

    def test_pipeline_checks_catch_a_perturbed_result(self):
        failures = self.perturbed("pipeline")
        self.assertGreaterEqual(len({f.split(":")[1] for f in failures}), 10)

    def test_endpoint_checks_catch_a_perturbed_response(self):
        self.perturbed("endpoint_rw")


if __name__ == "__main__":
    unittest.main()
