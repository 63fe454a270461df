"""The benchmark's own tests. They run the real benchmark (short runs), so
they take several minutes:

    python3 -m unittest perfbench/test_perfbench.py

- the printed metric names and units match BENCHMARK.json, traced and not;
- every correctness check fails when its expected value is corrupted;
- a seed reproduces identical inputs, and another seed gives other inputs.
"""
import json
import os
import subprocess
import sys
import unittest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(BENCH_DIR, "out")
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# every check each workload makes; a run must attempt all of them
CHECKS = {
    "serving_mixed": {"serving.agg_read", "serving.base_read", "serving.batch_read",
                      "serving.view", "serving.query", "serving.final_cell",
                      "serving.final_cell_count", "serving.final_total"},
    "dedup_lsh": {"dedup.pairs", "dedup.clusters"},
}


def run(workload, seed=3, seconds=2, trace=0, *extra):
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def artifact(workload, seed, trace):
    with open(os.path.join(OUT, f"{workload}-{seed}-trace{trace}.json")) as fh:
        return json.load(fh)


class MetricNames(unittest.TestCase):
    def check(self, trace, spec_key):
        want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
        for w in WORKLOADS:
            with self.subTest(workload=w, trace=trace):
                rc, out = run(w, 3, 2, trace)
                self.assertEqual(rc, 0)
                res = json.loads(out[-1])
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(res["correct"], res)
                self.assertEqual(res["failed"], 0)
                self.assertGreaterEqual(res["attempted"], 1)
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                self.assertEqual(got, want)

    def test_end_to_end(self):
        self.check(0, "end_to_end")

    def test_per_layer(self):
        self.check(1, "per_layer")


class CorruptedExpectations(unittest.TestCase):
    def test_every_check_fails(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                # long enough for every client to walk its whole op cycle
                rc, out = run(w, 4, 10, 0, "--corrupt", "1")
                self.assertEqual(rc, 0)
                res = json.loads(out[-1])
                self.assertFalse(res["correct"])
                self.assertGreater(res["failed"], 0)
                checks = artifact(w, 4, 0)["checks"]
                self.assertEqual(set(checks), CHECKS[w])
                for name, c in checks.items():
                    self.assertGreater(c["attempted"], 0, name)
                    self.assertEqual(c["failed"], c["attempted"], name)


class Determinism(unittest.TestCase):
    def fingerprint(self, w, seed):
        rc, _ = run(w, seed, 1, 0, "--selftest", "inputs")
        self.assertEqual(rc, 0)
        with open(os.path.join(OUT, f"inputs-{w}-{seed}.json")) as fh:
            return json.load(fh)

    def test_same_seed_same_inputs(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                a = self.fingerprint(w, 11)
                b = self.fingerprint(w, 11)
                c = self.fingerprint(w, 12)
                self.assertTrue(a)
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
