"""The benchmark's own checks.

Run from the repo root: python3 -m unittest discover -s perfbench/tests -v

The manifest and metric-helper tests are quick. The failure-accounting
tests run two tiny keys at sf0.001; the layer-dominance test makes one
short traced run per workload at the benchmark's fixture scale. Each run
includes the harness's JIT warm-up, so the file takes a few minutes.
"""
import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import layers  # noqa: E402
import run  # noqa: E402

SMALL = os.path.join(os.path.dirname(run.DATA), "sf0.001")
TINY_KEYS = "scan_parquet,filter_simple"


def bench(*args, data=None):
    env = dict(os.environ)
    if data:
        env["PERFBENCH_DATA"] = data
    r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                       cwd=ROOT, env=env, capture_output=True, text=True,
                       timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"run.py {args} exited {r.returncode}:\n{r.stderr[-2000:]}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


class ManifestTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.chdir(ROOT)
        cp = run.build()
        out = subprocess.run(["java", "-cp", cp, "graft.bench.Harness", "--list"],
                             capture_output=True, text=True, check=True).stdout
        cls.declared = set(out.split())

    def test_every_key_is_declared(self):
        for w in run.WORKLOADS:
            missing = [k for k in run.manifest(w) if k not in self.declared]
            self.assertEqual(missing, [], w)

    def test_manifests_are_disjoint_and_nonempty(self):
        seen = {}
        for w in run.WORKLOADS:
            keys = run.manifest(w)
            self.assertTrue(keys, w)
            self.assertEqual(len(keys), len(set(keys)), w)
            for k in keys:
                self.assertNotIn(k, seen, f"{k} in {w} and {seen.get(k)}")
                seen[k] = w


class HelperTest(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        v, label, n = layers.tail({"a": list(range(50)), "b": list(range(50, 100))})
        self.assertEqual((v, label, n), (89, "p90.0", 100))

    def test_tail_is_the_slowest_median_time_below_21_samples(self):
        v, label, n = layers.tail({"a": [1.0, 2.0, 9.0], "b": [3.0, 4.0, 5.0]})
        self.assertEqual((v, label, n), (4.0, "slowest key's median time", 6))

    def test_self_time_subtracts_covered_children(self):
        s = layers.Spans([
            {"id": 1, "parent": 0, "name": "construct", "key": "k", "start_us": 0, "end_us": 100},
            {"id": 2, "parent": 1, "name": "job 0", "key": "k", "start_us": 10, "end_us": 30},
            {"id": 3, "parent": 1, "name": "job 1", "key": "k", "start_us": 20, "end_us": 50},
        ])
        self.assertAlmostEqual(s.self_s(1), 60e-6)


class FailureAccountingTest(unittest.TestCase):
    """A failure can never read as a speed-up."""

    def test_throwing_key_is_named_and_timeless(self):
        res, lines = bench("--workload", "kernels", "--keys", TINY_KEYS,
                           "--seconds", "1",
                           "--inject-throw", "filter_simple", data=SMALL)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], res["attempted"] // 2)
        text = "\n".join(lines)
        self.assertIn("failed keys: ['filter_simple']", text)
        self.assertIn(f"failed_ratio 0.5000 ({res['failed']}/{res['attempted']})", text)
        # Only the surviving key's samples are timed.
        self.assertIn(f"of {res['attempted'] - res['failed']} key samples", text)

    def test_wrong_rows_in_timed_passes_count_as_wrong(self):
        # Right in the first set-up, wrong with the same row count later:
        # only a compare of the timed passes' own rows catches it.
        res, lines = bench("--workload", "kernels", "--keys", TINY_KEYS,
                           "--seconds", "1",
                           "--inject-wrong", "scan_parquet", data=SMALL)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertIn("wrong_ratio 0.5000 (1/2); wrong keys: ['scan_parquet']",
                      "\n".join(lines))

    def test_clean_run_is_correct(self):
        res, _ = bench("--workload", "kernels", "--keys", TINY_KEYS,
                       "--seconds", "1", data=SMALL)
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)


class LayerDominanceTest(unittest.TestCase):
    """Each workload is still dominated by the layer it was chosen for."""

    def test_each_workload_stresses_its_layer(self):
        m = {}
        for w in run.WORKLOADS:
            res, _ = bench("--workload", w, "--seed", "1", "--seconds", "1",
                           "--trace", "1")
            self.assertTrue(res["correct"], w)
            m[w] = {k: v["value"] for k, v in res["metrics"].items()}
        busy = {w: m[w]["exec.busy_ratio"] for w in m}
        self.assertEqual(max(busy, key=busy.get), "kernels", busy)
        for w in m:
            self.assertEqual(m[w]["sink.write_s"] > 0, w == "etl-load", w)
            self.assertGreater(m[w]["trace.overhead_ratio"], 0, w)
        # etl-load's named keys keep the checkpoint dir and the scratch
        # staging measured.
        for name in ("checkpoint.files", "checkpoint.written_mb",
                     "staging.written_mb"):
            self.assertGreater(m["etl-load"][name], 0, name)


if __name__ == "__main__":
    unittest.main()
