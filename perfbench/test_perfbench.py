"""Tests of the benchmark itself.

    python3 -m unittest perfbench/test_perfbench.py      # from the checkout root

The generator and metric-name tests start one JVM each without Spark and
take seconds. The two end-to-end tests run `capture_live` for a short window
and take about a minute each.
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

ROOT = build.ROOT


def main_class(*args):
    _, cp = build.build()
    out = subprocess.run(
        ["java", "-XX:-UsePerfData", "-cp", os.pathsep.join(cp), "graft.perfbench.Main", *args],
        check=True, capture_output=True, text=True).stdout
    return out.strip().splitlines()


def describe(workload, seed):
    return json.loads(main_class("--workload", workload, "--seed", str(seed),
                                 "--describe")[-1])


def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       capture_output=True, text=True, cwd=ROOT)
    lines = p.stdout.strip().splitlines()
    record = json.loads(lines[-2][len("record "):]) if len(lines) >= 2 else None
    return p.returncode, json.loads(lines[-1]) if lines else None, record


class Generators(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in run.WORKLOADS:
            a, b, c = describe(w, 7), describe(w, 7), describe(w, 8)
            self.assertEqual(a, b, w)
            self.assertNotEqual(a["fingerprint"], c["fingerprint"], w)

    def test_sizes_match_workloads_json(self):
        with open(os.path.join(HERE, "workloads.json")) as f:
            spec = json.load(f)["workloads"]
        for w in run.WORKLOADS:
            got = describe(w, 3)
            for k, v in spec[w]["inputs"].items():
                self.assertEqual(got[k], v, f"{w}.{k}")


class MetricNames(unittest.TestCase):
    def listed(self, trace):
        return [tuple(line.split(" ")) for line in main_class("--list-metrics", str(trace))]

    def test_listed_metrics_match_benchmark_json(self):
        b = bench_json()
        self.assertEqual(self.listed(0), [(m["name"], m["unit"]) for m in b["end_to_end"]])
        self.assertEqual(self.listed(1), [(m["name"], m["unit"]) for m in b["per_layer"]])

    def test_workloads_match_benchmark_json(self):
        self.assertEqual(tuple(w["name"] for w in bench_json()["workloads"]), run.WORKLOADS)

    def test_printed_metrics_match_benchmark_json(self):
        b = bench_json()
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res, _ = run_bench("--workload", "capture_live", "--seed", "5",
                                   "--seconds", "3", "--trace", str(trace))
            self.assertEqual(rc, 0)
            self.assertTrue(res["correct"])
            self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                             {m["name"]: m["unit"] for m in b[key]})


class LossCheck(unittest.TestCase):
    def test_capture_buffer_of_one_is_reported_lost(self):
        """A one-event capture buffer drops events; the read-back check
        must see the loss and fail the run."""
        rc, res, record = run_bench("--workload", "capture_live", "--seed", "5",
                                    "--seconds", "3", "--trace", "0",
                                    "--max-buffered", "1")
        self.assertNotEqual(rc, 0)
        self.assertFalse(res["correct"])
        self.assertGreater(record["events_lost_frac"], 0)


if __name__ == "__main__":
    unittest.main()
