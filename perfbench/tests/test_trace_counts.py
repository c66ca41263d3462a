"""The traced run's work counts repeat exactly across runs at one seed.

Runs the benchmark twice with `--trace 1` on each workload (a few
minutes per workload) and compares `queries.jobs`, `queries.stages` and
`queries.tasks`, and the per-query counts in the written span trace.

Run from the root of a checkout:
    python3 -m unittest discover -s perfbench/tests -p 'test_trace_counts.py'
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
COUNTS = ("queries.jobs", "queries.stages", "queries.tasks")
SEED = 11


def traced_run(workload):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=400)
    if p.returncode != 0:
        raise AssertionError(p.stderr[-3000:])
    result = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(BENCH, ".work", "traces", f"{workload}-seed{SEED}.json")) as f:
        trace = json.load(f)
    return result, trace


class TraceCountsTest(unittest.TestCase):
    def check(self, workload):
        (r1, t1), (r2, t2) = traced_run(workload), traced_run(workload)
        self.assertTrue(r1["correct"] and r2["correct"])
        for name in COUNTS:
            self.assertEqual(r1["metrics"][name]["value"], r2["metrics"][name]["value"], name)
            self.assertGreater(r1["metrics"][name]["value"], 0, name)
        for q, c in t1["per_query"].items():
            for k in ("jobs", "stages", "tasks"):
                self.assertEqual(c[k], t2["per_query"][q][k], f"{q} {k}")
        # Every job span hangs under the query span whose job group it ran in.
        spans = {s["id"]: s for s in t1["spans"]}
        jobs = [s for s in t1["spans"] if s["level"] == "job"]
        self.assertTrue(jobs)
        self.assertTrue(all(spans[j["parent"]]["level"] in ("query", "op") for j in jobs))

    def test_gem_pipeline(self):
        self.check("gem_pipeline")

    def test_catalog_short(self):
        self.check("catalog_short")


if __name__ == "__main__":
    unittest.main()
