#!/usr/bin/env python3
"""Smoke tests of the benchmark itself: every workload at a tiny size,
untraced and traced, must pass its correctness check and emit every
metric BENCHMARK.json declares for that mode.

Run from anywhere: python3 perfbench/test_smoke.py  (about five minutes;
the first run also builds).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, *extra):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "3", "--trace", str(trace), "--size", "tiny",
                        *extra], cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def check(self, workload, trace):
        res = run(workload, trace)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], res)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        declared = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], float)
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        return res["metrics"]

    def test_river_ingest(self):
        self.check("river_ingest", 0)
        m = self.check("river_ingest", 1)
        self.assertGreater(m["river.trigger.addBatch_ms"]["value"], 0)
        self.assertGreater(m["spark.jobs_per_op"]["value"], 0)

    def test_es_query_mix(self):
        self.check("es_query_mix", 0)
        m = self.check("es_query_mix", 1)
        for module in ("operators", "text", "similarity", "sources.hbasesim"):
            self.assertGreater(m[f"{module}.query_p50_ms"]["value"], 0, module)
        self.assertGreater(m["river.scan_query_p50_ms"]["value"], 0)

    def test_corpus_release(self):
        self.check("corpus_release", 0)
        m = self.check("corpus_release", 1)
        self.assertGreater(m["dedup.minhash_candidates"]["value"], 0)
        self.assertGreater(m["pipeline.fingerprint_keepers_s"]["value"], 0)

    def test_failed_operation(self):
        """One timed operation that throws: the run still completes, counts
        it as failed and reports the metrics of the others."""
        res = run("es_query_mix", 0, "--fail-first-timed")
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertLess(res["metrics"]["ops_ok_frac"]["value"], 1)
        self.assertGreater(res["metrics"]["latency_p50_ms"]["value"], 0)
        res = run("river_ingest", 1, "--fail-first-timed")
        self.assertFalse(res["correct"])
        self.assertGreater(res["metrics"]["river.trigger.addBatch_ms"]["value"], 0)


if __name__ == "__main__":
    unittest.main(verbosity=2)
