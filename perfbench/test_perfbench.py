"""Self-tests for the benchmark harness (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import random
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import plan  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(run.percentile(list(range(99)), 0.9))
        self.assertEqual(run.percentile(list(range(100)), 0.9), 89)
        self.assertIsNone(run.percentile(list(range(19)), 0.5))
        self.assertEqual(run.percentile(list(range(20)), 0.5), 9)
        self.assertIsNone(run.percentile([], 0.5))

    def test_highest_allowed_tail(self):
        self.assertIsNone(run.tail_quantile(19))
        self.assertEqual(run.tail_quantile(20), 0.5)
        self.assertEqual(run.tail_quantile(99), 0.5)
        self.assertEqual(run.tail_quantile(100), 0.9)
        self.assertEqual(run.tail_quantile(1000), 0.99)


class SeedDeterminism(unittest.TestCase):
    OPS = [f"q{i:02d}" for i in range(12)]
    SPEC = dict(plan.WORKLOADS["ingest"], base=40, fresh=10, dups=3, dels=2)

    def pool(self):
        return list(range(100))

    def test_op_order(self):
        self.assertEqual(plan.rounds(self.OPS, 7, 5), plan.rounds(self.OPS, 7, 5))
        self.assertNotEqual(plan.rounds(self.OPS, 7, 5), plan.rounds(self.OPS, 8, 5))
        for r in plan.rounds(self.OPS, 7, 5):
            self.assertEqual(sorted(r), sorted(self.OPS))

    def test_ingest_drops(self):
        a = plan.ingest_plan(self.pool(), 7, self.SPEC, 5)
        self.assertEqual(a, plan.ingest_plan(self.pool(), 7, self.SPEC, 5))
        self.assertNotEqual(a, plan.ingest_plan(self.pool(), 8, self.SPEC, 5))

    def test_ingest_drops_are_consistent(self):
        p, expected = plan.ingest_plan(self.pool(), 7, self.SPEC, 5, keep=[0, 1, 2])
        self.assertTrue({0, 1, 2} <= set(p["base"]))
        self.assertEqual(len(p["base"]), self.SPEC["base"])
        live, seen = set(p["base"]), set(p["base"])
        for b, exp in zip(p["batches"], expected):
            self.assertTrue(set(b["del"]) <= live)
            live -= set(b["del"])
            self.assertTrue({src for _, src in b["dup"]} <= live)
            self.assertFalse(set(b["add"]) & seen)
            self.assertEqual((exp["accepted"], exp["rejected"], exp["deleted"]),
                             (len(b["add"]), len(b["dup"]), len(b["del"])))
            live |= set(b["add"])
            seen |= set(b["add"])

    def test_pool_drops_near_duplicate_pairs(self):
        docs = [(1, "a b c"), (2, "a b c dup"), (3, "d e f"), (4, "g h"), (5, "g h")]
        self.assertEqual(plan.ingest_pool(docs), [3])


class Fingerprint(unittest.TestCase):
    def frame(self, rows):
        import pandas as pd
        return pd.DataFrame(rows, columns=["k", "v", "s"])

    def test_order_insensitive(self):
        rows = [(i, i * 0.5, f"s{i}") for i in range(50)]
        shuffled = list(rows)
        random.Random(1).shuffle(shuffled)
        a = check.fingerprint(self.frame(rows))
        self.assertEqual(a, check.fingerprint(self.frame(shuffled)))
        self.assertEqual(a, check.fingerprint(self.frame(rows)[["s", "v", "k"]]))

    def test_sensitive_to_values_and_multiplicity(self):
        rows = [(i, i * 0.5, f"s{i}") for i in range(50)]
        a = check.fingerprint(self.frame(rows))
        changed = list(rows)
        changed[3] = (3, 1.5000000001, "s3")
        self.assertNotEqual(a, check.fingerprint(self.frame(changed)))
        self.assertNotEqual(a, check.fingerprint(self.frame(rows + rows[:1])))

    def test_integral_floats_equal_ints(self):
        import pandas as pd
        ints = pd.DataFrame({"n": [1, 2, 3]})
        floats = pd.DataFrame({"n": [1.0, 2.0, 3.0]})
        self.assertEqual(check.fingerprint(ints), check.fingerprint(floats))


class MetricNames(unittest.TestCase):
    def benchmark(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            return json.load(f)

    def test_names_and_units_match(self):
        b = self.benchmark()
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.LAYER_UNITS)
        self.assertEqual({w["name"] for w in b["workloads"]}, set(plan.WORKLOADS))

    def synthetic(self, kind):
        op = {"lat_s": 0.5, "build_s": 0.1, "codegen.compiles": 3, "sched.jobs": 2,
              "exec.run_s": 0.4, "flags": ["plans"], "docs": 10}
        ops = []
        for phase in ("timed", "traced"):
            for r in (0, 1):
                for name in ("q1", "q2") if kind == "queries" else ("batch", "settle"):
                    ops.append(dict(op, op=f"{name}{r}", phase=phase, round=r))
        if kind == "ingest":
            ops += [dict(op, op=f"ingest.{p}", phase="isolated", round=2)
                    for p in ("gate", "band_append", "annidx_append", "graph_append")]
        setups = 3 if kind == "ingest" else 1
        return {"ops": ops, "setup": [{"session_s": 1.0, "artifacts_s": 2.0}] * setups,
                "timed_round_wall_s": [1.0, 1.1], "traced_round_wall_s": [1.2, 1.3],
                "main_epoch_ms": 1000, "peak_rss_kb": 2048, "check_s": 1.0,
                "batches": [{"batch": r, "accepted": 8, "rejected": 2} for r in (0, 1)],
                "final": {"graph_edges": 10, "annidx_files": 2, "corpus_ids": [1, 2]}}

    def test_every_metric_is_produced(self):
        for kind in ("queries", "ingest"):
            res = self.synthetic(kind)
            e2e, _, rate = run.end_to_end(res, 0.5, kind)
            self.assertGreater(rate, 0)
            self.assertEqual(set(e2e), set(run.END_TO_END))
            self.assertTrue(all(v > 0 for v in e2e.values()), e2e)
            layers = run.per_layer(res, kind, 4, e2e["wall_s"])
            self.assertTrue(set(run.LAYER_UNITS) <= set(layers), set(run.LAYER_UNITS) - set(layers))


if __name__ == "__main__":
    unittest.main()
