"""Tests of the benchmark harness itself.

    python3 -m unittest discover -s perfbench/tests

The last two tests build the harness and run it (about two minutes).
"""
import json
import math
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a, b = gen.CdcPlan(11, 2000, 40), gen.CdcPlan(11, 2000, 40)
        self.assertTrue(a.seed_table.equals(b.seed_table))
        self.assertTrue(all(x.equals(y) for x, y in zip(a.drops, b.drops)))
        self.assertTrue(a.expected().equals(b.expected()))
        self.assertFalse(gen.CdcPlan(12, 2000, 40).drops[0].equals(a.drops[0]))
        fa, fb = gen.fixture_tables(), gen.fixture_tables()
        self.assertTrue(all(fa[t].equals(fb[t]) for t in fa))

    def test_event_times_increase_from_drop_to_drop(self):
        plan = gen.CdcPlan(3, 2000, 40)
        spans = [(d["ts"].cast("int64").to_numpy().min(), d["ts"].cast("int64").to_numpy().max())
                 for d in plan.drops]
        warm = plan.warmup["ts"].cast("int64").to_numpy()
        self.assertLess(plan.seed_table["ts"].cast("int64").to_numpy().max(), warm.min())
        self.assertLess(warm.max(), spans[0][0])
        for (_, hi), (lo, _) in zip(spans, spans[1:]):
            self.assertLess(hi, lo)

    def test_expected_state_is_last_non_delete_write(self):
        plan = gen.CdcPlan(5, 500, 40)
        events = {}
        for t in [plan.seed_table, plan.warmup] + plan.drops:
            for r in t.to_pylist():
                if r["event_type"] != "error":
                    k = r["user_id"]
                    if k not in events or (r["ts"], r["event_id"]) > (events[k]["ts"], events[k]["event_id"]):
                        events[k] = r
        exp = {r["user_id"]: r for r in plan.expected().to_pylist()}
        self.assertEqual(set(exp), set(events))
        for k, r in events.items():
            self.assertEqual(exp[k]["event_id"], r["event_id"])
            self.assertEqual(exp[k]["op_type"], "insert" if r["event_type"] == "signup" else "update")
        kinds = plan.drops[0]["event_type"].to_pylist()
        self.assertIn("error", kinds)   # deletes
        self.assertIn("signup", kinds)  # inserts
        ids = plan.drops[0]["event_id"].to_pylist()
        self.assertLess(len(set(ids)), len(ids))  # redelivered duplicates


class PercentileTest(unittest.TestCase):
    def test_ten_beyond_rule(self):
        self.assertIsNone(stats.tail_percentile(10))
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        for n in range(11, 400):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(n - math.ceil(p * n / 100), 10, n)
            self.assertLess(n - math.ceil((p + 1) * n / 100), 10, n)

    def test_tail_refuses_a_percentile_without_ten_beyond(self):
        xs = list(range(1, 41))
        self.assertEqual(stats.tail(xs, 75), 30)
        with self.assertRaises(ValueError):
            stats.tail(xs, 76)


class FailureAccountingTest(unittest.TestCase):
    def raw(self):
        ops, passes = [], []
        for p in range(4):
            for q, s in (("a", 0.2), ("b", 0.3), ("boom", 0.001)):
                ops.append({"name": q, "pass": p, "wall_s": s + p / 100, "ok": q != "boom",
                            "traced": False})
            passes.append({"pass": p, "kind": "cold" if p == 0 else "warm", "wall_s": 1.0,
                           "cpu_s": 2.0, "traced": False})
        return {"ops": ops, "passes": passes, "setups_s": [3.0, 1.0, 1.1],
                "heap_old_after_gc_mb": [50.0, 60.0]}

    def test_thrown_query_is_failed_and_untimed(self):
        e2e, attempted, failed, info = run.query_metrics(self.raw(), {"a": None, "b": None, "boom": None}, 50)
        self.assertEqual((attempted, failed), (12, 4))
        self.assertEqual(info["failed_queries"], ["boom"])
        self.assertEqual(info["latency_samples"], 6)
        self.assertAlmostEqual(e2e["cold_pass_s"], 0.5)
        self.assertGreater(e2e["latency_p50_s"], 0.2)

    def test_wrong_output_is_failed_and_untimed(self):
        raw = self.raw()
        for o in raw["ops"]:
            o["ok"] = True
        e2e, _, failed, info = run.query_metrics(raw, {"a": "col=x row=0", "b": None, "boom": None}, 50)
        self.assertEqual(failed, 4)
        self.assertEqual(info["failed_queries"], ["a"])
        self.assertEqual(info["latency_samples"], 6)
        self.assertAlmostEqual(e2e["cold_pass_s"], 0.3 + 0.001)


def bench(*args):
    out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                         cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError(out.stderr[-3000:])
    lines = out.stdout.strip().splitlines()
    artifact = next(l.split(" ", 1)[1] for l in lines if l.startswith("artifact "))
    with open(os.path.join(ROOT, artifact)) as f:
        return json.loads(lines[-1]), json.load(f)


class HarnessRunTest(unittest.TestCase):
    def test_planted_throwing_query_and_no_listeners_when_tracing_off(self):
        result, art = bench("--workload", "llm_ops", "--seed", "1", "--seconds", "1",
                            "--trace", "0", "--plant-failure")
        planted = [o for o in art["raw"]["ops"] if o["name"] == "__planted_throw__"]
        self.assertTrue(planted and not any(o["ok"] for o in planted))
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], len(planted))
        self.assertEqual(art["info"]["failed_queries"], ["__planted_throw__"])
        n = len(run.query_list("llm_ops"))
        self.assertEqual(art["info"]["latency_samples"], n * art["info"]["warm_passes"])
        ours = [c for c in art["raw"]["listeners_in_cold"] + art["raw"]["listeners_at_end"]
                if c.startswith("graftbench") or "LagMonitor" in c]
        self.assertEqual(ours, [])

    def test_traced_run_registers_its_listeners_and_reports_every_layer(self):
        result, art = bench("--workload", "olap_cdc", "--seed", "1", "--seconds", "1", "--trace", "1")
        self.assertTrue(any(c.startswith("graftbench") for c in art["raw"]["listeners_in_cold"]))
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = [m["name"] for m in json.load(f)["per_layer"]]
        self.assertEqual(sorted(result["metrics"]), sorted(names))
        self.assertGreater(result["metrics"]["operators.tasks"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
