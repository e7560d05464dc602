"""Self-tests of the benchmark's own arithmetic, on synthetic inputs.

    python3 -m unittest discover -s graftbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from gb import metrics, summarise  # noqa: E402
from gb.verdict import verdict  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, pct, beyond = metrics.tail(xs)
        self.assertEqual(v, 90)
        self.assertEqual(beyond, 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 10
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_small_sample_reports_its_minimum(self):
        v, pct, beyond = metrics.tail([3.0, 1.0, 2.0])
        self.assertEqual((v, beyond), (1.0, 2))
        self.assertEqual(metrics.tail([]), (None, None, 0))

    def test_eleven_ops(self):
        v, _, beyond = metrics.tail(list(range(11)))
        self.assertEqual((v, beyond), (0, 10))


class SelfTime(unittest.TestCase):
    def test_interval_arithmetic(self):
        self.assertEqual(summarise.union([(0, 2), (1, 3), (5, 6)]), [(0, 3), (5, 6)])
        self.assertEqual(summarise.length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(summarise.minus([(0, 10)], [(2, 3), (5, 7)]), [(0, 2), (3, 5), (7, 10)])

    def test_self_times_sum_to_the_root(self):
        spans = [
            {"id": 1, "parent": -1, "name": "op.read", "t0": 0, "t1": 100},
            {"id": 2, "parent": 1, "name": "lake.read_plan", "t0": 10, "t1": 40},
            {"id": 3, "parent": 1, "name": "lake.read_exec", "t0": 40, "t1": 90},
        ]
        leaves = [("catalyst", 12, 30),   # under read_plan
                  ("exec", 45, 80),       # under read_exec
                  ("catalyst", 70, 85)]   # overlaps the job: only 80..85 is catalyst
        st = summarise.self_times(spans, leaves)
        self.assertEqual(st["bench"], 20)       # 100 - 30 - 50
        self.assertEqual(st["lake"], 12 + 10)   # plan 30-18, exec 50-35-5
        self.assertEqual(st["catalyst"], 18 + 5)
        self.assertEqual(st["exec"], 35)
        self.assertEqual(sum(st.values()), 100)

    def test_leaf_outside_every_span_is_ignored(self):
        spans = [{"id": 1, "parent": -1, "name": "op.x", "t0": 0, "t1": 10}]
        st = summarise.self_times(spans, [("exec", 20, 30)])
        self.assertEqual(st, {"exec": 0, "catalyst": 0, "bench": 10})


class TraceOverhead(unittest.TestCase):
    def test_rates_compare_the_same_mix(self):
        def op(name, secs, traced):
            return {"name": name, "ok": True, "traced": traced, "t0": 0, "t2": int(secs * 1e9)}
        # traced ops are 10% slower; the traced side happens to hold more slow ops
        ops = [op("fast", 1, False), op("fast", 1.1, True), op("slow", 4, False),
               op("slow", 4.4, True), op("slow", 4.4, True), op("only_untraced", 9, False)]
        untraced, traced = summarise.rates(ops)
        self.assertAlmostEqual(untraced / traced, 1.1)


class Verdict(unittest.TestCase):
    parent = [1.00, 1.02, 0.98, 1.01, 0.99, 1.00, 1.03, 0.97, 1.01, 0.99]

    def test_unchanged(self):
        v, _ = verdict(self.parent, [x * 1.02 for x in self.parent], "lower", 0.1)
        self.assertEqual(v, "unchanged")

    def test_improved(self):
        v, d = verdict(self.parent, [x * 0.8 for x in self.parent], "lower", 0.1)
        self.assertEqual(v, "improved")
        self.assertEqual(d["wins"], 10)

    def test_worse(self):
        v, _ = verdict(self.parent, [x * 1.3 for x in self.parent], "lower", 0.1)
        self.assertEqual(v, "worse")

    def test_higher_is_better(self):
        v, _ = verdict(self.parent, [x * 1.3 for x in self.parent], "higher", 0.1)
        self.assertEqual(v, "improved")

    def test_wide_parent_is_unresolved(self):
        wide = [1.0, 1.6, 0.7, 1.3, 0.9, 1.5, 0.6, 1.2, 1.0, 1.4]
        v, _ = verdict(wide, [x * 1.05 for x in wide], "lower", 0.1)
        self.assertEqual(v, "unresolved")

    def test_too_few_wins_is_not_a_gain(self):
        change = [x * 0.8 if i < 8 else x * 1.05 for i, x in enumerate(self.parent)]
        v, _ = verdict(self.parent, change, "lower", 0.5)
        self.assertEqual(v, "unchanged")


class FailedOpsCount(unittest.TestCase):
    def test_wrong_result_is_a_failure(self):
        ops = [{"i": i, "kind": "read", "name": "q", "t0": 0, "t1": 10 ** 9, "t2": 10 ** 9,
                "ok": i != 2, "err": "" if i != 2 else "wrong result", "rows": 0,
                "traced": False, "cpu_ns": 10 ** 9}
               for i in range(4)]
        run = {"ops": ops, "setup_s": [1.0], "peak_rss_mb": 100.0,
               "cycle_ops": 1, "cycles_measured": 4,
               "loop": {"t0": 0, "t1": 4 * 10 ** 9, "check_ns": 0, "cpu_ns": 4 * 10 ** 9}}
        m, _ = metrics.end_to_end(run)
        self.assertEqual(m["failed_ratio"][0], 0.25)

    def _cycle_run(self, n_ops, cycle_ops, cycles):
        ops = [{"i": i, "kind": "read", "name": "q", "t0": i * 10 ** 9, "t1": (i + 1) * 10 ** 9,
                "t2": (i + 1) * 10 ** 9, "ok": True, "err": "", "rows": 0, "traced": False,
                "cpu_ns": 0} for i in range(n_ops)]
        return {"ops": ops, "cycle_ops": cycle_ops, "cycles_measured": cycles,
                "setup_s": [1.0], "peak_rss_mb": 100.0,
                "loop": {"t0": 0, "t1": n_ops * 10 ** 9, "check_ns": 0, "cpu_ns": 0}}

    def test_first_whole_cycles_only(self):
        kept, wall, needed = metrics.measured(self._cycle_run(8, 3, 1))
        self.assertEqual([o["i"] for o in kept], [0, 1, 2])
        self.assertEqual((wall, needed), (3.0, 3))
        kept, wall, needed = metrics.measured(self._cycle_run(8, 3, 2))
        self.assertEqual((len(kept), needed), (6, 6))

    def test_short_run_is_not_measured_over_a_partial_mix(self):
        # one op short of the measured cycle: flagged, not silently re-mixed
        kept, _, needed = metrics.measured(self._cycle_run(6, 7, 1))
        self.assertLess(len(kept), needed)


class TracedOverheadMissing(unittest.TestCase):
    def test_no_untraced_op_of_a_traced_name(self):
        ops = [{"name": "dedup_shard", "ok": True, "traced": True, "t0": 0, "t2": 10 ** 9}]
        self.assertEqual(summarise.rates(ops), (0.0, 0.0))


@unittest.skipUnless(os.environ.get("SPARK_HOME"), "needs SPARK_HOME and a build of the harness")
class WrongResultEndToEnd(unittest.TestCase):
    """Each gated workload's own check, fed a wrong result by the harness
    (`--wrong-op`), fails that op, and run.py reports it and exits 1.
    When the failed op is the only measured one (dedup_corpus), its
    metrics are missing and no result line is printed at all.
    Builds the harness on first use; takes a few minutes."""

    def run_wrong(self, workload, op):
        import json
        import subprocess
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        r = subprocess.run([sys.executable, os.path.join(here, "run.py"), "--workload", workload,
                            "--seed", "3", "--seconds", "1", "--trace", "0",
                            "--wrong-op", str(op)], capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 1, r.stderr[-2000:])
        self.assertIn(f"PROBLEM op {op} ", r.stdout)
        last = r.stdout.strip().splitlines()[-1]
        if last.startswith("{"):
            res = json.loads(last)
            self.assertFalse(res["correct"])
            self.assertEqual(res["failed"], 1)

    def test_lake_ingest_read_with_a_wrong_count(self):
        self.run_wrong("lake_ingest", 1)     # op 1 is a flagship read

    def test_catalog_rest_load_with_a_wrong_snapshot_id(self):
        self.run_wrong("catalog_rest", 0)    # op 0 is a loadTable

    def test_dedup_corpus_exact_keeping_planted_copies(self):
        self.run_wrong("dedup_corpus", 0)


if __name__ == "__main__":
    unittest.main()
