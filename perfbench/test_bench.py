"""Self-tests of the benchmark's own statistics, checks and plans.

    python3 perfbench/test_bench.py
"""
import json
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import bench_stats as bs  # noqa: E402
import run  # noqa: E402

SUMS = {"rows": 3, "sum": "-12345678901234567890", "xor": 42}


def op(name, wall=1.0, got=SUMS, want=None, error=None):
    check = {"name": "query:" + name}
    if error:
        check["error"] = error
    else:
        check["got"] = dict(got)
    if want:
        check["want"] = dict(want)
    return {"name": name, "wall_s": wall, "checks": [check]}


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        v, label, beyond = bs.tail(list(range(1, 21)))
        self.assertEqual((v, label, beyond), (10, "p50", 10))

    def test_picks_highest_qualifying_percentile(self):
        v, label, beyond = bs.tail(list(range(1, 101)))
        self.assertEqual((v, label, beyond), (90, "p90", 10))
        v, label, _ = bs.tail(list(range(1, 1001)))
        self.assertEqual((v, label), (990, "p99"))

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(bs.tail([5, 1, 3]), (5, "max", 0))
        self.assertEqual(bs.tail(list(range(10)))[1], "max")

    def test_ties_do_not_count_as_beyond(self):
        self.assertEqual(bs.tail([1] * 30)[1], "max")


class CentreTest(unittest.TestCase):
    def test_median_and_quartiles_match_statistics(self):
        xs = [9.0, 1.0, 4.0, 7.0, 3.0, 8.0, 2.0, 6.0, 5.0, 10.0]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(bs.quartiles(xs), (q[0], q[1], q[2]))
        self.assertEqual(bs.median(xs), 5.5)

    def test_nearest_rank_percentile(self):
        self.assertEqual(bs.percentile([3, 1, 2, 4], 50), 2)
        self.assertEqual(bs.percentile([3, 1, 2, 4], 100), 4)


class AccountingTest(unittest.TestCase):
    expected = {"query:a": SUMS, "query:b": SUMS}

    def test_matching_fingerprint_passes(self):
        ok, failed = bs.account([op("a"), op("b")], self.expected)
        self.assertEqual((len(ok), failed), (2, []))

    def test_wrong_expected_hash_is_a_failed_operation(self):
        wrong = {"query:a": dict(SUMS, xor=43), "query:b": SUMS}
        ok, failed = bs.account([op("a"), op("b")], wrong)
        self.assertEqual([o["name"] for o in ok], ["b"])
        self.assertEqual(failed[0]["name"], "a")
        self.assertIn("result mismatch", failed[0]["cause"])

    def test_sum_catches_what_xor_cannot(self):
        # a duplicated row leaves bit_xor unchanged but moves the sum
        dup = dict(SUMS, rows=3, sum="-12345678901234567889")
        ok, failed = bs.account([op("a", got=dup)], self.expected)
        self.assertEqual((ok, len(failed)), ([], 1))

    def test_exception_and_missing_entry_fail_with_cause(self):
        ok, failed = bs.account([op("a", error="boom: x"), op("zz")], self.expected)
        self.assertEqual(ok, [])
        self.assertIn("boom: x", failed[0]["cause"])
        self.assertIn("no expected result", failed[1]["cause"])

    def test_inline_want_overrides_the_table(self):
        ok, failed = bs.account([op("a", want=dict(SUMS, rows=4))], self.expected)
        self.assertEqual((ok, len(failed)), ([], 1))

    def test_failed_operations_are_excluded_from_timings(self):
        ops = [op("a", wall=1.5), op("b", wall=3.0), op("a", wall=99.0, error="x")]
        ok, failed = bs.account(ops, self.expected)
        self.assertEqual(len(failed), 1)
        self.assertAlmostEqual(bs.sum_of_medians(ok, "name"), 4.5)


class PanelTest(unittest.TestCase):
    def test_panel_covers_the_fourteen_modules(self):
        self.assertEqual(len(run.MODULES), 14)
        self.assertEqual(set(bs.PANEL.values()), set(run.MODULES))

    def test_panel_holds_a_pair_sharing_a_memo_core(self):
        self.assertEqual(bs.PANEL["d2_minhash_lsh"], bs.PANEL["d10_edit_verify"])

    def test_sum_of_medians_takes_each_keys_median(self):
        ops = [op("a1", wall=1.0), op("a1", wall=3.0), op("a1", wall=2.0), op("c1", wall=0.5)]
        self.assertAlmostEqual(bs.sum_of_medians(ops, "name"), 2.5)


class OverheadTest(unittest.TestCase):
    def test_alternating_first_runs_cancel(self):
        # pure first-run penalty of 1.5x, no tracing cost: traced-first on a,
        # untraced-first on b
        traced = [op("a", wall=1.5), op("b", wall=2.0)]
        untraced = [op("a", wall=1.0), op("b", wall=3.0)]
        self.assertAlmostEqual(bs.paired_ratio(traced, untraced), 1.0)


class PlanTest(unittest.TestCase):
    @staticmethod
    def groups(ops, kind):
        by = {}
        for o in ops:
            if o[0] == kind:
                by.setdefault(o[1], []).append(o)
        return [by[g] for g in sorted(by)]

    def test_same_seed_same_plan(self):
        for w in ("queries", "serve"):
            for t in (0, 1):
                self.assertEqual(bs.make_plan(w, 7, t), bs.make_plan(w, 7, t))

    def test_other_seed_changes_order_mix_and_cursors(self):
        orders = {tuple(o[3] for o in bs.make_plan("queries", s)[1][:3]) for s in range(20)}
        self.assertGreater(len(orders), 1)
        (k7, v7), (k8, v8) = (bs.make_plan("serve", s) for s in (7, 8))
        self.assertNotEqual(v7[:20], v8[:20])
        self.assertNotEqual(k7["incr"], k8["incr"])
        mixes = {tuple(o[3] for o in bs.make_plan("serve", s)[1][:8]) for s in range(20)}
        self.assertGreater(len(mixes), 1)

    def test_queries_plan_warms_then_repeats_the_panel_per_pass(self):
        keys, ops = bs.make_plan("queries", 3)
        warm = [o[3] for o in ops if o[0] == "warm"]
        passes = self.groups(ops, "query")
        self.assertEqual(sorted(warm), sorted(bs.PANEL))
        self.assertEqual([o[3] for o in passes[0]], warm)
        self.assertEqual([o[3] for o in passes[1]], warm)
        self.assertEqual({o[2] for p in passes for o in p}, {0})
        self.assertEqual({o[4] for o in passes[0]}, set(run.MODULES))
        self.assertEqual(keys["min_groups"], 1)

    def test_traced_plan_traces_each_query_once_in_two_passes(self):
        keys, ops = bs.make_plan("queries", 3, trace=1)
        first, second = self.groups(ops, "query")[:2]
        self.assertEqual(keys["min_groups"], 2)
        for a, b in zip(first, second):
            self.assertEqual(a[3], b[3])
            self.assertEqual({a[2], b[2]}, {0, 1})
        self.assertNotEqual(first[0][2], first[1][2])

    def test_serve_blocks_hold_one_dashboard_and_one_page(self):
        keys, ops = bs.make_plan("serve", 3, trace=1)
        blocks = self.groups(ops, "read")
        self.assertEqual(keys["min_groups"], 2 * bs.MIN_BLOCKS)
        for b in blocks:
            self.assertEqual(sorted(o[3] for o in b), ["dashboard", "page"])
            self.assertEqual(len({o[2] for o in b}), 1)
        self.assertEqual([b[0][2] for b in blocks[:4]], [0, 1, 0, 1])
        self.assertEqual({len(o) for o in ops if o[3] == "page"}, {5})


class ContractTest(unittest.TestCase):
    def test_benchmark_json_names_what_the_runner_prints(self):
        spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))

    def test_expected_table_covers_queries_relations_and_dashboard(self):
        entries = json.loads(run.EXPECTED.read_text())["entries"]
        for r in run.RELATIONS:
            self.assertIn("relation:" + r, entries)
        self.assertIn("dashboard", entries)
        self.assertGreater(len([k for k in entries if k.startswith("query:")]), 100)
        for q in bs.PANEL:
            self.assertIn("query:" + q, entries)


if __name__ == "__main__":
    unittest.main()
