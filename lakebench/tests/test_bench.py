"""Tests of the lake benchmark's own arithmetic and inputs.

    python3 -m unittest discover -s lakebench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import plan  # noqa: E402
import stats  # noqa: E402


class SampleRule(unittest.TestCase):
    def test_p90_needs_a_hundred_samples(self):
        self.assertTrue(stats.tail_ok(100))
        self.assertFalse(stats.tail_ok(99))
        self.assertFalse(any(stats.tail_ok(n) for n in range(1, 100)))

    def test_beyond_counts_samples_past_the_nearest_rank(self):
        self.assertEqual(stats.beyond(100, 0.9), 10)
        self.assertEqual(stats.beyond(40, 0.75), 10)
        self.assertEqual(stats.beyond(39, 0.75), 9)
        self.assertTrue(stats.tail_ok(20, 0.5))
        self.assertFalse(stats.tail_ok(19, 0.5))

    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile([7.0], 0.9), 7.0)


class JobIntervals(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(stats.union_length([(1, 2), (1, 2)]), 1)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_driver_gap_with_overlapping_jobs(self):
        # op 0..100; jobs overlap (10..40, 30..60) and one runs past the end
        jw, gap = stats.job_split(0, 100, [(10, 40), (30, 60), (90, 130)])
        self.assertEqual(jw, 60)
        self.assertEqual(gap, 40)
        self.assertEqual(jw + gap, 100)

    def test_jobs_outside_the_op_count_for_nothing(self):
        jw, gap = stats.job_split(50, 80, [(0, 40), (90, 95)])
        self.assertEqual((jw, gap), (0, 30))


class JobChecks(unittest.TestCase):
    OPS = [{"id": 0, "start_ms": 0, "end_ms": 100},
           {"id": 1, "start_ms": 200, "end_ms": 300}]

    def job(self, op, s, e, tagged=True):
        return {"op": op, "tagged": tagged, "start_ms": s, "end_ms": e}

    def test_jobs_inside_their_op_pass(self):
        jobs = [self.job(0, 10, 40), self.job(1, 200, 299.5),
                self.job(-1, 120, 180, tagged=False)]  # between ops
        self.assertEqual(stats.job_mismatches(self.OPS, jobs), [])

    def test_a_tagged_job_past_its_op_is_named(self):
        bad = stats.job_mismatches(self.OPS, [self.job(0, 90, 130)])
        self.assertEqual([b[0] for b in bad], ["op0.jobs"])
        # and so is a job tagged with an op that ran at another time
        bad = stats.job_mismatches(self.OPS, [self.job(1, 10, 40)])
        self.assertEqual([b[0] for b in bad], ["op1.jobs"])

    def test_an_untagged_job_during_an_op_is_named(self):
        bad = stats.job_mismatches(self.OPS, [self.job(1, 250, 260, tagged=False),
                                              self.job(1, 270, 280, tagged=False)])
        self.assertEqual(len(bad), 1)
        self.assertIn("2 untagged", bad[0][1])

    def test_clock_rounding_is_tolerated(self):
        jobs = [self.job(0, -1.5, 101.5)]
        self.assertEqual(stats.job_mismatches(self.OPS, jobs), [])
        self.assertEqual(len(stats.job_mismatches(self.OPS, jobs, tol_ms=1.0)), 1)


class Window(unittest.TestCase):
    def test_the_cut_op_counts_in_part(self):
        ops = [(0, 4), (4, 10), (10, 30)]
        self.assertAlmostEqual(stats.ops_in_window(ops, 0, 20), 2.5)
        self.assertAlmostEqual(stats.ops_in_window(ops, 0, 30), 3)
        self.assertAlmostEqual(stats.ops_in_window(ops, 5, 10), 5 / 6)

    def test_a_loop_step_runs_to_the_next_op(self):
        ops = [{"start_ms": 10, "end_ms": 12, "ok": True},
               {"start_ms": 0, "end_ms": 5, "ok": True},
               {"start_ms": 20, "end_ms": 22, "ok": False}]
        self.assertEqual(stats.loop_steps(ops, 30), [(0, 10), (10, 20)])
        # a deadline at 15 cuts the second step half-way
        self.assertAlmostEqual(stats.ops_in_window(stats.loop_steps(ops, 30), 0, 15), 1.5)

    def test_instant_ops_count_inside_the_window_only(self):
        self.assertEqual(stats.ops_in_window([(3, 3), (25, 25)], 0, 20), 1)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, s, e):
        return {"id": i, "parent": parent, "name": f"s{i}", "op": 0,
                "start_ms": s, "end_ms": e}

    def test_self_time_subtracts_direct_children_once(self):
        spans = [self.span(0, -1, 0, 100),
                 self.span(1, 0, 10, 50),
                 self.span(2, 0, 40, 70),   # overlaps its sibling
                 self.span(3, 1, 20, 30)]   # grandchild: not subtracted from 0
        st = stats.self_times(spans)
        self.assertEqual(st[0], 40)
        self.assertEqual(st[1], 30)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 10)


class MetricNames(unittest.TestCase):
    def test_every_metric_name_matches_the_pattern(self):
        for name in list(stats.END_TO_END) + list(stats.PER_LAYER):
            self.assertRegex(name, r"\A[A-Za-z0-9_.-]+\Z")
            self.assertTrue(stats.NAME_RE.fullmatch(name), name)

    def test_bad_names_are_refused(self):
        for bad in ("spark analysis", "_lead", "a" * 65, "x/y", ""):
            self.assertIsNone(stats.NAME_RE.fullmatch(bad), bad)

    def test_benchmark_json_lists_the_metrics_run_py_prints(self):
        path = os.path.join(HERE, "..", "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to the benchmark")
        b = json.load(open(path))
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, stats.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, stats.GATED_LAYERS)
        self.assertEqual([w["name"] for w in b["workloads"]], list(plan.WORKLOADS))


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_ops_other_seed_other_ops(self):
        for w in plan.WORKLOADS:
            a, b, c = plan.make_plan(w, 7), plan.make_plan(w, 7), plan.make_plan(w, 8)
            self.assertEqual(json.dumps(a), json.dumps(b), w)
            self.assertNotEqual(json.dumps(a), json.dumps(c), w)

    def test_lake_plan_runs_every_pool_key_once(self):
        pool = plan.load_pool()
        lake = plan.make_plan("lake_query", 3)["lake"]
        keys = [k["key"] for k in lake["keys"]]
        self.assertEqual(sorted(keys), sorted(k["key"] for k in pool))

    def test_lake_first_round_reaches_every_registry(self):
        pool = plan.load_pool()
        regs = {k["registry"] for k in pool}
        self.assertEqual(regs, set(stats.REGISTRIES))
        for seed in range(5):
            keys = plan.make_plan("lake_query", seed)["lake"]["keys"][:len(regs)]
            self.assertEqual({k["registry"] for k in keys}, regs)

    def test_lake_first_round_is_every_registrys_shortest_key(self):
        pool = plan.load_pool()
        ref = {k["key"]: k["ref_s"] for k in pool}
        shortest = {ks[0]["key"] for ks in plan.by_registry(pool).values()}
        firsts = set()
        for seed in range(5):
            keys = [k["key"] for k in
                    plan.make_plan("lake_query", seed)["lake"]["keys"][:len(shortest)]]
            self.assertEqual(set(keys), shortest)
            firsts.add(tuple(keys))
            # slowest, fastest, second slowest, ...
            slow, fast = keys[0::2], keys[1::2]
            self.assertEqual(slow, sorted(slow, key=lambda k: -ref[k]))
            self.assertEqual(fast, sorted(fast, key=lambda k: ref[k]))
            self.assertGreaterEqual(min(ref[k] for k in slow), max(ref[k] for k in fast))
        # the first round is the same in every run; the seed orders the rest
        self.assertEqual(len(firsts), 1)
        self.assertEqual(plan.make_plan("lake_query", 0)["lake"]["first_round"],
                         len(shortest))

    def test_lake_rounds_keep_the_first_rounds_registry_order(self):
        pool = plan.load_pool()
        first = plan.make_plan("lake_query", 0)["lake"]["first_round"]
        for seed in range(5):
            regs = [k["registry"] for k in plan.make_plan("lake_query", seed)["lake"]["keys"]]
            rank = {r: i for i, r in enumerate(regs[:first])}
            # each round: strictly increasing registry rank, one key per registry
            rounds, cur = [], []
            for r in regs:
                if cur and rank[r] <= rank[cur[-1]]:
                    rounds.append(cur)
                    cur = []
                cur.append(r)
            rounds.append(cur)
            self.assertEqual(sum(map(len, rounds)), len(pool))
            left = {r: n for r, n in ((r, len(ks)) for r, ks in plan.by_registry(pool).items())}
            for i, rd in enumerate(rounds):
                self.assertEqual(set(rd), {r for r, n in left.items() if n > i})

    def test_lake_later_rounds_take_cost_pairs(self):
        pool = plan.load_pool()
        pairs = {}
        for r, ks in plan.by_registry(pool).items():
            for i in range(1, len(ks), 2):
                pairs[r, (i - 1) // 2] = {k["key"] for k in ks[i:i + 2]}
        orders = set()
        for seed in range(5):
            keys = plan.make_plan("lake_query", seed)["lake"]["keys"]
            seen = {}
            for k in keys:
                seen.setdefault(k["registry"], []).append(k["key"])
            for r, ks in seen.items():
                for i in range(1, len(ks), 2):
                    self.assertEqual(set(ks[i:i + 2]), pairs[r, (i - 1) // 2])
            orders.add(tuple(k["key"] for k in keys))
        self.assertGreater(len(orders), 1)

    def test_lake_warmup_keys_are_outside_the_sample(self):
        warm = plan.warmup_keys()
        self.assertGreater(len(warm), 0)
        sampled = {k["key"] for k in plan.load_pool()}
        self.assertFalse({k["key"] for k in warm} & sampled)
        self.assertEqual(plan.make_plan("lake_query", 1)["lake"]["warmup"], warm)

    def test_lake_pool_keeps_the_shortest_keys_of_every_registry(self):
        pool = plan.load_pool()
        for r, ks in plan.by_registry(pool).items():
            self.assertGreaterEqual(len(ks), 1, r)
            long_ = [k for k in ks if k["ref_s"] > plan.MAX_REF_S]
            self.assertLessEqual(len(long_), plan.MIN_PER_REGISTRY, r)

    def test_ingest_blocks_split_every_size_pair(self):
        self.assertEqual(sorted(t for p in plan.SIZE_PAIRS for t in p), sorted(plan.TABLES))
        cycles = plan.make_plan("ingest_cycle", 4)["ingest"]["cycles"]
        for a, b in zip(cycles[1::2], cycles[2::2]):
            self.assertIn("lineitem", a["expect"])
            for p in plan.SIZE_PAIRS:
                self.assertEqual(len(set(p) & set(a["expect"])), 1)
                self.assertEqual(len(set(p) & set(b["expect"])), 1)

    def test_ingest_cycles_change_a_table_and_first_ingest_everything(self):
        cycles = plan.make_plan("ingest_cycle", 1)["ingest"]["cycles"]
        self.assertEqual(cycles[0]["expect"], sorted(plan.TABLES))
        self.assertTrue(all(c["expect"] for c in cycles))
        self.assertTrue(any(len(c["expect"]) < len(plan.TABLES) for c in cycles[1:]))

    def test_dml_ranges_stay_inside_the_table(self):
        ops = plan.make_plan("table_dml", 2)["dml"]["ops"]
        self.assertEqual({o["fmt"] for o in ops[:2]}, {"delta", "iceberg"})
        for o in ops:
            if o["kind"] == "merge":
                self.assertLess(o["hi"], plan.ORDERS_KEYS)
            if "lo" in o:
                self.assertEqual(o["hi"] - o["lo"] + 1, plan.DML_RANGE)
            if "src_lo" in o:
                self.assertLess(o["src_lo"] + o["n"], plan.ORDERS_KEYS)


if __name__ == "__main__":
    unittest.main()
