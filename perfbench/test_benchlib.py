"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import benchlib
import run

DATA, TMP = "/data/sf0.1", "/work/tmp"


def scans(*names):
    out = []
    for n in names:
        out.append(f"{TMP}/graft_io/{n}" if n.startswith("derived:") else f"{DATA}/{n}.parquet")
    return out


class SampleTest(unittest.TestCase):
    POOL = [f"q_{i:03d}" for i in range(200)]
    COST = {q: (i * 37 % 200) / 10.0 for i, q in enumerate(POOL)}

    def test_same_seed_same_draw_and_order(self):
        a = benchlib.draw(self.POOL, self.COST, 10, 20, 7)
        b = benchlib.draw(list(reversed(self.POOL)), dict(self.COST), 10, 20, 7)
        self.assertEqual(a, b)

    def test_other_seed_other_extras_and_order(self):
        core_a, extra_a, order_a = benchlib.draw(self.POOL, self.COST, 10, 20, 7)
        core_b, extra_b, order_b = benchlib.draw(self.POOL, self.COST, 10, 20, 8)
        self.assertEqual(core_a, core_b)
        self.assertNotEqual(extra_a, extra_b)
        self.assertNotEqual(order_a, order_b)

    def test_order_runs_core_and_extras_once(self):
        core, extra, order = benchlib.draw(self.POOL, self.COST, 10, 20, 3)
        self.assertFalse(set(core) & set(extra))
        self.assertEqual(sorted(order), sorted(core + extra))

    def test_core_is_the_middle_of_each_cost_stratum(self):
        ranked = sorted(self.POOL, key=lambda q: (self.COST[q], q))
        core = benchlib.core(self.POOL, 4, self.COST)
        self.assertEqual([ranked.index(q) for q in core], [25, 75, 125, 175])

    def test_one_extra_per_cost_stratum(self):
        s = benchlib.stratified_sample(self.POOL, 40, 3, self.COST)
        self.assertEqual(len(set(s)), 40)
        ranked = sorted(self.POOL, key=lambda q: (self.COST[q], q))
        ranks = sorted(ranked.index(q) for q in s)
        for r, (lo, hi) in zip(ranks, benchlib.strata(len(ranked), 40)):
            self.assertTrue(lo <= r < hi, (r, lo, hi))

    def test_strata_partition_the_pool(self):
        self.assertEqual(benchlib.strata(100, 4), [(0, 25), (25, 50), (50, 75), (75, 100)])
        self.assertEqual(benchlib.strata(10, 3), [(0, 3), (3, 6), (6, 10)])

    def test_every_query_can_be_drawn(self):
        drawn = set()
        for seed in range(200):
            core, extra, _ = benchlib.draw(self.POOL, self.COST, 10, 20, seed)
            drawn.update(core + extra)
        self.assertEqual(drawn, set(self.POOL))

    def test_pool_smaller_than_sample_is_taken_whole(self):
        core, extra, order = benchlib.draw(self.POOL[:5], {}, 10, 20, 1)
        self.assertEqual((sorted(core), extra, sorted(order)), (self.POOL[:5], [], self.POOL[:5]))


class PercentileTest(unittest.TestCase):
    def test_p90_of_100_leaves_10_above(self):
        self.assertEqual(benchlib.percentile([float(i) for i in range(1, 101)], 0.9), (90.0, 10))

    def test_count_above_is_reported(self):
        v, above = benchlib.percentile([float(i) for i in range(1, 251)], 0.9)
        self.assertEqual((v, above), (225.0, 25))

    def test_p90_of_10_leaves_1_above(self):
        self.assertEqual(benchlib.percentile([float(i) for i in range(10, 0, -1)], 0.9), (9.0, 1))

    def test_p50_is_the_median_of_per_query_medians(self):
        m = benchlib.per_query_medians([("a", 1.0), ("b", 5.0), ("a", 3.0), ("a", 9.0),
                                        ("b", 4.0)])
        self.assertEqual(m, {"a": 3.0, "b": 4.5})

    def test_median_rank(self):
        self.assertEqual(benchlib.percentile([3.0, 1.0, 2.0], 0.5), (2.0, 1))


class SelfTimeTest(unittest.TestCase):
    def test_self_time_is_span_minus_union_of_children(self):
        spans = [
            (1, 0, "query", 0.0, 100.0),
            (2, 1, "build", 0.0, 30.0),
            (3, 1, "execute", 40.0, 100.0),
            (4, 3, "job", 45.0, 70.0),
            (5, 3, "job", 60.0, 80.0),   # overlaps the first job
            (6, 3, "job", 95.0, 120.0),  # runs past its parent: clipped
        ]
        s = benchlib.self_times(spans)
        self.assertAlmostEqual(s[1], 100 - 30 - 60)
        self.assertAlmostEqual(s[3], 60 - (35 + 5))
        self.assertAlmostEqual(s[4], 25)
        by = benchlib.self_time_by_layer(spans)
        self.assertAlmostEqual(by["job"], 25 + 20 + 25)
        self.assertAlmostEqual(by["query"] + by["build"] + by["execute"], 10 + 30 + 20)

    def test_union_length(self):
        self.assertAlmostEqual(benchlib.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(benchlib.union_length([]), 0)

    def test_prewarm_builds_roll_up(self):
        spans = [(1, 0, "setup", 0, 10), (2, 1, "prewarm.minhash_sigs", 1, 4),
                 (3, 1, "prewarm.rank:orders_price", 4, 6)]
        by = benchlib.self_time_by_layer(spans)
        self.assertEqual(by, {"setup": 5, "prewarm": 5})


class PoolTest(unittest.TestCase):
    CLASSIFIED = {
        "q_star": {"scans": scans("lineitem", "orders", "nation")},
        "q_events": {"scans": scans("events")},
        "q_text": {"scans": scans("documents")},
        "q_sim": {"scans": scans("embeddings", "lineitem")},
        "q_graph": {"scans": scans("derived:degrees_v1_ab12", "lineitem")},
        "q_literal": {"scans": []},
        "q_broken": {"error_class": "java.lang.IllegalStateException"},
    }

    def test_membership_follows_scanned_tables(self):
        p = benchlib.pools(self.CLASSIFIED, DATA, TMP)
        self.assertEqual(p["fact"], ["q_events", "q_star"])
        self.assertEqual(p["all"], sorted(set(self.CLASSIFIED) - {"q_broken"}))

    def test_table_names(self):
        self.assertEqual(benchlib.table_of(f"{DATA}/part.parquet", DATA, TMP), "part")
        self.assertEqual(benchlib.table_of(f"{TMP}/graft_io/x", DATA, TMP), benchlib.DERIVED)
        self.assertEqual(benchlib.table_of("/elsewhere/part.parquet", DATA, TMP), "other")
        self.assertEqual(benchlib.table_of(os.path.join(DATA, "..", "sf0.1", "orders.parquet"),
                                           DATA, TMP), "orders")


class CheckTest(unittest.TestCase):
    SKETCH = {"q_hll": "struct<n:bigint>"}
    CHECKS = {"q_a": {"rows": 3, "schema": "struct<a:int>"},
              "q_hll": {"rows": 1, "schema": "struct<n:bigint>"}}

    def failures(self, sample, failed=(), checks=None, parity=None):
        return benchlib.check_failures(sample, set(failed), checks or self.CHECKS, self.SKETCH,
                                       parity or {"q_a": None})

    def test_clean_run_has_no_failures(self):
        self.assertEqual(self.failures(["q_a", "q_hll"]), [])

    def test_parity_complaint_is_a_failure_by_class(self):
        f = self.failures(["q_a"], parity={"q_a": "rows spark=3 oracle=4"})
        self.assertEqual(f, [("q_a", "parity.RowCountMismatch", "rows spark=3 oracle=4")])

    def test_sketch_schema_is_the_committed_one(self):
        checks = dict(self.CHECKS, q_hll={"rows": 1, "schema": "struct<n:int>"})
        self.assertEqual([x[:2] for x in self.failures(["q_hll"], checks=checks)],
                         [("q_hll", "SketchCheck")])

    def test_sampled_query_without_output_fails(self):
        self.assertEqual([x[:2] for x in self.failures(["q_a", "q_gone"])],
                         [("q_gone", "NotRun")])

    def test_run_failure_is_not_counted_twice(self):
        self.assertEqual(self.failures(["q_a", "q_gone"], failed=["q_gone"]), [])


class PoolsFileTest(unittest.TestCase):
    """perfbench/pools.json holds every workload's pool, fixed once."""

    def test_every_workload_has_a_pool_larger_than_its_sample(self):
        with open(run.POOLS) as f:
            pools = json.load(f)
        for name, wl in run.WORKLOADS.items():
            self.assertGreater(len(pools["pools"][name]), run.CORE + run.EXTRA)
        pooled = set().union(*pools["pools"].values())
        self.assertLessEqual(set(pools["sketch_schemas"]), pooled)
        self.assertFalse(pooled & set(pools["left_out"]))


class MetricNamesTest(unittest.TestCase):
    """run.py reports exactly the metrics BENCHMARK.json declares."""
    KEYS = ("build_jobs", "build_tasks", "analysis_ms", "optimization_ms", "planning_ms",
            "compiles", "compile_ns", "source_bytes", "scan_bytes", "scan_rows", "jobs",
            "stages", "tasks", "task_run_ms", "task_cpu_ns", "gc_ms", "sched_delay_ms",
            "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes",
            "derived_builds", "derived_hits", "derived_bytes_written")

    def declared(self, section):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        with open(path) as f:
            return {m["name"]: m["unit"] for m in json.load(f)[section]}

    def test_end_to_end_names_and_units(self):
        self.assertEqual(dict(run.END_TO_END), self.declared("end_to_end"))

    def test_per_layer_names_and_units(self):
        window = dict.fromkeys(self.KEYS, 1)
        query = dict(window, kind="query", name="q_a", span=1, job_intervals=[[10, 30]])
        setup = dict(window, kind="setup", name="setup", span=4, job_intervals=[])
        prewarm = dict(window, kind="prewarm", name="prewarm", span=5, job_intervals=[])
        rec = {
            "trace": {"windows": [query, setup, prewarm],
                      "spans": [[1, 0, "query", 0, 40], [2, 1, "build", 0, 5],
                                [3, 2, "job", 10, 30], [4, 0, "setup", 0, 9],
                                [5, 0, "prewarm", 50, 60], [6, 5, "prewarm.rank:x", 50, 53]]},
            "probes": dict.fromkeys(("ngrams", "inter_size", "minhash", "jaro_winkler", "dot"),
                                    0.5),
            "prewarm": [["rank:x", 2.0], ["minhash_sigs", 1.0]],
        }
        m = run.per_layer(rec, [{"start_ms": 0, "build_end_ms": 5}], [{"name": "q_a", "rows": 4}],
                          cores_used=4)
        declared = self.declared("per_layer")
        self.assertEqual(set(m), set(declared))
        self.assertEqual({k: run.layer_unit(k) for k in m}, declared)
        self.assertAlmostEqual(m["exec.idle_core_frac"], 1 - 0.001 / (0.02 * 4))
        self.assertEqual(m["scan.rows_per_output_row"], 0.25)
        self.assertEqual((m["prewarm.rank_tier_s"], m["prewarm.file_tier_s"]), (2.0, 1.0))
        self.assertAlmostEqual(m["self.build_s"], 0.005)
        self.assertAlmostEqual(m["self.prewarm_s"], 0.010)


if __name__ == "__main__":
    unittest.main()
