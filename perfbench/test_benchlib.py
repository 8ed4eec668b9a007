"""Self-tests of the benchmark's own logic; no JVM needed.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import benchlib

GUARDED = """\
OverwriteByExpression NoopWrite
  HashAggregate(keys=[o_custkey#1441L], functions=[sum(l_extendedprice#1433)])
    Exchange hashpartitioning(o_custkey#1441L, 4), ENSURE_REQUIREMENTS, [plan_id=7660]
      Project [l_extendedprice#1433, l_discount#1434, o_custkey#1441L]
        BroadcastHashJoin [l_orderkey#1428L], [o_orderkey#1440L], Inner, BuildRight, false
          Exchange hashpartitioning(xxhash64(l_orderkey#1428L, 42), 4), REPARTITION_BY_NUM, [plan_id=7656]
            Filter isnotnull(l_orderkey#1428L)
              ColumnarToRow
                FileScan parquet [l_orderkey#1428L,l_extendedprice#1433] Batched: true
          BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false)
            Exchange hashpartitioning(xxhash64(o_orderkey#1440L, 42), 4), REPARTITION_BY_NUM, [plan_id=7650]
              HashAggregate(keys=[o_orderkey#1440L], functions=[])
                ColumnarToRow
                  FileScan parquet [o_orderkey#1440L,o_custkey#1441L] Batched: true
"""

UNGUARDED = """\
OverwriteByExpression NoopWrite
  Sort [user_id#754L ASC NULLS FIRST], true, 0
    Exchange rangepartitioning(user_id#754L ASC NULLS FIRST, 4), ENSURE_REQUIREMENTS, [plan_id=2403]
      HashAggregate(keys=[user_id#754L], functions=[count(1)])
        Exchange hashpartitioning(user_id#754L, 4), ENSURE_REQUIREMENTS, [plan_id=2365]
          HashAggregate(keys=[user_id#754L], functions=[partial_count(1)])
            Filter (isnotnull(value#756) AND NOT isnan(value#756))
              ColumnarToRow
                FileScan parquet [user_id#754L,value#756] Batched: true
  HashAggregate(keys=[], functions=[sum(pmod(xxhash64(doc_id#1L, 42), 2147483647))])
    Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=37769]
      Scan ExistingRDD[doc_id#1L]
"""


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        p, value, n = benchlib.tail(list(range(100, 0, -1)))
        self.assertEqual((p, value, n), (90.0, 90, 100))
        self.assertEqual(sum(1 for x in range(1, 101) if x > value), 10)

    def test_smaller_samples_move_the_percentile_down(self):
        p, value, n = benchlib.tail([float(i) for i in range(1, 31)])
        self.assertAlmostEqual(p, 200 / 3)
        self.assertEqual(value, 20.0)

    def test_not_reported_without_ten_beyond_above_the_median(self):
        self.assertIsNone(benchlib.tail(list(range(20))))
        self.assertIsNone(benchlib.tail([1.0] * 5))
        self.assertIsNone(benchlib.tail([]))


class FailureAccounting(unittest.TestCase):
    def test_thrown_and_wrong_outputs_fail_and_are_never_fast_samples(self):
        queries = [
            {"name": "a", "ok": True, "wall_s": 2.0},
            {"name": "b", "ok": False, "wall_s": None},   # threw
            {"name": "c", "ok": True, "wall_s": 0.001},   # wrong output
            {"name": "a", "ok": True, "wall_s": 3.0},
        ]
        verdict = {"a": True, "b": True, "c": False}
        attempted, failed, samples = benchlib.accounting(queries, verdict)
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(samples, [2.0, 3.0])

    def test_unchecked_query_counts_as_failed(self):
        _, failed, samples = benchlib.accounting(
            [{"name": "x", "ok": True, "wall_s": 1.0}], {})
        self.assertEqual((failed, samples), (1, []))

    def test_pipeline_steps_and_output_checks(self):
        attempted, failed, _ = benchlib.accounting(
            [], {}, steps=[{"ok": True}, {"ok": False}], outputs_ok=[False])
        self.assertEqual((attempted, failed), (3, 2))


class SeededInputs(unittest.TestCase):
    NAMES = [f"q{i:02d}" for i in range(9)]

    def test_same_seed_same_permutations(self):
        a = benchlib.pass_orders(self.NAMES, 7, 5)
        self.assertEqual(a, benchlib.pass_orders(self.NAMES, 7, 5))
        self.assertNotEqual(a, benchlib.pass_orders(self.NAMES, 8, 5))
        self.assertTrue(all(sorted(o) == self.NAMES for o in a))

    def test_same_seed_same_batch(self):
        for seed in range(20):
            self.assertEqual(benchlib.batch_bounds(7500, seed),
                             benchlib.batch_bounds(7500, seed))

    def test_batches_follow_their_corpus_and_stay_in_range(self):
        seen = set()
        for seed in range(benchlib.N_SLICES):
            s, lo, mid, hi = benchlib.batch_bounds(7500, seed)
            self.assertEqual((mid - lo, hi - mid), (6000, 750))
            self.assertTrue(-1 <= lo and hi <= 7499)
            seen.add(s)
        self.assertEqual(len(seen), benchlib.N_SLICES)


class GuardMatcher(unittest.TestCase):
    def test_counts_xxhash64_repartitions_on_parquet_scans(self):
        # the lineitem exchange sits on its scan through Filter and
        # ColumnarToRow; the orders one sits on an aggregate
        self.assertEqual(benchlib.guard_exchanges(GUARDED), 1)

    def test_ignores_planner_exchanges_and_hashes_elsewhere(self):
        self.assertEqual(benchlib.guard_exchanges(UNGUARDED), 0)


class SelfTime(unittest.TestCase):
    def test_overlapping_and_clipped_children(self):
        self.assertEqual(benchlib.self_time(0, 100, [(10, 30), (20, 40), (90, 120)]), 60)
        self.assertEqual(benchlib.self_time(0, 10, []), 10)


class PerLayer(unittest.TestCase):
    def test_traced_records_aggregate_per_pass(self):
        result = {
            "passes": [{"pass": 0, "traced": False, "total_s": 2.0},
                       {"pass": 1, "traced": True, "total_s": 2.2}],
            "queries": [{"id": "p1.q0", "name": "q58_dedup_clusters", "traced": True,
                         "construct_s": 0.5, "wall_s": 2.2, "start_ms": 1000,
                         "mid_ms": 1500, "end_ms": 3200}],
            "steps": [],
            "trace": [
                {"ev": "job", "id": 1, "span": "p1.q0/construct", "start": 1100,
                 "end": 1400},
                {"ev": "job", "id": 2, "span": "p1.q0/execute", "start": 1600, "end": 3100},
                {"ev": "stage", "job": 2, "submit": 1600, "complete": 3100, "tasks": 4,
                 "failed_tasks": 0, "task_max_ms": 1400, "task_median_ms": 700,
                 "launch_wait_ms": 10, "run_ms": 4000, "cpu_ns": 3e9, "gc_ms": 5,
                 "bytes_read": 100, "records_read": 10, "shuffle_write_bytes": 0,
                 "shuffle_read_bytes": 0, "fetch_wait_ms": 0, "spill_bytes": 0},
                {"ev": "qe", "at_ms": 1550, "dur_ms": 1500.0, "analysis_ms": 0,
                 "optimization_ms": 30, "planning_ms": 20, "rule_ns": 1e7,
                 "graft_rule_ns": 1e5, "rule_invocations": 100, "rule_effective": 5,
                 "write_path": "", "write_bytes": 0, "shuffles": 1, "broadcasts": 0,
                 "stage_scans": 0, "plan": GUARDED},
            ],
        }
        m = benchlib.per_layer(result, cores=4)
        self.assertEqual(m["entry.construct_jobs"], 1)
        self.assertEqual(m["scheduler.jobs"], 2)
        self.assertEqual(m["sources.guard_exchanges"], 1)
        self.assertEqual(m["graph.jobs_per_query"], 2)
        self.assertAlmostEqual(m["sink.execute_s"], 1.65)
        self.assertAlmostEqual(m["scheduler.stage_skew"], 2.0)
        self.assertAlmostEqual(m["trace.overhead_ratio"], 0.1)
        self.assertAlmostEqual(m["scheduler.busy_ratio"], 4.0 / (2.2 * 4))


if __name__ == "__main__":
    unittest.main()
