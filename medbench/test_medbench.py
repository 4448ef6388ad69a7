"""Tests for the benchmark's helpers: python3 -m unittest discover -s medbench"""

import os
import shutil
import tempfile
import unittest

import fixtures
import stats

SITE = """graft.tables.LakeTable.commitData(LakeTable.scala:830)
graft.tables.LakeTable.append(LakeTable.scala:385)
graft.runner.IngestRunner$.$anonfun$runIngest$8(IngestRunner.scala:118)
medbench.Run.op(Main.scala:110)"""


class TailRule(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 90.0, 10))
        self.assertEqual(stats.tail(list(range(1, 1001))), (990, 99.0, 10))
        self.assertEqual(stats.tail(list(range(1, 301))), (285, 95.0, 15))

    def test_order_of_samples_does_not_matter(self):
        values = [float(x) for x in range(200, 0, -1)]
        self.assertEqual(stats.tail(values), (190.0, 95.0, 10))

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(list(range(19))))
        self.assertEqual(stats.tail(list(range(20))), (9, 50.0, 10))
        self.assertIsNone(stats.tail([]))

    def test_failed_operations_sort_last(self):
        values = [float("inf")] * 5 + [1.0] * 30
        self.assertEqual(stats.tail(values), (1.0, 50.0, 17))
        self.assertEqual(stats.tail(values + [2.0] * 65), (2.0, 90.0, 10))


class ModuleOfCallSite(unittest.TestCase):
    def test_first_platform_frame_wins(self):
        self.assertEqual(stats.module_of(SITE), "tables")
        self.assertEqual(stats.module_of("\n".join(SITE.splitlines()[2:])), "runner")

    def test_each_platform_module(self):
        for mod in ("sources", "runner", "tables", "transform", "sql"):
            self.assertEqual(stats.module_of(f"graft.{mod}.X.f(X.scala:1)"), mod)

    def test_other_platform_code_and_no_platform_frame(self):
        self.assertEqual(stats.module_of("graft.functions.TrinoFunctions$.f(T.scala:3)"),
                         "graft_other")
        self.assertEqual(stats.module_of("graft.SparkEntry$.q1(SparkEntry.scala:9)"),
                         "graft_other")
        self.assertEqual(stats.module_of("medbench.Run.op(Main.scala:110)"), "bench")
        self.assertEqual(stats.module_of(
            "org.apache.spark.sql.execution.SQLExecution$.f(SQLExecution.scala:1)"), "other")
        self.assertEqual(stats.module_of(""), "other")

    def test_thread_pool_jobs_take_their_sql_execution_call_site(self):
        job = {"call_site": "org.apache.spark.sql.execution.SQLExecution$.f(S.scala:1)",
               "execution": 7}
        self.assertEqual(stats.job_module(job, {7: SITE}), "tables")
        self.assertEqual(stats.job_module(job, {}), "other")


class UnitOfWork(unittest.TestCase):
    def test_reads_are_timed_per_pass_through_the_mix(self):
        kinds = [f"sql_{k}" for k in stats.READ_MIX] * 2
        ops = [{"kind": k, "phase": "measure", "ms": 1.0 + i, "ok": True, "attrs": {}}
               for i, k in enumerate(kinds)]
        raw = {"workload": "lake_sql_reads", "ops": ops}
        self.assertEqual(stats.primary_ops(raw), [15.0, 40.0])

    def test_a_round_is_ingest_transform_and_test(self):
        ops = [{"kind": k, "phase": "measure", "ms": ms, "ok": True, "attrs": {"round": 1}}
               for k, ms in (("ingest", 5.0), ("transform", 4.0), ("test", 3.0))]
        ops.append({"kind": "maintain", "phase": "measure", "ms": 2.0, "ok": True, "attrs": {}})
        self.assertEqual(stats.primary_ops({"workload": "opralog_incremental", "ops": ops}),
                         [12.0])


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_ms([(0, 10), (20, 30)], lo=5, hi=25), 10)
        self.assertEqual(stats.union_ms([]), 0)


class FixtureDeterminism(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def gen(self, name, seed):
        out = os.path.join(self.dir, name)
        fixtures.write_opralog_rounds(seed, out, n_entries=300, rounds=2)
        fixtures.write_event_slices(seed, os.path.join(out, "events"), 3, 50)
        return fixtures.tree_digest(out)

    def test_same_seed_gives_byte_identical_files(self):
        a, b = self.gen("a", 11), self.gen("b", 11)
        self.assertGreater(len(a), 10)
        self.assertEqual(a, b)

    def test_other_seed_gives_other_data(self):
        a, c = self.gen("a", 11), self.gen("c", 12)
        self.assertEqual(sorted(a), sorted(c))
        self.assertNotEqual(a["opralog/round_000/Entries.parquet"],
                            c["opralog/round_000/Entries.parquet"])

    def test_eav_keys_unique_and_dates_after_epoch(self):
        import pyarrow.parquet as pq
        out = os.path.join(self.dir, "d")
        fixtures.write_opralog_rounds(5, out, n_entries=300, rounds=2)
        last = os.path.join(out, "opralog", "round_002")
        mec = pq.read_table(os.path.join(last, "MoreEntryColumns.parquet")).to_pydict()
        keys = list(zip(mec["EntryId"], mec["AdditionalColumnId"]))
        self.assertEqual(len(keys), len(set(keys)))
        entries = pq.read_table(os.path.join(last, "Entries.parquet"))
        epoch = fixtures.EPOCH_US
        for col in ("EntryTimestamp", "LastChangedDate"):
            ts = entries.column(col).cast("int64").to_pylist()
            self.assertGreater(min(ts), epoch)
        # each round adds ~0.5% entries and touches ~1% more
        first = pq.read_table(os.path.join(out, "opralog", "round_000", "Entries.parquet"))
        self.assertEqual(entries.num_rows, first.num_rows + 2 * 2)


if __name__ == "__main__":
    unittest.main()
