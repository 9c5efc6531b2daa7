"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import pathlib
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

BENCHMARK = pathlib.Path(__file__).resolve().parent.parent / "BENCHMARK.json"


class GeneratorTest(unittest.TestCase):
    def test_alma_is_deterministic_per_seed(self):
        self.assertEqual(gen.alma_rows(7, 500), gen.alma_rows(7, 500))

    def test_alma_seeds_differ(self):
        self.assertNotEqual(gen.alma_rows(7, 500)[0], gen.alma_rows(8, 500)[0])

    def test_alma_files_are_byte_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, n) for n in "abc")
            gen.write_alma(a, 3, 300)
            gen.write_alma(b, 3, 300)
            gen.write_alma(c, 4, 300)
            read = [pathlib.Path(p).read_bytes() for p in (a, b, c)]
            self.assertEqual(read[0], read[1])
            self.assertNotEqual(read[0], read[2])

    def test_alma_groups_pin_their_years(self):
        rows, truth = gen.alma_rows(11, 3000)
        self.assertGreaterEqual(len(rows), 3000)
        groups = {}
        for r, t in zip(rows, truth):
            groups.setdefault(r[0], []).append(t)
        for items in groups.values():
            self.assertTrue(5 <= len(items) <= 200, len(items))
            self.assertEqual(items[0]["grammar"], "std4")
            years = [int(t["chron_i"]) for t in items if t["chron_i"]]
            self.assertEqual(years, sorted(years))
        bad = sum(r[2] == "" or r[2].startswith("i") for r in rows)
        self.assertTrue(0.005 < bad / len(rows) < 0.04, bad)
        self.assertEqual({t["grammar"] for t in truth},
                         {g for g, _ in gen.GRAMMARS})

    def test_tables_are_deterministic_per_seed(self):
        a, b, c = gen.tables(1), gen.tables(1), gen.tables(2)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))


class StatisticsTest(unittest.TestCase):
    def test_median_and_geomean(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 2, 3]), 2.5)
        self.assertAlmostEqual(metrics.geomean([1, 4, 16]), 4.0)
        self.assertAlmostEqual(metrics.geomean([2.5]), 2.5)

    def test_highest_percentile_needs_ten_samples_above(self):
        self.assertIsNone(metrics.highest_percentile(10))
        self.assertEqual(metrics.highest_percentile(20), 50)
        self.assertEqual(metrics.highest_percentile(100), 90)
        self.assertEqual(metrics.highest_percentile(1000), 99)
        for n in (11, 24, 57, 1000):
            p = metrics.highest_percentile(n)
            above = n - metrics.percentile(list(range(1, n + 1)), p)
            self.assertGreaterEqual(above, 10, n)

    def test_nearest_rank_percentile(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile([5.0], 99), 5.0)

    def test_failed_ops_and_their_passes_are_not_timed(self):
        def op(name, p, start, end, ok=True):
            return {"name": name, "pass": p, "start_us": start * 10 ** 6,
                    "end_us": end * 10 ** 6, "ok": ok}
        record = {
            "passes": [{"pass": 0, "start_us": 0, "end_us": 3 * 10 ** 6},
                       {"pass": 1, "start_us": 3 * 10 ** 6,
                        "end_us": 4 * 10 ** 6}],
            "ops": [op("a", 0, 0, 1), op("b", 0, 1, 3),
                    op("a", 1, 3, 3.5), op("b", 1, 3.5, 4, ok=False)]}
        ops, passes = metrics.measured_times(record)
        self.assertEqual(ops, {"a": [1.0, 0.5], "b": [2.0]})
        self.assertEqual(passes, [3.0])


SNAPSHOTS_SITE = """\
org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:12)
graft.Tables$.apply(Tables.scala:24)
graft.operators.Snapshots$.$anonfun$commit$3(Snapshots.scala:812)
graft.SparkEntry$.$anonfun$queries$42(SparkEntry.scala:640)
perfbench.Main$.runOp$1(Main.scala:108)"""

BENCH_SITE = """\
org.apache.spark.sql.classic.DataFrameWriter.save(DataFrameWriter.scala:120)
perfbench.Main$.$anonfun$main$6(Main.scala:111)
perfbench.Main$OpRun.phase(Main.scala:62)"""

POOL_SITE = """\
org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)
java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)
java.base/java.lang.Thread.run(Thread.java:840)"""


class AttributionTest(unittest.TestCase):
    def test_first_known_program_frame_wins(self):
        # graft.Tables is not a measured module, so Snapshots is next
        self.assertEqual(metrics.module_of(SNAPSHOTS_SITE), "Snapshots")

    def test_benchmark_frames_are_bench(self):
        self.assertEqual(metrics.module_of(BENCH_SITE), "bench")

    def test_nested_and_inner_classes(self):
        site = "graft.sources.CsvStage$.writeStage(CsvStage.scala:70)\n" \
               "graft.operators.Pipeline$.run(Pipeline.scala:50)"
        self.assertEqual(metrics.module_of(site), "CsvStage")
        self.assertEqual(metrics.module_of(
            "at graft.functions.Materialize$Frame.apply(Materialize.scala:9)"),
            "Materialize")

    def test_frames_are_attributed_by_source_file(self):
        # GraftDml.scala defines no class named GraftDml
        site = "org.apache.spark.sql.execution.SparkPlan.execute(SparkPlan.scala:9)\n" \
               "graft.plans.GraftDmlExec.doExecute(GraftDml.scala:262)\n" \
               "graft.SparkEntry$.$anonfun$queries$7(SparkEntry.scala:300)"
        self.assertEqual(metrics.module_of(site), "GraftDml")
        self.assertEqual(metrics.module_of(
            "graft.plans.GraftMergeIntoCommand.run(GraftDml.scala:220)"),
            "GraftDml")
        # graft.Main is not a module, whatever its file is called
        self.assertIsNone(metrics.module_of("graft.Main$.main(Main.scala:5)"))
        self.assertIsNone(metrics.module_of(
            "graft.Foo$.bar(Unknown Source)"))

    def test_no_program_frame(self):
        self.assertIsNone(metrics.module_of(POOL_SITE))
        self.assertIsNone(metrics.module_of(""))

    def test_pool_jobs_fall_back_to_their_sql_execution(self):
        job = {"call_site": POOL_SITE, "exec_call_site": SNAPSHOTS_SITE}
        self.assertEqual(metrics.job_module(job), "Snapshots")
        self.assertEqual(metrics.job_module(
            {"call_site": POOL_SITE, "exec_call_site": ""}), metrics.OTHER)


class SpanTest(unittest.TestCase):
    def test_union_length_merges_and_clips(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(metrics.union_length([(-5, 5), (95, 120)], 0, 100), 10)
        self.assertEqual(metrics.union_length([(3, 4), (0, 10)], 0, 100), 10)
        self.assertEqual(metrics.union_length([], 0, 100), 0)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": "op", "parent": None, "start": 0, "end": 100},
            {"id": "a", "parent": "op", "start": 10, "end": 40},
            {"id": "b", "parent": "op", "start": 30, "end": 60},
            {"id": "j", "parent": "a", "start": 15, "end": 25},
            # a child overrunning its parent only covers the parent's part
            {"id": "late", "parent": "b", "start": 50, "end": 70},
        ]
        own = metrics.self_times(spans)
        self.assertEqual(own, {"op": 50, "a": 20, "b": 20, "j": 10, "late": 20})

    def test_dup_stage_counts_recomputed_rdds(self):
        stages = [
            {"id": 2, "rdds": [3, 4], "executor_run_ms": 50},
            {"id": 1, "rdds": [1, 2, 3], "executor_run_ms": 10},
            {"id": 3, "rdds": [9], "executor_run_ms": 7},
        ]
        self.assertEqual(metrics.dup_stage_ms(stages), 50)


def _record():
    """Two passes, the second traced: one op with two phases and two jobs."""
    ms = 1000
    op = {"name": "q", "pass": 1, "traced": True, "start_us": 0,
          "end_us": 100 * ms, "ok": True,
          "phases": [{"name": "build", "start_us": 0, "end_us": 40 * ms},
                     {"name": "exec", "start_us": 40 * ms, "end_us": 100 * ms}],
          "counts": {"fs.bytes_read": 5}}
    return {
        "cpus": 4,
        "passes": [{"pass": 0, "traced": False, "start_us": -300 * ms,
                    "end_us": -180 * ms},
                   {"pass": 1, "traced": True, "start_us": 0, "end_us": 100 * ms}],
        "ops": [dict(op, traced=False, **{"pass": 0}), op],
        "jobs": [{"id": 1, "op": "1/q", "start_ms": 10, "end_ms": 30,
                  "call_site": SNAPSHOTS_SITE},
                 {"id": 2, "op": "1/q", "start_ms": 50, "end_ms": 90,
                  "call_site": BENCH_SITE}],
        "stages": [{"id": 1, "attempt": 0, "op": "1/q", "job": 1,
                    "submit_ms": 12, "end_ms": 28, "rdds": [1],
                    "tasks": 4, "tiny_tasks": 3, "executor_run_ms": 40,
                    "executor_cpu_ms": 30, "gc_ms": 0,
                    "shuffle_read_bytes": 0, "shuffle_write_bytes": 8,
                    "input_bytes": 100, "spill_bytes": 0, "result_bytes": 0},
                   {"id": 2, "attempt": 0, "op": "1/q", "job": 2,
                    "submit_ms": 50, "end_ms": 90, "rdds": [1, 2],
                    "tasks": 4, "tiny_tasks": 0, "executor_run_ms": 120,
                    "executor_cpu_ms": 100, "gc_ms": 5,
                    "shuffle_read_bytes": 8, "shuffle_write_bytes": 0,
                    "input_bytes": 0, "spill_bytes": 0, "result_bytes": 64}],
        "plans": [{"end_ms": 35, "plan_ms": 6}, {"end_ms": -200, "plan_ms": 9}],
    }


class LayerMetricsTest(unittest.TestCase):
    def test_traced_pass_metrics(self):
        m, spans = metrics.layer_metrics(_record(), {})
        self.assertEqual(m["jobs"], 2)
        self.assertEqual(m["jobs.Snapshots"], 1)
        self.assertEqual(m["jobs.bench"], 1)
        self.assertEqual(m["job_ms.bench"], 40)
        self.assertEqual(m["tiny_tasks"], 3)
        self.assertEqual(m["build_ms"], 40)
        self.assertEqual(m["exec_ms"], 60)
        # jobs cover 10-30 and 50-90 of the op's 100 ms
        self.assertEqual(m["driver_only_ms"], 40)
        self.assertEqual(m["dup_stage_ms"], 120)
        self.assertEqual(m["sql_executions"], 1)
        self.assertEqual(m["plan_ms"], 6)
        self.assertAlmostEqual(m["core_util"], 160 / (100 * 4))
        self.assertEqual(m["fs.bytes_read"], 5)
        self.assertAlmostEqual(m["trace_overhead_s"], 0.1 - 0.12)
        # the op is fully covered by its phases; the exec phase is
        # covered by its job for 40 of 60 ms
        self.assertEqual(m["self_ms.op"], 0)
        self.assertEqual(m["self_ms.phase"], 40)
        job_parents = {s["id"]: s["parent"] for s in spans if s["kind"] == "job"}
        self.assertEqual(job_parents, {"j1": "1/q/build", "j2": "1/q/exec"})


class DeclarationTest(unittest.TestCase):
    def test_benchmark_json_names_what_the_runs_print(self):
        bench = json.loads(BENCHMARK.read_text())
        self.assertEqual({w["name"] for w in bench["workloads"]},
                         set(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         run.END_TO_END_UNITS)
        layer, _ = metrics.layer_metrics(_record(), {})
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         {k: run.layer_unit(k) for k in layer})


if __name__ == "__main__":
    unittest.main()
