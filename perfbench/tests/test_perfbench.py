"""Unit tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import analysis  # noqa: E402
import checks  # noqa: E402
import inputs  # noqa: E402

# Call sites as Spark records them (spark.callstack.depth=200), taken from
# an x114 refresh: a checkpoint inside Par.both's first argument, on the
# calling thread ...
CALLER_LEG = """org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:231)
graft.ext.Refresh$.ccnetRefreshDelta(Refresh.scala:453)
graft.ext.Refresh$.asmRefresh(Refresh.scala:756)
graft.queries.Declared$.$anonfun$all$237(Declared.scala:8341)
graft.ext.Par$.both(Par.scala:29)
graft.queries.Declared$.$anonfun$all$236(Declared.scala:8344)
perfbench.AssemblyRefresh.refresh(AssemblyRefresh.scala:20)
perfbench.Main$.main(Main.scala:99)
perfbench.Main.main(Main.scala)"""

# ... one inside its second argument, on Par.both's pooled thread ...
POOLED_LEG = """org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:231)
graft.ext.Refresh$.asmBuildState(Refresh.scala:733)
graft.queries.Declared$.$anonfun$all$239(Declared.scala:8346)
scala.concurrent.Future$.$anonfun$apply$1(Future.scala:691)
scala.concurrent.impl.Promise$Transformation.run(Promise.scala:500)
java.base/java.util.concurrent.ForkJoinTask$RunnableExecuteAction.exec(ForkJoinTask.java:1395)
java.base/java.util.concurrent.ForkJoinPool.runWorker(ForkJoinPool.java:1622)
java.base/java.util.concurrent.ForkJoinWorkerThread.run(ForkJoinWorkerThread.java:165)"""

# ... and a job AQE submitted for such an execution from a Spark thread.
SPARK_THREAD = """org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)
java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)
java.base/java.util.concurrent.ThreadPoolExecutor.runWorker(ThreadPoolExecutor.java:1136)
java.base/java.lang.Thread.run(Thread.java:840)"""

AFTER_PAR = """org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:800)
graft.queries.Declared$.$anonfun$all$236(Declared.scala:8360)
perfbench.Main.main(Main.scala)"""


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertEqual(analysis.percentile(list(range(1, 101)), 90), 90)
        self.assertEqual(analysis.percentile(list(range(110, 0, -1)), 90), 99)
        with self.assertRaises(ValueError):
            analysis.percentile(list(range(1, 100)), 90)  # 9 beyond

    def test_median_rank(self):
        self.assertEqual(analysis.percentile(list(range(1, 21)), 50), 10)
        with self.assertRaises(ValueError):
            analysis.percentile([], 50)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(analysis.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(analysis.union_length([(5, 8), (0, 5)]), 8)
        self.assertEqual(analysis.union_length([]), 0)

    def test_union_clips_to_window(self):
        self.assertEqual(analysis.union_length([(0, 10), (5, 15), (20, 25)], (8, 22)), 9)

    def test_driver_gap(self):
        jobs = [(0, 10), (5, 15), (20, 25)]
        self.assertEqual(analysis.driver_gap((0, 30), jobs), 10)
        self.assertEqual(analysis.driver_gap((8, 22), jobs), 5)
        # concurrent jobs (the two Par.both legs) are not counted twice
        self.assertEqual(analysis.driver_gap((0, 10), [(0, 10), (0, 10)]), 0)


class AttributionTest(unittest.TestCase):
    def test_module_of_frame(self):
        m = analysis.module_of_frame
        self.assertEqual(m("graft.ext.Dedup$.dupClusters(Dedup.scala:10)"), "ext.Dedup")
        self.assertEqual(m("graft.ext.Hints$$anon$1.apply(Hints.scala:3)"), "ext.Hints")
        self.assertEqual(m("graft.queries.Declared$.$anonfun$all$1(Declared.scala:1)"), "queries")
        self.assertEqual(m("graft.streaming.Truncation$.execute(Truncation.scala:60)"), "streaming")
        self.assertEqual(m("graft.Tables$.load(Tables.scala:30)"), "Tables")
        self.assertIsNone(m("perfbench.Main$.main(Main.scala:1)"))
        self.assertIsNone(m("org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)"))

    def test_first_program_frame_wins(self):
        self.assertEqual(analysis.first_module(CALLER_LEG), "ext.Refresh")
        self.assertEqual(analysis.first_module(AFTER_PAR), "queries")
        self.assertIsNone(analysis.first_module(SPARK_THREAD))

    def test_par_legs(self):
        self.assertEqual(analysis.par_leg(CALLER_LEG), "incremental")
        self.assertEqual(analysis.par_leg(POOLED_LEG), "rebuild")
        self.assertIsNone(analysis.par_leg(AFTER_PAR))
        self.assertIsNone(analysis.par_leg(SPARK_THREAD))

    def test_job_without_program_frame_takes_its_execution(self):
        executions = {"64": {"root": 64, "stack": POOLED_LEG},
                      "70": {"root": 64, "stack": SPARK_THREAD}}
        pooled = {"id": 1, "stack": SPARK_THREAD, "execution": 64}
        self.assertEqual(analysis.attribute(pooled, executions), ("ext.Refresh", "rebuild"))
        nested = {"id": 2, "stack": SPARK_THREAD, "execution": 70}
        self.assertEqual(analysis.attribute(nested, executions), ("ext.Refresh", "rebuild"))
        own = {"id": 3, "stack": CALLER_LEG, "execution": 64}
        self.assertEqual(analysis.attribute(own, executions), ("ext.Refresh", "incremental"))
        orphan = {"id": 4, "stack": SPARK_THREAD, "execution": None}
        self.assertEqual(analysis.attribute(orphan, executions), ("other", None))

    def test_trace_layers_totals(self):
        op = {"start_ms": 0, "end_ms": 10_000, "wall_s": 10.0, "codegens": 3, "jit_s": 1.5,
              "gc_s": 0.25, "trace": {
            "jobs": [
                {"id": 0, "start_ms": 1000, "end_ms": 4000, "stack": CALLER_LEG, "execution": None},
                {"id": 1, "start_ms": 2000, "end_ms": 6000, "stack": POOLED_LEG, "execution": None},
                {"id": 2, "start_ms": 7000, "end_ms": 8000, "stack": AFTER_PAR, "execution": None}],
            "stages": [
                {"id": 0, "job": 0, "tasks": 4, "failed": 0, "task_ms": 4000, "delay_ms": 40,
                 "read_bytes": 0, "write_bytes": 1048576, "spill_bytes": 0},
                {"id": 1, "job": 1, "tasks": 2, "failed": 1, "task_ms": 2000, "delay_ms": 20,
                 "read_bytes": 1048576, "write_bytes": 0, "spill_bytes": 0},
                {"id": 2, "job": 2, "tasks": 2, "failed": 0, "task_ms": 2000, "delay_ms": 0,
                 "read_bytes": 0, "write_bytes": 0, "spill_bytes": 0}],
            "executions": {}}}
        t = analysis.trace_layers(op, cores=4)
        self.assertEqual(t["spark.jobs"], 3)
        self.assertEqual(t["spark.tasks"], 8)
        self.assertEqual(t["spark.failed_tasks"], 1)
        self.assertAlmostEqual(t["spark.task_s"], 8.0)
        self.assertAlmostEqual(t["spark.driver_gap_s"], 10.0 - 6.0)
        self.assertAlmostEqual(t["spark.core_busy_ratio"], 8.0 / 40.0)
        self.assertEqual(t["ext.Refresh.jobs"], 2)
        self.assertAlmostEqual(t["ext.Refresh.wall_s"], 5.0)
        self.assertAlmostEqual(t["ext.Refresh.task_s"], 6.0)
        self.assertAlmostEqual(t["queries.task_s"], 2.0)
        self.assertEqual(t["ext.Par.incremental_jobs"], 1)
        self.assertAlmostEqual(t["ext.Par.rebuild_s"], 4.0)


class RelabelTest(unittest.TestCase):
    def test_bijection(self):
        ids = list(range(500))
        for seed in (0, 1, 7, 2**31):
            m = inputs.relabel(ids, seed)
            self.assertEqual(sorted(m), ids)
            self.assertEqual(sorted(m.values()), ids)

    def test_seeded(self):
        ids = [3, 17, 42, 99, 1000]
        self.assertEqual(inputs.relabel(ids, 5), inputs.relabel(list(reversed(ids)), 5))
        self.assertNotEqual(inputs.relabel(list(range(500)), 1), inputs.relabel(list(range(500)), 2))

    def test_rejects_duplicates(self):
        with self.assertRaises(ValueError):
            inputs.relabel([1, 1, 2], 0)


def datagen_batches(n_batches, extra):
    """The per-batch record a correct loop produces, replayed here."""
    n = extra["records_per_batch"]
    earliest = {}
    out = []
    for b in range(n_batches):
        truncs, counts = [], []
        cum = {}
        for i in range((b + 1) * n):  # brute force over the ids
            key = (extra["topics"][i % len(extra["topics"])], i % extra["partitions"])
            cum[key] = cum.get(key, 0) + 1
        for (t, p), c in sorted(cum.items()):
            counts.append([extra["cluster"], t, p, c])
            if c - earliest.get((t, p), 0) >= extra["max_depth"]:
                truncs.append([t, p, c])
                earliest[(t, p)] = c
        out.append({"batch": b, "counts": counts, "truncations": truncs,
                    "health": {"up": True, "status_up": True, "partitions": len(cum),
                               "records": (b + 1) * n}})
    return out


class DatagenCheckTest(unittest.TestCase):
    extra = {"records_per_batch": 2000, "partitions": 4, "cluster": "bench",
             "topics": ["t-a", "t-b", "t-c"], "max_depth": 5000}

    def test_round_robin_counts(self):
        c = checks.counts_below(["a", "b", "c"], 4, 2000)
        self.assertEqual(len(c), 12)
        self.assertEqual(sum(c.values()), 2000)
        self.assertEqual(c[("a", 0)], 167)  # ids = 0 mod 12 below 2000
        self.assertEqual(c[("c", 3)], 166)  # ids = 11 mod 12 below 2000
        self.assertEqual(sum(checks.counts_below(["a", "b", "c"], 4, 0).values()), 0)

    def test_correct_loop_passes(self):
        batches = datagen_batches(40, self.extra)
        self.assertTrue(any(b["truncations"] for b in batches))
        self.assertEqual(checks.check_datagen(batches, self.extra)[:2], (40, 0))

    def test_wrong_results_fail_their_batch(self):
        batches = datagen_batches(40, self.extra)
        batches[3]["counts"][0][3] += 1
        batches[5]["counts"][1][0] = "parse-error"
        batches[9]["health"]["up"] = False
        first = next(i for i, b in enumerate(batches) if b["truncations"])
        batches[first]["truncations"] = []
        attempted, failed, problems = checks.check_datagen(batches, self.extra)
        self.assertEqual((attempted, failed), (40, 4))


class RefreshCheckTest(unittest.TestCase):
    def test_manifest_against_oracle(self):
        cols = ["shard", "n_docs", "incr_match"]
        rows = [[0, 3, True], [1, 2.0000001, True]]
        expected = checks.canon(["incr_match", "n_docs", "shard"], [(True, 2.0, 1), (True, 3, 0)])
        self.assertEqual(checks.check_refresh([{"columns": cols, "rows": rows}], expected)[:2], (1, 0))
        drift = [[0, 3, True], [1, 2.0, False]]
        self.assertEqual(checks.check_refresh([{"columns": cols, "rows": drift}], expected)[:2], (1, 1))


if __name__ == "__main__":
    unittest.main()
