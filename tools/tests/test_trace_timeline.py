"""Unit tests of tools/trace_timeline.py on a synthetic trace record.

    python3 -m unittest discover -s tools/tests
"""
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import trace_timeline  # noqa: E402

SPARK_ONLY = ("org.apache.spark.sql.execution.SQLExecution$.x(SQLExecution.scala:1)\n"
              "java.base/java.lang.Thread.run(Thread.java:840)")


def record():
    """Two operations; the second is traced and runs three jobs: one with
    its own program frame, one AQE job that carries only Spark frames (its
    SQL execution holds the call site) and one still running."""
    return {
        "workload": "assembly_refresh", "seed": 1,
        "ops": [
            {"traced": False, "wall_s": 2.0, "cpu_s": 7.5, "jit_s": 4.0,
             "codegens": 8, "start_ms": 1000, "end_ms": 3000,
             "jobs": [[1, 1100, 1200], [2, 1300, 1400]], "trace": None},
            {"traced": True, "wall_s": 1.5, "cpu_s": 5.0, "jit_s": 3.0,
             "codegens": 0, "start_ms": 10000, "end_ms": 11500,
             "jobs": [[5, 10050, 10100], [6, 10020, 10090], [7, 10400, 10500]],
             "trace": {
                 "jobs": [
                     {"id": 5, "start_ms": 10050, "end_ms": 10100, "execution": 3,
                      "stack": SPARK_ONLY, "ok": True},
                     {"id": 6, "start_ms": 10020, "end_ms": 10090, "execution": None,
                      "stack": "org.apache.spark.rdd.RDD.collect(RDD.scala:1)\n"
                               "graft.ext.Dedup$.collectUnder(Dedup.scala:10)\n"
                               "graft.ext.Refresh$.delta(Refresh.scala:20)",
                      "ok": True},
                     {"id": 7, "start_ms": 10400, "end_ms": None, "execution": 3,
                      "stack": SPARK_ONLY, "ok": None},
                 ],
                 "stages": [
                     {"id": 11, "job": 5, "tasks": 4, "failed": 0, "task_ms": 120,
                      "delay_ms": 3, "read_bytes": 0, "write_bytes": 512, "spill_bytes": 0},
                     {"id": 12, "job": 5, "tasks": 1, "failed": 0, "task_ms": 9,
                      "delay_ms": 1, "read_bytes": 512, "write_bytes": 0, "spill_bytes": 0},
                     {"id": 10, "job": 6, "tasks": 2, "failed": 0, "task_ms": 30,
                      "delay_ms": 0, "read_bytes": 0, "write_bytes": 0, "spill_bytes": 0},
                 ],
                 "executions": {
                     "3": {"root": 3,
                           "stack": "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)\n"
                                    "graft.ext.Refresh$.pinned(Refresh.scala:30)\n"
                                    "graft.queries.Declared$.x(Declared.scala:40)"},
                 },
             }},
        ],
    }


class TraceTimelineTest(unittest.TestCase):
    def test_op_rows(self):
        rows = trace_timeline.op_rows(record())
        self.assertEqual([(r["op"], r["traced"], r["wall_s"], r["jit_s"],
                           r["codegens"], r["jobs"]) for r in rows],
                         [(0, False, 2.0, 4.0, 8, 2), (1, True, 1.5, 3.0, 0, 3)])

    def test_timeline_orders_jobs_and_offsets_them(self):
        tl = trace_timeline.timeline(record()["ops"][1])
        self.assertEqual([j["job"] for j in tl], [6, 5, 7])
        self.assertEqual([(j["start_ms"], j["end_ms"]) for j in tl],
                         [(20, 90), (50, 100), (400, None)])
        self.assertEqual([j["execution"] for j in tl], [None, 3, 3])

    def test_stages_belong_to_their_job(self):
        tl = {j["job"]: j for j in trace_timeline.timeline(record()["ops"][1])}
        self.assertEqual([(s["id"], s["tasks"], s["task_ms"], s["read_bytes"],
                           s["write_bytes"]) for s in tl[5]["stages"]],
                         [(11, 4, 120, 0, 512), (12, 1, 9, 512, 0)])
        self.assertEqual(tl[7]["stages"], [])

    def test_first_graft_frame_falls_back_to_the_execution(self):
        tl = {j["job"]: j for j in trace_timeline.timeline(record()["ops"][1])}
        self.assertEqual(tl[6]["frame"], "graft.ext.Dedup$.collectUnder(Dedup.scala:10)")
        self.assertEqual(tl[5]["frame"], "graft.ext.Refresh$.pinned(Refresh.scala:30)")

    def test_render_names_the_last_traced_op(self):
        text = trace_timeline.render(record())
        self.assertIn("op 1 timeline", text)
        self.assertIn("[11 4 120 0 512] [12 1 9 512 0]", text)
        untraced = record()
        untraced["ops"] = untraced["ops"][:1]
        self.assertIn("no traced operation", trace_timeline.render(untraced))


if __name__ == "__main__":
    unittest.main()
