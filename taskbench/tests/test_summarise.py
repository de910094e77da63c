"""Tests of how run.py turns harness records into the result line.

    python3 -m unittest discover -s taskbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402


def batch_records():
    """The records of a finished batch_tasks run with two rotations of one query."""
    ops = [{"kind": "op", "phase": "timed", "query": "q_mean_hour", "ms": ms, "exec_ms": ms / 2,
            "rows": 720, "ok": True} for ms in (100.0, 120.0, 110.0, 130.0)]
    return [
        {"kind": "start", "jvm_args": []},
        {"kind": "op", "phase": "setup", "query": "q_mean_hour", "ms": 900.0, "exec_ms": 400.0,
         "rows": 720, "ok": True},
        {"kind": "setup", "setup_s": 9.5, "first_op": "q_mean_hour"},
        {"kind": "check", "s": 3.0, "items": [{"query": "q_mean_hour", "kind": "oracle"}]},
        *ops,
        {"kind": "measure", "window_s": 2.0, "rotations": 4, "input_rows_per_rotation": 1000,
         "peak_rss_mb": 4000.0, "jvm.gc_ms": 5.0, "jvm.jit_ms": 50.0, "jvm.cpu_s": 3.0},
        {"kind": "end"},
    ]


ORACLE_OK = {"q_mean_hour": (True, "digest", 720)}


class SummariseTest(unittest.TestCase):
    def test_a_finished_run_is_correct_with_every_metric(self):
        res, problems = run.summarise("batch_tasks", 0, batch_records(), 0, ORACLE_OK)
        self.assertEqual(problems, [])
        self.assertTrue(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (5, 0))
        self.assertEqual(set(res["metrics"]), set(run.END_TO_END))
        self.assertEqual(res["metrics"]["setup_s"]["value"], 9.5)
        self.assertEqual(res["metrics"]["runs_per_s"]["value"], 2.0)
        self.assertEqual(res["metrics"]["run_ms_p50"]["value"], 115.0)

    def test_cold_setup_minus_a_warm_op_is_the_warmup(self):
        recs = batch_records() + [{"kind": "trace", "build.ms": 10.0}]
        res, _ = run.summarise("batch_tasks", 1, recs, 0, ORACLE_OK)
        self.assertEqual(set(res["metrics"]), set(run.PER_LAYER))
        self.assertAlmostEqual(res["metrics"]["jvm.warmup_s"]["value"], 9.5 - 0.115)
        self.assertEqual(res["metrics"]["build.ms"]["value"], 10.0)

    def test_a_truncated_run_still_gets_a_result_line(self):
        recs = batch_records()
        for cut in range(len(recs)):
            for code in (None, 1, 0):
                res, problems = run.summarise("batch_tasks", 0, recs[:cut], code, {})
                self.assertFalse(res["correct"], (cut, code))
                self.assertGreaterEqual(res["failed"], 1)
                self.assertGreaterEqual(res["attempted"], res["failed"])
                self.assertEqual(set(res["metrics"]), set(run.END_TO_END))
                self.assertTrue(problems)

    def test_a_timeout_after_the_end_record_is_still_a_failure(self):
        res, problems = run.summarise("batch_tasks", 0, batch_records(), None, ORACLE_OK)
        self.assertFalse(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (6, 1))
        self.assertIn("timed out", problems[0])

    def test_an_oracle_mismatch_fails_every_op_of_the_query(self):
        bad = {"q_mean_hour": (False, "1/720 rows differ", 720)}
        res, _ = run.summarise("batch_tasks", 0, batch_records(), 0, bad)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 5)

    def test_a_wrong_row_count_fails_the_op(self):
        recs = batch_records()
        recs[5] = dict(recs[5], rows=719)
        res, _ = run.summarise("batch_tasks", 0, recs, 0, ORACLE_OK)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)


class HeapTest(unittest.TestCase):
    def test_memory_sizes(self):
        self.assertEqual(run.mem_mb("8g"), 8192)
        self.assertEqual(run.mem_mb("3G"), 3072)
        self.assertEqual(run.mem_mb("4096m"), 4096)
        self.assertEqual(run.mem_mb(str(2 << 30)), 2048)

    def test_initial_heap_never_exceeds_the_maximum(self):
        old = os.environ.get("SPARK_DRIVER_MEM")
        try:
            for mem, xms in (("2g", "-Xms2048m"), ("8g", "-Xms4096m")):
                os.environ["SPARK_DRIVER_MEM"] = mem
                self.assertIn(xms, run.jvm_flags())
        finally:
            if old is None:
                os.environ.pop("SPARK_DRIVER_MEM", None)
            else:
                os.environ["SPARK_DRIVER_MEM"] = old


if __name__ == "__main__":
    unittest.main()
