"""Tests of the benchmark's own arithmetic, on hand-built timelines.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # 20 ops: p50 leaves ops 11..20 beyond it; p51 would leave only 9
        self.assertEqual(metrics.tail_percentile(list(range(1, 21))), (50, 10, 10))

    def test_hundred_ops_give_p90(self):
        self.assertEqual(metrics.tail_percentile(list(range(100, 0, -1))), (90, 90, 10))

    def test_too_few_ops(self):
        self.assertIsNone(metrics.tail_percentile(list(range(10))))
        self.assertEqual(metrics.tail_percentile(list(range(11)))[2], 10)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        iv = [(1, 3), (2, 5), (8, 12)]
        self.assertEqual(metrics.union_length(iv), 8)
        self.assertEqual(metrics.union_length(iv, 0, 10), 6)
        self.assertEqual(metrics.union_length([], 0, 10), 0)

    def test_self_time_is_duration_minus_covered_children(self):
        # children cover [1, 5] and [8, 10] of the span [0, 10]
        children = [(1, 3), (2, 5), (8, 12)]
        self.assertEqual(metrics.uncovered((0, 10), children), [(0, 1), (5, 8)])
        self.assertEqual(sum(e - s for s, e in metrics.uncovered((0, 10), children)),
                         10 - metrics.union_length(children, 0, 10))

    def test_self_time_without_children(self):
        self.assertEqual(metrics.uncovered((5, 9), []), [(5, 9)])

    def test_job_gap_counts_op_time_no_job_covers(self):
        ops = [(0, 10), (20, 30)]
        jobs = [(1, 4), (3, 6), (9, 21), (22, 30)]
        # op 1: [1, 6] and [9, 10] covered, 4 uncovered; op 2: 1 uncovered
        self.assertEqual(metrics.job_gap(ops, jobs), 5)


class Growth(unittest.TestCase):
    def test_last_quarter_over_first_quarter(self):
        self.assertEqual(metrics.op_growth([4, 4, 2, 2, 1, 1, 1, 1]), 0.25)
        self.assertEqual(metrics.op_growth([1, 2, 3, 4, 5, 6, 7, 8]), 7.5 / 1.5)

    def test_short_and_empty(self):
        self.assertEqual(metrics.op_growth([3]), 1.0)
        self.assertEqual(metrics.op_growth([]), 0.0)

    def test_grouped_by_pass_and_group(self):
        ops = [{"pass": 0, "group": g, "dur_s": d, "ok": True}
               for g, d in [("a", 1), ("b", 4), ("a", 2), ("b", 2)]]
        self.assertEqual(sorted(metrics.growth_by_group(ops)), [0.5, 2.0])

    def test_op_p50_over_kinds(self):
        ops = [{"pass": p, "group": g, "dur_s": d, "ok": True}
               for p, g, d in [(0, "a", 1), (0, "a", 2), (1, "a", 3), (0, "b", 10), (0, "b", 20)]]
        # kind a: median 2; kind b: median 15; their median 8.5
        self.assertEqual(metrics.op_p50(ops), 8.5)
        self.assertEqual(metrics.op_p50(ops[:3]), 2)


def raw_timeline():
    """A traced pass: one op span holding two jobs, one of them under an
    engine sink frame, the other with no engine frame."""
    return {
        "jvm_start_ms": 0, "session_start_ms": 100, "session_ready_ms": 1100,
        "timed_start_ms": 5000, "generation_s": 1.0, "warmup_s": 1.0,
        "passes": [
            {"pass": 0, "traced": False, "start_ms": 5000, "end_ms": 7000, "rows": 100,
             "input_bytes": 1000, "bytes_written": 3000},
            {"pass": 1, "traced": True, "start_ms": 7000, "end_ms": 9500, "rows": 100,
             "input_bytes": 1000, "bytes_written": 3000},
            {"pass": 2, "traced": False, "start_ms": 9500, "end_ms": 11000, "rows": 100,
             "input_bytes": 1000, "bytes_written": 3000},
        ],
        "ops": [
            {"pass": 0, "start_ms": 5000, "dur_s": 2.0, "ok": True, "group": ""},
            {"pass": 1, "start_ms": 7000, "dur_s": 2.5, "ok": True, "group": ""},
        ],
        "checks": [{"name": "c", "ok": True, "detail": ""}],
        "state_bytes": 500, "live_rows": 50, "retained_heap_bytes": 2 ** 21,
        "codegen": {"traced_compiles": 1, "traced_compile_ns": 5e8},
        "counters": {"sinks.rows_matched": 10.0, "sinks.rows_modified": 5.0},
        "trace": {
            "spans": [{"id": 1, "name": "BulkUpdateJob.run", "layer": "jobs", "parent": 0,
                       "start_ms": 7000, "end_ms": 9500}],
            "jobs": [
                {"id": 0, "submit_ms": 7500, "end_ms": 8500, "span": 1, "call_site":
                 "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:1)\n"
                 "graft.sinks.MergeSink$.mergeInto(MergeSink.scala:246)\n"
                 "graft.jobs.BulkUpdateJob$.run(BulkUpdateJob.scala:56)",
                 "tasks": 4, "failed_tasks": 0, "task_ms": 3000, "gc_ms": 100,
                 "fetch_wait_ms": 0, "shuffle_read_bytes": 10, "shuffle_write_bytes": 20,
                 "input_bytes": 30, "output_bytes": 40},
                {"id": 1, "submit_ms": 9000, "end_ms": 9200, "span": 1, "call_site":
                 "org.apache.spark.sql.Dataset.count(Dataset.scala:1)\n"
                 "perfbench.BulkUpsert$.pass(BulkUpsert.scala:9)",
                 "tasks": 1, "failed_tasks": 1, "task_ms": 100, "gc_ms": 0,
                 "fetch_wait_ms": 5, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                 "input_bytes": 0, "output_bytes": 0},
            ],
        },
    }


FILES = {"MergeSink.scala": "sinks", "BulkUpdateJob.scala": "jobs"}


class Reduce(unittest.TestCase):
    def test_end_to_end(self):
        e2e, _ = metrics.end_to_end(raw_timeline(), 0)
        self.assertEqual(e2e["setup_s"], 5.0)
        self.assertEqual(e2e["run_s"], 1.75)  # the untraced passes only
        self.assertEqual(e2e["rows_per_s"], (50.0 + 100 / 1.5) / 2)
        self.assertEqual(e2e["op_p50_s"], 2.0)
        self.assertEqual(e2e["write_amp"], 3.0)
        self.assertEqual(e2e["state_bytes_per_row"], 10.0)
        self.assertEqual(e2e["retained_heap_mb"], 2.0)
        self.assertEqual(e2e["failed_ratio"], 0.0)

    def test_per_layer_attribution(self):
        m = metrics.per_layer(raw_timeline(), FILES)
        # the sink job by its innermost engine frame, the other by its span
        self.assertEqual(m["sinks.jobs"], 1)
        self.assertEqual(m["jobs.jobs"], 1)
        self.assertEqual(m["sinks.task_s"], 3.0)
        self.assertEqual(m["sinks.output_bytes"], 40)
        self.assertEqual(m["jobs.calls"], 1)
        self.assertEqual(m["jobs.wall_s"], 2.5)
        # span 2.5 s minus the 1.2 s its jobs cover; plus the 0.2 s job itself
        self.assertAlmostEqual(m["jobs.self_s"], 1.3 + 0.2)
        self.assertEqual(m["sinks.self_s"], 1.0)
        self.assertEqual(m["session.job_gap_s"], 1.3)
        self.assertEqual(m["session.job_p50_s"], 0.6)
        self.assertEqual(m["session.build_s"], 1.0)
        self.assertEqual(m["session.failed_tasks"], 1)
        self.assertEqual(m["session.codegen_compiles"], 1)
        self.assertEqual(m["sinks.modified_ratio"], 0.5)
        # the traced pass against the untraced pass after it
        self.assertEqual(m["trace.untraced_run_s"], 1.5)
        self.assertEqual(m["trace.overhead_s"], 1.0)
        self.assertEqual(m["streaming.batches"], 0.0)

    def test_per_layer_over_two_traced_passes(self):
        # a second traced pass (3) with its own span and job: the counters
        # cover both traced passes, and each span's self time excludes
        # only its own jobs
        raw = raw_timeline()
        t = 20000
        raw["passes"] += [
            {"pass": 3, "traced": True, "start_ms": t, "end_ms": t + 3000, "rows": 100,
             "input_bytes": 1000, "bytes_written": 3000},
            {"pass": 4, "traced": False, "start_ms": t + 3000, "end_ms": t + 4000, "rows": 100,
             "input_bytes": 1000, "bytes_written": 3000},
        ]
        raw["ops"].append({"pass": 3, "start_ms": t, "dur_s": 3.0, "ok": True, "group": ""})
        raw["trace"]["spans"].append({"id": 2, "name": "BulkUpdateJob.run", "layer": "jobs",
                                      "parent": 0, "start_ms": t, "end_ms": t + 3000})
        job = dict(raw["trace"]["jobs"][0], id=2, submit_ms=t + 1000, end_ms=t + 2000, span=2)
        raw["trace"]["jobs"].append(job)
        m = metrics.per_layer(raw, FILES)
        self.assertEqual(m["sinks.jobs"], 2)
        self.assertEqual(m["sinks.task_s"], 6.0)
        self.assertEqual(m["sinks.self_s"], 2.0)
        self.assertEqual(m["jobs.calls"], 2)
        self.assertEqual(m["jobs.wall_s"], 5.5)
        # pass 1 as before (1.3 + 0.2), pass 3: 3 s minus its 1 s job
        self.assertAlmostEqual(m["jobs.self_s"], 1.5 + 2.0)
        self.assertAlmostEqual(m["session.job_gap_s"], 1.3 + 2.0)
        self.assertEqual(m["trace.run_s"], 2.75)


if __name__ == "__main__":
    unittest.main()
