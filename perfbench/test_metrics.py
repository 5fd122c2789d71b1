"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


def record(**over):
    """A small traced run record: one pass of two ops.

    op 0 (commit, 0-100 ms): span lake.merge 10-90 holding a nested
    lake.resolve 20-30 and a job 40-70; op 1 (read, 100-150 ms): span
    registry.build 100-120 holding a job 105-110, then a job 125-145.
    """
    rec = {
        "cores": 4, "pass_s": [0.15], "session_s": 0.5, "load_s": 1.0,
        "warmup_s": 2.0, "retained_heap_mb": 80.0, "untraced_pass_s": 0.12,
        "gc_ms": 10, "gc_count": 2, "jit_ms": 30,
        "ops": [[0, 0, "commit", "merge", 0.0, 100.0, True, "", 0],
                [1, 0, "read", "read_where", 100.0, 150.0, True, "", 7]],
        "spans": [[1, "lake.resolve", 20.0, 30.0, 2, 0],
                  [2, "lake.merge", 10.0, 90.0, 0, 0],
                  [0, "op", 0.0, 100.0, -1, 0],
                  [4, "registry.build", 100.0, 120.0, 3, 1],
                  [3, "op", 100.0, 150.0, -1, 1]],
        "jobs": [[0, 0, 40, 70], [1, 1, 105, 110], [2, 1, 125, 145]],
        # tasks, task ms, cpu ns, scan, shuffle w, shuffle r, spill, output, stages
        "op_metrics": {"0": [3, 60, 50000000, 100, 10, 10, 0, 500, 1],
                       "1": [5, 40, 30000000, 200, 20, 20, 0, 0, 3]},
        "phases": [["analysis", 101, 103], ["optimization", 103, 108], ["planning", 108, 109]],
        "executions": 2,
        "facts": {"pass_stats": [
            {"pass": -1, "versions": 5, "mutations": 5, "files_written": 9},
            {"pass": 0, "versions": 3, "mutations": 4, "files_written": 6}],
            "final_stats": {"data_bytes": 900, "log_bytes": 100, "lake_bytes": 1000,
                            "user_bytes": 400},
            "dup_pairs": 12, "survivors": 90, "ann_recall": 0.5},
    }
    rec.update(over)
    return rec


class PercentileTest(unittest.TestCase):
    def test_interpolates_and_counts_samples(self):
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 50), (2.5, 4))
        self.assertEqual(metrics.percentile(list(range(101)), 90), (90.0, 101))
        self.assertAlmostEqual(metrics.percentile([10, 20], 90)[0], 19.0)

    def test_single_and_empty(self):
        self.assertEqual(metrics.percentile([7], 90), (7, 1))
        self.assertEqual(metrics.percentile([], 50), (None, 0))


class UnionTest(unittest.TestCase):
    def test_overlaps_merge(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_clipped_to_window(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(metrics.union_length([(0, 5)], 10, 20), 0)


class SelfTimeTest(unittest.TestCase):
    def test_children_and_jobs_are_subtracted_once(self):
        rec = record()
        spans = [dict(zip(["id", "name", "start", "end", "parent", "op"], s)) for s in rec["spans"]]
        jobs = [dict(zip(["job", "op", "start", "end"], j)) for j in rec["jobs"]]
        selfs = metrics.self_times(spans, jobs)
        self.assertEqual(selfs[2], 80 - 10 - 30)  # merge minus resolve minus its job
        self.assertEqual(selfs[1], 10)
        self.assertEqual(selfs[0], 100 - 80)      # op minus the merge span
        self.assertEqual(selfs[4], 20 - 5)        # build minus the job it ran
        self.assertEqual(selfs[3], 50 - 20 - 20)  # op minus build minus the later job

    def test_overlapping_children_count_once(self):
        spans = [{"id": 0, "name": "op", "start": 0, "end": 10, "parent": -1, "op": 0},
                 {"id": 1, "name": "a", "start": 2, "end": 6, "parent": 0, "op": 0}]
        jobs = [{"op": 0, "start": 1, "end": 3}, {"op": 0, "start": 7, "end": 12}]
        selfs = metrics.self_times(spans, jobs)
        self.assertEqual(selfs[1], 4)             # job 1-3 starts before span 1: goes to op
        self.assertEqual(selfs[0], 10 - 5 - 3)    # union(1-3, 2-6) = 5, plus 7-10


class RatioTest(unittest.TestCase):
    def test_slot_util(self):
        self.assertEqual(metrics.slot_util(200, 100, 4), 0.5)
        self.assertEqual(metrics.slot_util(10, 0, 4), 0.0)

    def test_commit_yield(self):
        self.assertEqual(metrics.commit_yield(9, 12), 0.75)
        self.assertEqual(metrics.commit_yield(0, 0), 0.0)

    def test_bytes_per_user_byte(self):
        self.assertEqual(metrics.bytes_per_user_byte(1000, 400), 2.5)


class RecordTest(unittest.TestCase):
    def test_end_to_end(self):
        m = metrics.end_to_end(record())
        self.assertEqual(m["setup_s"], (0.5 + 1.0 + 2.0, "s"))
        self.assertEqual(m["pass_s"], (0.15, "s"))
        self.assertEqual(m["retained_heap_mb"], (80.0, "MB"))

    def test_failed_ops_are_left_out_of_latencies(self):
        rec = record()
        self.assertAlmostEqual(metrics.per_layer(rec)["ops.p90_ms"][0], 95.0)
        rec["ops"][0][6] = False
        self.assertEqual(metrics.per_layer(rec)["ops.p90_ms"][0], 50.0)

    def test_per_layer(self):
        m = {k: v for k, (v, _) in metrics.per_layer(record()).items()}
        self.assertEqual(m["exec.jobs"], 3)
        self.assertEqual(m["exec.stages"], 4)
        self.assertEqual(m["exec.tasks"], 8)
        self.assertEqual(m["exec.job_ms"], 30 + 5 + 20)
        self.assertEqual(m["exec.driver_gap_ms"], 150 - 55)
        self.assertEqual(m["exec.task_ms"], 100)
        self.assertEqual(m["exec.task_cpu_ms"], 80)
        self.assertAlmostEqual(m["exec.slot_util"], 100 / (55 * 4))
        self.assertEqual(m["io.output_bytes"], 500)
        self.assertEqual(m["catalyst.analysis_ms"], 2)
        self.assertEqual(m["catalyst.optimization_ms"], 5)
        self.assertEqual(m["catalyst.planning_ms"], 1)
        self.assertEqual(m["catalyst.executions"], 2)
        self.assertEqual(m["registry.build_ms"], 15)
        self.assertEqual(m["lake.merge_ms"], 80)
        self.assertEqual(m["lake.resolve_ms"], 10)
        self.assertEqual(m["lake.self_ms"], 40 + 10)
        self.assertEqual(m["lake.commits"], 3)        # the warm-up pass is left out
        self.assertEqual(m["lake.commit_yield"], 0.75)
        self.assertEqual(m["lake.files_written"], 6)
        self.assertEqual(m["lake.bytes_per_user_byte"], 2.5)
        self.assertEqual(m["lake.commit_p50_ms"], 100)
        self.assertEqual(m["lake.read_p90_ms"], 50)
        self.assertEqual(m["llm.dup_pairs"], 12)
        self.assertEqual(m["ops.p50_ms"], 75)
        self.assertEqual(m["trace.untraced_pass_s"], 0.12)

    def test_per_layer_divides_by_passes(self):
        m = metrics.per_layer(record(pass_s=[0.15, 0.15]))
        self.assertEqual(m["exec.jobs"][0], 1.5)
        self.assertEqual(m["exec.slot_util"][0], metrics.per_layer(record())["exec.slot_util"][0])

    def test_run_end_compaction_is_not_divided_by_passes(self):
        rec = record(pass_s=[0.15, 0.15])
        rec["spans"].append([5, "lake.vacuum", 92.0, 96.0, 0, 0])
        m = metrics.per_layer(rec)
        self.assertEqual(m["lake.vacuum_ms"][0], 4.0)
        self.assertEqual(m["lake.merge_ms"][0], 40.0)

    def test_tracing_overhead_compares_neighbouring_passes(self):
        m = metrics.per_layer(record(pass_s=[0.3, 0.2, 0.15]))
        self.assertEqual(m["trace.traced_pass_s"], (0.15, "s"))
        self.assertEqual(m["trace.untraced_pass_s"], (0.12, "s"))


if __name__ == "__main__":
    unittest.main()
