"""Self-time and driver-only arithmetic on synthetic span/job ledgers.

Run with: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import spans  # noqa: E402


def span(i, name, start, end, parent=-1):
    return {"id": i, "name": name, "parent": parent,
            "start_ms": start, "end_ms": end}


def job(i, span_id, start, end, run_ms=0, result_b=0):
    return {"id": i, "span": span_id, "start_ms": start, "end_ms": end,
            "stages": 1, "tasks": 1, "run_ms": run_ms, "cpu_ns": 0,
            "gc_ms": 0, "shuffle_read_b": 0, "shuffle_write_b": 0,
            "spill_b": 0, "result_b": result_b}


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(spans.union([(5, 7), (0, 2), (1, 3), (3, 4)]),
                         [(0, 4), (5, 7)])
        self.assertEqual(spans.length([(0, 10), (2, 3), (9, 12)]), 12)

    def test_subtract(self):
        self.assertEqual(spans.subtract([(0, 10)], [(2, 3), (5, 20)]),
                         [(0, 2), (3, 5)])
        self.assertEqual(spans.subtract([(0, 10)], []), [(0, 10)])
        self.assertEqual(spans.subtract([(0, 10)], [(-5, 15)]), [])


class SpanMetricsTest(unittest.TestCase):
    def test_self_time_excludes_children(self):
        trace = {"spans": [span(0, "pipeline.survey", 0, 1000),
                           span(1, "cluster.kmodes", 100, 400, parent=0),
                           span(2, "cluster.lca", 300, 600, parent=0)],
                 "jobs": []}
        m = spans.span_metrics(trace, ["pipeline.survey", "cluster.kmodes",
                                       "cluster.lca"])
        # children overlap on [300, 400]: covered time is [100, 600]
        self.assertAlmostEqual(m["pipeline.survey"]["self_s"], 0.5)
        self.assertAlmostEqual(m["cluster.kmodes"]["self_s"], 0.3)
        self.assertAlmostEqual(m["pipeline.survey"]["driver_only_s"], 0.5)

    def test_concurrent_grid_jobs_count_once(self):
        # a Par.grid search: three jobs run concurrently inside one span
        trace = {"spans": [span(0, "cluster.kmeans_search", 0, 1000)],
                 "jobs": [job(0, 0, 100, 500, run_ms=400),
                          job(1, 0, 200, 600, run_ms=400),
                          job(2, 0, 550, 700, run_ms=150, result_b=2 << 20)]}
        m = spans.span_metrics(trace, ["cluster.kmeans_search"])
        k = m["cluster.kmeans_search"]
        self.assertEqual(k["jobs"], 3)
        self.assertAlmostEqual(k["task_run_s"], 0.95)
        self.assertAlmostEqual(k["self_s"], 1.0)
        # jobs cover [100, 700]: 400 ms of the span ran no job
        self.assertAlmostEqual(k["driver_only_s"], 0.4)
        self.assertAlmostEqual(k["result_mb"], 2.0)

    def test_driver_only_of_parent_ignores_child_jobs_time(self):
        trace = {"spans": [span(0, "pipeline.sink", 0, 1000),
                           span(1, "pipeline.queue", 600, 1000, parent=0)],
                 "jobs": [job(0, 0, 0, 200), job(1, 1, 700, 900)]}
        m = spans.span_metrics(trace, ["pipeline.sink", "pipeline.queue"])
        self.assertAlmostEqual(m["pipeline.sink"]["self_s"], 0.6)
        self.assertAlmostEqual(m["pipeline.sink"]["driver_only_s"], 0.4)
        self.assertAlmostEqual(m["pipeline.queue"]["driver_only_s"], 0.2)
        self.assertEqual(m["pipeline.sink"]["jobs"], 1)

    def test_repeated_instances_sum_and_unknown_names_are_zero(self):
        trace = {"spans": [span(0, "inference.deliver_stats", 0, 100),
                           span(1, "inference.deliver_stats", 200, 450)],
                 "jobs": [job(0, 1, 250, 300), job(1, -1, 0, 50)]}
        m = spans.span_metrics(trace, ["inference.deliver_stats",
                                       "dedup.exact"])
        d = m["inference.deliver_stats"]
        self.assertAlmostEqual(d["self_s"], 0.35)
        # the unattributed job on [0, 50] still means "a job was running"
        self.assertAlmostEqual(d["driver_only_s"], 0.25)
        self.assertEqual(d["jobs"], 1)
        self.assertEqual(m["dedup.exact"], {
            "self_s": 0.0, "jobs": 0, "task_run_s": 0.0,
            "driver_only_s": 0.0, "result_mb": 0.0})

    def test_engine_metrics_over_windows(self):
        trace = {"spans": [span(0, "etl.clean", 0, 1000)],
                 "jobs": [job(0, 0, 100, 500, run_ms=800),
                          job(1, 0, 300, 700, run_ms=800),
                          job(2, -1, 1500, 1600, run_ms=100)]}
        e = spans.engine_metrics(trace, [(0, 1000)], cores=4)
        self.assertEqual(e["jobs"], 2)
        self.assertAlmostEqual(e["task_run_s"], 1.6)
        self.assertAlmostEqual(e["core_util"], 0.4)
        self.assertAlmostEqual(e["driver_only_s"], 0.4)


if __name__ == "__main__":
    unittest.main()
