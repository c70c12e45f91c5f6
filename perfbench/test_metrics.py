"""Tests of the benchmark's metric code.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics


def span(i, name, parent, start, end, **attrs):
    return {"id": i, "name": name, "parent": parent, "run": "r",
            "start_ms": float(start), "end_ms": float(end), "attrs": attrs}


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.supported_percentile(19))
        self.assertEqual(metrics.supported_percentile(20), 50)
        self.assertEqual(metrics.supported_percentile(39), 50)
        self.assertEqual(metrics.supported_percentile(40), 75)
        self.assertEqual(metrics.supported_percentile(100), 90)
        self.assertEqual(metrics.supported_percentile(200), 95)
        self.assertEqual(metrics.supported_percentile(1000), 99)

    def test_nearest_rank(self):
        xs = list(range(1, 41))  # 1..40
        self.assertEqual(metrics.percentile(xs, 50), 20)
        self.assertEqual(metrics.percentile(xs, 75), 30)
        self.assertEqual(metrics.percentile([5.0], 99), 5.0)
        # order of the input does not matter
        self.assertEqual(metrics.percentile(list(reversed(xs)), 75), 30)


class IntervalUnion(unittest.TestCase):
    def test_overlaps_merge(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)

    def test_nested_and_touching(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipped_to_span(self):
        self.assertEqual(metrics.union_length([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(metrics.union_length([(11, 12)], 0, 10), 0)

    def test_driver_only_is_wall_minus_job_union(self):
        # concurrent jobs (the docs commit overlaps the frontier commit)
        # count once; time outside the span does not count
        self.assertEqual(metrics.driver_only(100, 200, [(110, 150), (140, 160), (190, 250)]), 40)
        self.assertEqual(metrics.driver_only(0, 50, []), 50)


class CallSiteAttribution(unittest.TestCase):
    def test_call_site_file(self):
        self.assertEqual(metrics.call_site_file("parquet at FrontierStore.scala:262"),
                         "FrontierStore.scala")
        self.assertEqual(metrics.call_site_file("count at CrawlLoop.scala:242"),
                         "CrawlLoop.scala")
        self.assertIsNone(metrics.call_site_file(""))
        self.assertIsNone(metrics.call_site_file(None))

    def test_jobs_attribute_to_their_root_execution(self):
        work = metrics.SparkWork({
            "jobs": [
                {"id": 1, "start_ms": 10, "end_ms": 20, "exec": 7, "stages": [1]},
                {"id": 2, "start_ms": 12, "end_ms": 30, "exec": 8, "stages": [2, 1]},
                {"id": 3, "start_ms": 40, "end_ms": 45, "exec": 9, "stages": [3]},
            ],
            "stages": [
                {"id": 1, "tasks": 4, "failed": 0, "busy_ms": 1000, "shuffle_write": 10,
                 "spill": 0, "input_records": 100},
                {"id": 2, "tasks": 2, "failed": 1, "busy_ms": 500, "shuffle_write": 0,
                 "spill": 5, "input_records": 0},
                {"id": 3, "tasks": 1, "failed": 0, "busy_ms": 250, "shuffle_write": 0,
                 "spill": 0, "input_records": 7},
            ],
            "executions": [
                {"id": 7, "root": 7, "description": "parquet at FrontierStore.scala:262"},
                # an AQE sub-execution: attributed through its root
                {"id": 8, "root": 7, "description": "broadcast exchange"},
                {"id": 9, "root": 9, "description": "filterNew at SeenSet.scala:99"},
            ]})
        self.assertEqual(work.call_site(work.jobs[1]), "FrontierStore.scala")
        self.assertEqual(work.call_site(work.jobs[2]), "SeenSet.scala")
        # one action, two jobs
        self.assertEqual(work.sql_actions(work.jobs[:2]), 1)
        # stage 1 is listed by both jobs but its tasks count once
        t = work.totals(work.jobs[:2])
        self.assertEqual((t["tasks"], t["failed"], t["busy_s"]), (6, 1, 1.5))
        # a job belongs to the span it started in
        self.assertEqual([j["id"] for j in work.in_span(span(1, "x", 0, 12, 35))], [2])


class RatioBases(unittest.TestCase):
    def result(self):
        """a plain leg (a warm-up round, then two timed rounds), a baseline
        leg and a traced leg of two rounds, with listener data."""
        sp = [
            span(1, "setup.spark", 0, 1000, 3000),
            span(2, "setup.input", 0, 3000, 3500),
            span(3, "setup.input", 0, 3500, 3700),
            span(4, "setup.input", 0, 3700, 4000),
            span(10, "leg.plain", 0, 4000, 9000),
            span(11, "warmup", 10, 4000, 5000),
            span(12, "crawl.round", 11, 4100, 5000, claimed=5.0),
            span(13, "step", 10, 5000, 6000, items=10.0),
            span(14, "crawl.round", 13, 5000, 6000, claimed=10.0),
            span(15, "step", 10, 6000, 9000, items=30.0),
            span(16, "crawl.round", 15, 6000, 9000, claimed=30.0),
            span(17, "check", 10, 9000, 9100, disk_bytes=900.0, items=45.0),
            span(20, "leg.base", 0, 10000, 12000),
            span(21, "step", 20, 10000, 12000, items=10.0),
            span(30, "leg.traced", 0, 20000, 23000),
            span(31, "step", 30, 20000, 21010, items=5.0),
            span(32, "crawl.init", 31, 20000, 20100),
            span(33, "crawl.round", 31, 20100, 21000, claimed=5.0),
            span(34, "trace.store", 31, 21000, 21010, files_new=4.0,
                 **{"bytes_new.frontier": 100.0, "bytes_new.seen": 0.0,
                    "bytes_new.docs": 50.0, "live_segments": 3.0,
                    "live_tombstone_dirs": 1.0}),
            span(35, "step", 30, 21010, 23000, items=10.0),
            span(36, "crawl.round", 35, 21010, 22000, claimed=10.0),
            span(37, "trace.store", 35, 22000, 22010, files_new=6.0,
                 **{"bytes_new.frontier": 300.0, "bytes_new.seen": 10.0,
                    "bytes_new.docs": 150.0, "live_segments": 5.0,
                    "live_tombstone_dirs": 3.0, "compaction": 1.0}),
        ]
        spark = {
            "jobs": [
                {"id": 1, "start_ms": 20200, "end_ms": 20500, "exec": 1, "stages": [1]},
                {"id": 2, "start_ms": 21100, "end_ms": 21600, "exec": 2, "stages": [2]},
                {"id": 3, "start_ms": 21300, "end_ms": 21800, "exec": 2, "stages": [3]},
            ],
            "stages": [
                {"id": 1, "tasks": 2, "failed": 0, "busy_ms": 400, "shuffle_write": 40,
                 "spill": 0, "input_records": 30},
                {"id": 2, "tasks": 4, "failed": 0, "busy_ms": 1200, "shuffle_write": 60,
                 "spill": 8, "input_records": 60},
                {"id": 3, "tasks": 4, "failed": 1, "busy_ms": 400, "shuffle_write": 0,
                 "spill": 0, "input_records": 0},
            ],
            "executions": [
                {"id": 1, "root": 1, "description": "count at CrawlLoop.scala:242"},
                {"id": 2, "root": 2, "description": "parquet at FrontierStore.scala:262"},
            ]}
        return {"jvm_start_ms": 0.0, "peak_rss_kb": 2048, "spans": sp, "spark": spark}

    def test_end_to_end_bases(self):
        m = metrics.end_to_end(self.result())
        # JVM start to Spark ready + median set-up rep + the leg's warm-up
        self.assertAlmostEqual(m["setup_s"], 3.0 + 0.3 + 1.0)
        # pages of timed steps over timed step seconds (warm-up excluded)
        self.assertAlmostEqual(m["items_per_s"], 40 / 4.0)
        self.assertAlmostEqual(m["peak_rss_mb"], 2.0)
        # unit bytes over unit pages (warm-up round included in the unit)
        self.assertAlmostEqual(m["disk_bytes_per_item"], 900 / 45.0)

    def test_per_layer_bases(self):
        m = metrics.per_layer(self.result())
        self.assertEqual({n for n, _ in metrics.PER_LAYER}, set(m))
        # traced step seconds over baseline step seconds
        self.assertAlmostEqual(m["trace.overhead_ratio"], 3000 / 2000.0)
        # per round: 2 traced rounds
        self.assertAlmostEqual(m["crawl.round.spark_jobs"], 1.5)
        self.assertAlmostEqual(m["crawl.round.sql_actions"], 1.0)
        self.assertAlmostEqual(m["crawl.round.tasks"], 5.0)
        self.assertAlmostEqual(m["crawl.round.task_busy_s"], 1.0)
        self.assertAlmostEqual(m["crawl.round.shuffle_bytes"], 50.0)
        self.assertAlmostEqual(m["crawl.round.spill_bytes"], 4.0)
        self.assertAlmostEqual(m["crawl.round.failed_tasks"], 1.0)
        # scan records per page claimed
        self.assertAlmostEqual(m["crawl.round.input_rows_per_page"], 90 / 15.0)
        # round 1: 900 ms wall, job 300 ms; round 2: 990 ms wall, jobs cover 700 ms
        self.assertAlmostEqual(m["crawl.round.driver_only_s"], (0.6 + 0.29) / 2)
        self.assertAlmostEqual(m["frontier.store.sql_actions_per_round"], 0.5)
        self.assertAlmostEqual(m["frontier.store.busy_s_per_round"], 0.8)
        self.assertAlmostEqual(m["frontier.seen.busy_s_per_round"], 0.0)
        self.assertAlmostEqual(m["frontier.store.files_per_round"], 5.0)
        self.assertAlmostEqual(m["frontier.store.bytes_per_round.frontier"], 200.0)
        self.assertAlmostEqual(m["frontier.store.compactions"], 1.0)
        self.assertAlmostEqual(m["crawl.init_s"], 0.1)
        self.assertEqual(m["loop.op_samples"], 2.0)
        # median of the plain leg's timed rounds only (warm-up excluded)
        self.assertAlmostEqual(m["loop.op_p50_s"], 2.0)
        self.assertEqual(m["loop.op_tail_pct"], 0.0)

    def test_ratio_without_base(self):
        self.assertEqual(metrics.ratio(5, 0), 0.0)


class Catalogue(unittest.TestCase):
    def test_matches_benchmark_json(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                            "BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         metrics.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
