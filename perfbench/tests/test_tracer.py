"""Tests of the tracer's attribution, self-time and percentile math.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import tracer  # noqa: E402

FILES = {"TickIngest.scala": "ingest", "Manifest.scala": "storage",
         "Processor.scala": "api", "TradingCalendar.scala": "calendar",
         "Tables.scala": "catalog"}


def site(*frames):
    return "\n".join(["collect at Dataset.scala:1"] + list(frames))


class ModuleMapTest(unittest.TestCase):
    def test_scans_module_directories(self):
        with tempfile.TemporaryDirectory() as d:
            for rel in ("graft/ingest/TickIngest.scala", "graft/SparkEntry.scala",
                        "graft/storage/sub/Deep.scala"):
                os.makedirs(os.path.dirname(os.path.join(d, rel)), exist_ok=True)
                open(os.path.join(d, rel), "w").close()
            m = tracer.module_map(d)
        self.assertEqual(m, {"TickIngest.scala": "ingest", "Deep.scala": "storage"})


class AttributionTest(unittest.TestCase):
    def test_innermost_layer_frame_wins(self):
        s = site("graft.storage.Manifest$.write(Manifest.scala:59)",
                 "graft.ingest.TickIngest$.writeTicks(TickIngest.scala:290)",
                 "graft.api.Processor.updateData(Processor.scala:126)")
        self.assertEqual(tracer.site_frame(s, FILES), ("storage", "Manifest.scala"))

    def test_non_layer_modules_and_foreign_classes_are_skipped(self):
        s = site("graft.catalog.Tables$.events(Tables.scala:10)",
                 "other.pkg.TickIngest.x(TickIngest.scala:3)",
                 "graft.calendar.TradingCalendar$.enrich(TradingCalendar.scala:40)")
        self.assertEqual(tracer.site_layer(s, FILES), "ohlc")

    def test_fallbacks(self):
        jobs = [
            {"job": 1, "site": site("graft.ingest.TickIngest$.w(TickIngest.scala:1)"), "sql": 7},
            {"job": 2, "site": site(), "sql": 7},                    # broadcast of exec 7
            {"job": 3, "site": site(), "sql": 8, "stream": "q1"},    # micro-batch
            {"job": 4, "site": site("perfbench.Workloads$.x(Harness.scala:3)"),
             "sql": 9, "owner": "storage"},                          # consumed by the bench
            {"job": 5, "site": site(), "sql": None, "owner": None},
        ]
        self.assertEqual(tracer.attribute(jobs, FILES),
                         {1: "ingest", 2: "ingest", 3: "streaming", 4: "storage", 5: "other"})


class MathTest(unittest.TestCase):
    def test_union_counts_overlaps_once(self):
        self.assertEqual(tracer.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(tracer.union_ms([(0, 10), (2, 3)]), 10)
        self.assertEqual(tracer.union_ms([]), 0)

    def test_uncovered_is_span_time_without_jobs(self):
        self.assertEqual(tracer.uncovered_ms((0, 100), [(10, 20), (15, 30), (90, 150)]), 70)
        self.assertEqual(tracer.uncovered_ms((0, 100), [(200, 300)]), 100)

    def test_percentile_interpolates(self):
        xs = [4, 1, 3, 2]
        self.assertEqual(tracer.percentile(xs, 50), 2.5)
        self.assertEqual(tracer.percentile(xs, 0), 1)
        self.assertEqual(tracer.percentile(xs, 100), 4)
        self.assertAlmostEqual(tracer.percentile(xs, 90), 3.7)
        self.assertEqual(tracer.percentile([7], 90), 7)
        with self.assertRaises(ValueError):
            tracer.percentile([], 50)

    def test_layer_metrics(self):
        s_ing = site("graft.ingest.TickIngest$.w(TickIngest.scala:1)")
        records = [
            {"type": "job", "job": 1, "t0": 100, "stages": [1, 2], "span": "1",
             "owner": "api", "sql": 1, "stream": None, "site": s_ing},
            {"type": "job_end", "job": 1, "t1": 150},
            {"type": "job", "job": 2, "t0": 120, "stages": [2, 3], "span": "1",
             "owner": "api", "sql": 1, "stream": None, "site": site()},
            {"type": "job_end", "job": 2, "t1": 170},
            {"type": "job", "job": 3, "t0": 500, "stages": [4], "span": "9",
             "owner": "api", "sql": 2, "stream": None, "site": s_ing},
            {"type": "job_end", "job": 3, "t1": 600},
        ] + [{"type": "stage", "stage": s, "tasks": 2, "task_ms": 10 * s, "gc_ms": 1,
              "shuffle_bytes": 5, "spill_bytes": 0, "input_bytes": 100}
             for s in (1, 2, 3, 4)]
        out, layer_of, timed = tracer.layer_metrics(records, {1: (90, 200)}, FILES)
        self.assertEqual(layer_of, {1: "ingest", 2: "ingest"})
        self.assertEqual(out["ingest.jobs"], 2)
        self.assertEqual(out["ingest.tasks"], 6)              # stage 2 counted once
        self.assertEqual(out["ingest.task_ms"], 60)
        self.assertEqual(out["ingest.self_ms"], 70)           # 100..170
        self.assertEqual(out["api.driver_ms"], 110 - 70)
        self.assertEqual(out["other.jobs"], 0)


if __name__ == "__main__":
    unittest.main()
