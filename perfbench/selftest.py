"""Self-tests of the benchmark's own machinery; no JVM needed.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.tracing import Span, group_stage_metrics, read_event_log, self_times  # noqa: E402


class _FakeDF:
    def __init__(self, cols, rows):
        self.columns, self._rows = cols, rows

    def count(self):
        return len(self._rows)

    def collect(self):
        return self._rows


class _FakeContext:
    def setJobGroup(self, *_):
        pass

    def statusTracker(self):
        return self

    def getJobIdsForGroup(self, _):
        return []


class OracleGate(unittest.TestCase):
    """A planted wrong oracle row must count into failed ops."""

    COLS = ["k", "v"]
    ROWS = [(1, 0.5), (2, 1.5), (3, None)]

    def _bench(self):
        from perfbench.run import Bench

        b = Bench("etl_write", 1, 1, False, HERE)
        b.spark, b.sc = None, _FakeContext()
        return b

    def test_value_multiset(self):
        b = self._bench()
        df = _FakeDF(self.COLS, self.ROWS)
        b._value_check("p0.q", df, {"q": {"rows": (self.COLS, list(self.ROWS))}})
        self.assertEqual(b.failed_ops, set())
        planted = [(1, 0.5), (2, 1.5000000001), (3, None)]
        b._value_check("p0.q", df, {"q": {"rows": (self.COLS, planted)}})
        self.assertEqual(b.failed_ops, {"p0.q"})

    def test_row_count(self):
        from ab_inbev_big_data_case_spark.registry import QUERIES

        QUERIES["_planted"] = lambda spark, d: _FakeDF(self.COLS, self.ROWS)
        try:
            b = self._bench()
            self.assertIsNotNone(b._query("_planted", "p0._planted", "", {"count": 3}))
            self.assertEqual(b.failed_ops, set())
            b._query("_planted", "p1._planted", "", {"count": 4})
            self.assertEqual(b.failed_ops, {"p1._planted"})
            self.assertEqual(b.attempted, 2)
        finally:
            del QUERIES["_planted"]

    def test_write_path_diff(self):
        import pyarrow as pa

        from perfbench.oracle import Oracle

        o = Oracle(HERE, 1)  # no tables here; the query below reads none
        sql = "SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (2, 'b')) t(k, s)"
        good = pa.table({"k": [2, 1, 2], "s": ["b", "a", "b"]})
        bad = pa.table({"k": [2, 1, 3], "s": ["b", "a", "b"]})
        self.assertEqual(o.diff_rows(good, sql), 0)
        self.assertEqual(o.diff_rows(bad, sql), 2)
        o.close()


class Declared(unittest.TestCase):
    def test_benchmark_json_matches(self):
        import json

        from perfbench.run import END_TO_END, PER_LAYER
        from perfbench.workloads import WORKLOADS

        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(WORKLOADS))


class Teardown(unittest.TestCase):
    def test_stops_every_descendant(self):
        """A child that ignores SIGTERM and a grandchild are both gone
        when ``_stop_processes`` returns."""
        import subprocess

        from perfbench.run import _alive, _descendants, _stop_processes

        child = subprocess.Popen([
            sys.executable, "-c",
            "import signal, subprocess, sys, time; signal.signal(signal.SIGTERM, signal.SIG_IGN);"
            "subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)']);"
            "print(flush=True); time.sleep(60)",
        ], stdout=subprocess.PIPE)
        child.stdout.readline()
        tree = _descendants()
        self.assertGreaterEqual(len(tree), 2)
        _stop_processes(wait_s=2)
        self.assertEqual([p for p in tree if _alive(p)], [])
        self.assertIsNotNone(child.poll())
        child.stdout.close()


class SelfTimes(unittest.TestCase):
    def test_tree(self):
        spans = [
            Span("pass", 0.0, 10.0, None, "p0"),
            Span("op", 1.0, 6.0, 0, "p0.a"),
            Span("construct", 1.0, 3.0, 1, "p0.a"),
            Span("action", 2.5, 5.0, 1, "p0.a"),  # overlaps construct
            Span("op", 7.0, 12.0, 0, "p0.b"),  # runs past its parent's end
        ]
        got = self_times(spans)
        for g, want in zip(got, [10 - 5 - 3, 5 - 4, 2, 2.5, 5]):
            self.assertAlmostEqual(g, want)


class EventLog(unittest.TestCase):
    """A log captured at local[2] with AQE off: ``spark.range(1000)`` in 2
    partitions through ``mapInPandas``, a ``groupBy`` into 2 shuffle
    partitions, then ``.count()`` under job group ``q:action`` (one job,
    stages of 2, 2 and 1 tasks). Trimmed to the event kinds the parser
    reads."""

    def test_captured(self):
        events = read_event_log(os.path.join(HERE, "fixtures", "eventlog_tiny.jsonl"))
        g = group_stage_metrics(events)
        self.assertEqual(set(g), {"q:action"})
        c = g["q:action"]
        self.assertEqual(c["stages"], 3)
        self.assertEqual(c["tasks"], 5)
        self.assertEqual(c["py_rows"], 1000)
        self.assertGreater(c["py_sent_b"], 0)
        self.assertGreater(c["py_returned_b"], 0)
        self.assertGreater(c["shuffle_write_b"], 0)
        self.assertEqual(c["shuffle_read_b"], c["shuffle_write_b"])
        self.assertGreaterEqual(c["run_ms"], c["py_run_ms"])
        self.assertGreater(c["py_run_ms"], 0)


if __name__ == "__main__":
    unittest.main()
