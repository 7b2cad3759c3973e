import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


def chunk(offset, due, phase="a"):
    return {"phase": phase, "offset": offset, "due_ms": due, "added_ms": due, "lines": 5}


def event(recv, end):
    return {"recv_ms": recv, "end_offset": end, "start_offset": -1, "input_rows": 1,
            "duration_ms": {}, "state": []}


class ChunkLagTest(unittest.TestCase):
    def test_lag_runs_to_the_first_event_covering_the_chunk(self):
        res = {"chunks": [chunk(0, 0.0), chunk(1, 50.0), chunk(2, 100.0)],
               "progress": [event(900.0, 1), event(400.0, 0), event(1500.0, 2)]}
        self.assertEqual(metrics.chunk_lags(res), [400.0, 850.0, 1400.0])

    def test_uncommitted_chunk_has_infinite_lag_and_fails(self):
        res = {"chunks": [chunk(0, 0.0), chunk(1, 50.0), chunk(2, 60.0, "b")],
               "progress": [event(400.0, 0)], "setup_rounds_s": [2.0, 1.0, 1.0],
               "warmup_s": 3.0, "peak_rss_mb": 100.0, "drains": [], "failures": []}
        self.assertEqual(metrics.chunk_lags(res, "ab"), [400.0, math.inf, math.inf])
        m = metrics.compute("ingest", res, [], {"exactly_once": "FAIL"}, 0)
        self.assertEqual((m["attempted"], m["failed"]), (4, 2))
        self.assertEqual(m["e2e"]["setup_s"], 4.0)
        self.assertIn("ingest.requests_per_s", metrics.unmeasured([m], 0))

    def test_drain_rate_is_the_median_over_the_backlog_parts(self):
        res = {"chunks": [chunk(0, 0.0)], "progress": [event(400.0, 0)],
               "setup_rounds_s": [1.0], "warmup_s": 0.0, "peak_rss_mb": 1.0,
               "drains": [{"lines": 300, "s": 1.0}, {"lines": 300, "s": 3.0},
                          {"lines": 250, "s": 0.5}]}
        e, _ = metrics.e2e("ingest", res)
        self.assertEqual(e["requests_per_s"], 300.0)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [
            {"id": 0, "parent": -1, "name": "request", "start_ns": 0, "end_ns": 10_000_000},
            {"id": 1, "parent": 0, "name": "exec", "start_ns": 1_000_000, "end_ns": 7_000_000},
            {"id": 2, "parent": 0, "name": "plan", "start_ns": 7_000_000, "end_ns": 8_000_000},
        ]
        t = metrics.self_times(spans)
        self.assertEqual(t["request"], (1, 10.0, 3.0))
        self.assertEqual(t["exec"], (1, 6.0, 6.0))


if __name__ == "__main__":
    unittest.main()
