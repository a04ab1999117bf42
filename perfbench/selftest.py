"""Self-test of the benchmark's percentile and event-log roll-up code, on
the small committed event log in testdata/. Needs no Spark.

Usage: python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
from worker import layer_metrics  # noqa: E402

LOG = os.path.join(HERE, "testdata", "eventlog_small.jsonl")
SPANS = os.path.join(HERE, "testdata", "eventlog_small_spans.json")


def load_spans() -> list[dict]:
    with open(SPANS) as f:
        return json.load(f)


class QuantileTest(unittest.TestCase):
    def test_matches_inclusive_quartiles(self):
        for xs in ([1, 2, 3, 4], [5.0, 1.0, 9.0, 3.0, 7.0], [2.5, 2.5, 8.0]):
            q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
            self.assertAlmostEqual(eventlog.quantile(xs, 0.25), q1)
            self.assertAlmostEqual(eventlog.quantile(xs, 0.5), q2)
            self.assertAlmostEqual(eventlog.quantile(xs, 0.75), q3)

    def test_ends_and_single_value(self):
        self.assertEqual(eventlog.quantile([3.0, 1.0, 2.0], 0.0), 1.0)
        self.assertEqual(eventlog.quantile([3.0, 1.0, 2.0], 1.0), 3.0)
        self.assertEqual(eventlog.quantile([7.0], 0.5), 7.0)

    def test_rejects_empty_and_out_of_range(self):
        with self.assertRaises(ValueError):
            eventlog.quantile([], 0.5)
        with self.assertRaises(ValueError):
            eventlog.quantile([1.0], 1.5)


class RollupTest(unittest.TestCase):
    def setUp(self):
        self.spans = load_spans()
        self.per_span = eventlog.rollup(eventlog.read_events(LOG), self.spans)

    def test_jobs_go_to_their_group_span(self):
        q = self.per_span[1]
        self.assertEqual((q["jobs"], q["stages"], q["tasks"], q["tasks_failed"]), (1, 1, 2, 0))
        self.assertEqual(q["executor_run_ms"], 300)
        self.assertEqual(q["executor_cpu_ns"], 200_000_000)
        self.assertEqual(q["gc_ms"], 5)
        self.assertEqual(q["shuffle_write_bytes"], 1024)

    def test_skipped_stage_and_failed_task(self):
        a = self.per_span[2]
        # stage 2 was listed by job 1 but never submitted
        self.assertEqual((a["jobs"], a["stages"], a["tasks"], a["tasks_failed"]), (1, 1, 2, 1))
        self.assertEqual(a["shuffle_read_bytes"], 1024)
        self.assertEqual(a["input_bytes"], 4096)

    def test_foreign_group_and_progress_attributed_by_time(self):
        d = self.per_span[4]
        self.assertEqual((d["jobs"], d["tasks"], d["stream_batches"]), (1, 1, 1))
        self.assertEqual((d["spill_bytes"], d["output_bytes"]), (10, 77))

    def test_work_outside_spans_is_dropped(self):
        self.assertEqual(set(self.per_span), {1, 2, 4})
        total = eventlog.subtree_totals(self.spans, self.per_span)[0]
        self.assertEqual((total["jobs"], total["stages"], total["tasks"]), (3, 3, 5))
        self.assertEqual(total["executor_run_ms"], 380)

    def test_self_time(self):
        st = eventlog.self_time(self.spans)
        self.assertAlmostEqual(st[0], 2.0)
        self.assertAlmostEqual(st[1], 3.5)
        self.assertAlmostEqual(st[3], 1.0)
        self.assertAlmostEqual(st[4], 2.5)

    def test_layer_metrics(self):
        m = layer_metrics(self.spans, self.per_span, [{"id": 1, "traced": True}], cores=4)
        self.assertEqual(m["spark.jobs"], 3)
        self.assertAlmostEqual(m["queries.q01_pricing_summary.construct_s"], 3.5)
        self.assertAlmostEqual(m["queries.q01_pricing_summary.action_s"], 1.0)
        self.assertEqual(m["queries.q01_pricing_summary.jobs"], 2)
        self.assertEqual(m["queries.q_stream_tumbling.jobs"], 1)
        self.assertAlmostEqual(m["streaming.drain_s"], 2.5)
        self.assertEqual(m["streaming.batches"], 1)
        self.assertAlmostEqual(m["driver.construct_frac"], (3.5 + 3.5) / 10.0)
        self.assertAlmostEqual(m["spark.cpu_busy_frac"], 0.25 / (10.0 * 4))


class CompressedLogTest(unittest.TestCase):
    def test_rolling_zstd_parts_read_in_order(self):
        import pyarrow as pa

        with open(LOG, "rb") as f:
            lines = f.read().splitlines(keepends=True)
        tmp = os.path.join(HERE, ".work", "selftest_eventlog")
        shutil.rmtree(tmp, ignore_errors=True)
        app = os.path.join(tmp, "eventlog_v2_local-1")
        os.makedirs(app)
        try:
            # part 10 sorts before part 2 as text; the reader orders by number
            for idx, chunk in ((2, lines[: len(lines) // 2]), (10, lines[len(lines) // 2:])):
                with pa.CompressedOutputStream(
                        os.path.join(app, f"events_{idx}_local-1.zstd"), "zstd") as out:
                    out.write(b"".join(chunk))
            got = list(eventlog.read_events(tmp))
            self.assertEqual(got, list(eventlog.read_events(LOG)))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
