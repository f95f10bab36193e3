"""Tests of the benchmark's own statistics and output check.

    python3 perfbench/test_stats.py
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        xs = list(range(1, 31))  # 30 samples
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 30)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(value, 20)
        self.assertAlmostEqual(pct, 100 * 20 / 30)

    def test_ties_at_the_cut_move_the_tail_down(self):
        xs = [1] * 15 + [5] * 3 + [9] * 9  # 27 samples, only 9 above 5
        value, _, _ = stats.tail(xs)
        self.assertEqual(value, 1)
        self.assertGreaterEqual(sum(1 for x in xs if x > value), 10)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0, 3))
        value, pct, n = stats.tail(list(range(19)))
        self.assertEqual((value, pct, n), (18, 100.0, 19))


class AgingRatioTest(unittest.TestCase):
    def test_flat_series_is_one(self):
        self.assertEqual(stats.aging_ratio([2.0] * 12), 1.0)

    def test_linear_growth_is_last_over_first(self):
        xs = [100.0 + 10 * i for i in range(11)]  # 100 .. 200
        self.assertAlmostEqual(stats.aging_ratio(xs), 2.0)

    def test_single_outliers_do_not_move_it(self):
        xs = [100.0 + 10 * i for i in range(11)]
        xs[0], xs[-1] = 400.0, 50.0
        self.assertAlmostEqual(stats.aging_ratio(xs), 2.0)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        # two concurrent jobs (as PollOps.inParallel runs them) and one more
        children = [(10, 50), (30, 70), (80, 90)]
        self.assertEqual(stats.union_ms(children), 70)
        self.assertEqual(stats.self_ms((0, 100), children), 30)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_ms((0, 100), [(-20, 10), (95, 130)]), 85)
        self.assertEqual(stats.self_ms((0, 100), [(120, 130)]), 100)


class OmmCheckTest(unittest.TestCase):
    """The sink check catches a poll whose sink lost one row."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)
        root = self.tmp.name
        self.tables = gen.gen_omm(f"{root}/in", seed=7, n_cases=300, n_polls=1)[0]
        self.now, self.today = gen.T0, gen.T0[:10]
        self.lookback = "2024-05-15 11:59:30"
        con = oracle.connect()
        self.rows = sorted(con.execute(oracle.omm_expected_sql(
            self.tables, self.now, self.today, self.lookback,
            "Europe/Helsinki")).fetchall())
        self.assertGreater(len(self.rows), 50)

    def _sink(self, rows):
        sink = tempfile.mkdtemp(dir=self.tmp.name)
        payload = pa.array(
            [{"deviation_case_id": r[1], "status": r[2], "route_id": r[4]}
             for r in rows],
            pa.struct([("deviation_case_id", pa.int64()), ("status", pa.string()),
                       ("route_id", pa.string())]))
        pq.write_table(pa.table({
            "key": [r[0] for r in rows], "payload": payload,
            "event_time_ms": pa.array([r[3] for r in rows], pa.int64()),
            "poll_time": [self.now] * len(rows)}), f"{sink}/part-0.parquet")
        return sink

    def _check(self, rows, sent):
        unit = {"i": 0, "tables": self.tables, "now": self.now,
                "today": self.today, "lookback": self.lookback, "sent": sent,
                "new": len({r[0] for r in self.rows}), "repeated": 0}
        return oracle.check_omm([unit], self._sink(rows), "Europe/Helsinki")

    def test_complete_sink_passes(self):
        self.assertEqual(self._check(self.rows, len(self.rows)), [])

    def test_sink_with_one_row_dropped_fails(self):
        errors = self._check(self.rows[1:], len(self.rows))
        self.assertEqual([p for p, _ in errors], [0])
        self.assertIn("1 expected rows missing", errors[0][1])

    def test_wrong_sent_count_fails(self):
        self.assertEqual(len(self._check(self.rows, len(self.rows) - 1)), 1)

    def test_input_mix_reaches_every_stage(self):
        unit = {"tables": self.tables, "now": self.now, "today": self.today,
                "lookback": self.lookback}
        mix = oracle.omm_mix([unit], "Europe/Helsinki")
        self.assertEqual(mix["sent"], len(self.rows))
        self.assertGreater(mix["parse_drop_share"], 0)
        self.assertGreater(mix["dedup_ratio"], 1)


class DeclaredMetricsTest(unittest.TestCase):
    """run.py reports exactly the metrics BENCHMARK.json declares."""

    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_workloads(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]],
                         list(run.WORKLOADS))

    def test_end_to_end(self):
        res = {"units": [{"ms": 1.0, "cpu_ms": 1.0, "read_ms": 1.0}] * 4, "setup_s": 1.0,
               "state_bytes": 1, "peak_rss_kb": 1}
        metrics, _ = run.end_to_end(res, {"warmup": 1})
        self.assertEqual({k: u for k, (_, u) in metrics.items()},
                         {m["name"]: m["unit"] for m in self.bench["end_to_end"]})

    def test_per_layer(self):
        self.assertEqual(dict(layers.UNIVERSAL),
                         {m["name"]: m["unit"] for m in self.bench["per_layer"]})


if __name__ == "__main__":
    unittest.main()
