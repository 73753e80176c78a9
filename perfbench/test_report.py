"""Tests for the benchmark's own arithmetic: python3 perfbench/test_report.py"""
import statistics
import unittest

import report


def span(i, name, parent, t0, t1, lap=-1, op=-1):
    return [i, name, parent, lap, op, int(t0 * 1e9), int(t1 * 1e9)]


def task(span_id, stage, ms, cpu_ns=0, input_b=0, shuffle_w=0, output_b=0):
    # [span, stage, attempt, ms, cpu_ns, gc_ms, input_b, shuffle_write_b,
    #  shuffle_read_b, spill_b, output_b]
    return [span_id, stage, 0, ms, cpu_ns, 0, input_b, shuffle_w, 0, 0, output_b]


class Percentiles(unittest.TestCase):
    def test_median_and_quartiles_match_statistics(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
        self.assertEqual(report.median(xs), 4.0)
        self.assertEqual(report.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_spread_is_interquartile_range_over_median(self):
        xs = [10.0, 11.0, 9.0, 10.0, 12.0, 8.0, 10.0, 10.0, 11.0, 9.0]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(report.spread(xs), (10.0, (q[2] - q[0]) / 10.0))

    def test_rank_value_counts_samples_above(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(report.rank_value(xs, 90), (90, 10))
        self.assertEqual(report.rank_value(xs, 50), (50, 50))
        self.assertEqual(report.rank_value(xs, 99.9), (100, 0))

    def test_tail_takes_highest_rung_with_ten_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(report.tail(xs), (90, 90, 100))   # p95 has only 5 above
        xs = list(range(1, 41))
        self.assertEqual(report.tail(xs), (75, 30, 40))    # p90 has 4 above
        xs = list(range(1, 20))
        self.assertEqual(report.tail(xs), (50, 10, 19))    # too few: lowest rung

    def test_tail_ignores_sample_order(self):
        xs = [3.0, 0.5, 2.0] * 10
        self.assertEqual(report.tail(xs), report.tail(sorted(xs)))


class SelfTime(unittest.TestCase):
    def test_kg_build_split_is_prefix_difference(self):
        # one month: decode 1+1, parse 2+3, enrich 5, emit 12, then the
        # commit of that build 8 s and a 1 s read of the probe table
        rec = {"probes": {"kg.emit.triples": 7, "kg.parse.rows": 3,
                          "kg.enrich.useful_ratio": 0.5, "emit.commit.files": 4},
               "spans": [
                   span(1, "probe.decode.days", 0, 0, 1, op=0),
                   span(2, "probe.decode.articles", 0, 1, 2, op=0),
                   span(3, "probe.parse.days", 0, 2, 4, op=0),
                   span(4, "probe.parse.articles", 0, 4, 7, op=0),
                   span(5, "probe.enrich", 0, 7, 12, op=0),
                   span(6, "probe.emit", 0, 12, 24, op=0),
                   span(7, "probe.commit", 0, 24, 32, op=0),
                   span(8, "emit.commit", 7, 24, 32),
                   span(9, "probe.read", 0, 32, 33),
               ],
               "tasks": [task(4, 1, 10, cpu_ns=1e9), task(5, 2, 10, cpu_ns=3e9,
                                                         shuffle_w=2 * report.MB),
                         task(8, 3, 10, output_b=5 * report.MB)]}
        spans = report.span_table(rec)
        o = report.kg_build_split(rec, spans, report.attribute(rec, spans))
        self.assertAlmostEqual(o["kg.decode.s"], 2.0)
        self.assertAlmostEqual(o["kg.parse.self_s"], 5.0 - 2.0)
        self.assertAlmostEqual(o["kg.enrich.self_s"], 5.0 - 3.0)
        self.assertAlmostEqual(o["kg.enrich.executor_cpu_s"], 3.0 - 1.0)
        self.assertAlmostEqual(o["kg.enrich.shuffle_mb"], 2.0)
        self.assertAlmostEqual(o["kg.emit.self_s"], 12.0 - 2.0 - 5.0)
        self.assertAlmostEqual(o["emit.commit.self_s"], 8.0)
        self.assertAlmostEqual(o["emit.commit.write_mb"], 5.0)  # from the child span
        self.assertAlmostEqual(o["emit.read.s"], 1.0)
        self.assertEqual(o["emit.commit.files"], 4.0)
        self.assertEqual(o["kg.emit.triples"], 7.0)


class Attribution(unittest.TestCase):
    REC = {"spans": [span(1, "lap", 0, 0, 10, lap=1),
                     span(2, "op.a", 1, 0, 4, lap=1, op=0),
                     span(3, "inner", 2, 1, 3),
                     span(4, "op.b", 1, 4, 9, lap=1, op=1),
                     span(5, "other", 0, 20, 30)],
           "tasks": [task(3, 7, 100, cpu_ns=2e9, input_b=10),
                     task(2, 8, 50, cpu_ns=1e9),
                     task(4, 9, 10), task(4, 9, 10), task(4, 9, 10), task(4, 9, 40),
                     task(0, 10, 999)]}  # no span open: attributed to nothing

    def test_counters_roll_up_to_every_ancestor(self):
        spans = report.span_table(self.REC)
        inc = report.attribute(self.REC, spans)
        self.assertEqual(inc[3]["cpu_ns"], 2e9)
        self.assertEqual(inc[2]["cpu_ns"], 3e9)      # own task + child's
        self.assertEqual(inc[1]["tasks"], 6)          # the lap sees all six
        self.assertEqual(inc[1]["input_b"], 10)
        self.assertEqual(len(inc[1]["stages"]), 3)
        self.assertEqual(inc[5]["tasks"], 0)          # unrelated span

    def test_skew_uses_stages_with_four_tasks(self):
        spans = report.span_table(self.REC)
        ids = report.descendants(spans, 1)
        self.assertEqual(ids, {1, 2, 3, 4})
        self.assertAlmostEqual(report.task_skew(self.REC, ids), 40 / 10)
        self.assertEqual(report.task_skew(self.REC, {2, 3}), 1.0)


class EndToEnd(unittest.TestCase):
    def test_warm_up_lap_is_not_measured(self):
        def lap(n, wall, ops):
            return {"lap": n, "wall_s": wall, "cpu_s": 2 * wall,
                    "gc_s": 0.1, "cached_mb": n * 1.0,
                    "ops": [{"name": f"o{i}", "s": s} for i, s in enumerate(ops)]}
        rec = {"session_s": 5.0, "setup_rounds": [9.0, 2.0, 3.0], "docs": 100,
               "laps": [lap(0, 100.0, [50.0, 50.0]), lap(1, 4.0, [1.0, 3.0]),
                        lap(2, 5.0, [2.0, 3.0]), lap(3, 6.0, [1.0, 5.0])]}
        m, d = report.end_to_end(rec)
        self.assertEqual(m["setup_s"], 5.0 + 3.0)
        self.assertEqual(m["lap_s"], 5.0)
        self.assertEqual(m["docs_per_s"], 20.0)
        self.assertEqual(m["op_p50_s"], 2.5)
        self.assertEqual(m["cpu_s_per_lap"], 10.0)
        self.assertEqual(m["cached_mb"], 3.0)
        self.assertEqual(d["op_samples"], 6)


if __name__ == "__main__":
    unittest.main()
