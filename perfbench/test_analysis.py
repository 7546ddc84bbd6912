"""Unit tests of the benchmark's metric rules:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import unittest

import analysis as A

HERE = os.path.dirname(os.path.abspath(__file__))


class TailPercentile(unittest.TestCase):

    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = A.tail_percentile(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [float(x) for x in range(40)]
        self.assertEqual(A.tail_percentile(list(reversed(xs))), A.tail_percentile(xs))
        self.assertEqual(A.tail_percentile(xs)[0], 29.0)

    def test_falls_back_to_median_below_twenty_samples(self):
        for n in (1, 2, 3, 10, 11, 20):
            xs = [float(x) for x in range(n)]
            value, pct, got_n = A.tail_percentile(xs)
            self.assertEqual((pct, got_n), (50.0, n))
            self.assertEqual(value, (n - 1) / 2)

    def test_first_percentile_above_median(self):
        value, pct, _ = A.tail_percentile(list(range(21)))
        self.assertEqual(value, 10)
        self.assertAlmostEqual(pct, 100 * 11 / 21)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            A.tail_percentile([])


class GapUnion(unittest.TestCase):

    def test_union_merges_overlap_and_nesting(self):
        self.assertEqual(A.union_length([(0, 4), (2, 6), (3, 5), (8, 9)]), 7)
        self.assertEqual(A.union_length([(5, 6), (0, 1)]), 2)
        self.assertEqual(A.union_length([]), 0)
        self.assertEqual(A.union_length([(3, 3), (4, 2)]), 0)

    def test_touching_intervals_leave_no_gap(self):
        self.assertEqual(A.union_length([(0, 2), (2, 5)]), 5)
        self.assertEqual(A.gaps((0, 5), [(0, 2), (2, 5)]), [])

    def test_gaps_are_the_complement_inside_the_span(self):
        self.assertEqual(A.gaps((0, 10), [(2, 4), (3, 5), (7, 8)]),
                         [(0, 2), (5, 7), (8, 10)])
        self.assertEqual(A.gaps((0, 10), []), [(0, 10)])
        # jobs reaching past the span are clipped to it
        self.assertEqual(A.gaps((2, 6), [(0, 3), (5, 9)]), [(3, 5)])

    def test_gaps_plus_union_cover_the_span(self):
        span = (100, 200)
        jobs = [(110, 130), (120, 125), (150, 190), (185, 199)]
        covered = A.union_length(jobs)
        free = sum(b - a for a, b in A.gaps(span, jobs))
        self.assertEqual(covered + free, 100)


class WriteTargetLayers(unittest.TestCase):

    def test_staging_tables(self):
        for t in ("file:/w/silver/stg_arrivals",
                  "file:/w/silver/stg_arrivals_by_date/date=2026-01-02"):
            for span in ("etl.mart", "etl.incremental"):
                self.assertEqual(A.layer_for(t, False, span), "etl.stg")

    def test_mart_and_state_follow_the_span(self):
        for t in ("file:/w/silver/fct_headways",
                  "file:/w/silver/fct_headways_by_date/date=2026-01-02",
                  "file:/w/silver/state_last_arrival/date=2026-01-02"):
            self.assertEqual(A.layer_for(t, False, "etl.mart"), "etl.mart")
            self.assertEqual(A.layer_for(t, False, "etl.incremental"), "etl.incremental")

    def test_raw_zone_write_and_decode_count_are_ingest(self):
        self.assertEqual(A.layer_for("file:/w/raw", False, "ingest"), "ingest")
        self.assertEqual(A.layer_for("", True, "ingest"), "ingest")

    def test_one_row_aggregates_of_the_etl_are_quality(self):
        self.assertEqual(A.layer_for("", True, "etl.mart"), "quality")
        self.assertEqual(A.layer_for("", False, "etl.mart"), "etl.mart")

    def test_streaming_writes_stay_in_their_span(self):
        for t in ("file:/w/out", "file:/w/fps", "file:/w/bands", ""):
            self.assertEqual(A.layer_for(t, True, "streaming.writer"), "streaming.writer")


class LayerSplit(unittest.TestCase):

    def records(self):
        # one transform op, 0..1000 ms: listing, staging write, mart write,
        # one check query; gaps before each job
        spans = [{"id": 0, "parent": -1, "name": "Jobs.transform", "layer": "etl.mart",
                  "op": 3, "start": 0, "end": 1000}]
        execs = [
            {"id": 1, "root": 1, "start": 150, "end": 400,
             "target": "file:/w/silver/stg_arrivals", "one_row_agg": False},
            {"id": 2, "root": 2, "start": 450, "end": 700,
             "target": "file:/w/silver/fct_headways", "one_row_agg": False},
            {"id": 3, "root": 3, "start": 750, "end": 950, "target": "", "one_row_agg": True},
        ]

        def job(i, ex, a, b):
            return {"id": i, "exec": ex, "start": a, "end": b, "tasks": 2,
                    "exec_run_s": 0.5, "exec_cpu_s": 0.25, "gc_s": 0.0,
                    "shuffle_write_bytes": 10, "spill_bytes": 0, "input_bytes": 100}
        jobs = [job(0, -1, 50, 100), job(1, 1, 200, 400), job(2, 2, 500, 600),
                job(3, 2, 550, 700), job(4, 3, 800, 900)]
        return {"spans": spans, "execs": execs, "jobs": jobs}

    def test_walls_and_gaps_account_for_the_span(self):
        totals, span_s, accounted_s, n = A.layer_split(self.records())
        self.assertEqual(n, 1)
        self.assertAlmostEqual(span_s, 1.0)
        self.assertAlmostEqual(accounted_s, 1.0)
        wall = {l: totals[l]["wall_s"] for l in A.LAYERS}
        gap = {l: totals[l]["driver_gap_s"] for l in A.LAYERS}
        self.assertAlmostEqual(wall["spark.listing"], 0.05)
        self.assertAlmostEqual(wall["etl.stg"], 0.2)
        self.assertAlmostEqual(wall["etl.mart"], 0.2)  # two overlapping jobs
        self.assertAlmostEqual(wall["quality"], 0.1)
        # a gap goes to the next job's layer; the trailing one to the last
        self.assertAlmostEqual(gap["spark.listing"], 0.05)
        self.assertAlmostEqual(gap["etl.stg"], 0.1)
        self.assertAlmostEqual(gap["etl.mart"], 0.1)
        self.assertAlmostEqual(gap["quality"], 0.2)
        self.assertEqual(totals["etl.mart"]["jobs"], 2)
        self.assertEqual(totals["etl.mart"]["tasks"], 4)

    def test_jobs_outside_traced_spans_are_ignored(self):
        r = self.records()
        r["jobs"].append(dict(r["jobs"][1], id=9, start=2000, end=2100))
        totals, _, _, _ = A.layer_split(r)
        self.assertEqual(totals["etl.stg"]["jobs"], 1)


class EndToEnd(unittest.TestCase):

    def result(self):
        ops = [{"s": 2.0, "ok": True, "rows": 100}, {"s": 6.0, "ok": True, "rows": 100},
               {"s": 9.0, "ok": False, "rows": 0}, {"s": 4.0, "ok": True, "rows": 100}]
        return {"ops": ops, "setup_s": 30.0, "peak_rss_mb": 2000.0}

    def test_failed_ops_add_no_latency_sample(self):
        m, attempted, failed, detail = A.end_to_end_metrics(self.result(), True)
        self.assertEqual((attempted, failed, detail["op_samples"]), (4, 1, 3))
        self.assertEqual(m["op_p50_s"], 4.0)
        self.assertEqual(m["ok_op_share"], 0.75)
        # rows over the summed latency of the ops that succeeded
        self.assertEqual(m["rows_per_s"], 300 / 12.0)

    def test_a_failed_gate_fails_every_op(self):
        m, attempted, failed, _ = A.end_to_end_metrics(self.result(), False)
        self.assertEqual((attempted, failed, m["ok_op_share"]), (4, 4, 0.0))


class BenchmarkFile(unittest.TestCase):

    def test_metric_names_match_what_the_run_prints(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        # only the layers that lakehouse_poll alone exercises are left out
        self.assertEqual([m["name"] for m in bench["per_layer"]],
                         [m for m in A.PER_LAYER
                          if not m.startswith(("ingest.", "etl.incremental."))])
        self.assertEqual({m["name"] for m in bench["end_to_end"]}, set(A.END_TO_END_UNITS))
        for m in bench["per_layer"]:
            self.assertEqual(m["unit"], A.PER_LAYER_UNITS[m["name"]])
        for m in bench["end_to_end"]:
            self.assertEqual(m["unit"], A.END_TO_END_UNITS[m["name"]])


if __name__ == "__main__":
    unittest.main()
