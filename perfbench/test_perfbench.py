"""Tests of the benchmark itself: generator, models and metric arithmetic.

    python3 perfbench/test_perfbench.py

Run from the root of a checkout. AvgInfoAgreement builds the harness (as
run.py does) and starts one local Spark session; the other tests are pure
Python.
"""

import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import gen     # noqa: E402
import model   # noqa: E402
import run     # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_payloads(self):
        self.assertEqual(gen.generate(7, 2000), gen.generate(7, 2000))

    def test_seeds_differ(self):
        self.assertNotEqual([p.text for p in gen.generate(7, 200)],
                            [p.text for p in gen.generate(8, 200)])

    def test_prefix_stable(self):
        self.assertEqual(gen.generate(3, 500)[:100], gen.generate(3, 100))

    def test_names_increase_in_landing_order(self):
        names = [p.name for p in gen.generate(5, 3000)]
        self.assertEqual(names, sorted(names))
        self.assertEqual(len(set(names)), len(names))

    def test_reference_cadence(self):
        # one price to two hashrate payloads, a mean 20 s of event time apart
        ps = [p for p in gen.generate(13, 6000) if p.kind != "error"]
        price = sum(p.kind == "price" for p in ps) / len(ps)
        self.assertTrue(0.28 < price < 0.38, price)
        span = ps[-1].spider_ts - ps[0].spider_ts
        self.assertAlmostEqual(span / 6000, gen.STEP_S, delta=1)

    def test_traffic_dimensions_present(self):
        ps = gen.generate(11, 6000)
        errors = [p for p in ps if p.kind == "error"]
        self.assertTrue(0.005 < len(errors) / len(ps) < 0.05)
        self.assertTrue(any(p.spider_ts is None for p in errors))       # truncated JSON
        self.assertTrue(any(p.spider_ts is not None for p in errors))   # neither shape
        price_w = {p.server_ts // gen.WINDOW_S for p in ps if p.kind == "price"}
        hash_w = {p.server_ts // gen.WINDOW_S for p in ps if p.kind == "hashrate"}
        self.assertTrue(hash_w - price_w, "no window without price rows")
        # jitter: event time is not monotone in landing order
        ts = [p.server_ts for p in ps if p.kind != "error"]
        self.assertTrue(any(b < a for a, b in zip(ts, ts[1:])))


class ModelTest(unittest.TestCase):
    def _p(self, kind, ts, **kw):
        return gen.Payload("x", "", kind, ts, ts, **kw)

    def test_price_fallback_and_rounding(self):
        ps = [self._p("price", 300, usd=10), self._p("price", 301, usd=11),
              self._p("price", 302, usd=11),
              self._p("hashrate", 310, hashrate=1, difficulty=2),
              self._p("hashrate", 900, hashrate=5, difficulty=6),   # no price: fallback
              self._p("price", 1200, usd=1),                         # no hashrate: dropped
              self._p("error", None)]
        self.assertEqual(model.avg_info(ps), [(300, 10.67, 1.0, 2.0), (900, 10.67, 5.0, 6.0)])
        self.assertEqual(model.avg_info_stream(ps),
                         {300: (300, 10.67, 1.0, 2.0), 900: (900, None, 5.0, 6.0)})

    def test_half_up(self):
        ps = [self._p("price", 0, usd=1), self._p("price", 1, usd=2),
              self._p("hashrate", 2, hashrate=1, difficulty=0),
              self._p("hashrate", 3, hashrate=2, difficulty=0)]
        self.assertEqual(model.avg_info(ps), [(0, 1.5, 1.5, 0.0)])
        ps = [self._p("price", 0, usd=1)] * 7 + [self._p("price", 1, usd=2)] + \
             [self._p("hashrate", 2, hashrate=1, difficulty=1)]
        self.assertEqual(model.avg_info(ps)[0][1], 1.13)   # 9/8 = 1.125 -> 1.13

    def test_quantile(self):
        self.assertEqual(model.median([3, 1, 2]), 2)
        self.assertEqual(model.quantile([0, 10], 0.25), 2.5)


def progress(batch, start, end, ts, dur):
    off = lambda n: None if n is None else {"n": n, "last": f"p{n - 1:09d}.json"}
    return {"batchId": batch, "timestamp": ts, "batchDuration": dur,
            "sources": [{"startOffset": off(start), "endOffset": off(end)}]}


class StreamArithmeticTest(unittest.TestCase):
    PROG = [progress(1, 3, 5, "2026-01-01T00:00:01.000Z", 300),
            progress(0, None, 3, "2026-01-01T00:00:00.000Z", 500),
            progress(2, 5, 5, "2026-01-01T00:00:02.000Z", 50)]    # no-data batch

    def test_files_map_to_batches(self):
        t0 = model.parse_ts_ms("2026-01-01T00:00:00.000Z")
        ranges = model.batch_ranges(self.PROG)
        self.assertEqual(ranges, [(0, 3, t0, t0 + 500), (3, 5, t0 + 1000, t0 + 1300)])
        due = [t0 - 100, t0 - 50, t0, t0 + 900, t0 + 950]
        self.assertEqual(model.lags_ms(due, ranges), [600, 550, 500, 400, 350])
        self.assertEqual(model.admission_errors(ranges, 5), 0)
        self.assertEqual(model.lags_ms(due + [t0], ranges)[-1], None)

    def test_admission_errors(self):
        self.assertEqual(model.admission_errors([(0, 3, 0, 0), (2, 4, 0, 0)], 5), 2)
        self.assertEqual(model.admission_errors([(0, 6, 0, 0)], 5), 1)

    def test_files_are_due_at_their_trigger_slot(self):
        # 2 files per 1000 ms trigger, first slot at 1250 ms: trigger k is
        # due to admit files 2k and 2k + 1
        self.assertEqual(model.slot_ms(5, 2, 1000.0, 1250.0),
                         [1250.0, 1250.0, 2250.0, 2250.0, 3250.0])

    def test_nominal_lags_skip_the_lead_in(self):
        lead, i = run.STREAM_LEAD_IN, run.STREAM_TRIGGER_MS
        # 2 files per trigger. The lead-in overran, so the first batch after
        # it began late in the slot due at 6i, and overran into the next.
        nom = [(2 * k, 2 * k + 2, 0.0, 6.9 * i) for k in range(lead)] + [
            (2 * lead, 2 * lead + 2, 6.9 * i, 7.2 * i),
            (2 * lead + 2, 2 * lead + 4, 7.2 * i, 7.5 * i)]
        # due at the slots 6i, 6i, 7i, 7i
        lags = run.nominal_lags(nom, 2)
        for got, want in zip(lags, [1.2 * i, 1.2 * i, 0.5 * i, 0.5 * i]):
            self.assertAlmostEqual(got, want)
        self.assertEqual(len(lags), 4)

    def test_drain_rate_starts_after_the_first_batch(self):
        drain = [(0, 10, 0.0, 5000.0), (10, 30, 5000.0, 6000.0), (30, 40, 6000.0, 7000.0)]
        self.assertEqual(run.drain_rate(drain), 30 * 1000.0 / 2000.0)


class OpOracleTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        corpus.write(3, self.dir, n_events=200, n_docs=50)

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def test_corpus_is_deterministic_per_seed(self):
        sql = "SELECT * FROM events ORDER BY event_id"
        other = tempfile.mkdtemp()
        try:
            corpus.write(3, other, n_events=200, n_docs=50)
            self.assertEqual(corpus.oracle_rows(self.dir, sql), corpus.oracle_rows(other, sql))
        finally:
            shutil.rmtree(other, ignore_errors=True)

    def test_rows_match_by_column_name(self):
        rec = {"oracle": "SELECT 1 AS a, 2.5 AS b UNION ALL SELECT 3, 4.5 ORDER BY a",
               "columns": ["b", "a"], "rows": [[2.5, 1], [4.5, 3]]}
        self.assertTrue(run.op_correct("q", rec, self.dir))
        self.assertFalse(run.op_correct("q", dict(rec, rows=[[4.5, 3], [2.5, 1]]), self.dir))
        self.assertFalse(run.op_correct("q", dict(rec, rows=[[2.5, 1]]), self.dir))
        self.assertFalse(run.op_correct("q", dict(rec, columns=["b", "c"]), self.dir))
        self.assertFalse(run.op_correct("q", {"error": "boom"}, self.dir))

    def test_same_row_tolerates_summation_order_only(self):
        self.assertTrue(model.same_row([0.1 + 0.2, "x", 1], [0.3, "x", 1]))
        self.assertFalse(model.same_row([0.31, "x", 1], [0.3, "x", 1]))
        self.assertFalse(model.same_row(["1"], [1]))


class SelfTimeTest(unittest.TestCase):
    def test_children_are_merged_and_clipped(self):
        spans = [{"id": "r", "layer": "harness", "parent": None, "start": 0, "end": 100},
                 {"id": "a", "layer": "api", "parent": "r", "start": 10, "end": 40},
                 {"id": "b", "layer": "api", "parent": "r", "start": 30, "end": 60},
                 {"id": "j", "layer": "spark", "parent": "a", "start": 20, "end": 50},
                 {"id": "k", "layer": "spark", "parent": "b", "start": 90, "end": 120}]
        self.assertEqual(model.self_times(spans),
                         {"harness": 50, "api": (30 - 20) + (30 - 0), "spark": 30 + 30})

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(model.self_times(
            [{"id": "x", "layer": "l", "parent": None, "start": 5, "end": 7}]), {"l": 2})


@unittest.skipUnless(os.environ.get("SPARK_HOME"), "needs SPARK_HOME")
class AvgInfoAgreementTest(unittest.TestCase):
    """The avg_info model agrees with BitcoinEtl.avgInfo on a tiny corpus."""

    def test_model_matches_program(self):
        root = os.getcwd()
        classes = run.build(root)
        payloads = gen.generate(2024, 900)
        price_w = {p.server_ts // gen.WINDOW_S for p in payloads if p.kind == "price"}
        hash_w = {p.server_ts // gen.WINDOW_S for p in payloads if p.kind == "hashrate"}
        self.assertTrue(hash_w - price_w, "corpus must exercise the price fallback")
        d = tempfile.mkdtemp(dir=os.path.join(root, ".bench_build"))
        try:
            gen.write_zone(payloads, os.path.join(d, "zone"))
            plan = {"workload": "avg_info", "zone": os.path.join(d, "zone"), "trace": False,
                    "cores": 2, "result": os.path.join(d, "result.json")}
            res = run.run_jvm(classes, plan, d)
        finally:
            shutil.rmtree(d, ignore_errors=True)
        self.assertEqual([tuple(r) for r in res["rows"]], model.avg_info(payloads))


if __name__ == "__main__":
    unittest.main()
