"""The benchmark's own tests: metric arithmetic, the percentile rule,
seed determinism of the inputs, and failed-op accounting.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from bench import checks, gen, metrics  # noqa: E402


def span(i, parent, op, name, start, end, **c):
    return {"id": i, "parent": parent, "op": op, "name": name,
            "start_ms": start, "end_ms": end, "c": c}


def op(kind, name, dur, rnd=0, ok=True, traced=False, op_id=-1, **out):
    return {"kind": kind, "name": name, "round": rnd, "traced": traced,
            "op_id": op_id, "start_ms": 0.0, "dur_ms": dur, "ok": ok,
            "err": None, "t": {}, "out": out}


class JobTimelineTest(unittest.TestCase):
    """One op [0, 100] with a layer span [5, 95] and four jobs, two of
    them overlapping and one running past the op's end."""

    def setUp(self):
        self.tr = metrics.Trace([
            span(0, -1, 1, "query:q", 0, 100),
            span(1, 0, 1, "operators.sink", 5, 95),
            span(2, 1, 1, "job", 10, 30, tasks=4),
            span(3, 1, 1, "job", 20, 40, tasks=4),
            span(4, 1, 1, "job", 50, 60, tasks=1),
            span(5, 1, 1, "job", 90, 120, tasks=2),
        ])

    def test_union_of_job_intervals(self):
        self.assertEqual(metrics.union_ms([(10, 30), (20, 40), (50, 60)]), 40)
        self.assertEqual(metrics.union_ms([(0, 5), (5, 9)]), 9)
        self.assertEqual(metrics.union_ms([]), 0)
        # clipped to the op: 10..40, 50..60, 90..100
        self.assertEqual(self.tr.job_union_ms(1), 50)

    def test_gap_is_op_wall_minus_union(self):
        self.assertEqual(self.tr.gap_ms(1), 50)

    def test_layer_self_time(self):
        # 90 ms span less 10..40, 50..60, 90..95 covered by its jobs
        self.assertEqual(self.tr.self_ms("operators.sink", 1), 45)

    def test_counters(self):
        self.assertEqual(len(self.tr.jobs(1)), 4)
        self.assertEqual(self.tr.counter(1, "tasks"), 11)


class PercentileRuleTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        self.assertFalse(metrics.tail_supported(99, 0.9))
        self.assertTrue(metrics.tail_supported(100, 0.9))
        self.assertFalse(metrics.tail_supported(999, 0.99))
        self.assertTrue(metrics.tail_supported(1000, 0.99))

    def _raw(self, n):
        return {"setup_s": 1.0, "rounds": [{"round": 0, "traced": False,
                                             "start_ms": 0.0, "end_ms": 1000.0}],
                "ops": [op("query", "q", float(i + 1)) for i in range(n)]}

    def test_p90_reported_only_with_support(self):
        self.assertNotIn("op_p90_ms", metrics.end_to_end("analytics", self._raw(99), {}))
        m = metrics.end_to_end("analytics", self._raw(100), {})
        self.assertAlmostEqual(m["op_p90_ms"][0], 90.1)
        self.assertEqual(m["op_p50_ms"][0], 50.5)
        self.assertEqual(m["ops_per_s"][0], 100.0)


class SeedDeterminismTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.fix = os.path.join(cls.tmp.name, "fixtures")
        gen.write_fixtures(cls.fix)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def _inputs(self, workload, seed, tag):
        d = os.path.join(self.tmp.name, f"{workload}-{seed}-{tag}")
        gen.write_run_inputs(workload, seed, self.fix, d)
        return d

    def test_fixtures_are_byte_identical(self):
        again = os.path.join(self.tmp.name, "fixtures2")
        gen.write_fixtures(again)
        names = sorted(os.listdir(self.fix))
        self.assertEqual(names, sorted(os.listdir(again)))
        self.assertEqual(filecmp.cmpfiles(self.fix, again, names, shallow=False)[0], names)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in ("analytics", "serve_ingest"):
            a, b, c = self._inputs(w, 7, "a"), self._inputs(w, 7, "b"), self._inputs(w, 8, "c")
            names = sorted(os.listdir(a))
            match, mismatch, _ = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((match, mismatch), (names, []), w)
            match, _, _ = filecmp.cmpfiles(a, c, names, shallow=False)
            self.assertEqual(match, [], w)

    def test_planted_pairs_are_near_duplicates(self):
        ids, texts, batch, planted = gen.doc_batches(3)
        text = dict(zip(ids, texts))

        def bigrams(t):
            w = t.split(" ")
            return {(w[i], w[i + 1]) for i in range(len(w) - 1)}
        for _, a, b in planted:
            x, y = bigrams(text[a]), bigrams(text[b])
            self.assertGreaterEqual(len(x & y) / len(x | y), 0.85)


class TraceOverheadTest(unittest.TestCase):
    @staticmethod
    def _raw(walls):
        """Rounds of 10 ops with the given wall times; even rounds traced."""
        rounds, ops, t = [], [], 0.0
        for n, w in enumerate(walls):
            rounds.append({"round": n, "traced": n % 2 == 0, "start_ms": t * 1e3,
                           "end_ms": (t + w) * 1e3, "gc_ms": 0})
            ops += [op("query", "q", 1.0, rnd=n) for _ in range(10)]
            t += w
        return {"rounds": rounds, "ops": ops}

    def test_steady_trend_cancels(self):
        # rounds speed up by 1 s each and tracing costs nothing; round 0
        # has no untraced round before it, so only round 2 is used
        self.assertAlmostEqual(metrics.trace_overhead(self._raw([14, 13, 12, 11])), 1.0, delta=0.01)

    def test_traced_round_against_its_neighbours(self):
        want = (10 / 13 + 10 / 11) / 2 / (10 / 13.2)
        self.assertAlmostEqual(metrics.trace_overhead(self._raw([14, 13, 13.2, 11])), want)


class LsmCheckTest(unittest.TestCase):
    """The LSM live-set check on a small store written here: a base of
    entities 1-4, a delta that updates 2 and tombstones 3, a delta that
    inserts 9."""

    ARRIVALS = {0: [(2, (5, 5), False), (3, (0, 0), True)],
                1: [(9, (7, 7), False)]}

    def _store(self, root, extra_delta_row=None):
        base = os.path.join(root, "base_c3", "bucket=0")
        os.makedirs(base)
        pq.write_table(pa.table({"ent": [1, 2, 3, 4],
                                 "qe": [[1, 1], [2, 2], [3, 3], [4, 4]]}),
                       os.path.join(base, "part-0.parquet"))
        os.makedirs(os.path.join(root, "base"))
        for g, rows in ((4, self.ARRIVALS[0]), (5, self.ARRIVALS[1] + (extra_delta_row or []))):
            os.makedirs(os.path.join(root, f"delta{g}"))
            pq.write_table(pa.table({"ent": [r[0] for r in rows],
                                     "qe": [list(r[1]) for r in rows],
                                     "del": [r[2] for r in rows]}),
                           os.path.join(root, f"delta{g}", "part-0.parquet"))

    def _ops(self):
        return [op("lsm", "ingest", 1.0, batch=b, compacted=False) for b in (0, 1)]

    def test_latest_wins(self):
        live, compacts = checks.lsm_expected(self.ARRIVALS, [0, 1], {1, 2, 3, 4})
        self.assertEqual(live, {1: None, 2: (5, 5), 4: None, 9: (7, 7)})
        self.assertEqual(compacts, [True, True])   # 2 and 1 rows on a base of 4
        with tempfile.TemporaryDirectory() as d:
            self._store(d)
            self.assertEqual(checks.lsm_store(d),
                             {1: (1, 1), 2: (5, 5), 4: (4, 4), 9: (7, 7)})

    def test_wrong_store_fails_last_op(self):
        arrivals = {0: self.ARRIVALS[0], 1: self.ARRIVALS[1]}
        seed_live = set(range(1, 101))   # a base of 100 rows: no compaction
        with tempfile.TemporaryDirectory() as d:
            self._store(d, extra_delta_row=[(4, (0, 0), True)])
            ops = self._ops()
            checks.lsm(ops, d, arrivals, [], {1, 2, 3, 4})
            # base of 4 rows: both batches should have compacted
            self.assertEqual([o["ok"] for o in ops], [False, False])
            ops = self._ops()
            checks.lsm(ops, d, arrivals, [], seed_live)
            self.assertEqual([o["ok"] for o in ops], [True, False])
            self.assertIn("live set differs", ops[1]["err"])

    def test_generated_arrivals_compact_every_third_batch(self):
        rng = np.random.default_rng(0)
        corpus = gen.unit_vectors(rng, 2000)
        cols = gen.lsm_batches(5, corpus, np.zeros(2000, dtype=np.int32))
        arrivals = {}
        for b, e, qe, d in zip(cols["batch"], cols["ent"], cols["qe"], cols["del"]):
            arrivals.setdefault(b, []).append((e, tuple(qe), d))
        self.assertTrue(all(len({e for e, _, _ in rows}) == gen.LSM_BATCH
                            for rows in arrivals.values()))
        _, compacts = checks.lsm_expected(arrivals, range(gen.LSM_BATCHES),
                                          gen.lsm_seed_live(2000))
        self.assertEqual(compacts, [b % 3 == 2 for b in range(gen.LSM_BATCHES)])


class FailedOpTest(unittest.TestCase):
    """A wrong output fails its op and shows in `failed` and `failed_frac`."""

    def _ops(self):
        return [
            op("dedup", "batch0", 5.0, batch=0, pairs=[[1, 2], [3, 4]]),
            op("etl", "writeOneCluster", 5.0, rows=10,
               readback=[[10, 10, 45, 45, 160]]),
            op("serve", "bq", 5.0, batch=0),
        ]

    def _tally(self, ops):
        checks.dedup(ops, [(0, 1, 2)])
        checks.etl(ops)
        return checks.tally(ops)

    def test_correct_outputs_pass(self):
        self.assertEqual(self._tally(self._ops()), (3, 0, 0.0))

    def test_wrong_outputs_fail(self):
        ops = self._ops()
        ops[0]["out"]["pairs"] = [[3, 4]]
        self.assertEqual(self._tally(ops), (3, 1, 1 / 3))
        ops = self._ops()
        ops[1]["out"]["readback"] = [[9, 9, 36, 36, 144]]
        self.assertEqual(self._tally(ops), (3, 1, 1 / 3))
        raw = {"setup_s": 1.0, "ops": ops, "rounds": [
            {"round": 0, "traced": False, "start_ms": 0.0, "end_ms": 1000.0}]}
        m = metrics.end_to_end("serve_ingest", raw, {"recall": {}})
        self.assertNotIn("etl_rows_per_s", m)   # a failed op yields no rate

    def test_thrown_op_fails(self):
        ops = self._ops()
        ops[2]["ok"], ops[2]["err"] = False, "RuntimeException: boom"
        self.assertEqual(self._tally(ops), (3, 1, 1 / 3))


class ManifestTest(unittest.TestCase):
    """The result line carries exactly the metrics BENCHMARK.json lists,
    and every workload yields every end-to-end one."""

    def test_result_names_are_the_manifest(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            manifest = json.load(f)
        self.assertEqual([m["name"] for m in manifest["end_to_end"]],
                         list(metrics.RESULT_END_TO_END))
        self.assertEqual([m["name"] for m in manifest["per_layer"]],
                         list(metrics.RESULT_PER_LAYER))

    def test_every_workload_yields_every_end_to_end_metric(self):
        rounds = [{"round": 0, "traced": False, "start_ms": 0.0, "end_ms": 1000.0}]
        runs = {"analytics": [op("query", "q01", 5.0)],
                "serve_ingest": [op("serve", "bq", 5.0), op("dedup", "batch0", 7.0)]}
        for workload, ops in runs.items():
            m = metrics.end_to_end(workload, {"setup_s": 1.0, "rounds": rounds, "ops": ops},
                                   {"recall": {"bq": 0.5}})
            result, _ = metrics.split(m, metrics.RESULT_END_TO_END)
            self.assertEqual(set(result), set(metrics.RESULT_END_TO_END))

    def test_missing_metric_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.split({"setup_s": (1.0, "s")}, metrics.RESULT_END_TO_END)


if __name__ == "__main__":
    unittest.main()
