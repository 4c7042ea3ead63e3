"""Tests of the benchmark's own logic: statistics, input generation and the
correctness gate. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import contextlib
import datetime
import io
import json
import os
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen      # noqa: E402
import oracle   # noqa: E402
import run      # noqa: E402
import stats    # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail_percentile(xs), (90, 90, 100))

    def test_fewer_samples_lower_the_percentile(self):
        value, pct, n = stats.tail_percentile(list(range(1, 51)))
        self.assertEqual((pct, n), (80, 50))
        self.assertEqual(value, 40)
        self.assertGreaterEqual(sum(1 for x in range(1, 51) if x > value), 10)

    def test_percentile_is_capped_at_90(self):
        value, pct, n = stats.tail_percentile(list(range(1, 1001)))
        self.assertEqual((value, pct, n), (900, 90, 1000))

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail_percentile([3.0, 1.0, 2.0]), (2.0, 50, 3))
        self.assertEqual(stats.tail_percentile(list(range(1, 20)))[1], 50)
        self.assertEqual(stats.tail_percentile(list(range(1, 21)))[:2], (10, 50))

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 4, 16]), 4.0)
        self.assertAlmostEqual(stats.geomean([0.01, 100]), 1.0)
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])


class ReferenceSpeed(unittest.TestCase):
    def ops(self, probes):
        return [{"thread_cpu_s": 1.0, "probe_s": p} for p in probes]

    def test_a_host_at_half_speed_halves_the_cost(self):
        ref = run.PROBE_REF_S
        out = run.at_reference_speed(self.ops([2 * ref] * 4), "thread_cpu_s")
        self.assertEqual([o["thread_cpu_s"] for o in out], [0.5] * 4)

    def test_each_operation_uses_the_median_of_its_and_its_neighbours_probes(self):
        ref = run.PROBE_REF_S
        out = run.at_reference_speed(self.ops([ref, 4 * ref, ref, ref]), "thread_cpu_s")
        self.assertEqual([round(o["thread_cpu_s"], 3) for o in out], [0.4, 1.0, 1.0, 1.0])


class Generator(unittest.TestCase):
    def test_same_seed_same_operations(self):
        for w in gen.WORKLOADS:
            self.assertEqual(gen.plan_ops(w, 7), gen.plan_ops(w, 7), w)

    def test_other_seed_other_order_same_types(self):
        for w in ("olap_relational", "pipeline_operators", "sql_frontdoor"):
            a = gen.plan_ops(w, 1)["passes"]
            b = gen.plan_ops(w, 2)["passes"]
            self.assertNotEqual([[o["type"] for o in p] for p in a],
                                [[o["type"] for o in p] for p in b], w)
            for pa_, pb in zip(a, b):
                self.assertEqual(sorted(o["type"] for o in pa_),
                                 sorted(o["type"] for o in pb), w)

    def test_query_passes_share_one_order(self):
        for w in ("olap_relational", "pipeline_operators"):
            passes = gen.plan_ops(w, 1)["passes"]
            self.assertEqual(len({tuple(o["type"] for o in p) for p in passes}), 1, w)

    def test_sql_texts_never_repeat(self):
        plan = gen.plan_ops("sql_frontdoor", 3)
        texts = [o["ch"] for o in plan["setup"] + plan["warm"]] + [
            o["ch"] for p in plan["passes"] for o in p]
        self.assertEqual(len(texts), len(set(texts)))
        other = gen.plan_ops("sql_frontdoor", 4)["passes"]
        self.assertNotEqual(texts, [o["ch"] for p in other for o in p])

    def test_setups_use_the_first_operation_type(self):
        for w in gen.WORKLOADS:
            plan = gen.plan_ops(w, 5)
            self.assertEqual([o["type"] for o in plan["setup"]],
                             [plan["warm"][0]["type"]] * 3, w)

    def test_warm_pass_has_every_type_in_fixed_order(self):
        for w in gen.WORKLOADS:
            a, b = gen.plan_ops(w, 5), gen.plan_ops(w, 6)
            self.assertEqual([o["type"] for o in a["warm"]],
                             [o["type"] for o in b["warm"]], w)
            self.assertEqual(sorted(o["type"] for o in a["warm"]),
                             sorted(o["type"] for o in a["passes"][0]), w)

    def test_tables_do_not_depend_on_the_seed(self):
        a, b = gen.tables(), gen.tables()
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)


class IngestSlicer(unittest.TestCase):
    events = gen.tables()["events"].to_pylist()

    def slices(self, seed):
        return gen.plan_ops("ingest_refresh", seed)["slices"]

    def test_slices_together_equal_the_events_table(self):
        for seed in (1, 2, 3):
            landed = {}
            for rows, _ in self.slices(seed):
                for r in rows:
                    landed.setdefault(r["event_id"], r)
                    self.assertEqual(landed[r["event_id"]], r)
            self.assertEqual(sorted(landed.values(), key=lambda r: r["event_id"]),
                             self.events)

    def test_no_original_behind_the_watermark(self):
        wm = datetime.timedelta(seconds=gen.WATERMARK_S)
        for seed in (1, 2, 3):
            seen, newest = set(), None
            for rows, n_orig in self.slices(seed):
                originals = [r for r in rows if r["event_id"] not in seen]
                self.assertEqual(len({r["event_id"] for r in originals}), n_orig)
                if newest is not None:
                    # the watermark of this batch is the newest event so far
                    # minus the delay; every row, replay or not, is newer
                    self.assertTrue(all(r["ts"] > newest - wm for r in rows))
                    self.assertTrue(all(r["ts"] >= newest for r in originals))
                seen |= {r["event_id"] for r in rows}
                newest = max(r["ts"] for r in rows)

    def test_slices_replay_duplicates(self):
        rows = [r for s, _ in self.slices(1) for r in s]
        self.assertGreater(len(rows), len(self.events))

    def test_other_seed_other_slicing(self):
        self.assertNotEqual([n for _, n in self.slices(1)],
                            [n for _, n in self.slices(2)])


class Gate(unittest.TestCase):
    """A corrupted expected result must make the command report failure."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.data = os.path.join(cls.tmp.name, f"data-{gen.DATA_VERSION}")
        gen.write_tables(cls.data)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def fake_run(self, corrupt):
        """A JVM result for olap_relational with one first result written
        from DuckDB's own answer, optionally with one value changed."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        sql = "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag"
        con = oracle.connect(self.data)
        tbl = con.sql(sql).arrow()
        if corrupt:
            n = tbl.column("n").to_pylist()
            n[0] += 1
            tbl = tbl.set_column(1, "n", pa.array(n, pa.int64()))
        out = os.path.join(self.tmp.name, "corrupt" if corrupt else "clean")
        os.makedirs(out, exist_ok=True)
        pq.write_table(tbl, os.path.join(out, "part-0.parquet"))
        op = {"pass": 1, "idx": 0, "type": "q", "latency_s": 0.5, "cpu_s": 1.2,
              "thread_cpu_s": 0.6, "probe_s": 0.01, "codegen_compiles": 4,
              "rows": 3,
              "fingerprint": 9, "error": None, "steps": {}, "extra": {}}
        return {"setup_s": [3.0, 2.0, 2.0], "session_s": [1.0, 0.1, 0.1],
                "cold_start_s": 9.0,
                "warm": [], "ops": [op, dict(op, **{"pass": 2})],
                "results": [{"type": "q", "path": out, "rows": 3, "inputs": ["lineitem"],
                             "fingerprint": 9}],
                "oracle": {"q": sql}, "ingest_dir": None, "heap_retained_mb": 80.0}

    def run_main(self, res):
        buf = io.StringIO()
        with mock.patch.object(run, "build", return_value=("", [])), \
                mock.patch.object(run, "launch", return_value=res), \
                mock.patch.object(run, "WORK", self.tmp.name), \
                contextlib.redirect_stdout(buf), contextlib.redirect_stderr(io.StringIO()):
            rc = run.main(["--workload", "olap_relational", "--seed", "1",
                           "--seconds", "1"])
        return rc, json.loads(buf.getvalue().splitlines()[-1])

    def test_clean_result_passes(self):
        rc, out = self.run_main(self.fake_run(corrupt=False))
        self.assertEqual(rc, 0)
        self.assertEqual((out["correct"], out["failed"]), (True, 0))

    def test_corrupted_expected_result_fails(self):
        rc, out = self.run_main(self.fake_run(corrupt=True))
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], out["attempted"])


if __name__ == "__main__":
    unittest.main()
