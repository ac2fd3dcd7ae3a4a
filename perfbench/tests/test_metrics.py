"""Unit tests for the benchmark's arithmetic and its failure accounting.

    python3 -m unittest discover -s perfbench/tests

Each derivation is tested on a hand-worked case, then a planted mismatch in
a synthetic run must raise failed_frac above zero.
"""
import os
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class FakeOracle:
    """Answers by query: the synthetic run dumps q_a's result to a dir named
    after it."""

    def __init__(self, wrong=()):
        self.wrong = set(wrong)

    def check(self, sql, result_dir):
        return "VALUES planted" if os.path.basename(result_dir) in self.wrong else None


def synthetic_run(job=(10.0, 40.0), task_run_ms=100, stream=(2.0, 8.0)):
    """One warm pass, one timed pass and one traced pass of two queries."""
    ev = [{"type": "env", "cores": 4, "heap_max_bytes": 1, "spark_version": "x",
           "java_version": "x", "conf": {}},
          {"type": "oracle", "name": "q_a", "sql": "select 1"},
          {"type": "oracle", "name": "q_b", "sql": None},
          {"type": "ready", "t": -4000.0},
          {"type": "timed", "t": 0.0}]
    for phase, base in (("timed", 0.0), ("traced", 1000.0)):
        ev.append({"type": "pass", "phase": phase, "pass": 0, "t0": base, "t1": base + 200.0})
        for i, name in enumerate(("q_a", "q_b")):
            t0 = base + 100.0 * i
            ev.append({"type": "query", "phase": phase, "pass": 0, "idx": i, "qid": f"{phase}.0.{i}",
                       "name": name, "t0": t0, "tb": t0 + 50.0, "t1": t0 + 100.0, "ok": True,
                       "err": None})
    ev += [
        {"type": "job", "id": 0, "qid": "traced.0.0", "stream_id": None,
         "t0": 1000.0 + job[0], "t1": 1000.0 + job[1], "stages": [0], "ok": True},
        {"type": "task", "stage": 0, "attempt": 0, "run_ms": task_run_ms, "cpu_ns": 1, "gc_ms": 0,
         "shuffle_read": 0, "shuffle_write": 0, "spill": 0, "output": 0, "failed": False},
        {"type": "qe", "func": "save", "t0": 1001.0,
         "phases": {"analysis": 1, "optimization": 2, "planning": 3}},
        {"type": "stream_start", "run_id": "r", "qid": "traced.0.0", "t": 1000.0 + stream[0]},
        {"type": "stream_progress", "run_id": "r", "batch": 0, "input_rows": 5,
         "durations": {"triggerExecution": 4, "addBatch": 3}, "state_commit_ms": 1,
         "state_memory_bytes": 7},
        {"type": "stream_end", "run_id": "r", "t": 1000.0 + stream[1]},
        {"type": "table", "name": "lineitem", "ms": [3.0, 1.0, 2.0]},
        {"type": "timed_end", "t": 1200.0},
        {"type": "check", "name": "q_a", "dir": "/nonexistent/q_a", "ok": True, "err": None},
        {"type": "rss", "vm_hwm_kb": 2048},
        {"type": "heap", "live_bytes": 5 * 2**20},
    ]
    return ev


def analyze(events, wrong=()):
    return run.analyze(events, -5000.0, "/nonexistent", FakeOracle(wrong))


class Union(unittest.TestCase):
    def test_overlaps_merge_and_clip(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 30)], 8, 25), 12)
        self.assertEqual(metrics.union_ms([]), 0)
        self.assertEqual(metrics.union_ms([(5, 5), (9, 3)]), 0)

    def test_gaps(self):
        self.assertEqual(metrics.gaps_ms([(10, 30), (20, 50), (60, 70)], 0, 100), 50)
        self.assertEqual(metrics.gaps_ms([(-5, 10), (90, 120)], 0, 100), 80)
        self.assertEqual(metrics.gaps_ms([], 0, 100), 100)
        self.assertEqual(metrics.gaps_ms([(40, 20), (30, 30), (200, 300)], 0, 100), 100)

    def test_covered_plus_out_of_job_is_wall(self):
        rec, bad = metrics.query_layers({"t0": 0.0, "tb": 40.0, "t1": 100.0},
                                        [(10, 30), (20, 50), (60, 70)], [])
        self.assertEqual(bad, [])
        self.assertEqual(rec["job_ms"], 50)
        self.assertEqual(rec["out_of_job_ms"], 50)
        self.assertEqual((rec["builder_jobs"], rec["action_jobs"]), (2, 1))
        self.assertEqual(rec["builder_job_ms"], 30)

    def test_planted_job_outside_query_fails(self):
        self.assertEqual(analyze(synthetic_run())[0]["failed"], 0)
        res, details, _ = analyze(synthetic_run(job=(-30.0, 40.0)))
        self.assertEqual(res["failed"], 1)
        self.assertGreater(details["failed_frac"], 0)

    def test_planted_gap_miscount_fails(self):
        with mock.patch.object(metrics, "gaps_ms", lambda ivs, lo, hi: hi - lo):
            res, details, _ = analyze(synthetic_run())
        self.assertGreater(details["failed_frac"], 0)

    def test_planted_unowned_job_fails_its_pass(self):
        ev = synthetic_run()
        ev.append({"type": "job", "id": 1, "qid": None, "stream_id": None,
                   "t0": 1199.5, "t1": 1199.9, "stages": [], "ok": True})
        with mock.patch.object(metrics, "_owner", lambda qs, t: None):
            res, details, _ = analyze(ev)
        self.assertEqual(res["failed"], 2)
        self.assertGreater(details["failed_frac"], 0)
        # a job outside every traced pass is not this pass's business
        ev[-1].update(t0=500.0, t1=501.0)
        self.assertEqual(analyze(ev)[0]["failed"], 0)


class SelfTime(unittest.TestCase):
    def test_span_minus_children(self):
        self.assertEqual(metrics.self_ms((0, 100), [(10, 20), (15, 30), (90, 120)]), 70)
        rec, _ = metrics.query_layers({"t0": 0.0, "tb": 50.0, "t1": 100.0},
                                      [(5, 15), (60, 80)], [(20, 40)])
        self.assertEqual(rec["self_builder_ms"], 20)
        self.assertEqual(rec["self_action_ms"], 30)
        self.assertEqual(rec["self_streaming_ms"], 20)

    def test_planted_stream_outside_builder_fails(self):
        res, details, _ = analyze(synthetic_run(stream=(2.0, 80.0)))
        self.assertEqual(res["failed"], 0, "a stream still draining is cut at the builder's end")
        # a stream that started before its query is an ownership error
        res, details, _ = analyze(synthetic_run(stream=(-20.0, 8.0)))
        self.assertGreater(details["failed_frac"], 0)


class Percentile(unittest.TestCase):
    def test_interpolates_and_counts_beyond(self):
        v, n, beyond = metrics.percentile(list(range(1, 101)), 90)
        self.assertAlmostEqual(v, 90.1)
        self.assertEqual((n, beyond), (100, 10))
        self.assertEqual(metrics.percentile([5.0], 50), (5.0, 1, 0))

    def test_sample_rule_flag(self):
        _, details, _ = analyze(synthetic_run())
        self.assertEqual(details["latency_samples"], 4)
        self.assertFalse(details["latency_p90_meets_sample_rule"])

    def test_planted_percentile_fails(self):
        xs = [1.0, 2.0, 3.0]
        self.assertEqual(metrics.check_percentiles(xs, {50: metrics.percentile(xs, 50)}), [])
        self.assertTrue(metrics.check_percentiles(xs, {50: (9.0, 3, 0)}))
        with mock.patch.object(metrics, "percentile", lambda xs, q: (1e9, len(xs), 0)):
            res, details, _ = analyze(synthetic_run())
        self.assertGreater(details["failed_frac"], 0)


class CoreUtil(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(metrics.core_util(200.0, 4, 100.0), 0.5)
        self.assertEqual(metrics.core_util(1.0, 4, 0.0), 0.0)
        res, _, _ = analyze(synthetic_run())
        self.assertAlmostEqual(res["layers"]["exec.core_util"], 100 / (4 * 30))

    def test_planted_overfull_cores_fail(self):
        res, details, _ = analyze(synthetic_run(task_run_ms=10_000))
        self.assertGreater(details["failed_frac"], 0)


class OracleComparison(unittest.TestCase):
    def test_live_oracle_against_a_dumped_result(self):
        import duckdb
        with tempfile.TemporaryDirectory() as tmp:
            data, dump = os.path.join(tmp, "data"), os.path.join(tmp, "q_t")
            os.makedirs(data)
            os.makedirs(dump)
            con = duckdb.connect()
            con.sql(f"COPY (SELECT range AS k, range % 3 AS g FROM range(30)) "
                    f"TO '{data}/t.parquet' (FORMAT parquet)")
            con.sql(f"COPY (SELECT g, count(*) AS n FROM '{data}/t.parquet' GROUP BY g ORDER BY g) "
                    f"TO '{dump}/part-0.parquet' (FORMAT parquet)")
            o = oracle.Oracle(data)
            self.assertIsNone(o.check("SELECT g, count(*) AS n FROM t GROUP BY g ORDER BY g", dump))
            self.assertTrue(o.check("SELECT g, count(*) + 1 AS n FROM t GROUP BY g ORDER BY g", dump)
                            .startswith("VALUES"))
            self.assertTrue(o.check("SELECT g FROM t", dump).startswith("SCHEMA"))
            self.assertTrue(o.check("SELECT * FROM no_such_table", dump).startswith("ORACLEERR"))
            self.assertTrue(o.check("SELECT 1", os.path.join(tmp, "missing")).startswith("READERR"))

    def test_check_rule(self):
        import pandas as pd
        got = pd.DataFrame({"b": [1, 2], "a": ["x", "y"]})
        self.assertIsNone(oracle.compare(got, pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0]})))
        self.assertTrue(oracle.compare(got, pd.DataFrame({"a": ["x", "y"], "c": [1, 2]}))
                        .startswith("SCHEMA"))
        self.assertTrue(oracle.compare(got, pd.DataFrame({"a": ["x"], "b": [1]})).startswith("ROWS"))
        self.assertTrue(oracle.compare(got, pd.DataFrame({"a": ["x", "y"], "b": [1, 3]}))
                        .startswith("VALUES"))

    def test_planted_wrong_answer_fails_every_run_of_the_query(self):
        res, details, _ = analyze(synthetic_run(), wrong={"q_a"})
        self.assertEqual((res["attempted"], res["failed"]), (4, 2))
        self.assertEqual(details["failed_frac"], 0.5)
        self.assertEqual(details["unchecked_queries"], 1)


if __name__ == "__main__":
    unittest.main()
