#!/usr/bin/env python3
"""Self-tests of the benchmark harness (no JVM needed):

    python3 perfbench/selftest.py

- the metric names and units `run.py` prints are exactly those listed in
  the repo's BENCHMARK.json, for both --trace 0 and --trace 1;
- the workloads match BENCHMARK.json and every query has an oracle digest
  computed on the tables in perfbench/data;
- the output check passes the oracle's own result and flags a perturbed
  value, a missing row and a missing output;
- a query that throws while its output is dumped counts as one failure;
- the tail percentile keeps at least 10 samples beyond it.
"""
import contextlib
import io
import json
import os
import shutil
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

BENCH = run.load_json(os.path.join(run.ROOT, "BENCHMARK.json"))


def fake_untraced():
    return {"setup_s": 19.0, "pass_s": [3.0, 3.2],
            "by_query": {"q": [0.1, 0.2]}, "heap_floor_mb": 90.5,
            "heap_samples": 30, "timed_wall_s": 7.0, "check_wall_s": 3.0,
            "attempted": 42, "threw": 0, "errors": {}, "check_threw": []}


def fake_traced():
    pm = {k: 1.0 for k in run.PER_LAYER if k.split(".")[0] in (
        "operators", "spark") or k == "trace.unattributed_jobs"}
    return {"pass_metrics": pm, "traced_pass_s": [3.1, 3.3],
            "streaming": {k: 2.0 for k in run.PER_LAYER
                          if k.startswith("streaming.")},
            "plain_pass_s": [3.0, 3.2], "session_build_s": 3.5,
            "tables_scan_s": 0.5, "tables_scan_tasks": 4,
            "artifacts": {f"artifact.{a}.{k}": 1.0
                          for a in ("edges", "pairs", "labels")
                          for k in ("build_s", "read_s")},
            "artifact_dirs": 3, "artifact_bytes": 1000,
            "functions_ns_per_row": {f: 10.0 for f in run.FUNCTIONS},
            "task_ms_p50": 12.0, "jvm_gc_s": 1.0, "jvm_jit_s": 9.0,
            "jvm_peak_rss_mb": 900.0, "by_query": {"q": [0.1]},
            "query_s": [0.1 * i for i in range(1, 15)],
            "attempted": 20, "threw": 0, "errors": {}}


class MetricNames(unittest.TestCase):
    def spec(self, key):
        return {m["name"]: m["unit"] for m in BENCH[key]}

    def test_tables_match_benchmark_json(self):
        self.assertEqual(run.END_TO_END, self.spec("end_to_end"))
        self.assertEqual(run.PER_LAYER, self.spec("per_layer"))

    def printed(self, trace, res):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out = run.report("scan_agg", 7, trace, res, {}, 100, 3)
        self.assertEqual(json.loads(json.dumps(out)), out)
        return buf.getvalue(), out

    def test_untraced_output(self):
        text, out = self.printed(0, fake_untraced())
        self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()},
                         self.spec("end_to_end"))
        for name in self.spec("end_to_end"):
            self.assertIn(f"  {name} ", text)
        self.assertEqual((out["attempted"], out["failed"]), (42, 0))
        self.assertAlmostEqual(out["metrics"]["pass_s"]["value"], 0.15)

    def test_traced_output(self):
        text, out = self.printed(1, fake_traced())
        self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()},
                         self.spec("per_layer"))
        for name in self.spec("per_layer"):
            self.assertIn(f"  {name} ", text)

    def test_workloads_match_benchmark_json(self):
        wl = run.workloads()
        self.assertEqual([w["name"] for w in BENCH["workloads"]], list(wl))
        for w in BENCH["workloads"]:
            self.assertEqual(w["why"], wl[w["name"]]["why"])


class OutputCheck(unittest.TestCase):
    QUERIES = ("tpch_q6", "etl_bucketize", "sessionize")

    @classmethod
    def setUpClass(cls):
        import duckdb
        cls.oracle = run.oracle()
        cls.out = os.path.join(run.WORK, "selftest")
        shutil.rmtree(cls.out, ignore_errors=True)
        con = duckdb.connect()
        for t in run.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(run.DATA, t)}.parquet')")
        cls.frames = {q: con.execute(cls.oracle["queries"][q]["sql"]).df()
                      for q in cls.QUERIES}

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.out, ignore_errors=True)

    def write(self, frames):
        shutil.rmtree(self.out, ignore_errors=True)
        for q, df in frames.items():
            os.makedirs(os.path.join(self.out, q))
            df.to_parquet(os.path.join(self.out, q, "part-00000.parquet"))

    def check(self, frames, threw=()):
        self.write(frames)
        return run.check_outputs(self.out, self.QUERIES,
                                 self.oracle["queries"], threw)[0]

    def test_oracle_covers_every_query(self):
        self.assertEqual(run.fingerprint(),
                         self.oracle["fingerprint"])
        for w in run.workloads().values():
            for q in w["queries"]:
                self.assertIn(q, self.oracle["queries"])

    def test_oracle_result_passes_in_any_column_order(self):
        frames = {q: df[list(reversed(df.columns))]
                  for q, df in self.frames.items()}
        self.assertEqual(self.check(frames), {})

    def test_perturbed_value_is_flagged(self):
        frames = dict(self.frames)
        df = frames["etl_bucketize"].copy()
        col = df.select_dtypes("number").columns[0]
        df.loc[0, col] += 1
        frames["etl_bucketize"] = df
        self.assertEqual(list(self.check(frames)), ["etl_bucketize"])

    def test_missing_row_is_flagged(self):
        frames = dict(self.frames)
        frames["sessionize"] = frames["sessionize"].iloc[:-1]
        self.assertEqual(list(self.check(frames)), ["sessionize"])

    def test_missing_output_is_flagged(self):
        frames = dict(self.frames)
        del frames["tpch_q6"]
        self.assertEqual(self.check(frames), {"tpch_q6": "no output"})

    def test_query_that_threw_counts_once(self):
        frames = dict(self.frames)
        del frames["tpch_q6"]
        bad = self.check(frames, threw=["tpch_q6"])
        self.assertEqual(bad, {})
        res = dict(fake_untraced(), threw=1, check_threw=["tpch_q6"],
                   errors={"tpch_q6": "java.lang.RuntimeException: x"})
        with contextlib.redirect_stdout(io.StringIO()), \
                contextlib.redirect_stderr(io.StringIO()):
            out = run.report("scan_agg", 7, 0, res, bad, 100, 3)
        self.assertEqual((out["failed"], out["correct"]), (1, False))


class Tail(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(run.tail(xs), (90, 90))
        v, p = run.tail(list(range(1, 12)))
        self.assertGreaterEqual(sum(x > v for x in range(1, 12)), 10)
        self.assertEqual(run.tail([3.0, 1.0]), (3.0, 100))


if __name__ == "__main__":
    unittest.main()
