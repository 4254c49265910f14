"""Tests of the benchmark's contract and arithmetic (no Spark needed).

Run: python3 -m unittest discover -s perfbench/tests
"""
import io
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def query(name, error=None, build_s=0.5, execute_s=1.0, cpu_ns=2e9, rows=1000):
    return {"name": name, "build_s": build_s, "execute_s": execute_s, "error": error,
            "counters": {"task_cpu_ns": cpu_ns, "records_read": rows}}


def record(*errors):
    """A run record of two queries over a first pass, a warm-up pass and
    two measured warm passes; `errors` are (pass index, query name,
    message) to inject."""
    passes = []
    for i, kind in enumerate(["first", "warmup", "warm", "warm"]):
        qs = [query("qa"), query("qb")]
        for pi, name, msg in errors:
            if pi == i:
                qs = [dict(q, error=msg) if q["name"] == name else q for q in qs]
        passes.append({"kind": kind, "index": i, "queries": qs})
    return {"passes": passes, "setup_s": [3.0, 0.2, 0.3, 0.25], "peak_heap_mb": 100.0,
            "verify_errors": {}}


PASS = {"qa": {"err": None, "spark_rows": 5}, "qb": {"err": None, "spark_rows": 7}}


class Contract(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_metric_names_and_units_match_the_benchmark_file(self):
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in self.bench["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in self.bench["per_layer"]],
                         metrics.PER_LAYER)
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(run.WORKLOADS))
        self.assertEqual(len(metrics.END_TO_END), 8)
        self.assertIn(("setup_s", "s", "lower"), metrics.END_TO_END)
        self.assertIn(("cold_setup_s", "s", "lower"), metrics.END_TO_END)
        bounds = {m["name"]: m["bound"] for m in self.bench["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])

    def test_result_line_carries_exactly_the_chosen_metrics(self):
        rec = record()
        e2e = metrics.end_to_end(rec, {})
        line = run.result(["qa", "qb"], {}, e2e, trace=0)
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual({n: m["unit"] for n, m in line["metrics"].items()},
                         {n: u for n, u, _ in metrics.END_TO_END})
        self.assertTrue(line["correct"])
        self.assertTrue(all(v["value"] > 0 for v in line["metrics"].values()))

    def test_end_to_end_arithmetic(self):
        e2e = metrics.end_to_end(record(), {})
        self.assertAlmostEqual(e2e["setup_s"], 0.25)
        self.assertAlmostEqual(e2e["cold_setup_s"], 3.0)
        self.assertAlmostEqual(e2e["first_pass_s"], 3.0)
        self.assertAlmostEqual(e2e["wall_s"], 3.0)
        self.assertAlmostEqual(e2e["cpu_core_s"], 4.0)
        self.assertAlmostEqual(e2e["rows_per_s"], 2000 / 3.0)
        self.assertEqual(e2e["ok_share"], 1.0)

    def test_the_warm_up_pass_is_not_measured(self):
        rec = record()
        rec["passes"][1]["queries"] = [query("qa", build_s=9.0, cpu_ns=9e9, rows=9e6), query("qb")]
        e2e = metrics.end_to_end(rec, {})
        self.assertAlmostEqual(e2e["wall_s"], 3.0)
        self.assertAlmostEqual(e2e["cpu_core_s"], 4.0)
        self.assertAlmostEqual(e2e["rows_per_s"], 2000 / 3.0)
        self.assertEqual([p["index"] for p in metrics.measured(rec)], [2, 3])


class Failures(unittest.TestCase):
    def test_a_throwing_query_counts(self):
        rec = record((2, "qb", "ArithmeticException: / by zero"))
        failures = metrics.query_failures(rec, PASS)
        self.assertEqual(list(failures), ["qb"])
        self.assertIn("warm pass 2: ArithmeticException: / by zero", failures["qb"])
        self.assertEqual(metrics.end_to_end(rec, failures)["ok_share"], 0.5)
        line = run.result(["qa", "qb"], failures, metrics.end_to_end(rec, failures), trace=0)
        self.assertEqual((line["correct"], line["failed"], line["attempted"]), (False, 1, 2))

    def test_a_throw_in_the_oracle_dump_and_an_uncompared_query_count(self):
        rec = record()
        rec["verify_errors"] = {"qa": "IOException: disk full"}
        failures = metrics.query_failures(rec, {"qa": {"err": "no spark output"}})
        self.assertEqual(sorted(failures), ["qa", "qb"])
        self.assertIn("oracle dump: IOException: disk full", failures["qa"])
        self.assertEqual(failures["qb"], ["oracle: not compared"])

    def test_an_injected_wrong_result_counts(self):
        """A dumped result that disagrees with the oracle SQL fails through
        scripts/check.py's own compare, with its reason kept."""
        with tempfile.TemporaryDirectory() as tmp:
            data, work = os.path.join(tmp, "data"), os.path.join(tmp, "work")
            os.makedirs(data)
            os.makedirs(os.path.join(work, "verify", "qa"))
            os.makedirs(os.path.join(work, "verify", "qb"))
            pq.write_table(pa.table({"r_regionkey": pa.array([0, 1, 2], pa.int32()),
                                     "r_name": ["AFRICA", "AMERICA", "ASIA"]}),
                           os.path.join(data, "region.parquet"))
            sql = "SELECT r_regionkey AS k, r_name AS name FROM region"
            with open(os.path.join(work, "verify", "oracle_sql.json"), "w") as f:
                json.dump({"qa": sql, "qb": sql}, f)
            good = pa.table({"k": pa.array([0, 1, 2], pa.int32()),
                             "name": ["AFRICA", "AMERICA", "ASIA"]})
            wrong = pa.table({"k": pa.array([0, 1, 2], pa.int32()),
                              "name": ["AFRICA", "AMERICA", "EUROPE"]})
            pq.write_table(good, os.path.join(work, "verify", "qa", "part-0.parquet"))
            pq.write_table(wrong, os.path.join(work, "verify", "qb", "part-0.parquet"))
            check = run.oracle_check(data, work)
        failures = metrics.query_failures(record(), check)
        self.assertEqual(list(failures), ["qb"])
        self.assertIn("col name", failures["qb"][0])
        self.assertEqual(metrics.end_to_end(record(), failures)["ok_share"], 0.5)


class Inputs(unittest.TestCase):
    def test_a_seed_fixes_the_inputs_and_tables_are_split_into_row_groups(self):
        with tempfile.TemporaryDirectory() as tmp:
            dirs = [gen.generate(seed, 0.01, os.path.join(tmp, str(i)), log=io.StringIO())[0]
                    for i, seed in enumerate((7, 7, 8))]
            read = lambda d: pq.read_table(os.path.join(d, "lineitem.parquet"))
            self.assertTrue(read(dirs[0]).equals(read(dirs[1])))
            self.assertFalse(read(dirs[0]).equals(read(dirs[2])))
            meta = pq.ParquetFile(os.path.join(dirs[0], "lineitem.parquet")).metadata
            self.assertEqual(meta.num_rows, 60_000)
            self.assertEqual(meta.num_row_groups, 2)


def span(i, parent, kind, start, end):
    return {"id": i, "parent": parent, "kind": kind, "name": f"{kind}{i}",
            "start_us": start, "end_us": end}


class Spans(unittest.TestCase):
    # workload 0..100; pass 0..100; query 0..90 with build 0..20 (one job
    # 5..15) and execute 20..90 (jobs 30..60 and 50..80, overlapping by
    # 10; stages 30..40 and 45..60 in the first job, and a stage of the
    # second job stamped 1 us past the job's end)
    SPANS = [
        span(1, -1, "workload", 0, 100), span(2, 1, "pass", 0, 100),
        span(3, 2, "query", 0, 90), span(4, 3, "build", 0, 20),
        span(5, 3, "execute", 20, 90), span(6, 4, "job", 5, 15),
        span(7, 5, "job", 30, 60), span(8, 5, "job", 50, 80),
        span(9, 7, "stage", 30, 40), span(10, 7, "stage", 45, 60),
        span(11, 8, "stage", 50, 81),
    ]

    def test_union_counts_overlap_once(self):
        self.assertEqual(metrics.union_us([(30, 60), (50, 80)]), 50)
        self.assertEqual(metrics.union_us([(0, 1), (2, 3), (2, 3)]), 2)
        self.assertEqual(metrics.union_us([]), 0)

    def test_self_time_is_duration_minus_children_cover(self):
        st = metrics.self_times(self.SPANS)
        self.assertEqual(st[1], 0)            # pass covers the workload
        self.assertEqual(st[2], 10)           # query covers 0..90 of 0..100
        self.assertEqual(st[3], 0)            # build + execute tile the query
        self.assertEqual(st[4], 10)           # 20 minus the 10 us job
        self.assertEqual(st[5], 20)           # 70 minus the 50 us union of jobs
        self.assertEqual(st[7], 5)            # 30 minus stages 10 + 15
        self.assertEqual(st[8], 0)            # the late stage is clipped to 50..80
        self.assertEqual(st[11], 30)

    def test_self_times_of_a_subtree_sum_to_its_duration(self):
        res = metrics.subtree_residuals(self.SPANS)
        # no overlap at or below build, job or stage level
        for i in (4, 6, 7, 8, 9, 10, 11):
            self.assertEqual(res[i], 0)
        # the two jobs overlap by 10 us, which self time counts once
        for i in (1, 2, 3, 5):
            self.assertEqual(res[i], -10)

    def test_nesting(self):
        self.assertEqual(metrics.nesting_errors(self.SPANS), [])
        bad = self.SPANS + [span(12, 5, "stage", 20, 30), span(13, 7, "stage", 10, 20)]
        errs = metrics.nesting_errors(bad, tolerance_us=5)
        self.assertEqual(len(errs), 2)
        self.assertIn("stage 12 has parent execute", errs)
        self.assertIn("stage 13 lies outside its job", errs)

    def test_driver_time_excludes_the_union_of_stage_spans(self):
        cover = metrics.execute_stage_cover(self.SPANS)
        self.assertEqual(cover[5], (70, 10 + (80 - 45)))  # 30..40 and 45..80


if __name__ == "__main__":
    unittest.main()
