"""The benchmark's own tests; no JVM needed.

    python3 -m unittest discover -s perfbench/tests
"""
import contextlib
import glob
import io
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402

TABLES = {
    "documents": {"rows": 300, "files": 3, "row_groups": 2},
    "customer": {"rows": 200, "files": 1, "row_groups": 1},
    "orders": {"rows": 400, "files": 1, "row_groups": 1},
    "part": {"rows": 50, "files": 1, "row_groups": 1},
    "supplier": {"rows": 20, "files": 1, "row_groups": 1},
    "lineitem": {"rows": 1000, "files": 2, "row_groups": 1},
    "nation": {"rows": 25, "files": 1, "row_groups": 1},
    "region": {"rows": 5, "files": 1, "row_groups": 1},
}


def files_of(d):
    return sorted(os.path.relpath(p, d) for p in glob.glob(os.path.join(d, "**", "*.parquet"),
                                                          recursive=True) if os.path.isfile(p))


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {}
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            cls.dirs[name] = os.path.join(cls.tmp.name, name)
            gen.generate(cls.dirs[name], seed, TABLES)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_is_byte_identical(self):
        a, b = self.dirs["a"], self.dirs["b"]
        self.assertEqual(files_of(a), files_of(b))
        for f in files_of(a):
            with open(os.path.join(a, f), "rb") as x, open(os.path.join(b, f), "rb") as y:
                self.assertEqual(x.read(), y.read(), f)

    def test_other_seed_keeps_shape_and_changes_content(self):
        a, c = self.dirs["a"], self.dirs["c"]
        self.assertEqual(files_of(a), files_of(c))
        changed = 0
        for name, spec in TABLES.items():
            ta = pq.read_table(os.path.join(a, f"{name}.parquet"))
            tc = pq.read_table(os.path.join(c, f"{name}.parquet"))
            self.assertEqual(ta.num_rows, spec["rows"], name)
            self.assertEqual(tc.num_rows, spec["rows"], name)
            self.assertEqual(ta.schema, tc.schema, name)
            changed += not ta.equals(tc)
        # nation and region are fixed dimension tables
        self.assertEqual(changed, len(TABLES) - 2)

    def test_layout_and_domains(self):
        d = self.dirs["c"]
        docs = os.path.join(d, "documents.parquet")
        parts = sorted(glob.glob(os.path.join(docs, "*.parquet")))
        self.assertEqual(len(parts), 3)
        self.assertTrue(all(pq.ParquetFile(p).num_row_groups == 2 for p in parts))
        con = oracle.connect(d)
        one = lambda sql: con.execute(sql).fetchone()
        words = {w for (w,) in con.execute(
            "SELECT DISTINCT unnest(string_split(text, ' ')) FROM documents").fetchall()}
        self.assertEqual(words - {"dup"}, set(gen.VOCAB))
        self.assertEqual(one("SELECT count(*) FROM documents WHERE n_chars <> length(text)"), (0,))
        self.assertEqual(one("SELECT count(*) FROM documents WHERE text LIKE '% dup'"), (15,))
        self.assertEqual(one("SELECT min(c_nationkey) >= 0 AND max(c_nationkey) < 25 FROM customer"), (True,))
        self.assertEqual(one("SELECT count(*) FROM lineitem l ANTI JOIN orders o "
                             "ON l_orderkey = o_orderkey"), (0,))


def span(i, parent, layer, start, end, name=None, **attrs):
    return {"id": i, "parent": parent, "layer": layer, "name": name or f"{layer}{i}",
            "start": start, "end": end, "attrs": attrs}


STAGE = dict(tasks=4, task_failures=0, empty_tasks=1, task_cpu_s=0.5, task_run_s=0.8, gc_s=0.01,
             shuffle_write_bytes=1048576, shuffle_read_bytes=0, spill_bytes=0, sched_wait_s=0.002)

# lap 2 (0..1000 ms): one query whose build runs two overlapping jobs
# (one with a stage) and whose action has a planning phase and a job.
SPANS = [
    span(1, 0, "lap", 0, 1000, "lap 2"),
    span(2, 1, "query", 0, 1000, "q"),
    span(3, 2, "operators.build", 0, 600, "q"),
    span(4, 3, "spark.job", 100, 300),
    span(5, 3, "spark.job", 200, 400),
    span(6, 4, "spark.stage", 120, 280, **STAGE),
    span(7, 2, "spark.action", 600, 1000, "q"),
    span(8, 7, "catalyst.planning", 600, 650),
    span(9, 7, "spark.job", 650, 950),
]


class ArithmeticTest(unittest.TestCase):
    def test_percentile_interpolates(self):
        self.assertEqual(report.percentile([3, 1, 2], 50), 2)
        self.assertAlmostEqual(report.percentile([1, 2, 3, 4], 90), 3.7)
        self.assertEqual(report.percentile([5], 90), 5)
        self.assertEqual(report.quartiles([1, 2, 3, 4, 5]), [2, 3, 4])

    def test_slowdowns_are_relative_to_each_querys_median(self):
        execs = [{"query": "a", "wall_s": w} for w in (1.0, 2.0, 3.0)] + \
                [{"query": "b", "wall_s": w} for w in (10.0, 10.0)]
        self.assertEqual(sorted(report.slowdowns(execs)), [0.5, 1.0, 1.0, 1.0, 1.5])

    def test_self_time_subtracts_the_union_of_children(self):
        st = report.self_times(SPANS)
        self.assertAlmostEqual(st["lap"], 0.0)
        self.assertAlmostEqual(st["query"], 0.0)
        # build 600 ms minus jobs covering 100..400 ms
        self.assertAlmostEqual(st["operators.build"], 0.3)
        # job 4: 200 ms minus its stage's 160 ms; job 5 and 9 have no children
        self.assertAlmostEqual(st["spark.job"], 0.04 + 0.2 + 0.3)
        self.assertAlmostEqual(st["spark.action"], 0.05)
        self.assertAlmostEqual(st["catalyst.planning"], 0.05)
        self.assertAlmostEqual(st["spark.stage"], 0.16)

    def test_children_outside_the_parent_are_clipped(self):
        st = report.self_times([span(1, 0, "lap", 0, 100), span(2, 1, "query", 50, 300)])
        self.assertAlmostEqual(st["lap"], 0.05)

    def test_overhead(self):
        self.assertAlmostEqual(report.overhead([1.1, 1.3, 1.2], [1.0, 1.0]), 0.2)

    def test_per_lap_layers(self):
        run_json = {"spans": SPANS, "cores": 4,
                    "laps": [{"lap": 2, "wall_s": 1.0}]}
        m = report.per_lap_layers(run_json)[2]
        self.assertEqual(m["spark.jobs"], 3)
        self.assertEqual(m["operators.build_jobs"], 2)
        self.assertEqual(m["spark.stages"], 1)
        self.assertEqual(m["spark.tasks"], 4)
        self.assertAlmostEqual(m["spark.empty_task_frac"], 0.25)
        self.assertAlmostEqual(m["spark.cpu_util"], 0.5 / 4)
        self.assertAlmostEqual(m["spark.shuffle_write_mb"], 1.0)
        self.assertAlmostEqual(m["operators.build_s"], 0.6)
        self.assertAlmostEqual(m["catalyst.planning_ms"], 50)
        self.assertEqual(m["streaming.batches"], 0)

    def test_stability_flags_counters_that_differ_across_laps(self):
        s = report.stability({"q": {0: {"jobs": 46, "stages": 50, "shuffle_bytes": 9},
                                    2: {"jobs": 43, "stages": 50, "shuffle_bytes": 9}}})
        self.assertEqual(s["q.jobs"], {"min": 43, "max": 46, "laps": 2, "unstable": True})
        self.assertFalse(s["q.stages"]["unstable"])


def harness_run(queries, laps=2):
    """A run.json as the harness writes it, without tracing."""
    execs = [{"lap": n, "query": q, "ok": True, "error": "", "build_s": 0.1, "action_s": 0.2,
              "wall_s": 0.3 + 0.01 * n} for n in range(laps + 1) for q in queries]
    lap_rows = [{"lap": n, "traced": False, "wall_s": 1.0 + 0.1 * n, "codegen_ms": 5.0,
                 "scratch_bytes": 1048576 * n, "shutdown_hooks": 2 + n, "cached_blocks": 0,
                 "persistent_rdds": 0, "conf_drift": 0} for n in range(laps + 1)]
    return {"cores": 4, "heap_max_mb": 4096.0, "measured_s": 2.0, "session_ready_ms": 3000.0,
            "first_lap_ms": 5000.0,
            "codegen_setup_ms": 100.0, "heap_live_mb": 120.0, "execs": execs, "laps": lap_rows,
            "spans": []}


class OracleTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.data = os.path.join(self.tmp.name, "data")
        gen.generate(self.data, 3, {"customer": TABLES["customer"]})
        self.results = os.path.join(self.tmp.name, "results")

    def tearDown(self):
        self.tmp.cleanup()

    def write_result(self, name, table):
        os.makedirs(os.path.join(self.results, name))
        pq.write_table(table, os.path.join(self.results, name, "part-0.parquet"))

    def test_matching_and_mismatching_results(self):
        sql = "SELECT c_nationkey, count(*) AS n FROM customer GROUP BY c_nationkey"
        con = oracle.connect(self.data)
        rows = con.execute(sql).fetchall()
        good = pa.table({"n": pa.array([n for _, n in rows], pa.int64()),
                         "c_nationkey": pa.array([k for k, _ in rows], pa.int32())})
        self.write_result("good", good)
        self.write_result("bad", good.set_column(0, "n", pa.array([n + 1 for _, n in rows], pa.int64())))
        self.write_result("typed", good.set_column(0, "n", pa.array([float(n) for _, n in rows])))
        got = oracle.check(self.data, self.results,
                           {"good": sql, "bad": sql, "typed": sql, "absent": sql})
        self.assertIsNone(got["good"])
        self.assertTrue(got["bad"].startswith("row "))
        self.assertTrue(got["typed"].startswith("dtype drift"))
        self.assertEqual(got["absent"], "no result written")

    def test_a_mismatch_fails_the_run_loudly(self):
        queries = run.WORKLOADS["single_action"]["queries"]
        checks = {q: None for q in queries}
        checks[queries[0]] = "rows 3 vs 4"
        del checks[queries[1]]  # a query without oracle SQL fails too
        out = run.summarize(harness_run(queries), checks, "single_action", 1, 0, 0.0)
        line = run.result_line(out)
        self.assertFalse(line["correct"])
        self.assertEqual(line["attempted"], 2 * len(queries))
        self.assertEqual(line["failed"], 4)
        self.assertAlmostEqual(out["failed_frac"], 4 / (2 * len(queries)))
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            run.print_report(out)
        self.assertIn(f"MISMATCH {queries[0]}: rows 3 vs 4", buf.getvalue())
        self.assertIn(f"MISMATCH {queries[1]}: no oracle SQL", buf.getvalue())

    def test_a_clean_run_reports_every_end_to_end_metric(self):
        queries = run.WORKLOADS["driver_loops"]["queries"]
        out = run.summarize(harness_run(queries), {q: None for q in queries},
                            "driver_loops", 1, 0, 1000.0)
        line = run.result_line(out)
        self.assertTrue(line["correct"])
        self.assertEqual(set(line["metrics"]), set(run.E2E_UNITS))
        self.assertAlmostEqual(line["metrics"]["setup_s"]["value"], 4.0)
        self.assertAlmostEqual(line["metrics"]["lap_s"]["value"], 1.15)
        self.assertAlmostEqual(out["probes"]["scratch_mb_per_lap"], 1.0)
        self.assertAlmostEqual(out["probes"]["core.shutdown_hooks"], 1.0)


if __name__ == "__main__":
    unittest.main()
