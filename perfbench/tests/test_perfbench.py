"""Self-tests of the benchmark's own code.

    python3 -m unittest discover -s perfbench/tests -v

They need Python, numpy, pyarrow and duckdb, not the engine.  The last
class runs the benchmark itself end to end and is skipped unless
PERFBENCH_E2E=1 is set (it builds the engine on first use).
"""
import hashlib
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond_it(self):
        values = list(range(100, 0, -1))
        pct, value, n = metrics.supported_tail(values)
        self.assertEqual((pct, value, n), (90.0, 90, 100))
        self.assertEqual(sum(v > value for v in values), 10)

    def test_tail_of_a_small_sample(self):
        self.assertEqual(metrics.supported_tail(list(range(1, 21))), (50.0, 10, 20))
        self.assertEqual(metrics.supported_tail(list(range(10))), (None, None, 10))

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(metrics.percentile([1, 2, 3, 4, 5], 90), 4.6)


def staged_digest(seed, copies):
    with tempfile.TemporaryDirectory() as d:
        inputs.stage(seed, d, copies=copies)
        h = hashlib.sha256()
        for root, _, files in sorted(os.walk(d)):
            for f in sorted(files):
                h.update(os.path.relpath(os.path.join(root, f), d).encode())
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(fh.read())
        return h.hexdigest()


class SeedTest(unittest.TestCase):
    def test_same_seed_same_staged_inputs(self):
        self.assertEqual(staged_digest(5, 1), staged_digest(5, 1))
        self.assertEqual(staged_digest(5, 2), staged_digest(5, 2))

    def test_other_seed_other_staged_inputs(self):
        self.assertNotEqual(staged_digest(5, 1), staged_digest(6, 1))

    def test_same_seed_same_statement_stream(self):
        self.assertEqual(inputs.dml_stream(5, 300), inputs.dml_stream(5, 300))
        self.assertNotEqual(inputs.dml_stream(5, 300), inputs.dml_stream(6, 300))

    def test_stream_mix_does_not_depend_on_the_seed(self):
        kinds = [k for k, _ in inputs.dml_stream(5, 64)]
        self.assertEqual(kinds, [k for k, _ in inputs.dml_stream(6, 64)])
        self.assertEqual(kinds[:len(inputs.CYCLE)], list(inputs.CYCLE))

    def test_inflated_copies_are_disjoint(self):
        t = inputs.make_tables(5, sf=0.001)["documents"]
        two = pa.concat_tables([inputs.copy_of("documents", t, c, 5) for c in (0, 1)])
        ids = two["doc_id"].to_pylist()
        self.assertEqual(len(set(ids)), len(ids))
        self.assertNotEqual(two["text"][0].as_py(), two["text"][t.num_rows].as_py())


def harness_layer_names():
    """The dotted metric names the harness's tracer emits, read from its
    source, so this test notices when the two sides drift apart."""
    src = os.path.join(BENCH, "src", "main", "scala", "perfbench")
    with open(os.path.join(src, "Trace.scala")) as f:
        trace = f.read()
    names = set(re.findall(r'"((?:plan|codegen|build|sched|exec|shuffle|compaction)'
                           r'\.[a-z_0-9]+)"', trace))
    shares = re.search(r"val Shares: Seq\[String\] = Seq\(([^)]*)\)", trace).group(1)
    names |= {f"share.{s}" for s in re.findall(r'"([a-z]+)"', shares)}
    with open(os.path.join(src, "Harness.scala")) as f:
        names |= set(re.findall(r'"(trace\.[a-z_]+)"', f.read()))
    return names


class MetricNamesTest(unittest.TestCase):
    def test_every_end_to_end_metric_is_printed_with_its_unit(self):
        units, _ = metrics.declared()
        values = metrics.end_to_end([3.0, 1.0, 2.0], [{"kind": "query", "ms": 5.0}],
                                    2.0, 100.0, 0, 1)
        shown = metrics.render(values, units)
        self.assertEqual(list(shown), list(units))
        for name, m in shown.items():
            self.assertEqual(m["unit"], units[name])
            self.assertIsInstance(m["value"], float)
        self.assertEqual(shown["setup_s"]["value"], 2.0)

    def test_every_per_layer_metric_is_printed_with_its_unit(self):
        _, units = metrics.declared()
        layers = {n: 1.0 for n in harness_layer_names()}
        shown = metrics.render(metrics.per_layer(layers, {}), units)
        self.assertEqual(list(shown), list(units))
        for name, m in shown.items():
            self.assertEqual(m["unit"], units[name])

    def test_a_missing_metric_is_an_error(self):
        units, _ = metrics.declared()
        with self.assertRaises(KeyError):
            metrics.render({}, units)


def write_output(d, name, cols, rows):
    path = os.path.join(d, f"{name}.jsonl")
    with open(path, "w") as f:
        f.write(json.dumps(cols) + "\n")
        f.writelines(json.dumps(r) + "\n" for r in rows)
    return path


class WrongOutputTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                         "(1, 'a', 1.5, TIMESTAMP '2024-01-01 00:00:00'), "
                         "(2, 'b', 2.5, TIMESTAMP '2024-01-02 00:00:00')) v(k, s, x, ts)")
        self.oracle = {"q": "SELECT k, s, x, ts FROM t"}
        self.cols = ["ts", "x", "s", "k"]
        day = 86_400_000_000
        self.rows = [[19723 * day + day, 2.5 + 1e-13, "b", 2], [19723 * day, 1.5, "a", 1]]

    def tearDown(self):
        self.tmp.cleanup()

    def op(self, rows, **kw):
        return dict({"name": "q", "error": None, "rows": len(rows),
                     "output": write_output(self.tmp.name, "q", self.cols, rows)}, **kw)

    def test_right_output_passes(self):
        self.assertEqual(check.check_ops(self.con, [self.op(self.rows)], self.oracle), {})

    def test_wrong_value_fails(self):
        rows = [r[:] for r in self.rows]
        rows[0][2] = "c"
        self.assertIn("q", check.check_ops(self.con, [self.op(rows)], self.oracle))

    def test_wrong_float_fails(self):
        rows = [r[:] for r in self.rows]
        rows[1][1] = 1.5001
        self.assertIn("q", check.check_ops(self.con, [self.op(rows)], self.oracle))

    def test_values_paired_with_the_wrong_rows_fail(self):
        # Every column keeps its multiset of values; only the rows change.
        for c in (1, 2):
            rows = [r[:] for r in self.rows]
            rows[0][c], rows[1][c] = rows[1][c], rows[0][c]
            self.assertIn("q", check.check_ops(self.con, [self.op(rows)], self.oracle))

    def test_float_noise_across_a_near_tie_passes(self):
        # x rounds to different ninth digits on the two sides, so the rows
        # sort in a different order; each still matches its own row.
        want = [[1.2345678850001, 1.0], [1.23456788, 2.0]]
        got = [[1.2345678849999, 1.0], [1.23456788, 2.0]]
        self.assertIsNone(check.compare(["x", "z"], got, ["x", "z"], want))
        got[0][1], got[1][1] = got[1][1], got[0][1]
        self.assertIsNotNone(check.compare(["x", "z"], got, ["x", "z"], want))

    def test_missing_row_fails(self):
        self.assertIn("q", check.check_ops(self.con, [self.op(self.rows[:1])], self.oracle))

    def test_thrown_op_fails(self):
        op = dict(self.op(self.rows), error="boom", output=None, rows=-1)
        self.assertIn("q", check.check_ops(self.con, [op], self.oracle))

    def test_op_without_oracle_fails(self):
        self.assertIn("q", check.check_ops(self.con, [self.op(self.rows)], {}))

    def test_later_execution_with_other_row_count_fails(self):
        first = self.op(self.rows)
        later = dict(first, rows=1, output=None)
        self.assertIn("q", check.check_ops(self.con, [first, later], self.oracle))

    def test_wrong_final_dml_table_fails(self):
        d = self.tmp.name
        orders = inputs.make_tables(5, sf=0.001)["orders"]
        os.makedirs(os.path.join(d, "orders"))
        pq.write_table(orders, os.path.join(d, "orders", "part-0.parquet"))
        stream = [("delete", "DELETE FROM orders WHERE o_orderkey BETWEEN 0 AND 9")]
        results = [{"error": None, "output": None}]
        unchanged = [os.path.join(d, "orders", "part-0.parquet")]
        failures, changed = check.replay_dml(os.path.join(d, "orders"), stream,
                                             results, unchanged)
        self.assertEqual(changed, [10])
        self.assertIn("final", failures)


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1",
                     "end-to-end run; set PERFBENCH_E2E=1")
class EndToEndTest(unittest.TestCase):
    def run_bench(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "1", "--seconds", "3", "--trace", str(trace)],
            cwd=os.path.dirname(BENCH), capture_output=True, text=True, timeout=1200)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def check_both_modes(self, workload):
        e2e, layers = metrics.declared()
        for trace, units in ((0, e2e), (1, layers)):
            last = self.run_bench(workload, trace)
            self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(last["correct"])
            self.assertEqual({k: v["unit"] for k, v in last["metrics"].items()}, units)

    def test_dml_mixed_prints_every_declared_metric(self):
        self.check_both_modes("dml_mixed")

    def test_scale_10x_runs_and_checks_its_outputs(self):
        # scale_10x is not in BENCHMARK.json, so no benchmark run covers it.
        self.check_both_modes("scale_10x")


if __name__ == "__main__":
    unittest.main()
