"""Tests of the benchmark's own code. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import glob
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import analyze  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402

SF = 0.001  # small enough for a unit test; same generator code path


def files_under(root):
    return sorted(os.path.relpath(p, root)
                  for p in glob.glob(os.path.join(root, "**", "*.parquet"),
                                     recursive=True) if os.path.isfile(p))


class GeneratedInputs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.tables = gen.make_tables(SF)
        cls.dirs = {}
        for label, seed in (("a", 7), ("b", 7), ("c", 8)):
            d = os.path.join(cls.tmp.name, label)
            gen.write_inputs(d, seed, SF, tables=cls.tables)
            cls.dirs[label] = d

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_byte_identical_files(self):
        a, b = self.dirs["a"], self.dirs["b"]
        self.assertEqual(files_under(a), files_under(b))
        for rel in files_under(a):
            self.assertTrue(filecmp.cmp(os.path.join(a, rel), os.path.join(b, rel),
                                        shallow=False), rel)

    def test_make_tables_is_seed_independent(self):
        again = gen.make_tables(SF)
        for name in gen.TABLES:
            self.assertTrue(self.tables[name].equals(again[name]), name)

    def test_other_seed_reorders_rows_and_moves_cuts(self):
        import pyarrow.parquet as pq
        a = pq.read_table(os.path.join(self.dirs["a"], "oracle", "documents.parquet"))
        c = pq.read_table(os.path.join(self.dirs["c"], "oracle", "documents.parquet"))
        self.assertNotEqual(a.column("doc_id").to_pylist(),
                            c.column("doc_id").to_pylist())
        sizes = lambda d: [pq.ParquetFile(f).metadata.num_rows for f in sorted(
            glob.glob(os.path.join(d, "spark", "lineitem.parquet", "*.parquet")))]
        self.assertEqual(len(sizes(self.dirs["a"])), 4)
        self.assertNotEqual(sizes(self.dirs["a"]), sizes(self.dirs["c"]))

    def test_other_seed_gives_the_same_oracle_answers(self):
        # equal multisets of rows in every table mean any SQL oracle answers
        # the same; a few oracle-shaped queries check it end to end, on both
        # the single-file (oracle) and the part-file (program) layouts
        import duckdb
        con = duckdb.connect()
        for label in ("a", "c"):
            for name in gen.TABLES:
                con.execute(
                    f"CREATE VIEW {name}_{label} AS SELECT * FROM read_parquet("
                    f"'{self.dirs[label]}/oracle/{name}.parquet')")
                con.execute(
                    f"CREATE VIEW {name}_{label}_parts AS SELECT * FROM read_parquet("
                    f"'{self.dirs[label]}/spark/{name}.parquet/*.parquet')")
        for name in gen.TABLES:
            rows = {v: con.execute(f"SELECT * FROM {name}_{v} ORDER BY ALL").fetchall()
                    for v in ("a", "c", "a_parts", "c_parts")}
            self.assertEqual(rows["a"], rows["c"], name)
            self.assertEqual(rows["a"], rows["a_parts"], name)
            self.assertEqual(rows["c"], rows["c_parts"], name)
        shaped = [
            "SELECT l_returnflag, round(sum(l_extendedprice * (1 - l_discount)), 2)"
            " FROM lineitem_{v} GROUP BY 1 ORDER BY 1",
            "SELECT source, count(*), sum(n_chars) FROM documents_{v}"
            " WHERE text LIKE '% dup' GROUP BY 1 ORDER BY 1",
            "SELECT user_id, count(*) FROM events_{v} GROUP BY 1 ORDER BY 1",
        ]
        for sql in shaped:
            self.assertEqual(con.execute(sql.format(v="a")).fetchall(),
                             con.execute(sql.format(v="c")).fetchall(), sql)

    def test_row_counts_follow_the_scale(self):
        counts = gen.row_counts(0.1)
        self.assertEqual(counts["lineitem"], 600_000)
        self.assertEqual(counts["documents"], 5_000)
        self.assertEqual(gen.row_counts(0.001)["documents"], 500)


def span(i, parent, kind, name, p, start, end):
    return {"id": i, "parent": parent, "kind": kind, "name": name, "pass": p,
            "start_us": int(start * 1e6), "end_us": int(end * 1e6)}


def stage(sid, start, end, tasks=2, busy_ms=0, cpu_ns=0):
    return {"stage": sid, "attempt": 0, "start_ms": int(start * 1e3),
            "end_ms": int(end * 1e3), "tasks": tasks, "failed_tasks": 0,
            "busy_ms": busy_ms, "run_ms": busy_ms, "cpu_ns": cpu_ns,
            "sched_ms": 0, "shuffle_write_b": 0, "shuffle_read_b": 0,
            "spill_b": 0, "result_b": 0, "input_b": 0, "output_b": 0}


class SpanTree(unittest.TestCase):
    """A hand-built traced pass: one ml query (build 1 s with a 0.4 s job,
    plan 0.5 s, exec 2 s with two overlapping jobs) and one streaming query
    whose microbatch job carries the stream's run id as its group."""

    def raw(self):
        t = 100.0
        return {
            "nproc": 4,
            "passes": [{"pass": 1, "traced": False, "wall_s": 4.2},
                       {"pass": 2, "traced": True, "wall_s": 5.0},
                       {"pass": 3, "traced": False, "wall_s": 3.8}],
            "spans": [
                span(1, -1, "pass", "pass-2", 2, t, t + 5.0),
                span(2, 1, "query", "q_ml", 2, t + 0.1, t + 3.7),
                span(3, 2, "build", "q_ml", 2, t + 0.1, t + 1.1),
                span(4, 2, "plan", "q_ml", 2, t + 1.1, t + 1.6),
                span(5, 2, "exec", "q_ml", 2, t + 1.6, t + 3.6),
                span(6, 1, "query", "q_st", 2, t + 3.7, t + 4.9),
                span(7, 6, "build", "q_st", 2, t + 3.7, t + 4.5),
                span(8, 6, "plan", "q_st", 2, t + 4.5, t + 4.6),
                span(9, 6, "exec", "q_st", 2, t + 4.6, t + 4.9),
            ],
            "jobs": [
                {"job": 0, "group": "span-3", "start_ms": int((t + 0.2) * 1e3),
                 "end_ms": int((t + 0.6) * 1e3), "stages": [0]},
                {"job": 1, "group": "span-5", "start_ms": int((t + 1.7) * 1e3),
                 "end_ms": int((t + 2.7) * 1e3), "stages": [1]},
                {"job": 2, "group": "span-5", "start_ms": int((t + 2.2) * 1e3),
                 "end_ms": int((t + 3.2) * 1e3), "stages": [2]},
                {"job": 3, "group": "run-a", "start_ms": int((t + 3.8) * 1e3),
                 "end_ms": int((t + 4.3) * 1e3), "stages": [3]},
            ],
            "stages": [stage(0, t + 0.2, t + 0.6, busy_ms=800, cpu_ns=6e8),
                       stage(1, t + 1.7, t + 2.7, busy_ms=3000),
                       stage(2, t + 2.2, t + 3.2, busy_ms=2000),
                       stage(3, t + 3.8, t + 4.3, busy_ms=1000)],
            "batches": [{"run_id": "run-a", "batch": 0, "span": 7, "pass": 2,
                         "start_ms": int((t + 3.8) * 1e3), "input_rows": 10,
                         "durations_ms": {"triggerExecution": 500, "addBatch": 300},
                         "state_commit_ms": 40, "state_rows": 12}],
        }

    def test_self_time_subtracts_the_union_of_children(self):
        root = analyze.build_tree(self.raw())[2]
        q_ml, q_st = root.children
        build, plan, exec_ = q_ml.children
        self.assertAlmostEqual(analyze.self_time(build), 0.6, places=6)
        self.assertAlmostEqual(analyze.self_time(plan), 0.5, places=6)
        # jobs cover 1.7..3.2 of exec's 1.6..3.6 (overlap counted once)
        self.assertAlmostEqual(analyze.self_time(exec_), 0.5, places=6)
        self.assertAlmostEqual(analyze.self_time(q_ml), 0.1, places=6)
        self.assertAlmostEqual(analyze.self_time(root), 5.0 - 3.6 - 1.2, places=6)
        # the stream's job is found through its run id
        self.assertEqual([c.kind for c in q_st.children[0].children], ["job"])
        # self times over the whole tree add up to the pass wall time
        total = sum(analyze.self_time(n) for n in analyze.walk(root))
        overlap = 0.5  # jobs 1 and 2 run together for 0.5 s
        self.assertAlmostEqual(total, root.duration + overlap, places=6)

    def test_covered_merges_and_clips(self):
        self.assertAlmostEqual(analyze.covered([(0, 2), (1, 3), (5, 9)], 0.5, 6), 3.5)
        self.assertEqual(analyze.covered([], 0, 1), 0.0)

    def test_per_layer_counters(self):
        modules = {"q_ml": workloads.ML, "q_st": workloads.STREAMING}
        out, within = analyze.per_layer(self.raw(), modules)
        self.assertTrue(within)
        self.assertAlmostEqual(out["operators.ml.wall_s"], 3.6, places=6)
        self.assertAlmostEqual(out["operators.ml.build_s"], 1.0, places=6)
        self.assertAlmostEqual(out["operators.ml.exec_s"], 2.0, places=6)
        self.assertAlmostEqual(out["operators.ml.driver_s"], 0.6 + 0.5 + 0.5 + 0.1, places=6)
        self.assertEqual(out["operators.ml.jobs"], 3)
        self.assertEqual(out["operators.ml.tasks"], 6)
        self.assertAlmostEqual(out["operators.ml.task_busy_s"], 5.8, places=6)
        self.assertAlmostEqual(out["operators.ml.task_cpu_s"], 0.6, places=6)
        self.assertAlmostEqual(out["operators.ml.driver_share"], 1 - 5.8 / (4 * 3.6), places=6)
        self.assertEqual(out["streaming.jobs"], 1)
        self.assertEqual(out["streaming.batches"], 1)
        self.assertEqual(out["streaming.add_batch_ms"], 300)
        self.assertEqual(out["streaming.state_commit_ms"], 40)
        self.assertEqual(out["streaming.state_rows_peak"], 12)
        self.assertEqual(out["sources.jobs"], 0)
        self.assertAlmostEqual(out["trace.overhead_s"], 1.0, places=6)
        module_self = sum(out[f"{m}.wall_s"] for m in workloads.MODULES)
        self.assertLessEqual(module_self, 5.0)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(analyze.tail_percentile(1000), 99.0)
        self.assertEqual(analyze.tail_percentile(200), 95.0)
        self.assertEqual(analyze.tail_percentile(40), 75.0)
        self.assertEqual(analyze.tail_percentile(5), 50.0)
        self.assertEqual(analyze.percentile([1, 2, 3, 4], 50), 2.5)


class Printer(unittest.TestCase):
    def spec(self):
        with open(os.path.join(BENCH, os.pardir, "BENCHMARK.json")) as f:
            return json.load(f)

    def test_emits_every_declared_metric_with_its_unit(self):
        spec = self.spec()
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            declared = {m["name"]: m["unit"] for m in spec[key]}
            values = {name: 1.5 for name in declared}
            line = json.loads(json.dumps(analyze.result_line(10, 0, values, trace)))
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()},
                             declared)

    def test_declared_workloads_match_the_code(self):
        spec = self.spec()
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(workloads.WORKLOADS))
        mods = {m for w in workloads.WORKLOADS.values() for _, m in w["queries"]}
        self.assertEqual(mods, set(workloads.MODULES))


if __name__ == "__main__":
    unittest.main()
