"""Tests of the benchmark's own logic (no JVM, no Spark):

    python3 -m unittest discover -s benchmark/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402


def scratch():
    """Temporary files stay inside the benchmark's ignored work directory."""
    d = os.path.join(BENCH, ".work")
    os.makedirs(d, exist_ok=True)
    return d


def fake_result(walls, errors=None, counters=None, **info):
    """A JVM result file's contents with one operation per wall time."""
    errors = errors or {}
    return {
        "workload": "admission_service", "cores": 4, "session_start_s": 5.0,
        "setup_step_s": 3.0, "warmup_s": [4.0],
        "setup": {"index_build_s": "1.0"}, "warmups": [],
        "peak_rss_mb": 1500.0, "oracles": {},
        "ops": [{"i": i, "ok": i not in errors,
                 "wall_s": None if i in errors else w,
                 "error": errors.get(i),
                 "info": dict(info), "counters": counters or {}}
                for i, w in enumerate(walls)],
    }


class OutputLine(unittest.TestCase):
    def test_end_to_end_line_has_every_metric_with_its_unit(self):
        res = fake_result([2.0, 4.0, 3.0], docs="10")
        correct, attempted, failed, metrics, units = run.summarize(
            res, {}, lambda op: 10.0, 0.0, trace=0)
        line = json.loads(run.result_line(correct, attempted, failed, metrics, units))
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual([(k, v["unit"]) for k, v in line["metrics"].items()],
                         run.END_TO_END)
        for v in line["metrics"].values():
            self.assertIsInstance(v["value"], float)
        self.assertEqual(line["metrics"]["op_p50_s"]["value"], 3.0)
        self.assertEqual(line["metrics"]["items_per_s"]["value"], 30.0 / 9.0)
        # set-up: session start + the set-up step + warm-up
        self.assertEqual(line["metrics"]["setup_s"]["value"], 5.0 + 3.0 + 4.0)

    def test_traced_line_has_every_per_layer_metric(self):
        res = fake_result([2.0, 2.0], counters={"exec.jobs": 7.0, "exec.run_s": 4.0},
                          batch_bytes="100", store_dirs="5")
        *_, metrics, units = run.summarize(res, {}, None, 0.25, trace=1)
        line = json.loads(run.result_line(True, 2, 0, metrics, units))
        self.assertEqual([(k, v["unit"]) for k, v in line["metrics"].items()],
                         run.PER_LAYER)
        m = {k: v["value"] for k, v in line["metrics"].items()}
        self.assertEqual(m["exec.jobs"], 7.0)
        self.assertEqual(m["exec.busy_share"], 4.0 / (2.0 * 4))
        self.assertEqual(m["io.store_dirs"], 5.0)
        self.assertEqual(m["llm.near_dup_rate"], 0.25)
        self.assertEqual(m["llm.index_build_share"], 1.0 / 3.0)


class Failures(unittest.TestCase):
    def test_failed_operation_counts_and_is_not_timed(self):
        res = fake_result([1.0, 0.001, 1.2], errors={1: "RuntimeException: injected"},
                          docs="10")
        correct, attempted, failed, metrics, _ = run.summarize(
            res, {}, lambda op: 10.0, 0.0, trace=0)
        self.assertFalse(correct)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(metrics["op_p50_s"], 1.1)
        self.assertEqual(metrics["items_per_s"], 20.0 / 2.2)

    def test_wrong_output_counts_and_is_not_timed(self):
        res = fake_result([1.0, 0.001, 1.2], docs="10")
        correct, attempted, failed, metrics, _ = run.summarize(
            res, {1: "q98: rows 3 != 10"}, lambda op: 10.0, 0.0, trace=0)
        self.assertFalse(correct)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(metrics["op_p50_s"], 1.1)


class OutputCheck(unittest.TestCase):
    def test_equal_frames_pass_and_any_difference_fails(self):
        import pandas as pd
        exp = pd.DataFrame({"doc_id": [1, 2], "admitted": [True, False]})
        self.assertIsNone(run.mismatch(exp[["admitted", "doc_id"]].copy(), exp))
        self.assertIn("rows", run.mismatch(exp.head(1), exp))
        self.assertIn("columns", run.mismatch(exp.rename(columns={"admitted": "a"}), exp))
        self.assertIsNotNone(run.mismatch(exp.assign(admitted=[True, True]), exp))
        self.assertIsNotNone(run.mismatch(exp.iloc[::-1], exp))
        self.assertEqual(run.mismatch(None, exp), "no output")


class SelfTime(unittest.TestCase):
    def test_each_instant_goes_to_the_deepest_open_span(self):
        spans = [
            {"id": 0, "parent": -1, "trace": 0, "layer": "bench", "start_ns": 0, "end_ns": 100},
            {"id": 1, "parent": 0, "trace": 0, "layer": "io", "start_ns": 10, "end_ns": 60},
            {"id": 2, "parent": 1, "trace": 0, "layer": "exec", "start_ns": 20, "end_ns": 40},
            {"id": 3, "parent": 1, "trace": 0, "layer": "exec", "start_ns": 30, "end_ns": 50},
            {"id": 4, "parent": -1, "trace": -1, "layer": "bench", "start_ns": 0, "end_ns": 999},
        ]
        with tempfile.TemporaryDirectory(dir=scratch()) as d:
            path = os.path.join(d, "spans.jsonl")
            with open(path, "w") as f:
                f.write("\n".join(json.dumps(s) for s in spans))
            out = run.self_times(path)
        # overlapping jobs 20-50 count once; layers add up to the 100 ns op
        self.assertAlmostEqual(out["bench"], 50e-9)
        self.assertAlmostEqual(out["io"], 20e-9)
        self.assertAlmostEqual(out["exec"], 30e-9)


class Inputs(unittest.TestCase):
    SMALL = {"rows_scale": 0.001, "n_docs": 300}

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory(dir=scratch())

    def tearDown(self):
        self.tmp.cleanup()

    def tables(self, seed):
        d = tempfile.mkdtemp(dir=self.tmp.name)
        gen.generate(d, seed, **self.SMALL)
        return d

    def test_same_seed_same_bytes(self):
        a, b = self.tables(7), self.tables(7)
        for t in gen.TABLES:
            self.assertTrue(filecmp.cmp(os.path.join(a, f"{t}.parquet"),
                                        os.path.join(b, f"{t}.parquet"), shallow=False), t)

    def test_fact_rows_count_the_generated_facts(self):
        import pyarrow.parquet as pq
        d = self.tables(7)
        n = sum(pq.read_metadata(os.path.join(d, f"{t}.parquet")).num_rows
                for t in ["events", "orders", "lineitem"])
        self.assertEqual(n, gen.fact_rows(self.SMALL["rows_scale"]))

    def test_different_seeds_differ(self):
        a, b = self.tables(7), self.tables(8)
        for t in ["orders", "lineitem", "events", "documents"]:
            self.assertFalse(filecmp.cmp(os.path.join(a, f"{t}.parquet"),
                                         os.path.join(b, f"{t}.parquet"), shallow=False), t)

    def test_documents_keep_the_fixture_structure(self):
        ids, texts, *_ = gen.documents(5, 2000)
        self.assertEqual(ids[0], gen.doc_id_offset(5))
        self.assertEqual(gen.doc_id_offset(5) % 400, 0)
        dups = sum(t.endswith(" dup") for t in texts)
        self.assertTrue(60 < dups < 140, dups)
        self.assertTrue(all(10 <= len(t.split()) <= 101 for t in texts))
        # seeds share no vocabulary apart from the preserved stopwords
        _, other, *_ = gen.documents(6, 50)
        shared = {w for t in texts for w in t.split()} & {w for t in other for w in t.split()}
        self.assertEqual(shared - gen.PRESERVED, {"dup"})


if __name__ == "__main__":
    unittest.main()
