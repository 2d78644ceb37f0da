"""Tests of the benchmark's own run.py logic (no JVM needed).

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import inputs  # noqa: E402
import run  # noqa: E402

with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def timing(name, ok=True):
    return {"name": name, "build_s": 0.5, "terminal_s": 0.25, "ok": ok,
            "error": None if ok else "boom"}


def report(pipelines, walls=(3.0, 2.0), recall=None, threw=()):
    passes = [{"tag": f"t{i}", "wall_s": w,
               "pipelines": [timing(p, p not in threw) for p in pipelines]}
              for i, w in enumerate(walls)]
    return {
        "setup": {"session_s": 2.0, "stage_s": {}, "setup_s": 2.5},
        "cold": {"tag": "cold", "wall_s": 9.0, "pipelines": [timing(p) for p in pipelines]},
        "check": {"pipelines": {p: {"ok": True, "rows": 10, "digest": "d" + p}
                                for p in pipelines},
                  "recall_scored": recall is not None, "recall_at_10": recall},
        "timed": passes,
        "heap_peak_mb": 512.0,
    }


class EndToEndTest(unittest.TestCase):

    def test_declared_names_and_units(self):
        names = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
        self.assertEqual(names, {
            "pass_s": "s", "cold_pass_s": "s", "rows_per_s": "1/s", "setup_s": "s",
            "ok_frac": "frac", "recall_at_10": "frac"})
        for m in BENCH["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)

    def test_printed_line_carries_every_end_to_end_metric(self):
        r = report(["a", "b"], recall=0.75)
        attempted, failed, e2e = run.end_to_end(r, {"pass_rows": 100}, {})
        line = run.result(attempted, failed, e2e, run.declared("end_to_end"))
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(line["metrics"]), {m["name"] for m in BENCH["end_to_end"]})
        for m in BENCH["end_to_end"]:
            self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
        self.assertEqual(line["metrics"]["pass_s"]["value"], 2.5)
        self.assertEqual(line["metrics"]["rows_per_s"]["value"], 40.0)
        self.assertEqual(line["metrics"]["recall_at_10"]["value"], 0.75)
        self.assertTrue(line["correct"])
        self.assertEqual((line["attempted"], line["failed"]), (6, 0))

    def test_failures_count_against_attempts(self):
        r = report(["a", "b"], threw=("b",))
        bad = run.check_outputs("w", r["check"], {"w": {"a": {"rows": 10, "digest": "x"},
                                                       "b": {"rows": 10, "digest": "db"}}})
        self.assertEqual(set(bad), {"a"})
        attempted, failed, e2e = run.end_to_end(r, {"pass_rows": 1}, bad)
        self.assertEqual((attempted, failed), (6, 3))
        self.assertAlmostEqual(e2e["ok_frac"], 0.5)
        self.assertEqual(e2e["recall_at_10"], 1.0)

    def test_unscored_recall_reads_as_exact_or_missing(self):
        r = report(["a"], recall=float("nan"))
        self.assertEqual(run.end_to_end(r, {"pass_rows": 1}, {})[2]["recall_at_10"], 0.0)
        r["check"]["recall_scored"] = False
        self.assertEqual(run.end_to_end(r, {"pass_rows": 1}, {})[2]["recall_at_10"], 1.0)

    def test_per_layer_line_fills_absent_pipelines_with_zero(self):
        line = run.result(1, 0, {"spark.jobs": 3.0}, run.declared("per_layer"), default=0.0)
        self.assertEqual(set(line["metrics"]), {m["name"] for m in BENCH["per_layer"]})
        self.assertEqual(line["metrics"]["spark.jobs"], {"value": 3.0, "unit": "count"})


class BuildTest(unittest.TestCase):

    def test_source_hash_follows_build_inputs_only(self):
        with tempfile.TemporaryDirectory() as root:
            def write(rel, text):
                path = os.path.join(root, rel)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "w") as f:
                    f.write(text)
            write("build.sbt", "a")
            write("src/main/scala/A.scala", "object A")
            write("project/build.properties", "sbt.version=1")
            write("project/target/cache", "x")
            write(os.path.join(run.HARNESS, "src/main/scala/H.scala"), "object H")
            h = run.source_hash(root)
            self.assertNotIn("project/target/cache", run.build_files(root))
            write("project/target/cache", "y")
            write("README.md", "docs")
            self.assertEqual(run.source_hash(root), h)
            write("src/main/scala/A.scala", "object A { }")
            self.assertNotEqual(run.source_hash(root), h)
            h = run.source_hash(root)
            write(os.path.join(run.HARNESS, "src/main/scala/H.scala"), "object H { }")
            self.assertNotEqual(run.source_hash(root), h)


class WorkloadTest(unittest.TestCase):

    def test_benchmark_workloads_are_defined(self):
        for w in BENCH["workloads"]:
            self.assertIn(w["name"], inputs.WORKLOADS)
            self.assertIn(w["name"], inputs.STAGING)
            for p in inputs.WORKLOADS[w["name"]]:
                self.assertIn(p, inputs.PIPELINE_TABLES)
                self.assertIn({"name": f"bench.{p}_s", "unit": "s", "better": "lower"},
                              BENCH["per_layer"])


if __name__ == "__main__":
    unittest.main()
