"""Tests of the benchmark's own code: generator determinism, the metric
line, and call-site -> layer attribution.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


def tree_digest(d):
    h = hashlib.sha256()
    for root, dirs, files in os.walk(d):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):

    def test_tables_same_seed_same_bytes_other_seed_other_content(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            ma = gen.tables(a, 7, 0.001, fact_copies=2)
            gen.tables(b, 7, 0.001, fact_copies=2)
            gen.tables(c, 8, 0.001, fact_copies=2)
            self.assertEqual(tree_digest(a), tree_digest(b))
            for name in ("lineitem", "orders", "documents", "embeddings"):
                with open(os.path.join(a, f"{name}.parquet"), "rb") as fa, \
                        open(os.path.join(c, f"{name}.parquet"), "rb") as fc:
                    self.assertNotEqual(fa.read(), fc.read(), name)
            self.assertEqual(ma["seed"], 7)
            self.assertEqual(ma["rows"]["lineitem"], 2 * 6000)
            self.assertEqual(ma["rows"]["customer"], 150)
            self.assertEqual(json.load(open(os.path.join(a, "MANIFEST.json"))), ma)

    def test_etl_raw_deterministic_and_in_reference_formats(self):
        import re
        fixture = os.path.join(run.ROOT, "fixtures", "GlobalLandTemperaturesByCountry.csv")
        if not os.path.exists(fixture):
            self.skipTest("run from the repository root")
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            m = gen.etl_raw(a, 3, 2000, fixture)
            gen.etl_raw(b, 3, 2000, fixture)
            gen.etl_raw(c, 4, 2000, fixture)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertNotEqual(tree_digest(a), tree_digest(c))
            self.assertEqual(m["rows"]["sas_data"], 2000)
            # FIXTURES.md A3/A4 line regexes, no trailing newline
            for f, rx in [("internal_country_codes.txt", r"^([0-9]+) (\s*=\s*) (')(.+)(')$"),
                          ("port_of_entry.txt", r"^(')(.+)(')(\s*)(=)(\s*)(')(.+)(')$")]:
                text = open(os.path.join(a, f)).read()
                self.assertFalse(text.endswith("\n"), f)
                for ln in text.split("\n"):
                    self.assertRegex(ln, rx)
            iso = re.compile(r"^([A-Z]+) (\s*/\s*) ([A-Z]+)$")
            rows = open(os.path.join(a, "country_codes.csv")).read().splitlines()[1:]
            self.assertEqual(len(rows), 240)
            self.assertTrue(all(iso.match(r.split(",")[2]) for r in rows))
            import pyarrow.parquet as pq
            sas = pq.read_table(os.path.join(a, "sas_data"))
            self.assertEqual(sas.num_rows, 2000)
            self.assertEqual(len(sas.schema), 28)
            self.assertEqual(str(sas.schema.field("admnum").type), "double")
            self.assertEqual(str(sas.schema.field("i94port").type), "string")


class MetricLineTest(unittest.TestCase):

    def test_end_to_end_metrics_named_with_units(self):
        res = {"setup_s": 8.0, "retained_heap_mb": 300.5, "execs": [
            {"phase": "setup", "query": "a", "ok": True, "build_s": 5.0, "run_s": 5.0}] + [
            {"phase": f"pass-{p}", "query": q, "ok": True, "build_s": 0.1, "run_s": 0.2 + p / 10}
            for p in range(3) for q in "abcdefgh"]}
        ms = run.end_to_end(res, {"rows": {"t": 1000}})
        self.assertEqual(set(ms), set(run.END_TO_END))
        self.assertAlmostEqual(ms["pass_s"], 8 * 0.4)
        self.assertEqual(ms["setup_s"], 8.0)
        self.assertAlmostEqual(ms["input_rows_per_s"], 1000 / 3.2)
        self.assertAlmostEqual(ms["query_tail_s"], 0.4)
        self.assertAlmostEqual(ms["query_p50_s"], 0.4)
        line = json.dumps({"correct": True, "attempted": 24, "failed": 0, "metrics": {
            k: {"value": v, "unit": run.END_TO_END[k]} for k, v in ms.items()}})
        parsed = json.loads(line)
        self.assertEqual(set(parsed), {"correct", "attempted", "failed", "metrics"})
        for k, v in parsed["metrics"].items():
            self.assertEqual(set(v), {"value", "unit"})
            self.assertGreater(v["value"], 0, k)

    def test_benchmark_json_names_every_metric_the_runner_prints(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("run from the repository root")
        b = json.load(open(path))
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.PER_LAYER)
        self.assertEqual({w["name"] for w in b["workloads"]}, set(run.WORKLOADS))

    def test_union_of_job_intervals(self):
        self.assertEqual(run.union_s([(0, 1000), (500, 1500), (3000, 3500)]), 2.0)
        self.assertEqual(run.union_s([]), 0.0)


class AttributionTest(unittest.TestCase):

    def test_call_site_to_layer(self):
        cases = {
            # localCheckpoint at Checkpoints.scala -> ops.materialize
            "org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:712)\n"
            "graft.ops.Checkpoints$.$anonfun$truncator$1(Checkpoints.scala:58)\n"
            "graft.ops.Dedup$.spanDedup(Dedup.scala:735)\n"
            "graft.SparkEntry$.$anonfun$queries$90(SparkEntry.scala:1400)\n"
            "perfbench.Main$.execute$1(Main.scala:93)": "ops.materialize",
            # parquet at Io.scala -> io
            "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:288)\n"
            "graft.io.Io$.writeParquet(Io.scala:35)\n"
            "graft.etl.CapstoneEtl$.$anonfun$run$3(CapstoneEtl.scala:296)": "io",
            "graft.quality.DataQuality$.measure(DataQuality.scala:27)\n"
            "graft.etl.CapstoneEtl$.run(CapstoneEtl.scala:310)": "quality",
            "graft.ops.Graph$.pageRank(Graph.scala:120)\n"
            "graft.SparkEntry$.$anonfun$queries$12(SparkEntry.scala:900)": "ops",
            "graft.functions.PqExpressions$.train(PqExpressions.scala:50)": "functions",
            "graft.analytics.StarAnalytics$.top5NationsYtd(StarAnalytics.scala:70)": "analytics",
            "graft.sql.GraftCatalog$.sql(GraftCatalog.scala:30)": "sql",
            "graft.parse.Parsers$.load(Parsers.scala:12)": "parse",
            "graft.SparkEntry$.countOnce(SparkEntry.scala:31)": "SparkEntry",
            "graft.sql.GraftCatalog$.$anonfun$registerAll$1(GraftCatalog.scala:20)": "sql",
            # the benchmark's own noop sink: the query's plan
            "org.apache.spark.sql.DataFrameWriter.save(DataFrameWriter.scala:250)\n"
            "perfbench.Main$.execute$1(Main.scala:95)\n"
            "perfbench.Main$.main(Main.scala:150)": "SparkEntry",
            "java.lang.Thread.run(Thread.java:840)": "unattributed",
            "": "unattributed",
        }
        for details, want in cases.items():
            self.assertEqual(layers.layer_of(details.splitlines()), want, details)

    def test_every_job_gets_a_layer_and_its_query(self):
        spans = [
            {"name": "pass-0", "start": 0, "end": 100, "parent": "", "query": ""},
            {"name": "query:q1", "start": 0, "end": 50, "parent": "pass-0", "query": "q1"},
            {"name": "job", "start": 10, "end": 20, "frames": ["graft.io.Io$.x(Io.scala:1)"]},
            {"name": "job", "start": 60, "end": 70, "frames": []},
        ]
        jobs = run.attribute(spans)
        self.assertEqual([(j["layer"], j["query"], j["phase"]) for j in jobs],
                         [("io", "q1", "pass-0"), ("unattributed", "", "pass-0")])


if __name__ == "__main__":
    unittest.main()
