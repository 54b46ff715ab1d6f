"""Self-tests for the benchmark's pure parts.

    python3 -m unittest discover -s perfbench/tests

The digest test builds the harness (cached) and runs its JVM self-test;
it is skipped where sbt is not installed.
"""

import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402


def span(id_, parent, name, layer, start, end):
    return {"id": id_, "parent": parent, "name": name, "layer": layer,
            "start": start, "end": end}


def job(id_, span_id, site, start, end, tasks=4, shuffle=0, spill=0):
    return {"id": id_, "span": span_id, "site": site, "start": start,
            "end": end, "tasks": tasks, "shuffle_bytes": shuffle,
            "spill_bytes": spill}


LEVEL = "collectAsMap at RandomForest.scala:693"


def rf_raw():
    """One untraced and one traced forest iteration, times in us."""
    s = 1_000_000
    spans = [
        span(0, -1, "iteration", "harness", 0, 10 * s),
        span(1, 0, "train", "rf_app", 0, 6 * s),
        span(2, 0, "saveModel", "rf_app", 6 * s, 7 * s),
        span(3, 0, "loadAndScore test", "rf_app", 7 * s, 8 * s),
        span(4, 0, "write test", "sink", 8 * s, 9 * s),
        span(5, 0, "loadAndScore batch", "rf_app", 9 * s, 9.5 * s),
        span(6, 0, "write batch", "sink", 9.5 * s, 10 * s),
    ]
    jobs = [
        job(0, 1, "csv at RandomForestApp.scala:85", 0, s // 2, shuffle=1048576),
        job(1, 1, "take at DecisionTreeMetadata.scala:119", 2 * s, 2.5 * s),
        job(2, 1, "collectAsMap at RandomForest.scala:1084", 2.5 * s, 3 * s),
        job(3, 1, LEVEL, 3 * s, 4 * s),
        job(4, 1, LEVEL, 4 * s, 5 * s),
        job(5, 4, "save at Main.scala:108", 8 * s, 9 * s, tasks=3),
        job(6, 6, "save at Main.scala:108", 9.5 * s, 10 * s, tasks=5, spill=2097152),
    ]
    return {
        "workload": "rf_fit", "setup_s": 30.0, "peak_heap_mb": 120.0,
        "failures": [], "attempted": 2,
        "iterations": [
            {"seconds": 9.0, "traced": False, "gc_s": 0.1, "parts": {}},
            {"seconds": 10.0, "traced": True, "gc_s": 0.2, "parts": {}},
        ],
        "checks": {"first": {"accuracy": 0.9, "digest": "5:ab"},
                   "last": {"accuracy": 0.9, "digest": "5:ab"}, "accuracy": 0.88},
        "spans": spans, "jobs": jobs, "plans": {"4": 100, "6": 50},
    }


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(metrics.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        self.assertEqual(metrics.median([]), 0.0)

    def test_covered_merges_overlaps(self):
        self.assertEqual(metrics._covered([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics._covered([]), 0)


class OutcomeTest(unittest.TestCase):
    def test_forest_checks(self):
        raw = rf_raw()
        self.assertEqual(metrics.outcome(raw, {}), (4, []))
        raw["checks"]["last"] = {"accuracy": 0.7, "digest": "5:cd"}
        attempted, failures = metrics.outcome(raw, {})
        self.assertEqual(attempted, 4)
        self.assertEqual(len(failures), 2)

    def test_ops_digest_mismatch_counts_as_failure(self):
        pinned = {op: "1:00" for op in metrics.OPS}
        raw = {"workload": "ops_mix", "failures": ["x: boom"], "attempted": 15,
               "checks": {"digests": dict(pinned, fn_json="2:00")}}
        attempted, failures = metrics.outcome(raw, pinned)
        self.assertEqual(attempted, 30)
        self.assertEqual(len(failures), 2)
        self.assertIn("fn_json", failures[1])


class MetricsTest(unittest.TestCase):
    def test_end_to_end_uses_untraced_iterations(self):
        v = metrics.end_to_end(rf_raw(), 1000, 4, 1)
        self.assertEqual(v["iter_s"], 9.0)
        self.assertAlmostEqual(v["rows_per_s"], 1000 / 9.0)
        self.assertEqual(v["ok_frac"], 0.75)
        self.assertEqual(v["accuracy"], 0.88)
        self.assertEqual(sorted(v), sorted(metrics.END_TO_END))

    def test_ops_input_rows_count_each_table_per_op(self):
        self.assertEqual(sorted(metrics.OP_TABLES), sorted(metrics.OPS))
        tables = dict.fromkeys(metrics.TABLES, 0)
        tables["lineitem"] = 1
        # agg_hash_groupby, join_q3_topk, join_multiway_star, the three graphs
        self.assertEqual(metrics.ops_input_rows(tables), 6)

    def test_forest_layers(self):
        v = metrics.per_layer(rf_raw())
        self.assertEqual(sorted(v), sorted(metrics.PER_LAYER))
        self.assertEqual(v["rf.ingest_s"], 2.0)
        self.assertEqual(v["rf.ingest_jobs"], 1)
        self.assertEqual(v["rf.level_jobs"], 2)
        self.assertEqual(v["rf.level_s"], 2.0)
        self.assertEqual(v["rf.metadata_s"], 1.0)
        self.assertEqual(v["rf.train_shuffle_mb"], 1.0)
        self.assertEqual(v["rf.train_s"], 7.0)
        self.assertEqual(v["rf.load_s"], 1.5)
        self.assertEqual(v["rf.score_s"], 1.5)
        self.assertEqual(v["rf.score_tasks"], 8)
        self.assertEqual(v["rf.spill_mb"], 2.0)
        self.assertEqual(v["rf.gc_s"], 0.2)
        self.assertEqual(v["trace.overhead_s"], 1.0)
        self.assertEqual(v["ops.jobs"], 0)
        # train: 6 s minus 0.5 s csv job and 3 s of MLlib jobs
        self.assertEqual(v["self.rf_app_s"], 2.5 + 1.0 + 1.0 + 0.5)
        self.assertEqual(v["self.mllib_jobs_s"], 3.0)

    def test_op_layers(self):
        s = 1_000_000
        raw = {
            "spans": [span(0, -1, "iteration", "harness", 0, 4 * s),
                      span(1, 0, "build graph_pagerank", "build", 0, 2 * s),
                      span(2, 0, "write graph_pagerank", "sink", 2 * s, 4 * s)],
            "jobs": [job(0, 1, "checkpoint at X.scala:1", 0, s, shuffle=1048576),
                     job(1, 2, "save at Main.scala:108", 2.5 * s, 4 * s)],
            "plans": {"2": 500},
            "iterations": [{"seconds": 4.0, "traced": True, "gc_s": 0.3, "parts": {}}],
        }
        v = metrics.per_layer(raw)
        self.assertEqual(v["op.graph_pagerank.build_s"], 2.0)
        self.assertEqual(v["op.graph_pagerank.build_jobs"], 1)
        self.assertEqual(v["op.graph_pagerank.plan_s"], 0.5)
        self.assertEqual(v["op.graph_pagerank.exec_s"], 1.5)
        self.assertEqual(v["op.graph_pagerank.shuffle_mb"], 1.0)
        self.assertEqual(v["family.iterative_s"], 4.0)
        self.assertEqual(v["ops.jobs"], 2)
        self.assertEqual(v["ops.gc_s"], 0.3)
        self.assertEqual(v["rf.train_s"], 0.0)

    def test_overhead_skips_the_warming_iteration(self):
        raw = rf_raw()
        raw["iterations"].append(dict(raw["iterations"][0], seconds=8.5))
        self.assertEqual(metrics.per_layer(raw)["trace.overhead_s"], 1.5)

    def test_family_seconds(self):
        raw = {"iterations": [
            {"traced": False, "parts": {"fn_json": 1.0, "agg_hash_groupby": 2.0}},
            {"traced": False, "parts": {"fn_json": 3.0, "agg_hash_groupby": 2.0}},
            {"traced": True, "parts": {"fn_json": 9.0}}]}
        fam = metrics.family_seconds(raw)
        self.assertEqual(fam["text"], 2.0)
        self.assertEqual(fam["relational"], 2.0)
        self.assertEqual(fam["pairs"], 0.0)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = Path(tempfile.mkdtemp())
        self.addCleanup(shutil.rmtree, self.tmp)
        self.sizes = (gen.TRAIN_ROWS, gen.TEST_ROWS, gen.SCORE_ROWS, gen.WARM_ROWS)
        gen.TRAIN_ROWS, gen.TEST_ROWS, gen.SCORE_ROWS, gen.WARM_ROWS = 300, 100, 500, 50

    def tearDown(self):
        gen.TRAIN_ROWS, gen.TEST_ROWS, gen.SCORE_ROWS, gen.WARM_ROWS = self.sizes

    def files(self, d):
        return {f.name: f.read_bytes() for f in sorted(d.iterdir())}

    def test_same_seed_gives_identical_bytes(self):
        gen.generate(self.tmp / "a", 7)
        gen.generate(self.tmp / "b", 7)
        gen.generate(self.tmp / "c", 8)
        a, b, c = (self.files(self.tmp / n) for n in "abc")
        self.assertEqual(sorted(a), ["meta.json", "score.parquet", "test.csv", "train.csv",
                                     "warm.csv", "warm.parquet"])
        self.assertEqual(a, b)
        self.assertNotEqual(a["train.csv"], c["train.csv"])

    def test_rows_and_noise(self):
        gen.generate(self.tmp / "a", 3)
        lines = (self.tmp / "a" / "train.csv").read_text().splitlines()
        self.assertEqual(len(lines), 300)
        self.assertEqual(len(lines[0].split(",")), gen.FEATURES + 1)
        meta = json.loads((self.tmp / "a" / "meta.json").read_text())
        self.assertEqual(meta["score_rows"], 500)

    def test_ensure_caches_by_seed(self):
        d = self.tmp / "seed-5"
        self.assertGreater(gen.ensure(d, 5), 0.0)
        self.assertEqual(gen.ensure(d, 5), 0.0)


class SpecTest(unittest.TestCase):
    def test_benchmark_json_matches_the_metrics(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual([m["name"] for m in spec["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([m["name"] for m in spec["per_layer"]], metrics.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(gen.WORKLOADS))


@unittest.skipUnless(shutil.which("sbt"), "sbt is not installed")
class DigestTest(unittest.TestCase):
    def test_digest_ignores_row_order_and_sees_changes(self):
        import run
        run.WORK.mkdir(parents=True, exist_ok=True)
        run.build()
        out = subprocess.run(
            ["java", *run.JVM_OPTS, "-cp", run.CLASSPATH.read_text().strip(),
             "perfbench.Main", "--selftest"],
            capture_output=True, text=True, timeout=170)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        self.assertIn("selftest ok", out.stdout)


if __name__ == "__main__":
    unittest.main()
