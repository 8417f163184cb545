"""Tests of the benchmark's own logic (no Spark, no JVM).

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import compare  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import shape  # noqa: E402


def digest_dir(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class InputsTest(unittest.TestCase):
    def generate(self, workload, seed):
        d = tempfile.mkdtemp()
        self.addCleanup(lambda: __import__("shutil").rmtree(d))
        props = gen.generate(workload, seed, d)
        return digest_dir(d), props

    def test_same_seed_gives_byte_identical_inputs(self):
        for w in gen.SIZES:
            a, pa = self.generate(w, 7)
            b, pb = self.generate(w, 7)
            self.assertEqual(a, b, w)
            self.assertEqual(pa, pb, w)

    def test_different_seed_gives_different_inputs(self):
        for w in gen.SIZES:
            a, _ = self.generate(w, 7)
            b, _ = self.generate(w, 8)
            self.assertEqual(a.keys(), b.keys(), w)
            self.assertNotEqual(a, b, w)

    def test_props_record_the_sensitive_properties(self):
        _, p = self.generate("ref_etl", 3)
        for k in ("supplier_degree", "customer_degree", "team_size_max", "docs_per_pair",
                  "increment_to_state", "input_bytes"):
            self.assertIn(k, p)
        _, p = self.generate("curation", 3)
        for k in ("family_size_max", "family_pair_count", "docs_per_replica", "docs",
                  "input_bytes"):
            self.assertIn(k, p)


class ShapeTest(unittest.TestCase):
    """The generated inputs have the fixture tables' measured shape
    (shape.FIXTURE), wherever a figure does not depend on the scale."""

    def measure(self, workload, seed):
        d = tempfile.mkdtemp()
        self.addCleanup(lambda: __import__("shutil").rmtree(d))
        gen.generate(workload, seed, d)
        return shape.shape(d)

    def test_person_graph(self):
        f = shape.FIXTURE
        for seed in (1, 2):
            g = self.measure("ref_etl", seed)
            self.assertAlmostEqual(g["orders_per_customer"]["mean"],
                                   f["orders_per_customer"]["mean"], delta=0.01)
            self.assertAlmostEqual(g["orders_per_customer"]["top1pct_share"],
                                   f["orders_per_customer"]["top1pct_share"], delta=0.003)
            self.assertLess(g["orders_per_customer"]["max"], 3 * f["orders_per_customer"]["mean"])
            self.assertAlmostEqual(g["lines_per_supplier"]["mean"],
                                   f["lines_per_supplier"]["mean"], delta=0.01)
            self.assertLess(g["lines_per_supplier"]["cv"], 2 * f["lines_per_supplier"]["cv"])
            self.assertAlmostEqual(g["lines_per_order"]["mean_nonempty"],
                                   f["lines_per_order"]["mean_nonempty"], delta=0.05)
            self.assertAlmostEqual(g["lines_per_order"]["empty_share"],
                                   f["lines_per_order"]["empty_share"], delta=0.005)
            self.assertAlmostEqual(g["trove_user_share"], f["trove_user_share"], delta=0.03)

    def test_documents_and_embeddings(self):
        f = shape.FIXTURE
        for seed in (1, 2):
            c = self.measure("curation", seed)
            self.assertEqual(c["words_per_doc"]["min"], f["words_per_doc"]["min"])
            self.assertLessEqual(c["words_per_doc"]["max"], f["words_per_doc"]["max"])
            self.assertAlmostEqual(c["words_per_doc"]["mean"], f["words_per_doc"]["mean"],
                                   delta=2.5)
            # each replica renames the fixture's vocabulary apart from stopwords
            per_rep = f["vocabulary"] - len(gen.STOPWORDS & set(gen.VOCAB))
            self.assertEqual(c["vocabulary"], gen.SIZES["curation"]["replicas"] * per_rep
                             + len(gen.STOPWORDS & set(gen.VOCAB)))
            self.assertAlmostEqual(c["dup_doc_share"], f["dup_doc_share"], delta=0.02)
            self.assertAlmostEqual(c["lang_en_share"], f["lang_en_share"], delta=0.05)
            e, fe = c["embedding"], f["embedding"]
            self.assertEqual((e["dim"], e["labels"]), (fe["dim"], fe["labels"]))
            self.assertAlmostEqual(e["norm"], 1.0, places=3)
            self.assertAlmostEqual(e["component_sd"], fe["component_sd"], delta=0.002)
            self.assertAlmostEqual(e["same_label_mean_cos"], 0.0, delta=0.01)


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        v, pct, n = metrics.tail(list(range(1, 101)))
        self.assertEqual((v, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in range(1, 101) if x > v), 10)

    def test_order_does_not_matter(self):
        xs = [5, 3, 9, 1, 7, 2, 8, 6, 4, 10, 11, 12]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))
        self.assertEqual(metrics.tail(xs)[0], 2)

    def test_no_tail_without_eleven_samples(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        v, pct, n = metrics.tail(list(range(11)))
        self.assertEqual((v, n), (0, 11))
        self.assertAlmostEqual(pct, 100 / 11)


def span(i, parent, start, end, name="s", p=1):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end,
            "dur_s": (end - start) / 1000, "name": name, "pass": p, "request": 1}


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span(1, 0, 0, 10_000), span(2, 1, 1_000, 4_000), span(3, 2, 2_000, 3_000)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[1], 7.0)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 1.0)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 10_000), span(2, 1, 1_000, 4_000), span(3, 1, 3_000, 6_000)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[1], 5.0)  # children cover 1..6 s
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[3], 3.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, 0, 4_000), span(2, 1, 3_000, 6_000)]
        self.assertAlmostEqual(metrics.self_times(spans)[1], 3.0)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(metrics.union_length([]), 0)


class AttributionTest(unittest.TestCase):
    def test_job_group_then_time(self):
        rec = {
            "spans": [span(1, 0, 0, 10_000), span(2, 1, 1_000, 2_000), span(3, 1, 5_000, 6_000)],
            "jobs": [{"job": 0, "t_ms": 1_500, "group": "span-2", "stages": [0]},
                     # a streaming query sets its own group: attributed by time
                     {"job": 1, "t_ms": 5_500, "group": "stream-uuid", "stages": [1]}],
            "stages": [{"stage": 0, "tasks": []}, {"stage": 1, "tasks": []}],
            "queries": [{"t_ms": 5_100, "plan_s": 0.1, "broadcast_joins": 1, "shuffle_joins": 0}],
            "blocks": [{"t_ms": 9_000, "valid": True, "bytes": 8, "block": "rdd_1_0"}],
        }
        stages, queries, blocks = metrics.attribute(rec)
        self.assertEqual([s["span"] for s in stages], [2, 3])
        self.assertEqual(queries[0]["span"], 3)
        self.assertEqual(blocks[0]["span"], 1)


class PerLayerTest(unittest.TestCase):
    def test_every_per_layer_metric_is_reported(self):
        rec = {
            "passes": [{"pass": 1, "traced": True, "wall_s": 2.0, "blocks_held_before": 1,
                        "blocks_held_after": 2, "bytes_held_after": 30},
                       {"pass": 2, "traced": False, "wall_s": 1.6, "blocks_held_after": 0,
                        "bytes_held_after": 0}],
            "spans": [dict(span(1, 0, 0, 2_000, "pipelines.hopQuery"), rows_out=4)],
            "jobs": [{"job": 0, "t_ms": 100, "group": "span-1", "stages": [0]}],
            "stages": [{"stage": 0, "submit_ms": 100, "complete_ms": 900, "run_ms": 1200,
                        "input_rows": 40, "tasks": [[100, 500, 1], [100, 900, 1]]}],
            "queries": [{"t_ms": 50, "plan_s": 0.05, "broadcast_joins": 1, "shuffle_joins": 1}],
            "blocks": [{"t_ms": 200, "valid": True, "bytes": 10, "block": "rdd_1_0"},
                       {"t_ms": 250, "valid": True, "bytes": 10, "block": "rdd_1_1"},
                       {"t_ms": 300, "valid": True, "bytes": 10, "block": "rdd_1_0"}],
            "batches": [], "requests": [], "probes": {}, "peak_rss_mb": 1500.0,
        }
        m = metrics.per_layer(rec, cores=4)
        self.assertEqual(set(m), set(metrics.PER_LAYER))
        self.assertAlmostEqual(m["spark.no_task_s"][0], 1.2)  # tasks cover 0.1..0.9 s
        self.assertAlmostEqual(m["sources.rows_examined_per_result"][0], 10.0)
        self.assertEqual(m["checkpoints.blocks_created"][0], 2)
        self.assertAlmostEqual(m["checkpoints.release_ratio"][0], 0.5)  # one of two still held
        self.assertAlmostEqual(m["trace.overhead_ratio"][0], 1.25)
        self.assertAlmostEqual(m["spark.task_skew"][0], 800 / 600)
        self.assertEqual(m["jvm.peak_rss_mb"], (1500.0, "MiB"))

    def test_end_to_end_takes_untraced_passes_only(self):
        rec = {"passes": [{"traced": True, "wall_s": 9.0, "retained_heap_mb": 900.0},
                          {"traced": False, "wall_s": 2.0, "retained_heap_mb": 150.0},
                          {"traced": False, "wall_s": 4.0, "retained_heap_mb": 170.0}]}
        m = metrics.end_to_end(rec, setup_s=30.0)
        self.assertEqual(set(m), set(metrics.E2E))
        self.assertEqual(m["wall_s"], (3.0, "s"))
        self.assertEqual(m["retained_heap_mb"], (160.0, "MiB"))


PROV = {"workload": "ref_etl", "cpus": 4, "host_cpus": 4, "jdk": "17", "spark": "4.1.2",
        "heap": "3g", "cds": True, "bench": "b1", "seconds": 10.0, "traced": False,
        "code": "c1"}


class RegressionCheckTest(unittest.TestCase):
    def runs(self, wall, n=10, **prov):
        return [{"correct": True, "provenance": dict(PROV, seed=i, **prov), "metrics": {
            "wall_s": {"value": wall * (1 + 0.01 * (i % 3)), "unit": "s"},
            "setup_s": {"value": 30.0 + 0.1 * i, "unit": "s"}}} for i in range(n)]

    def test_runs_of_other_hosts_or_setups_are_not_compared(self):
        self.assertEqual(compare.provenance_problems(self.runs(10.0), self.runs(10.0, code="c2")),
                         [])
        for k, v in (("cpus", 8), ("cds", False), ("jdk", "21"), ("bench", "b2")):
            self.assertTrue(compare.provenance_problems(self.runs(10.0), self.runs(10.0, **{k: v})),
                            k)
        mixed = self.runs(10.0)[:5] + self.runs(10.0, code="c2")[:5]
        self.assertTrue(compare.provenance_problems(self.runs(10.0), mixed))
        bare = self.runs(10.0)
        del bare[3]["provenance"]
        self.assertTrue(compare.provenance_problems(self.runs(10.0), bare))

    def test_result_lines_pair_with_their_provenance(self):
        d = tempfile.mkdtemp()
        self.addCleanup(lambda: __import__("shutil").rmtree(d))
        path = os.path.join(d, "runs.out")
        with open(path, "w") as fh:
            for r in self.runs(10.0, n=2):
                prov = r.pop("provenance")
                fh.write(f"# provenance {json.dumps(prov)}\nwall_s 10 s\n{json.dumps(r)}\n")
            fh.write(json.dumps({"correct": True, "metrics": {}}) + "\n")
        runs = compare.read_runs(path)
        self.assertEqual([r.get("provenance", {}).get("seed") for r in runs], [0, 1, None])

    def test_slower_run_is_reported_as_regressed(self):
        bounds = compare.load_bounds()
        res = compare.compare(self.runs(10.0), self.runs(10.0 * (1 + 2 * bounds["wall_s"][1])),
                              bounds)
        self.assertEqual(res["wall_s"]["verdict"], "regressed")
        self.assertEqual(res["setup_s"]["verdict"], "ok")

    def test_same_run_is_not_regressed(self):
        bounds = compare.load_bounds()
        res = compare.compare(self.runs(10.0), self.runs(10.0), bounds)
        self.assertTrue(all(v["verdict"] == "ok" for v in res.values()), res)

    def test_incorrect_change_is_a_regression(self):
        change = self.runs(10.0)
        change[0]["correct"] = False
        res = compare.compare(self.runs(10.0), change, compare.load_bounds())
        self.assertEqual(res["correct"]["verdict"], "regressed")

    def test_bounds_match_the_contract(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        names = [m["name"] for m in spec["end_to_end"]]
        self.assertEqual(sorted(names), sorted(metrics.E2E))
        self.assertEqual(sorted(m["name"] for m in spec["per_layer"]), sorted(metrics.PER_LAYER))
        for m in spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)


if __name__ == "__main__":
    unittest.main()
