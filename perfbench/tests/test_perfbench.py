"""The benchmark's own tests: generator determinism, span self-time
arithmetic, metric-name validity and job-to-op matching.

    python3 -m unittest discover -s perfbench/tests

(The Scala side's job attribution is covered by RecorderSpec:
`cd perfbench && sbt test`.)
"""
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402


def scratch():
    base = os.path.join(ROOT, ".bench_build", "perfbench", "test")
    os.makedirs(base, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=base)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with scratch() as d:
            a = gen.generate("curation", 11, os.path.join(d, "a"))
            b = gen.generate("curation", 11, os.path.join(d, "b"))
            c = gen.generate("curation", 12, os.path.join(d, "c"))
        self.assertEqual(a["digest"], b["digest"])
        self.assertNotEqual(a["digest"], c["digest"])
        self.assertEqual(a["rows"], c["rows"])

    def test_copies_keep_keys_aligned_and_one_copy_token(self):
        import pyarrow.parquet as pq
        with scratch() as d:
            meta = gen.generate("scan_shuffle", 5, d)
            docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pylist()
            base = pq.read_table(os.path.join(gen.BASE, "documents.parquet")).to_pylist()
            orders = pq.read_table(os.path.join(d, "orders.parquet"),
                                   columns=["o_orderkey"])["o_orderkey"].to_pylist()
            items = pq.read_table(os.path.join(d, "lineitem.parquet"),
                                  columns=["l_orderkey"])["l_orderkey"].to_pylist()
            self.assertEqual(len(os.listdir(os.path.join(d, "ref"))), gen.REF_FILES)
        shift = meta["first_copy"] * meta["key_offset"]
        self.assertEqual(sorted(r["doc_id"] for r in docs),
                         sorted(r["doc_id"] + shift for r in base))
        # every lineitem still joins an order of its own copy
        self.assertTrue(set(items) <= set(orders))
        self.assertEqual(meta["rows"]["lineitem"], 10 * 60000)
        first = {re.split(r"[^a-z0-9]+", r["text"].lower())[0] for r in docs}
        self.assertEqual(len(first), 1)
        token = first.pop()
        self.assertTrue(token.startswith(f"c{meta['first_copy']}"))
        self.assertTrue(all(r["n_chars"] == len(r["text"]) for r in docs))


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(metrics.union_us([(0, 10), (5, 15), (20, 25), (30, 30)]), 20)
        self.assertEqual(metrics.union_us([]), 0)

    def test_covered_clips_to_parent(self):
        self.assertEqual(metrics.covered_us(10, 20, [(0, 12), (18, 30)]), 4)
        self.assertEqual(metrics.covered_us(10, 20, [(30, 40)]), 0)

    def test_self_time_is_duration_minus_children_union(self):
        spans = [
            {"id": "op", "parent": None, "start_us": 0, "end_us": 100},
            {"id": "x", "parent": "op", "start_us": 10, "end_us": 60},
            {"id": "j1", "parent": "x", "start_us": 10, "end_us": 30},
            {"id": "j2", "parent": "x", "start_us": 20, "end_us": 40},
            {"id": "j3", "parent": "op", "start_us": 50, "end_us": 70},
            {"id": "s", "parent": "j1", "start_us": 12, "end_us": 28},
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st["op"], 100 - 60)   # x and j3 cover [10, 70)
        self.assertEqual(st["x"], 50 - 30)     # j1 and j2 cover [10, 40)
        self.assertEqual(st["j1"], 20 - 16)
        self.assertEqual(st["s"], 16)


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_names_units_and_bounds(self):
        names = [m["name"] for k in ("end_to_end", "per_layer")
                 for m in self.spec[k]] + [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, metrics.NAME)
        for k in ("end_to_end", "per_layer"):
            for m in self.spec[k]:
                self.assertRegex(m["unit"], metrics.UNIT)
                self.assertIn(m["better"], ("higher", "lower"))
        for m in self.spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in self.spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")
        self.assertEqual(setup[0]["bound"],
                         max(m["bound"] for m in self.spec["end_to_end"]))

    def test_every_declared_metric_is_computed_with_its_unit(self):
        for m in self.spec["end_to_end"]:
            self.assertEqual(metrics.END_TO_END_UNITS[m["name"]], m["unit"])
        for m in self.spec["per_layer"]:
            self.assertEqual(metrics.LAYER_UNITS[m["name"]], m["unit"])
        for w in self.spec["workloads"]:
            self.assertIn(w["name"], gen.PLANS)


class SpansTest(unittest.TestCase):
    def raw(self):
        op = {"pass": 1, "index": 0, "name": "q", "start_us": 1_000_000,
              "end_us": 2_000_000, "wall_s": 1.0, "rows": 1, "error": None,
              "compiles": 2, "compile_ns": 5e8, "source_bytes": 2048.0}
        # a file with no bucket of its own counts as "other"
        job = {"exec": 7, "module": "Bench", "succeeded": True, "blocks": 0,
               "block_bytes": 0}
        stage = {"attempt": 0, "failed": False, "tasks": 4, "failed_tasks": 0,
                 "retries": 0, "run_ms": 800, "cpu_ns": 7e8, "gc_ms": 0,
                 "shuffle_read_bytes": 0, "fetch_wait_ms": 0,
                 "shuffle_write_bytes": 1 << 20, "input_records": 10,
                 "input_bytes": 0, "output_records": 0, "output_bytes": 0,
                 "mem_spill_bytes": 0, "disk_spill_bytes": 0,
                 "peak_exec_bytes": 0}
        return {
            "cores": 4, "untraced": [[dict(op, **{"pass": 0, "wall_s": 0.9})]],
            "traced": [[op]],
            "trace": {
                "execs": [{"id": 7, "root": 7, "start_ms": 1100, "end_ms": 1900,
                           "module": "Bench", "analysis_ms": 5,
                           "optimization_ms": 6, "planning_ms": 7,
                           "aqe_updates": 1}],
                # one job names its op; one started off-thread is matched by time
                "jobs": [dict(job, id=1, start_ms=1200, end_ms=1500, op="1:0"),
                         dict(job, id=2, start_ms=1400, end_ms=1800, op=None,
                              exec=-1, module="rdd", blocks=3,
                              block_bytes=3 << 20)],
                "stages": [dict(stage, id=1, job=1, start_ms=1200, end_ms=1500),
                           dict(stage, id=2, job=2, start_ms=1400, end_ms=1800)],
            }}

    def test_per_layer_from_a_traced_pass(self):
        m, spans, per_pass, unsteady = metrics.per_layer(self.raw(), "r")
        self.assertEqual(m["sched.jobs"], 2)
        self.assertAlmostEqual(m["sched.job_s"], 0.6)
        self.assertAlmostEqual(m["sched.gap_s"], 0.4)
        self.assertEqual(m["module.other.jobs"], 1)
        self.assertEqual(m["module.sink.jobs"], 0)
        self.assertEqual(m["module.rdd.jobs"], 1)
        self.assertEqual(m["ckpt.blocks"], 3)
        self.assertAlmostEqual(m["exec.core_util"], 1.6 / 4)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.1)
        self.assertEqual(m["op.q_s"], 1.0)
        parents = {s["id"]: s["parent"] for s in spans}
        self.assertEqual(parents["j:1"], "x:7")
        self.assertEqual(parents["j:2"], "op:1:0")
        self.assertTrue(all(s["run_id"] == "r" for s in spans))
        # op [1.0 s, 2.0 s) minus the exec [1.1, 1.9) and the job [1.4, 1.8)
        self.assertAlmostEqual(m["self.op_s"], 0.2)
        self.assertEqual(unsteady, [])


if __name__ == "__main__":
    unittest.main()
