"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402
import stats  # noqa: E402


class GeomeanTest(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 2, 2]), 2.0)
        self.assertAlmostEqual(stats.geomean([0.5, 2.0, 4.0, 0.25]), 1.0)

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time((0, 10), []), 10)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (3, 6)]), 5)

    def test_children_clipped_to_span(self):
        self.assertEqual(stats.self_time((0, 10), [(-5, 2), (9, 20)]), 7)

    def test_nested_and_disjoint(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 50), (20, 30), (60, 70)]), 50)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 1), (1, 2), (5, 7), (6, 6)]), 4)


class SpaceAmpTest(unittest.TestCase):
    def test_ratio(self):
        self.assertAlmostEqual(stats.space_amp(300, 100), 3.0)

    def test_empty_copy(self):
        with self.assertRaises(ValueError):
            stats.space_amp(10, 0)


class DigestTest(unittest.TestCase):
    def test_row_order_does_not_matter(self):
        a = [(1, "x", None), (2, "y", 3)]
        self.assertEqual(stats.rows_digest(a), stats.rows_digest(list(reversed(a))))

    def test_typed_and_string_rows_agree(self):
        # DuckDB hands back typed values; the JVM records strings
        self.assertEqual(stats.rows_digest([(7, "n7", None)]),
                         stats.rows_digest([["7", "n7", "NULL"]]))

    def test_values_matter(self):
        self.assertNotEqual(stats.rows_digest([(1, 2)]), stats.rows_digest([(1, 3)]))
        self.assertNotEqual(stats.rows_digest([(1,), (1,)]), stats.rows_digest([(1,)]))

    def test_stable_across_processes(self):
        # sha256 of the canonical text, never Python's salted hash()
        self.assertEqual(stats.rows_digest([(2, None), (1, "a")]),
                         "28e35698f368ba13d9a3d8c4b75c04fbaeb9477ae90176b580b19ac7b1d28c3f")


def _op(seq, name, cls, start, build_end, end, build_s, act_s):
    return {"seq": seq, "name": name, "cls": cls, "kind": "query", "timed": True, "ok": True,
            "start": start, "build_end": build_end, "end": end,
            "build_s": build_s, "act_s": act_s, "fs": {}, "opened": [], "live": []}


class LayerSplitTest(unittest.TestCase):
    """build.s + plan.s + exec.s is each op's timed seconds, and job
    time is subtracted from the layer it ran in."""

    def result(self):
        return {
            "cores": 4, "setup_s": 1.0, "heap_live_peak_mb": 1.0, "scratch_bytes": 0,
            "ops": [_op(0, "a", "read", 0.0, 1000.0, 3000.0, 1.0, 2.0),
                    _op(1, "a", "read", 3000.0, 3500.0, 4000.0, 0.5, 0.5)],
            "jobs": [
                {"id": 0, "op": "0", "layer": "build", "start": 200.0, "end": 600.0, "stages": [0]},
                {"id": 1, "op": "0", "layer": "exec", "start": 1500.0, "end": 2500.0, "stages": [1]},
                {"id": 2, "op": "", "layer": "", "start": 3600.0, "end": 3900.0, "stages": [2]},
            ],
            "stages": [
                {"id": i, "tasks": 2, "failed_tasks": 0, "max_ms": 300, "median_ms": 100,
                 "wait_ms": 10, "run_ms": 400, "cpu_ns": 3e8, "gc_ms": 5, "in_bytes": 100,
                 "in_rows": 10, "shuffle_write": 7, "shuffle_read": 7, "spill": 0}
                for i in range(3)],
            # planning 1000..1400 inside op 0's action; one phase sticks out
            "qes": [{"phases": [[1000.0, 1400.0], [900.0, 1100.0]], "nodes": 5, "exchanges": 1}],
        }

    def test_layers_add_up_per_op(self):
        r = self.result()
        layers = metrics.per_op_layers(r)
        for op in r["ops"]:
            f = layers[op["seq"]]
            self.assertAlmostEqual(f["build.s"] + f["plan.s"] + f["exec.s"],
                                   op["build_s"] + op["act_s"])
        f = layers[0]
        self.assertAlmostEqual(f["plan.s"], 0.4)
        self.assertAlmostEqual(f["build.no_job_s"], 0.6)
        self.assertAlmostEqual(f["exec.no_job_s"], 2.0 - 0.4 - 1.0)
        self.assertEqual((f["build.jobs"], f["exec.jobs"], f["exec.stages"]), (1, 1, 2))
        self.assertAlmostEqual(f["exec.task_skew"], 3.0)
        # a job without the op property is placed by its start time
        self.assertEqual(layers[1]["exec.jobs"], 1)

    def test_per_pass_means(self):
        r = self.result()
        layers = metrics.per_op_layers(r)
        out = metrics.per_layer(r, layers, {})
        self.assertAlmostEqual(out["build.s"] + out["plan.s"] + out["exec.s"],
                               (3.0 + 1.0) / 2)
        self.assertAlmostEqual(out["exec.tasks"], (4 + 2) / 2)
        e2e = metrics.end_to_end(r)
        self.assertAlmostEqual(e2e["wall_s"], 2.0)
        self.assertAlmostEqual(e2e["op_geomean_s"], 2.0)
        self.assertTrue(math.isclose(out["trace.wall_s"], e2e["wall_s"]))


class UnitTest(unittest.TestCase):
    def test_every_metric_has_its_unit(self):
        self.assertEqual([metrics.unit(n) for n in ("build.s", "plan.s", "exec.s",
                                                    "exec.no_job_s", "setup_s")], ["s"] * 5)
        self.assertEqual(metrics.unit("rows_written_per_s"), "rows/s")
        self.assertEqual(metrics.unit("scan.bytes"), "B")
        self.assertEqual(metrics.unit("exec.task_skew"), "ratio")
        self.assertEqual(metrics.unit("exec.jobs"), "count")


if __name__ == "__main__":
    unittest.main()
