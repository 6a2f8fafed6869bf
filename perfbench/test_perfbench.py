"""Unit tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The Scala-side checks (union-find cluster check, Hamming and Jaccard
rechecks, chain layout) run through `run.py --self-test`, which the last test
invokes when a Spark distribution is available.
"""

import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def span(id, start, end, kind="call", name="x.y", trace="pass1", parent=-1, attrs=None):
    return {"id": id, "parent": parent, "trace": trace, "name": name, "kind": kind,
            "start_ms": start, "end_ms": end, "attrs": attrs or {}}


def job(id, start, end, **kw):
    j = {"id": id, "start_ms": start, "end_ms": end, "tasks": 1, "cpu_ns": 0,
         "shuffle_write_bytes": 0, "spill_bytes": 0, "peak_task_mem": 0, "rows_written": 0}
    j.update(kw)
    return j


class SelfTime(unittest.TestCase):
    def test_disjoint_children(self):
        self.assertEqual(run.covered_ms(0, 100, [(10, 20), (30, 50)]), 30)

    def test_overlapping_children_count_once(self):
        self.assertEqual(run.covered_ms(0, 100, [(10, 40), (30, 60), (55, 70)]), 60)

    def test_nested_children_count_once(self):
        self.assertEqual(run.covered_ms(0, 100, [(10, 90), (20, 30), (40, 80)]), 80)

    def test_children_clipped_to_window(self):
        self.assertEqual(run.covered_ms(50, 100, [(0, 60), (90, 200)]), 20)

    def test_children_outside_window_ignored(self):
        self.assertEqual(run.covered_ms(50, 100, [(0, 40), (120, 130)]), 0)

    def test_touching_children(self):
        self.assertEqual(run.covered_ms(0, 100, [(10, 20), (20, 30)]), 20)

    def test_self_time_of_span(self):
        parent = span(0, 0, 100)
        kids = [span(1, 10, 40), span(2, 20, 30), span(3, 35, 50)]
        self.assertEqual(run.self_ms(parent, kids), 60)

    def test_no_children_is_all_self(self):
        self.assertEqual(run.self_ms(span(0, 5, 25), []), 20)


class Attribution(unittest.TestCase):
    def test_job_goes_to_the_span_open_when_it_started(self):
        spans = [span(1, 0, 100), span(2, 100.4, 200)]
        owner = run.attribute_jobs([job(7, 50, 90), job(8, 150, 180)], spans)
        self.assertEqual(owner, {7: 1, 8: 2})

    def test_boundary_job_that_ended_inside_the_earlier_span_stays_there(self):
        # millisecond job times: started in the same ms the next span opened
        spans = [span(1, 0, 100.2), span(2, 100.5, 200)]
        owner = run.attribute_jobs([job(7, 100, 100), job(8, 100, 150)], spans)
        self.assertEqual(owner, {7: 1, 8: 2})

    def test_job_outside_every_span_is_unowned(self):
        self.assertEqual(run.attribute_jobs([job(7, 500, 510)], [span(1, 0, 100)]), {})

    def test_call_stats_with_overlapping_jobs(self):
        raw = {
            "spans": [span(0, 0, 1000, kind="pass", name="pass"),
                      span(1, 0, 1000, name="loop.run", parent=0,
                           attrs={"codegen_ns": 2e8, "codegen_compiles": 3})],
            "jobs": [job(1, 100, 400, tasks=4, cpu_ns=10**9, rows_written=10),
                     job(2, 300, 600, tasks=2, shuffle_write_bytes=5),
                     job(3, 800, 900)],
            "passes": [],
        }
        per_pass, job_spans = run.layer_stats(raw)
        st = per_pass["pass1"]["loop.run"]
        self.assertAlmostEqual(st["wall_s"], 1.0)
        self.assertAlmostEqual(st["driver_s"], 0.4)  # 1000 - (100..600) - (800..900)
        self.assertEqual((st["jobs"], st["tasks"]), (3, 7))
        self.assertAlmostEqual(st["exec_cpu_s"], 1.0)
        self.assertEqual(st["shuffle_write_bytes"], 5)
        self.assertAlmostEqual(st["codegen_s"], 0.2)
        self.assertEqual(st["rows_out"], 10)  # rows written when none returned
        self.assertEqual({j["parent"] for j in job_spans}, {1})


class Metrics(unittest.TestCase):
    def test_per_layer_names_are_valid_unique_and_at_most_128(self):
        defs = run.per_layer_defs()
        names = [d[0] for d in defs]
        self.assertLessEqual(len(defs), 128)
        self.assertEqual(len(names), len(set(names)))
        for name, unit, better in defs:
            self.assertTrue(run.valid_name(name), name)
            self.assertTrue(run.valid_unit(unit), unit)
            self.assertIn(better, ("higher", "lower"))

    def test_every_call_has_every_stat(self):
        names = {d[0] for d in run.per_layer_defs()}
        for call in run.CALLS:
            for stat, _ in run.STATS:
                self.assertIn(f"{call}.{stat}", names)

    def test_name_validity(self):
        for good in ("rows_per_s", "models.fit.wall_s", "a-b.c_d", "9x"):
            self.assertTrue(run.valid_name(good), good)
        for bad in ("", ".x", "_x", "a b", "a/b", "x" * 65, "é"):
            self.assertFalse(run.valid_name(bad), bad)

    def test_benchmark_json_matches_the_reported_metrics(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         run.per_layer_defs())
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]],
                         list(run.END_TO_END))
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))

    def test_end_to_end_medians_use_timed_untraced_passes_only(self):
        raw = {
            "rows": 1000, "setup_s": 12.5, "jobs": [],
            "passes": [
                {"warmup": True, "traced": False, "start_ms": 0, "end_ms": 50, "wall_s": 9.0},
                {"warmup": False, "traced": False, "start_ms": 100, "end_ms": 200, "wall_s": 2.0},
                {"warmup": False, "traced": False, "start_ms": 300, "end_ms": 400, "wall_s": 4.0},
                {"warmup": False, "traced": False, "start_ms": 500, "end_ms": 600, "wall_s": 1.0},
                {"warmup": False, "traced": True, "start_ms": 700, "end_ms": 800, "wall_s": 0.1},
            ],
        }
        m = run.end_to_end_metrics(raw)
        self.assertEqual(m["rows_per_s"]["value"], 500.0)
        self.assertEqual(m["setup_s"]["value"], 12.5)


@unittest.skipUnless(os.environ.get("SPARK_HOME"), "needs a Spark distribution")
class ScalaSelfTest(unittest.TestCase):
    def test_scala_checks(self):
        proc = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"), "--self-test"],
                              capture_output=True, text=True, timeout=900)
        self.assertEqual(proc.returncode, 0, proc.stderr[-2000:])
        self.assertIn("checks passed", proc.stdout + proc.stderr)


if __name__ == "__main__":
    unittest.main()
