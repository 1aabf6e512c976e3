"""Tests for the benchmark's pure parts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import report
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def span(id_, parent, name, query, start, end):
    return {"id": id_, "parent": parent, "name": name, "query": query,
            "start_ns": start, "end_ns": end}


def job(span_id, exec_id=-1, **kw):
    j = {"id": 0, "span": span_id, "exec_id": exec_id, "stages": 1, "tasks": 2,
         "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0,
         "shuffle_read": 0, "spill": 0, "bytes_read": 0, "bytes_written": 0,
         "records_written": 0, "peak_mem": 0, "skew": 1.0}
    j.update(kw)
    return j


class MedianTest(unittest.TestCase):
    def test_odd_even_and_order(self):
        self.assertEqual(report.median([3, 1, 2]), 2)
        self.assertEqual(report.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(report.median([7.5]), 7.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            report.median([])


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once_where_they_overlap(self):
        parent = span(1, -1, "query", "q", 0, 100)
        kids = [span(2, 1, "a", "q", 10, 40), span(3, 1, "b", "q", 30, 50),
                span(4, 1, "c", "q", 70, 80)]
        self.assertEqual(report.self_time(parent, kids), 100 - 40 - 10)

    def test_children_are_clipped_to_the_parent(self):
        parent = span(1, -1, "deliver", "q", 100, 200)
        kids = [span(2, 1, "p", "q", 50, 120), span(3, 1, "p", "q", 190, 300)]
        self.assertEqual(report.self_time(parent, kids), 100 - 20 - 10)

    def test_no_children(self):
        self.assertEqual(report.self_time(span(1, -1, "x", "", 5, 9), []), 4)


class NameTest(unittest.TestCase):
    def test_valid_names(self):
        for n in ("setup_s", "exec.shuffle_read_mb", "a-b.c_9"):
            self.assertEqual(report.check_name(n), n)

    def test_invalid_names(self):
        for n in ("", "has space", "slash/x", "quote\"", "x" * 65):
            with self.assertRaises(ValueError):
                report.check_name(n)

    def test_declared_metric_names_are_valid(self):
        for n in list(report.PER_LAYER) + [n for n, _ in report.END_TO_END]:
            report.check_name(n)


class RenderTest(unittest.TestCase):
    def test_line_has_exactly_the_contract_keys(self):
        line = report.render(True, 12, 0, {"delivered_s": (1.25, "s"),
                                           "exec.jobs": (26, "count")})
        self.assertNotIn("\n", line)
        got = json.loads(line)
        self.assertEqual(set(got), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(got["metrics"]["delivered_s"], {"value": 1.25, "unit": "s"})
        self.assertEqual(got["attempted"], 12)

    def test_non_finite_values_and_bad_names_are_refused(self):
        with self.assertRaises(ValueError):
            report.render(True, 1, 0, {"x_s": (float("nan"), "s")})
        with self.assertRaises(ValueError):
            report.render(True, 1, 0, {"bad name": (1.0, "s")})


class LayersTest(unittest.TestCase):
    def traced_pass(self):
        ms = 1000000
        spans = [
            span(1, -1, "query", "q", 0, 100 * ms),
            span(2, 1, "build", "q", 0, 60 * ms),
            span(3, 1, "deliver", "q", 60 * ms, 95 * ms),
            span(4, 1, "release", "q", 95 * ms, 99 * ms),
        ]
        jobs = [job(2, cpu_ns=2 * 10**9, bytes_written=1 << 20, records_written=7),
                job(3, exec_id=9, cpu_ns=10**9, run_ms=70, peak_mem=5 << 20, skew=3.0),
                job(-1)]
        plans = [{"exec_id": 9, "nodes": 12,
                  "phases": [{"name": "optimization", "start_ms": 61, "end_ms": 66},
                             {"name": "planning", "start_ms": 66, "end_ms": 68}]}]
        return {"spans": spans, "jobs": jobs, "plans": plans, "batches": [],
                "files_written": 3, "wall_s": 0.1,
                "queries": [{"name": "q", "pin_rdds": 2, "pin_bytes": 3 << 20}]}

    def test_layers_split_the_query(self):
        m = report.layers(self.traced_pass(), {"q": "io"}, cores=2, epoch_offset_ns=0)
        self.assertAlmostEqual(m["io.build_s"], 0.06)
        self.assertEqual(m["io.build_jobs"], 1)
        self.assertAlmostEqual(m["io.build_cpu_s"], 2.0)
        self.assertEqual(m["sql.build_jobs"], 0)
        self.assertAlmostEqual(m["plan.optimization_s"], 0.005)
        self.assertAlmostEqual(m["plan.planning_s"], 0.002)
        self.assertEqual(m["plan.nodes"], 12)
        self.assertAlmostEqual(m["exec.s"], 0.035 - 0.007)
        self.assertEqual(m["exec.jobs"], 1)
        self.assertAlmostEqual(m["exec.busy_frac"], 0.070 / (0.035 * 2))
        self.assertEqual(m["exec.task_skew"], 3.0)
        self.assertAlmostEqual(m["build.job_frac"], 0.5)
        self.assertEqual(m["pin.rdds"], 2)
        self.assertAlmostEqual(m["pin.mb"], 3.0)
        self.assertAlmostEqual(m["io.write_mb"], 1.0)
        self.assertEqual(m["io.records_written"], 7)
        self.assertEqual(m["trace.unattributed_jobs"], 1)
        self.assertAlmostEqual(m["trace.span_coverage"], 0.99)
        self.assertAlmostEqual(m["config.release_s"], 0.004)
        self.assertEqual(set(m), set(report.PER_LAYER))

    def test_only_the_io_layer_counts_as_written(self):
        # a stream's staging writes are not the ingest layout
        p = self.traced_pass()
        self.assertAlmostEqual(report.written_mb(p, {"q": "io"}), 1.0)
        self.assertEqual(report.written_mb(p, {"q": "stream"}), 0)
        m = report.layers(p, {"q": "stream"}, cores=2, epoch_offset_ns=0)
        self.assertEqual(m["io.write_mb"], 0)
        self.assertEqual(m["io.records_written"], 0)
        self.assertEqual(m["stream.build_jobs"], 1)

    def test_pass_totals(self):
        t = report.pass_totals(self.traced_pass())
        self.assertAlmostEqual(t["cpu_s"], 3.0)
        self.assertAlmostEqual(t["peak_mb"], 5.0)


class BenchmarkFileTest(unittest.TestCase):
    def test_declared_metrics_match_what_the_benchmark_reports(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual([m["name"] for m in b["end_to_end"]],
                         [n for n, _ in report.END_TO_END])
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]},
                         {k: v[:2] for k, v in report.PER_LAYER.items()})
        self.assertEqual({w["name"]: w["why"] for w in b["workloads"]},
                         {k: v["why"] for k, v in run.WORKLOADS.items()})


if __name__ == "__main__":
    unittest.main()
