"""Self-tests of the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import unittest
from pathlib import Path

import run
import stats


def span(name, start, end, parent=None, run=1):
    return {"name": name, "start": start, "end": end, "parent": parent, "run": run}


def raw_run(**over):
    r = {
        "session_s": 5.0, "setup_reps_s": [9.0, 2.0, 3.0], "warmup_s": 4.0,
        "job_s": [2.0, 1.0, 4.0], "items": 100, "peak_heap_mb": 321.0,
        "setup_failures": [], "job_errors": [[], [], []], "traced": [],
    }
    r.update(over)
    return r


def traced_pass(run, counters=None, layers=None, spans=None):
    return {"spans": spans or [span("job", 0.0, 1.0, run=run)],
            "counters": counters or {}, "layers": layers or {}, "errors": []}


class EndToEnd(unittest.TestCase):
    def test_setup_is_session_plus_median_inputs_plus_warmup(self):
        e = stats.end_to_end(raw_run())
        self.assertAlmostEqual(e["setup_s"], 5.0 + 3.0 + 4.0)

    def test_job_and_throughput_use_the_median_job(self):
        e = stats.end_to_end(raw_run())
        self.assertEqual(e["job_s"], 2.0)
        self.assertEqual(e["items_per_s"], 50.0)
        self.assertEqual(e["peak_heap_mb"], 321.0)

    def test_even_job_count_takes_the_mean_of_the_middle_two(self):
        e = stats.end_to_end(raw_run(job_s=[4.0, 1.0, 3.0, 2.0]))
        self.assertEqual(e["job_s"], 2.5)


class FailedFrac(unittest.TestCase):
    def test_fraction(self):
        self.assertEqual(stats.failed_frac(1, 4), 0.25)
        self.assertEqual(stats.failed_frac(0, 7), 0.0)
        self.assertEqual(stats.failed_frac(0, 0), 1.0)

    def test_clean_run_counts_warmup_and_jobs(self):
        self.assertEqual(stats.outcome(raw_run())[:2], (4, 0))

    def test_each_failed_job_counts_once(self):
        r = raw_run(job_errors=[["a", "b"], [], ["c"]])
        attempted, failed, messages = stats.outcome(r)
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(len(messages), 3)

    def test_setup_failure_counts_against_the_warmup(self):
        r = raw_run(setup_failures=["seeds give the same inputs"])
        self.assertEqual(stats.outcome(r)[:2], (4, 1))

    def test_traced_passes_count_and_must_repeat(self):
        a = traced_pass(1, counters={"tile.tile": {"jobs": 2, "tasks": 5}},
                        layers={"tile.tiles": 10})
        b = traced_pass(2, counters={"tile.tile": {"jobs": 2, "tasks": 6}},
                        layers={"tile.tiles": 10})
        attempted, failed, messages = stats.outcome(raw_run(traced=[a, b]))
        self.assertEqual((attempted, failed), (6, 1))
        self.assertIn("tile.tile.tasks 5 vs 6", messages[-1])

    def test_differing_shuffle_bytes_do_not_fail(self):
        a = traced_pass(1, counters={"img.scan": {"shuffle_bytes": 10}})
        b = traced_pass(2, counters={"img.scan": {"shuffle_bytes": 11}})
        self.assertEqual(stats.repeat_mismatches([a, b]), [])


class SelfTimes(unittest.TestCase):
    def test_parent_minus_children(self):
        spans = [span("job", 0.0, 10.0), span("a", 1.0, 4.0, "job"), span("b", 5.0, 9.0, "job")]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["job"], 3.0)
        self.assertAlmostEqual(st["a"], 3.0)
        self.assertAlmostEqual(st["b"], 4.0)

    def test_overlapping_children_are_covered_once(self):
        spans = [span("job", 0.0, 10.0), span("a", 1.0, 6.0, "job"), span("b", 4.0, 8.0, "job")]
        self.assertAlmostEqual(stats.self_times(spans)["job"], 3.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [span("job", 2.0, 6.0), span("a", 0.0, 3.0, "job")]
        self.assertAlmostEqual(stats.self_times(spans)["job"], 3.0)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [span("job", 0.0, 10.0), span("a", 0.0, 6.0, "job"), span("a1", 1.0, 3.0, "a")]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["job"], 4.0)
        self.assertAlmostEqual(st["a"], 4.0)
        self.assertAlmostEqual(st["a1"], 2.0)


class PerLayer(unittest.TestCase):
    def two_passes(self):
        def spans(run, k):
            return [span("job", 0.0, 10.0 * k, run=run),
                    span("cell.cover", 0.0, 1.0 * k, "job", run),
                    span("join.candidate", 1.0 * k, 3.0 * k, "job", run),
                    span("join.assign", 3.0 * k, 9.0 * k, "job", run)]
        layers = {"join.candidates": 100.0, "join.assigned": 40.0}
        counters = {"join.assign": {"jobs": 5, "tasks": 17, "task_cpu_s": 2.5}}
        return [traced_pass(1, counters, layers, spans(1, 1.0)),
                traced_pass(2, counters, layers, spans(2, 2.0))]

    def test_times_average_the_passes(self):
        pl = stats.per_layer(raw_run(traced=self.two_passes()))
        self.assertAlmostEqual(pl["cell.cover_s"], 1.5)
        self.assertAlmostEqual(pl["join.assign_s"], 9.0)
        self.assertAlmostEqual(pl["job.self_s"], 1.5)
        self.assertAlmostEqual(pl["trace.job_s"], 15.0)

    def test_refine_is_assign_minus_cover_and_candidate(self):
        pl = stats.per_layer(raw_run(traced=self.two_passes()))
        self.assertAlmostEqual(pl["join.refine_s"], 9.0 - 1.5 - 3.0)

    def test_overhead_is_traced_minus_untraced_job(self):
        pl = stats.per_layer(raw_run(traced=self.two_passes()))
        self.assertAlmostEqual(pl["trace.untraced_job_s"], 2.0)
        self.assertAlmostEqual(pl["trace.overhead_s"], 13.0)

    def test_every_metric_is_reported_and_absent_layers_read_zero(self):
        pl = stats.per_layer(raw_run(traced=self.two_passes()))
        self.assertEqual(set(pl), {n for n, _ in stats.per_layer_names()})
        self.assertEqual(pl["tile.tile_s"], 0.0)
        self.assertEqual(pl["tile.tile.tasks"], 0.0)
        self.assertEqual(pl["join.assign.tasks"], 17.0)
        self.assertEqual(pl["join.candidates"], 100.0)

    def test_names_are_unique(self):
        names = [n for n, _ in stats.per_layer_names()]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(names), 128)


class BenchmarkFile(unittest.TestCase):
    """BENCHMARK.json names exactly what the harness reports."""

    def setUp(self):
        self.b = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())

    def test_metrics_match(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.b["end_to_end"]], stats.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.b["per_layer"]],
                         stats.per_layer_names())

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in self.b["workloads"]], run.WORKLOADS)

    def test_setup_bound_is_largest(self):
        bounds = {m["name"]: m["bound"] for m in self.b["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


if __name__ == "__main__":
    unittest.main()
