"""Tests of the benchmark's own logic: the interval math behind driver_s and
self time, the per-layer attribution of a report, and the agreement of
BENCHMARK.json with metrics.py.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import unittest
from pathlib import Path

import intervals
import metrics


def span(id, start, end, parent=0, name="x"):
    return {"id": id, "name": name, "parent": parent, "start_ms": start, "end_ms": end}


class UnionLength(unittest.TestCase):
    def test_empty(self):
        self.assertEqual(intervals.union_length([]), 0.0)

    def test_disjoint_intervals_add(self):
        self.assertEqual(intervals.union_length([(0, 1), (5, 7)]), 3.0)

    def test_overlaps_count_once(self):
        self.assertEqual(intervals.union_length([(0, 4), (2, 6), (5, 7)]), 7.0)

    def test_nested_and_unsorted(self):
        self.assertEqual(intervals.union_length([(3, 4), (0, 10), (2, 5)]), 10.0)

    def test_touching_intervals_merge(self):
        self.assertEqual(intervals.union_length([(0, 2), (2, 3)]), 3.0)

    def test_empty_and_inverted_intervals_ignored(self):
        self.assertEqual(intervals.union_length([(1, 1), (5, 4), (0, 2)]), 2.0)


class DriverTime(unittest.TestCase):
    def test_no_jobs_is_all_driver(self):
        self.assertEqual(intervals.driver_ms(span(1, 100, 400), []), 300.0)

    def test_jobs_inside_span(self):
        jobs = [(1, 110, 150), (2, 200, 260)]
        self.assertEqual(intervals.driver_ms(span(1, 100, 400), jobs), 200.0)

    def test_concurrent_jobs_count_once(self):
        jobs = [(1, 100, 300), (2, 150, 250)]
        self.assertEqual(intervals.driver_ms(span(1, 100, 400), jobs), 100.0)

    def test_jobs_clipped_to_span(self):
        jobs = [(1, 50, 150), (2, 350, 500)]
        self.assertEqual(intervals.driver_ms(span(1, 100, 400), jobs), 200.0)

    def test_job_outside_span_ignored(self):
        self.assertEqual(intervals.driver_ms(span(1, 100, 200), [(1, 300, 400)]), 100.0)

    def test_never_negative(self):
        self.assertEqual(intervals.driver_ms(span(1, 100, 200), [(1, 0, 1000)]), 0.0)


class SelfTime(unittest.TestCase):
    def test_children_subtracted(self):
        spans = [span(1, 0, 100), span(2, 10, 30, parent=1), span(3, 50, 90, parent=1)]
        self.assertEqual(intervals.self_ms(spans[0], spans), 40.0)

    def test_grandchildren_do_not_count_twice(self):
        spans = [span(1, 0, 100), span(2, 10, 60, parent=1), span(3, 20, 30, parent=2)]
        self.assertEqual(intervals.self_ms(spans[0], spans), 50.0)
        self.assertEqual(intervals.self_ms(spans[1], spans), 40.0)

    def test_leaf_self_time_is_its_duration(self):
        spans = [span(1, 0, 100), span(2, 10, 60, parent=1)]
        self.assertEqual(intervals.self_ms(spans[1], spans), 50.0)


class PerLayer(unittest.TestCase):
    def report(self):
        # pass 1 (traced, span 1) holds two ops; pass 2 repeats one.
        spans = [span(2, 1000, 3000, parent=1, name="algo.hedonic"),
                 span(3, 3000, 3500, parent=1, name="algo.cc"),
                 span(1, 1000, 3600, name="pass"),
                 span(5, 4000, 6000, parent=4, name="algo.hedonic"),
                 span(4, 4000, 6100, name="pass")]
        ops = [{"span": 2, "group": "g2"}, {"span": 3, "group": "g3"}, {"span": 5, "group": "g5"}]
        groups = {"g2": {"jobs": [[1, 1200, 1700], [2, 1500, 2000]], "stages": 3,
                         "exec_cpu_s": 1.5, "gc_s": 0.1, "shuffle_write_mb": 2.0},
                  "g5": {"jobs": [[9, 4000, 6000]], "stages": 9}}
        passes = [{"span": 1, "wall_s": 2.5, "values": {"algo.hedonic.supersteps": 7}},
                  {"span": 4, "wall_s": 2.0, "values": {}}]
        return {"spans": spans, "ops": ops, "groups": groups, "passes": passes}

    def test_first_pass_attribution(self):
        v = metrics.per_layer(self.report(), None)
        self.assertEqual(v["algo.hedonic.wall_s"], 2.0)
        self.assertEqual(v["algo.hedonic.driver_s"], 1.2)
        self.assertEqual(v["algo.hedonic.jobs"], 2)
        self.assertEqual(v["algo.hedonic.stages"], 3)
        self.assertEqual(v["algo.hedonic.supersteps"], 7)
        self.assertEqual(v["algo.cc.driver_s"], 0.5)
        self.assertEqual(v["algo.cc.jobs"], 0)

    def test_absent_spans_read_zero_and_every_metric_present(self):
        v = metrics.per_layer(self.report(), None)
        self.assertEqual(set(v), {n for n, _, _ in metrics.PER_LAYER})
        self.assertEqual(v["query.q_ari.wall_s"], 0.0)

    def test_tracing_overhead(self):
        self.assertEqual(metrics.per_layer(self.report(), 2.25)["trace.overhead_s"], 0.25)
        self.assertEqual(metrics.per_layer(self.report(), None)["trace.overhead_s"], 0.0)

    def test_pass_self_time(self):
        self.assertEqual(metrics.pass_self_s(self.report()), [0.1, 0.1])


class BenchmarkFile(unittest.TestCase):
    def setUp(self):
        path = Path(__file__).resolve().parent.parent / "BENCHMARK.json"
        if not path.exists():
            self.skipTest("BENCHMARK.json not present")
        self.bench = json.loads(path.read_text())

    def test_end_to_end_matches(self):
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"])
                          for m in self.bench["end_to_end"]],
                         [tuple(m) for m in metrics.END_TO_END])

    def test_per_layer_matches(self):
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in self.bench["per_layer"]],
                         [tuple(m) for m in metrics.PER_LAYER])
        self.assertLessEqual(len(self.bench["per_layer"]), 128)

    def test_workloads_match(self):
        import run
        self.assertEqual([w["name"] for w in self.bench["workloads"]], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
