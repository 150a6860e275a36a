"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import unittest

import metrics


class PercentileRule(unittest.TestCase):

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.beyond(50, 0.8), 10)
        self.assertEqual(metrics.beyond(49, 0.8), 9)
        self.assertEqual(metrics.percentile(range(1, 51), 0.8), 40)
        self.assertIsNone(metrics.percentile(range(1, 50), 0.8))
        self.assertEqual(metrics.percentile(range(1, 101), 0.9), 90)
        self.assertIsNone(metrics.percentile(range(1, 100), 0.9))

    def test_median_is_always_reported(self):
        self.assertEqual(metrics.percentile([3.0, 1.0, 2.0, 10.0], 0.5), 2.5)
        self.assertEqual(metrics.percentile([7.0], 0.5), 7.0)
        self.assertIsNone(metrics.percentile([], 0.5))

    def test_tail_picks_highest_reportable(self):
        self.assertEqual(metrics.tail(list(range(1, 101))),
                         {"q": 0.9, "value": 90, "n": 100})
        self.assertEqual(metrics.tail(list(range(1, 61)))["q"], 0.8)
        self.assertIsNone(metrics.tail(list(range(1, 40))))


def span(i, kind, parent, seconds, name="x", p=0):
    return {"id": i, "kind": kind, "parent": parent, "seconds": seconds,
            "name": name, "pass": p}


class SelfTime(unittest.TestCase):

    def test_children_are_subtracted_once(self):
        spans = [span(0, "workload", -1, 10.0), span(1, "pass", 0, 8.0),
                 span(2, "call", 1, 5.0), span(3, "build", 2, 3.0),
                 span(4, "action", 2, 1.5), span(5, "call", 1, 2.0)]
        own = metrics.self_times(spans)
        self.assertAlmostEqual(own[0], 2.0)
        self.assertAlmostEqual(own[1], 1.0)
        self.assertAlmostEqual(own[2], 0.5)
        self.assertAlmostEqual(own[3], 3.0)
        self.assertAlmostEqual(own[5], 2.0)
        by_kind = metrics.self_by_kind(spans)
        self.assertAlmostEqual(by_kind["call"], 2.5)
        self.assertAlmostEqual(sum(by_kind.values()), 10.0)

    def test_pass_layers_split_build_action_and_verbs(self):
        spans = [span(0, "workload", -1, 10.0, p=-1),
                 span(1, "pass", 0, 6.0), span(2, "call", 1, 4.0),
                 span(3, "build", 2, 1.0), span(4, "action", 2, 2.5),
                 span(5, "call", 1, 2.0),
                 span(6, "verb", 5, 1.5, name="mr.pipe")]
        result = {"spans": spans, "passes": [
            {"pass": 0, "span": 1, "seconds": 6.0, "codegen.compiles": 3,
             "codegen.compile_s": 0.2, "caches.rdds": 1,
             "caches.storage_mb": 4.0}],
            "layers": {"2": {"exec.task_run_s": 12.0, "exec.peak_mem_mb": 5.0},
                       "5": {"exec.task_run_s": 6.0, "exec.peak_mem_mb": 9.0}}}
        row, = metrics.pass_layers(result, cores=4)
        self.assertEqual(row["queries.build_s"], 1.0)
        self.assertEqual(row["queries.action_s"], 2.5)
        self.assertEqual(row["mr.pipe_s"], 1.5)
        self.assertAlmostEqual(row["bench.self_s"], 0.0 + 0.5 + 0.5)
        self.assertEqual(row["exec.task_run_s"], 18.0)
        self.assertEqual(row["exec.peak_mem_mb"], 9.0)
        self.assertAlmostEqual(row["exec.busy_ratio"], 18.0 / 24.0)
        self.assertEqual(row["codegen.compiles"], 3)


class PassMedian(unittest.TestCase):

    def result(self):
        passes = [{"pass": 0, "kind": "cold"}, {"pass": 1, "kind": "first"},
                  {"pass": 2, "kind": "repeat"}, {"pass": 3, "kind": "first"},
                  {"pass": 4, "kind": "repeat"}, {"pass": 5, "kind": "first"},
                  {"pass": 6, "kind": "repeat"}]
        times = {"a": [9.0, 3.0, 1.0, 2.0, 1.0, 8.0, 1.2],
                 "b": [5.0, 1.0, 0.5, 1.0, 0.4, 1.0, 0.6]}
        calls = [{"pass": p, "name": n, "seconds": t[p]}
                 for n, t in times.items() for p in range(7)]
        return {"passes": passes, "calls": calls}

    def test_calls_grouped_by_kind_in_pass_order(self):
        by = metrics.call_times(self.result())
        self.assertEqual(by["a"], {"cold": [9.0], "first": [3.0, 2.0, 8.0],
                                   "repeat": [1.0, 1.0, 1.2]})

    def test_pass_is_the_sum_of_per_call_medians(self):
        r = self.result()
        # the 8 s stall of a's third first call does not count
        self.assertAlmostEqual(metrics.pass_median(r, "first"), 3.0 + 1.0)
        self.assertAlmostEqual(metrics.pass_median(r, "repeat"), 1.0 + 0.5)
        self.assertAlmostEqual(metrics.pass_median(r, "cold"), 14.0)


class Printer(unittest.TestCase):

    def test_every_metric_by_name_with_unit(self):
        values = {n: float(i + 1) for i, (n, _) in enumerate(metrics.END_TO_END)}
        block = metrics.metric_block(values, metrics.END_TO_END)
        self.assertEqual(list(block), [n for n, _ in metrics.END_TO_END])
        self.assertEqual(block["setup_s"], {"value": 1.0, "unit": "s"})
        self.assertEqual(block["retained_heap_mb"]["unit"], "MB")
        line = json.loads(metrics.result_line(True, 12, 0, block))
        self.assertEqual(set(line), {"correct", "attempted", "failed",
                                     "metrics"})
        self.assertEqual(line["metrics"], block)

    def test_missing_metric_is_an_error(self):
        with self.assertRaises(KeyError):
            metrics.metric_block({"setup_s": 1.0}, metrics.END_TO_END)

    def test_metric_names_are_unique(self):
        names = [n for n, _ in metrics.PER_LAYER + metrics.END_TO_END]
        self.assertEqual(len(names), len(set(names)))


if __name__ == "__main__":
    unittest.main()
