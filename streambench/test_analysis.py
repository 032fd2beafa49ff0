"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s streambench -p 'test_*.py'
"""

import json
import os
import unittest

import analysis as a


def epoch(batch, ts_ms, trigger_ms, start, end, **d):
    return {"batch": batch, "ts_ms": ts_ms, "d": dict(triggerExecution=trigger_ms, **d),
            "rows": sum(e - s for s, e in zip(start, end)), "start": start, "end": end,
            "behind_max": 0}


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(a.percentile(xs, 50), 50)
        self.assertEqual(a.percentile(xs, 95), 95)
        self.assertEqual(a.percentile([7], 95), 7)
        self.assertIsNone(a.percentile([], 50))

    def test_p95_needs_ten_epochs_beyond(self):
        # 100 samples; the 5 above p95 sit in 5 distinct epochs: not qualified
        few = [(float(i), i // 20) for i in range(95)] + [(100.0 + i, 100 + i) for i in range(5)]
        t = a.tail(few, 95)
        self.assertEqual(t["value"], 94.0)
        self.assertEqual(t["epochs_beyond"], 5)
        self.assertFalse(t["qualified"])
        # 200 samples; the 10 above p95 sit in 10 distinct epochs: qualified
        many = [(float(i), 0) for i in range(190)] + [(1000.0 + i, 10 + i) for i in range(10)]
        t = a.tail(many, 95)
        self.assertEqual(t["value"], 189.0)
        self.assertEqual(t["epochs_beyond"], 10)
        self.assertTrue(t["qualified"])
        self.assertEqual(t["events"], 200)
        self.assertEqual(t["epochs"], 11)

    def test_ties_at_the_percentile_are_not_beyond(self):
        t = a.tail([(5.0, e) for e in range(30)], 95)
        self.assertEqual(t["epochs_beyond"], 0)

    def test_median_always_qualifies(self):
        self.assertTrue(a.tail([(1.0, 0), (2.0, 0)], 50)["qualified"])


class LatencyAttribution(unittest.TestCase):
    def test_event_takes_commit_of_epoch_holding_its_offset(self):
        # two partitions; epoch 3 holds p0 [0,2) p1 [0,1); epoch 4 holds p0 [2,3) p1 [1,2)
        epochs = [
            epoch(3, 1000, 50, [0, 0], [2, 1]),
            epoch(4, 1100, 30, [2, 1], [3, 2]),
            epoch(5, 1200, 5, [3, 2], [3, 2]),  # no data
        ]
        # rate 1000/s from t=990 ms: event i is due at 990 + i ms
        steady = {"start_us": 990000, "rate": 1000.0, "appended": 5,
                  "part": [0, 1, 0, 0, 1], "seq": [0, 0, 1, 2, 1]}
        samples, unattributed = a.attribute_latency(epochs, steady)
        self.assertEqual(unattributed, 0)
        self.assertEqual(samples, [(1050 - 990.0, 3), (1050 - 991.0, 3), (1050 - 992.0, 3),
                                   (1130 - 993.0, 4), (1130 - 994.0, 4)])

    def test_event_outside_every_epoch_is_unattributed(self):
        epochs = [epoch(0, 0, 10, [0], [1])]
        steady = {"start_us": 0, "rate": 10.0, "appended": 2, "part": [0, 0], "seq": [0, 1]}
        samples, unattributed = a.attribute_latency(epochs, steady)
        self.assertEqual(len(samples), 1)
        self.assertEqual(unattributed, 1)

    def test_drain_uses_first_epoch_covering_each_round(self):
        epochs = [epoch(0, 1000, 500, [0, 0], [5, 4]), epoch(1, 1500, 500, [5, 4], [10, 6]),
                  epoch(2, 2100, 100, [10, 6], [12, 6])]
        rounds = [{"events": 16, "arrival_ms": 1000, "cover": [10, 6]},
                  {"events": 2, "arrival_ms": 2050, "cover": [12, 6]},
                  {"events": 1, "arrival_ms": 2300, "cover": [99, 0]}]
        self.assertEqual(a.drain_seconds(rounds, epochs), [1.0, 0.15, None])
        self.assertEqual(a.drain_rate(rounds[:2], [1.0, 0.15]), 18 / 1.15)
        self.assertIsNone(a.drain_rate(rounds, [1.0, 0.15, None]))


    def test_cpu_covers_the_whole_catch_up(self):
        self.assertEqual(a.cpu_per_kevent({"events": 16000, "cpu_ns": 3_200_000_000}), 200.0)
        # catch-up that did not finish
        self.assertIsNone(a.cpu_per_kevent({"events": 16000, "cpu_ns": -1}))


class FailureAccounting(unittest.TestCase):
    def test_survivors(self):
        exp = {"kind": "doc_ids", "survivors": [["d1", 100], ["d2", 50], ["d3", 70]]}
        obs = {"survivors": [["d1", 100], ["d1", 100], ["d2", 49], ["d9", 10]]}
        self.assertEqual(a.check_survivors(exp, obs), {"missing": 1, "duplicated": 1, "wrong": 2})

    def test_relay(self):
        exp = {"kind": "relay", "events": [[0, 11], [1, 22], [2, 33], [3, 44]]}
        obs = {"events": [[0, 0, 11], [1, 1, 22], [1, 1, 22], [3, 2, 33], [3, 3, 45]]}
        # id 1 duplicated, id 2 in the wrong partition, id 3 with a bad body
        self.assertEqual(a.check_relay(exp, obs), {"missing": 0, "duplicated": 1, "wrong": 2})
        self.assertEqual(a.check_relay(exp, {"events": []})["missing"], 4)

    def _rec(self, observed, error=None):
        return {"stamp": {"backlog_events": 3, "steady_events": 1},
                "expected": {"kind": "doc_ids", "survivors": [["a", 1], ["b", 2]]},
                "observed": observed, "error": error}

    def test_failed_counts_events_against_attempted(self):
        attempted, failed, _ = a.failures(self._rec({"survivors": [["a", 1]]}))
        self.assertEqual((attempted, failed), (4, 1))

    def test_dead_query_fails_every_event(self):
        attempted, failed, detail = a.failures(
            self._rec({"survivors": [["a", 1], ["b", 2]]}, error="query died"))
        self.assertEqual((attempted, failed), (4, 4))
        self.assertEqual(detail["error"], "query died")


class SpanSelfTime(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [
            [1, "epoch", 0, 100, 0, 7],
            [2, "epoch.addBatch", 10, 60, 1, 7],   # covers 10..60
            [3, "job", 20, 40, 2, 7],
            [4, "job", 30, 50, 2, 7],              # overlaps job 3: union 20..50
            [5, "epoch.commitOffsets", 55, 120, 1, 7],  # clipped to 55..100
        ]
        st = a.self_times(spans)
        self.assertEqual(st[3], 20)
        self.assertEqual(st[4], 20)
        self.assertEqual(st[2], 50 - 30)
        self.assertEqual(st[1], 100 - (50 + 45) + 5)  # union of 10..60 and 55..100 is 10..100
        self.assertEqual(st[5], 65)

    def test_layers_aggregate_self_time(self):
        spans = [[1, "epoch", 0, 10000, 0, 1], [2, "task.source_scan", 0, 4000, 1, 1],
                 [3, "task", 4000, 10000, 1, 1], [4, "probe.receive", 0, 2000, 0, -1]]
        by = a.self_time_by_layer(spans)
        self.assertEqual(by["tasks (operators, functions, state store)"]["self_ms"], 6.0)
        self.assertEqual(by["bench probes"]["share"], None)
        self.assertAlmostEqual(sum(v["share"] for v in by.values() if v["share"] is not None), 1.0)


class BenchmarkFile(unittest.TestCase):
    def test_metrics_match_what_the_analysis_reports(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, a.END_TO_END)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]},
                         a.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
