"""The benchmark's own tests: generator determinism, the reference
computations on hand-computed inputs, latency bookkeeping on a synthetic
schedule, and the printed metric names against BENCHMARK.json.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = json.load(open(os.path.join(BENCH, "workloads.json")))
MEDIA = WORKLOADS["media-tumble-jdbc"]["input"]
ITEMS = WORKLOADS["hot-items-top3"]["input"]


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for phase_fn, p in ((gen.media_phase, MEDIA), (gen.items_phase, ITEMS)):
            a = phase_fn(7, "drain", p, 4, late=True)
            b = phase_fn(7, "drain", p, 4, late=True)
            self.assertEqual(a.lines, b.lines)
            self.assertEqual(a.events, b.events)
            self.assertNotEqual(a.lines, phase_fn(8, "drain", p, 4, late=True).lines)
            self.assertNotEqual(a.lines, phase_fn(7, "warm", p, 4, late=True).lines)

    def test_files_have_equal_size_and_ascend(self):
        ph = gen.media_phase(3, "drain", MEDIA, 5, late=True)
        self.assertEqual({len(f) for f in ph.lines}, {MEDIA["rows_per_file"]})
        ph = gen.media_phase(3, "live", MEDIA, 5)
        for prev, cur in zip(ph.events, ph.events[1:]):
            self.assertGreater(min(e[0] for e in cur), max(e[0] for e in prev))

    def test_parse_rule_keeps_exactly_the_valid_events(self):
        for phase_fn, parse, p in ((gen.media_phase, gen.media_parse, MEDIA),
                                   (gen.items_phase, gen.items_parse, ITEMS)):
            ph = phase_fn(5, "drain", p, 4, late=True)
            parsed = [[x for x in map(parse, f) if x is not None] for f in ph.lines]
            self.assertEqual(parsed, ph.events)
            dropped = sum(len(f) for f in ph.lines) - sum(len(f) for f in ph.events)
            self.assertEqual(dropped, ph.malformed)
            self.assertGreater(ph.malformed, 0)

    def test_injected_late_events_are_the_late_ones(self):
        ph = gen.media_phase(9, "drain", MEDIA, 6, late=True)
        _, late, _ = gen.media_reference(ph.events)
        self.assertEqual(late, ph.injected_late)
        self.assertEqual(ph.injected_late, 4 * MEDIA["late_per_file"])
        ph = gen.items_phase(9, "drain", ITEMS, 6, late=True)
        _, late, _ = gen.items_reference(ph.events)
        self.assertEqual(late, ph.injected_late)


class ReferenceTest(unittest.TestCase):
    def test_media_tumbling_counts(self):
        files = [[(1000, "a", 1), (29999, "a", 1), (31000, "b", 2)],
                 [(65000, "a", 1)],
                 # 10000 falls in the window ending 30000, at or behind the
                 # watermark batch 1 ran under (31000): late
                 [(70000, "a", 1), (10000, "a", 1)]]
        rows, late, wm = gen.media_reference(files)
        self.assertEqual(wm, 70000)
        self.assertEqual(late, 1)
        # the window ending 90000 is still open at the final watermark
        self.assertEqual(rows, {(30000, "a", 1): 2, (60000, "b", 2): 1})

    def test_items_top3_matches_the_job_spec_fixture(self):
        # HotItemAnalysisJobSpec's window [0, 3600 s): i1 x3, i2 x2, i3 x2
        # (tie broken by item id), i4 x1; buys are not page views
        window1 = [(10, 1, "pv"), (600, 1, "pv"), (3599, 1, "pv"), (20, 2, "pv"),
                   (1200, 2, "pv"), (30, 3, "pv"), (2400, 3, "pv"), (40, 4, "pv"),
                   (50, 4, "buy"), (60, 4, "buy"), (70, 4, "buy"), (80, 4, "buy")]
        pusher = [(20000, 9, "pv")]
        late = [(21000, 9, "pv"), (100, 4, "pv")]
        top, n_late, wm = gen.items_reference([window1, pusher, late])
        self.assertEqual(wm, 21000 * 1000)
        self.assertEqual(n_late, 1)
        self.assertEqual(top[3600 * 1000], [(1, 1, 3), (2, 2, 2), (3, 3, 2)])
        self.assertEqual(top[300 * 1000], [(1, 1, 1), (2, 2, 1), (3, 3, 1)])
        self.assertNotIn(21300 * 1000, top)  # not fired yet
        self.assertFalse(any(i == 4 and c > 1 for rows in top.values() for _, i, c in rows))

    def test_sliding_window_ends(self):
        self.assertEqual(gen.items_window_ends(0)[0], 300)
        self.assertEqual(gen.items_window_ends(299)[-1], 3600)
        self.assertEqual(len(gen.items_window_ends(12345)), 12)


class LatencyTest(unittest.TestCase):
    def test_latency_is_timed_from_the_last_file_due(self):
        due = [None, 1000.0, 2000.0, 3000.0]           # file 0 primes the query
        file_ends = [{5}, {5, 10}, {10, 20}, {20, 30}]
        emitted = {5: 1400.0, 10: 2600.0, 20: 3500.0, 30: 4200.0, 40: 9000.0}
        # 5: last file 1; 10: file 2; 20 and 30: file 3; 40 holds no event
        self.assertEqual(gen.window_latencies(due, file_ends, emitted),
                         [400.0, 500.0, 600.0, 1200.0])

    def test_window_only_in_the_prime_file_is_skipped(self):
        self.assertEqual(gen.window_latencies([None, 1000.0], [{1}, {2}],
                                              {1: 50.0, 2: 1300.0}), [300.0])

    def test_percentile(self):
        self.assertEqual(gen.percentile([3, 1, 2], 50), 2)
        self.assertEqual(gen.percentile([0, 10], 90), 9)
        self.assertEqual(gen.percentile([4], 90), 4)


class RecordTest(unittest.TestCase):
    def test_printed_metric_names_match_benchmark_json(self):
        spec = json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, layers.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, layers.PER_LAYER)
        for w in spec["workloads"]:
            self.assertIn(w["name"], WORKLOADS)
        checks = layers.Checks()
        checks.op(True)
        e2e = {k: 1.0 for k in layers.END_TO_END}
        per_layer = {k: 1.0 for k in layers.PER_LAYER}
        rec = layers._finish({}, checks, e2e, per_layer)
        self.assertEqual(list(rec["end_to_end"]), [m["name"] for m in spec["end_to_end"]])
        self.assertEqual(list(rec["per_layer"]), [m["name"] for m in spec["per_layer"]])

    def test_self_time_subtracts_children(self):
        spans = [{"id": 0, "name": "query", "parent": -1, "start": 0.0, "end": 10.0},
                 {"id": 1, "name": "entry.build", "parent": 0, "start": 0.0, "end": 3.0},
                 {"id": 2, "name": "exec", "parent": 0, "start": 2.0, "end": 8.0}]
        self.assertEqual(layers.self_times(spans),
                         {"query": 2.0, "entry.build": 3.0, "exec": 6.0})


if __name__ == "__main__":
    unittest.main()
