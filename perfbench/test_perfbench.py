"""Unit tests of the benchmark's generator and statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import tempfile
import unittest

import gen
import stats

SMALL = {"warm_files": 1, "warm_events": 50, "backlog_files": 2,
         "backlog_events": 300, "slices": 3, "slice_events": 40}


def realised_shares(events, mapped):
    """(mapped device share, duplicate share, out-of-order share) of a
    generated stream: duplicates are repeated (event_id, event_type, ts)
    records; an event is out of order when its ts is below the largest ts
    of the distinct events before it."""
    seen, dups, late, high = set(), 0, 0, None
    devices = set()
    for ev in events:
        key = (ev["event_id"], ev["event_type"], ev["ts"])
        devices.add(ev["user_id"])
        if key in seen:
            dups += 1
            continue
        seen.add(key)
        if high is not None and ev["ts"] < high:
            late += 1
        high = ev["ts"] if high is None else max(high, ev["ts"])
    n = len(events)
    return (len(devices & mapped) / len(devices), dups / n,
            late / max(1, n - dups))


def tree(d):
    return sorted(os.path.relpath(os.path.join(r, n), d)
                  for r, _, ns in os.walk(d) for n in ns)


class GeneratorTest(unittest.TestCase):
    def stage(self, seed):
        d = tempfile.mkdtemp()
        gen.stage("ingest", seed, d, SMALL)
        return d

    def test_same_seed_gives_identical_files(self):
        a, b = self.stage(7), self.stage(7)
        self.assertEqual(tree(a), tree(b))
        _, mismatch, errors = filecmp.cmpfiles(a, b, tree(a), shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_different_seeds_differ(self):
        a, b = self.stage(7), self.stage(8)
        self.assertEqual(tree(a), tree(b))
        _, mismatch, _ = filecmp.cmpfiles(a, b, tree(a), shallow=False)
        self.assertTrue(mismatch)

    def test_serve_inputs_are_deterministic(self):
        plan = {"base_files": 1, "base_events": 200, "update_files": 2,
                "update_events": 5}
        a, b = tempfile.mkdtemp(), tempfile.mkdtemp()
        sa = gen.stage("serve_reads", 3, a, plan)
        sb = gen.stage("serve_reads", 3, b, plan)
        self.assertEqual(sa, sb)
        _, mismatch, errors = filecmp.cmpfiles(a, b, tree(a), shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        # the writer's event ids are consecutive per update file
        with open(os.path.join(a, "updates", "upd-0001.json")) as f:
            ids = [json.loads(json.loads(l)["value"])["event_id"] for l in f]
        first = sa["update_first_id"] + 5
        self.assertEqual(ids, list(range(first, first + 5)))

    def test_realised_shares_match_requested(self):
        shape = gen.TRAFFIC
        g = gen.Generator(11, shape)
        events = g.take(40000)
        mapped, dups, late = realised_shares(events, g.mapped)
        self.assertAlmostEqual(mapped, shape.mapped_share, delta=0.01)
        self.assertAlmostEqual(dups, shape.dup_share, delta=0.005)
        self.assertAlmostEqual(late, shape.ooo_share, delta=0.01)
        mapped_ids = [d for d in g.devices if d < gen.MAPPED_USERS]
        self.assertEqual(len(mapped_ids), gen.PROFILE["mapped_devices"])

    def test_realised_traffic_matches_the_profile(self):
        p = gen.PROFILE
        g = gen.Generator(12, gen.TRAFFIC)
        fresh = list({ev["event_id"]: ev for ev in g.take(40000)}.values())
        n = len(fresh)
        for t, share in p["event_type_shares"].items():
            got = sum(1 for ev in fresh if ev["event_type"] == t) / n
            self.assertAlmostEqual(got, share, delta=0.01)
        mapped = sum(1 for ev in fresh if ev["user_id"] < gen.MAPPED_USERS) / n
        self.assertAlmostEqual(mapped, p["mapped_event_share"], delta=0.01)
        values = sorted(ev["value"] for ev in fresh)
        self.assertAlmostEqual(sum(values) / n, p["value_mean"],
                               delta=0.03 * p["value_mean"])
        self.assertAlmostEqual(values[n // 2], p["value_p50"],
                               delta=0.05 * p["value_p50"])
        span_s = (g.clock_us - gen.BASE_TS_US) / 1e6
        self.assertAlmostEqual(span_s / n, p["ts_gap_mean_s"],
                               delta=0.03 * p["ts_gap_mean_s"])
        ks = {json.loads(ev["props"])["k"] for ev in fresh}
        self.assertEqual((min(ks), max(ks)), (p["props_k_min"], p["props_k_max"]))

    def test_out_of_order_stays_inside_the_watermark(self):
        """A first delivery is at most MAX_DELAY_US behind the newest event;
        a re-send repeats one of the last DUP_WINDOW events, so it lags by
        about DUP_WINDOW event-time gaps more. Both stay far inside the
        48 h dedup watermark."""
        g = gen.Generator(5, gen.TRAFFIC)
        high, seen = 0, set()
        for ev in g.take(20000):
            high = max(high, ev["ts"])
            first = ev["event_id"] not in seen
            seen.add(ev["event_id"])
            if first:
                self.assertLessEqual(high - ev["ts"], gen.MAX_DELAY_US)
            self.assertLess(high - ev["ts"], 12 * 3600 * 1_000_000)

    def test_writer_events_are_newer_and_mapped(self):
        plan = {"base_files": 1, "base_events": 300, "update_files": 2,
                "update_events": 30}
        d = tempfile.mkdtemp()
        gen.stage("serve_reads", 4, d, plan)

        def events(sub):
            out = []
            for name in sorted(os.listdir(os.path.join(d, sub))):
                with open(os.path.join(d, sub, name)) as f:
                    out += [json.loads(json.loads(l)["value"]) for l in f]
            return out
        base, upd = events("base"), events("updates")
        self.assertGreater(min(ev["ts"] for ev in upd), max(ev["ts"] for ev in base))
        self.assertTrue(all(ev["user_id"] < gen.MAPPED_USERS for ev in upd))

    def test_topic_line_is_the_topic_contract(self):
        ev = gen.Generator(1, gen.TRAFFIC).take(1)[0]
        rec = json.loads(gen.topic_line(ev))
        self.assertEqual(sorted(rec), ["key", "timestamp", "value"])
        self.assertEqual(rec["key"], str(ev["user_id"]))
        self.assertEqual(rec["timestamp"], ev["ts"])
        self.assertEqual(json.loads(rec["value"]), ev)

    def test_topic_line_equals_compact_json(self):
        compact = {"separators": (",", ":")}
        for ev in gen.Generator(2, gen.TRAFFIC).take(2000):
            want = json.dumps({"key": str(ev["user_id"]),
                               "value": json.dumps(ev, **compact),
                               "timestamp": ev["ts"]}, **compact)
            self.assertEqual(gen.topic_line(ev), want)


class StatsTest(unittest.TestCase):
    def test_tail_needs_more_than_ten_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))
        value, pct, n = stats.tail(list(range(11)))
        self.assertEqual((value, n), (0, 11))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_tail_leaves_exactly_ten_samples_beyond(self):
        values = [float(v) for v in range(100, 0, -1)]
        value, pct, n = stats.tail(values)
        self.assertEqual(sum(1 for v in values if v > value), 10)
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))

    def test_self_time_subtracts_direct_children(self):
        spans = [
            {"id": 1, "parent": 0, "layer": "streaming", "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "layer": "sources", "start_ms": 10, "end_ms": 40},
            {"id": 3, "parent": 1, "layer": "sinks", "start_ms": 50, "end_ms": 70},
            {"id": 4, "parent": 2, "layer": "spark", "start_ms": 15, "end_ms": 25},
            {"id": 5, "parent": 0, "layer": "sinks", "start_ms": 200, "end_ms": 205},
        ]
        self.assertEqual(stats.self_times(spans),
                         {"streaming": 50, "sources": 20, "sinks": 25, "spark": 10})

    def test_self_time_never_negative(self):
        spans = [
            {"id": 1, "parent": 0, "layer": "a", "start_ms": 0, "end_ms": 10},
            {"id": 2, "parent": 1, "layer": "b", "start_ms": 0, "end_ms": 12},
        ]
        self.assertEqual(stats.self_times(spans), {"a": 0.0, "b": 12})

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([10, 10, 10, 10]), 0.0)
        self.assertGreater(stats.spread([8, 9, 10, 11, 12]), 0.2)


if __name__ == "__main__":
    unittest.main()
