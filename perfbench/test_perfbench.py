"""Self-tests of the benchmark's own arithmetic and schedules.

    python3 -m unittest discover -s perfbench
"""
import unittest

import pandas as pd

import check
import gen
import run
import schedule
import stats


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        values = list(range(1, 101))  # 1..100
        value, pct, n = stats.tail(values)
        self.assertEqual(n, 100)
        self.assertEqual(sum(v > value for v in values), 10)
        self.assertEqual(value, 90)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3] * 5), stats.tail(sorted([5, 1, 4, 2, 3] * 5)))

    def test_few_samples_fall_back_to_max(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0, 3))
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))

    def test_eleven_samples(self):
        value, pct, _ = stats.tail(list(range(11)))
        self.assertEqual(value, 0)
        self.assertAlmostEqual(pct, 100.0 / 11)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(name, start, end, parent, op="a"):
        return {"name": name, "start_ms": start, "end_ms": end, "parent": parent, "op": op}

    def test_overlapping_children_count_once(self):
        spans = [self.span("op", 0, 100, ""),
                 self.span("op.write", 10, 100, "op"),
                 self.span("exec.job", 20, 60, "op.write"),
                 self.span("exec.job", 40, 80, "op.write"),   # overlaps the first job
                 self.span("plans.planning", 15, 25, "op.write")]
        own = {(sp["name"], sp["start_ms"]): ms for sp, ms in stats.self_times(spans)}
        self.assertEqual(own[("op", 0)], 10)             # 100 - 90 covered by op.write
        self.assertEqual(own[("op.write", 10)], 90 - 65)  # children cover [15, 80]
        self.assertEqual(own[("exec.job", 20)], 40)
        layers = stats.layer_self_ms(spans)
        self.assertEqual(layers["root"], 10 + 25)
        self.assertEqual(layers["exec"], 80)
        self.assertEqual(layers["plans"], 10)

    def test_children_clipped_to_parent_and_ops_kept_apart(self):
        spans = [self.span("op", 0, 10, ""),
                 self.span("exec.job", 5, 30, "op"),
                 self.span("op", 0, 10, "", op="b")]
        own = [ms for sp, ms in stats.self_times(spans) if sp["name"] == "op"]
        self.assertEqual(sorted(own), [5, 10])

    def test_covered_union(self):
        self.assertEqual(stats.covered([(0, 5), (3, 8), (10, 12)], 1, 11), 8)


class AmplificationTest(unittest.TestCase):
    def test_user_row_bytes(self):
        rows = [(1, 10, 2, "in_octets", 1.5), (2, 11, 2, "ab", 2.5)]
        self.assertEqual(stats.user_row_bytes(rows), 32 + 9 + 32 + 2)

    def test_write_and_space_amp(self):
        self.assertEqual(stats.write_amp(300, 100), 3.0)
        self.assertEqual(stats.space_amp(150, 100), 1.5)
        self.assertEqual(stats.write_amp(10, 0), 0.0)


class ScheduleTest(unittest.TestCase):
    def test_dashboard_seed_determinism(self):
        self.assertEqual(schedule.dashboard(7, 1500, 1), schedule.dashboard(7, 1500, 1))
        self.assertNotEqual(schedule.dashboard(7, 1500, 1), schedule.dashboard(8, 1500, 1))

    def test_dashboard_rounds_share_one_mix(self):
        ops = schedule.dashboard(3, 1500, 2)
        mix = lambda r: sorted(run.shape(o[3], o[4]) for o in ops if o[1] == r)
        self.assertEqual(mix(0), mix(1))
        self.assertEqual(mix(1), mix(2))
        self.assertNotEqual([o[4] for o in ops if o[1] == 0], [o[4] for o in ops if o[1] == 1])

    def test_warm_up_round_is_untimed_and_covers_every_timed_shape(self):
        ops = schedule.dashboard(3, 1500, 2)
        self.assertEqual({o[0] for o in ops if o[1] == 0}, {"warm"})
        self.assertEqual({o[0] for o in ops if o[1] > 0}, {"loop"})
        warm = {run.shape(o[3], o[4]) for o in ops if o[0] == "warm"}
        self.assertTrue(all(run.shape(o[3], o[4]) in warm for o in ops if o[0] == "loop"))
        self.assertEqual(run.checked_ops("dashboard", ops), [o for o in ops if o[0] == "warm"])

    def test_timed_rounds_follow_seconds(self):
        self.assertEqual(schedule.timed_rounds("dashboard", 1), 1)
        self.assertEqual(schedule.timed_rounds("dashboard", 8), 1)
        self.assertEqual(schedule.timed_rounds("dashboard", 16), 2)
        self.assertEqual(schedule.timed_rounds("ingest", 16), 4)
        self.assertEqual(len([o for o in schedule.pipeline(1, 2) if o[0] == "loop"]),
                         2 * len(schedule.PIPELINE_QUERIES))

    def test_pipeline_seed_determinism(self):
        self.assertEqual(schedule.pipeline(1, 1), schedule.pipeline(1, 1))
        self.assertNotEqual(schedule.pipeline(1, 1), schedule.pipeline(2, 1))

    def test_ingest_seed_determinism(self):
        def plan(seed):
            feed = gen.snmp_feed(seed, devices=2, batches=3)
            return schedule.ingest(seed, feed, [f"b{i}" for i in range(len(feed))])
        self.assertEqual(plan(5), plan(5))
        self.assertNotEqual(plan(5), plan(6))
        kinds = [o[3] for o in plan(5) if o[3] != "readback"]
        self.assertEqual(kinds, ["ingest"] + ["upsert", "compact"] * 3 + ["delete", "vacuum"])

    def test_feed_is_deterministic_with_late_and_duplicate_samples(self):
        a, b = gen.snmp_feed(4, devices=3, batches=6), gen.snmp_feed(4, devices=3, batches=6)
        self.assertEqual(a, b)
        ids = [r[0] for batch in a for r in batch]
        self.assertGreater(len(ids), len(set(ids)))  # duplicates re-sent
        late = [r for i, batch in enumerate(a[2:], 2) for r in batch
                if r[1] < (gen.FEED_START_S + (gen.INITIAL_H + i - 1) * 3600) * 1_000_000]
        self.assertTrue(late)


class CompareTest(unittest.TestCase):
    def test_row_order_and_float_noise(self):
        got = pd.DataFrame({"k": [2, 1], "v": [0.30000000000000004, 0.1]})
        exp = pd.DataFrame({"v": [0.1, 0.3], "k": [1, 2]})
        self.assertIsNone(check.compare(got, exp))

    def test_wrong_value_and_shape(self):
        exp = pd.DataFrame({"k": [1, 2], "v": [0.1, 0.3]})
        self.assertIsNotNone(check.compare(pd.DataFrame({"k": [1, 2], "v": [0.1, 0.31]}), exp))
        self.assertIsNotNone(check.compare(pd.DataFrame({"k": [1], "v": [0.1]}), exp))
        self.assertIsNotNone(check.compare(pd.DataFrame({"k": [1, 2], "w": [0.1, 0.3]}), exp))


if __name__ == "__main__":
    unittest.main()
