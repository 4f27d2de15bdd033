"""Self-tests of the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import trace_report  # noqa: E402
import workloads  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_null_below_ten_samples_beyond(self):
        xs = list(range(1, 100))                # 99 samples
        self.assertIsNone(stats.percentile(xs, 90))   # rank 90: 9 beyond
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)  # 10 beyond
        self.assertIsNone(stats.percentile(list(range(1, 1000)), 99))
        self.assertEqual(stats.percentile(list(range(1, 1001)), 99), 990)

    def test_timing_keeps_median_and_count(self):
        t = stats.timing([3.0, 1.0, 2.0])
        self.assertEqual((t["n"], t["p50"], t["p90"], t["p99"]), (3, 2.0, None, None))

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 50))
        self.assertIsNone(stats.median([]))


class SelfTime(unittest.TestCase):
    def test_children_subtracted(self):
        spans = {1: (None, 0, 100), 2: (1, 10, 30), 3: (1, 50, 60), 4: (2, 12, 20)}
        self.assertEqual(stats.self_times(spans), {1: 70, 2: 12, 3: 10, 4: 8})

    def test_overlapping_children_count_once(self):
        spans = {1: (None, 0, 100), 2: (1, 10, 50), 3: (1, 40, 70)}
        self.assertEqual(stats.self_times(spans)[1], 40)

    def test_child_clipped_to_parent(self):
        spans = {1: (None, 0, 100), 2: (1, 90, 130)}
        self.assertEqual(stats.self_times(spans)[1], 90)


class UserOps(unittest.TestCase):
    def test_scan_folds_begin_fetch_close(self):
        ops = [["sel", 5, 0], ["begin", 10, 0], ["fetch", 2, 0], ["close", 1, 0],
               ["ins", 3, 1], ["begin", 7, 0]]
        self.assertEqual(run.user_ops(ops),
                         [["sel", 5, 0], ["scan", 13, 0], ["ins", 3, 1], ["scan", 7, 0]])


class ClassLatency(unittest.TestCase):
    def test_geometric_mean_of_kind_medians(self):
        lat = {"ins": [4.0, 4.0, 100.0], "del": [1.0], "sel": [50.0]}
        self.assertAlmostEqual(run.class_ms(lat, run.WRITES), 2.0)
        self.assertIsNone(run.class_ms({"ins": [1.0]}, run.READS))

    def test_mix_does_not_move_it(self):
        few = {"ins": [2.0] * 10, "del": [8.0] * 10}
        many = {"ins": [2.0] * 10, "del": [8.0] * 90}
        self.assertAlmostEqual(run.class_ms(few, run.WRITES), run.class_ms(many, run.WRITES))


class TraceWalls(unittest.TestCase):
    def test_every_traced_kind_needs_a_bare_sample(self):
        walls = [[1, "ins", 2e6, True], [2, "del", 1e6, True], [3, "del", 1e6, False],
                 [4, "stage", 1e6, True]]
        self.assertEqual(trace_report.untraced_gaps(walls, trace_report.TIMED), ["ins"])
        walls.append([5, "ins", 1e6, False])
        self.assertEqual(trace_report.untraced_gaps(walls, trace_report.TIMED), [])

    def test_split_walls_in_ms(self):
        traced, bare = trace_report.split_walls([[1, "sel", 3e6, True], [2, "sel", 1e6, False]],
                                                trace_report.TIMED)
        self.assertEqual((traced, bare), ({"sel": [3.0]}, {"sel": [1.0]}))

    def test_batch_metrics_from_the_query_spans(self):
        span = {"req": 1, "id": 2, "parent": 1, "name": "operators.graph_kcore",
                "kind": "graph_kcore", "start": 0, "end": 2_000_000_000,
                **{k: 0 for k in trace_report.SLOTS}}
        span.update(jobs=3, shuffle_write_bytes=100)
        res = {"traced": [["graph_kcore", 1_500_000_000, 10, 7]]}
        m = trace_report.batch_metrics(res, [span])
        self.assertEqual((m["operators.graph_kcore_s"], m["batch.pass_s"], m["batch.spark_jobs"],
                          m["batch.shuffle_write_bytes"]), (2.0, 1.5, 3, 100))
        self.assertEqual(trace_report.batch_metrics(None, [])["streaming.streaming_window_s"], 0.0)

    def test_handle_ms_comes_from_the_listener(self):
        spans = [{"req": 1, "id": 1, "parent": 0, "name": "request", "kind": "ins",
                  "start": 0, "end": 4_000_000, **{k: 0 for k in trace_report.SLOTS}}]
        side = {"walls": [[1, "ins", 4e6, True], [2, "ins", 3e6, False]],
                "handles": [["ins", 2e6], ["ins", 2e6], ["stage", 9e6]],
                "resolves": [], "plan_ms": [], "commits": [], "restore_ms": None,
                "peak_cached_bytes": 0}
        wire = {"solo": {"ins": [5.0] * 5}, "loaded": {"ins": [6.0] * 5}}
        m = trace_report.layer_metrics(spans, side, trace_report.TIMED, wire)
        self.assertEqual(m["server.handle_ms"], 2.0)
        self.assertEqual(m["server.wire_ms"], 0.0)  # fewer than five handles of a kind
        self.assertEqual(m["trace.overhead_ms"], 1.0)
        self.assertEqual(m["server.queue_ms"], 1.0)


class Phases(unittest.TestCase):
    def test_point_splits_its_time_and_the_others_keep_one_connection(self):
        self.assertEqual(run.phase_seconds("point_oltp", 4), (2, 2))
        self.assertEqual(run.phase_seconds("durable_writes", 4), (4, 0))
        self.assertEqual(run.phase_seconds("bulk_branch_merge", 4), (4, 0))


class ExpectedState(unittest.TestCase):
    def test_ord_follows_acknowledged_writes(self):
        inp = workloads.Inputs("point_oltp", 7, "smoke")
        initial = set(int(k) for k in inp.ord0[0])
        self.assertEqual(inp.expected_ord([0, 0]), initial)
        # writer 0: insert 2, delete 1 (its oldest initial row)
        got = inp.expected_ord([3, 0])
        first_owned = int(inp.writer_queue(0)[0][0])
        new = set(int(k) for k in inp.writer_rows[0][0][:2])
        self.assertEqual(got, (initial - {first_owned}) | new)

    def test_delete_first_keeps_each_branch_inserts(self):
        a = workloads.Inputs("bulk_branch_merge", 2, "smoke")
        b = workloads.Inputs("bulk_branch_merge", 2, "smoke", delete_first=True)
        self.assertGreater(a.bulk_rows(), b.bulk_rows())
        kinds = [ln.split("\t")[0] for ln in b.bulk_iteration()]
        first = kinds.index("delete_where")
        self.assertEqual(kinds[first + 1], "insert_from")

    def test_batch_tables_repeat_for_a_seed(self):
        a = workloads.batch_tables(3, "smoke")
        b = workloads.batch_tables(3, "smoke")
        self.assertEqual(set(a), {"lineitem", "events", "documents"})
        for name in a:
            self.assertTrue(a[name].equals(b[name]))

    def test_same_seed_same_plans(self):
        a = workloads.Inputs("point_oltp", 3, "smoke")
        b = workloads.Inputs("point_oltp", 3, "smoke")
        self.assertEqual(a.writer_lines(1), b.writer_lines(1))
        self.assertNotEqual(a.reader_lines(0), workloads.Inputs("point_oltp", 4, "smoke").reader_lines(0))


class Verdicts(unittest.TestCase):
    def test_clear_gain(self):
        pv = [10.0 + 0.1 * i for i in range(10)]
        cv = [8.0 + 0.1 * i for i in range(10)]
        share, v = compare.verdict(pv, cv, list(zip(pv, cv)), "lower", 0.1)
        self.assertEqual((share, v), (1.0, "improved"))

    def test_regression_beyond_bound(self):
        pv = [10.0] * 10
        cv = [12.0] * 10
        self.assertEqual(compare.verdict(pv, cv, list(zip(pv, cv)), "lower", 0.1)[1], "worse")

    def test_wide_spread_is_unresolved(self):
        pv = [5.0, 15.0] * 5
        cv = [6.0, 14.0] * 5
        self.assertEqual(compare.verdict(pv, cv, list(zip(pv, cv)), "higher", 0.1)[1],
                         "unresolved")


if __name__ == "__main__":
    unittest.main()
