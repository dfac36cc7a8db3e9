"""Self-tests of the benchmark harness's Python side.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import tempfile
import unittest

import gen
import metrics
import stats

HERE = os.path.dirname(os.path.abspath(__file__))


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 50), 50)
        self.assertEqual(stats.percentile(v, 90), 90)
        self.assertEqual(stats.percentile(v, 99), 99)
        self.assertEqual(stats.percentile(v, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_beyond(self):
        self.assertEqual(stats.beyond(list(range(1, 101)), 90), 10)
        self.assertEqual(stats.beyond([1, 2, 2, 2], 50), 0)

    def test_rejects_bad_input(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.percentile([1], 0)


class Generator(unittest.TestCase):
    def _digest(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, seed, 2, d)
            h = hashlib.sha256()
            for root, dirs, files in sorted(os.walk(d)):
                dirs.sort()
                for name in sorted(files):
                    path = os.path.join(root, name)
                    with open(path, "rb") as f:
                        h.update(os.path.relpath(path, d).encode() + f.read())
            return h.hexdigest()

    def test_same_seed_same_bytes(self):
        for w in ("curate", "stream"):
            self.assertEqual(self._digest(w, 3), self._digest(w, 3), w)

    def test_other_seed_other_bytes(self):
        for w in ("curate", "stream"):
            self.assertNotEqual(self._digest(w, 3), self._digest(w, 4), w)

    def test_planted_truth(self):
        with tempfile.TemporaryDirectory() as d:
            t = gen.generate("curate", 1, 2, d)
            self.assertEqual(len(t["near_pairs"]), gen.CURATE_DOCS // 20)
            self.assertEqual(sum(len(c) for c in t["exact_groups"].values()), gen.CURATE_DOCS // 20)
            self.assertEqual(t["distinct_texts"], t["docs"] - gen.CURATE_DOCS // 20)


class OpenLoop(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        # Batch 0 was due at 1000 but the generator only managed to send it at
        # 1800; its events still carry the due time, so the stall counts.
        events = [(1000, 0), (1000, 0), (2000, 1)]
        commits = {0: 2500, 1: 2600}
        self.assertEqual(stats.open_loop_latencies(events, commits), [1500, 1500, 600])

    def test_backlog_slope(self):
        self.assertAlmostEqual(stats.slope([(0, 0), (1, 10), (2, 20)]), 10.0)
        self.assertEqual(stats.slope([(0, 5)]), 0.0)


class MetricNames(unittest.TestCase):
    def test_regex(self):
        for ok in ["setup_s", "latency_p50_ms", "api.build_ms", "curate.op.exact_ms", "9x-y"]:
            self.assertTrue(stats.valid_metric_name(ok), ok)
        for bad in ["", "_x", ".x", "a b", "a/b", "é", "x" * 65]:
            self.assertFalse(stats.valid_metric_name(bad), bad)

    def test_benchmark_json_matches_emitted_metrics(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]),
                         ["curate", "stream"])
        for workload, result, spans in [("curate", _synthetic_result(), _synthetic_spans()),
                                        ("stream", _synthetic_stream_result(), [])]:
            e2e, _, _ = metrics.end_to_end(workload, result, [900.0, 1000.0, 1100.0])
            per, _, _ = metrics.per_layer(workload, result, spans, {})
            self.assertEqual(sorted(m["name"] for m in spec["end_to_end"]), sorted(e2e))
            self.assertEqual(sorted(m["name"] for m in spec["per_layer"]), sorted(per))
            units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
            for name, v in list(e2e.items()) + list(per.items()):
                self.assertEqual(v["unit"], units[name], name)
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertTrue(stats.valid_metric_name(m["name"]), m["name"])

    def test_stream_layers(self):
        per, info, over = metrics.per_layer("stream", _synthetic_stream_result(), [], {})
        self.assertEqual(per["streaming.batches"]["value"], 3)
        self.assertEqual(per["streaming.batch_ms_p50"]["value"], 300)
        self.assertEqual(per["state.rows_total"]["value"], 30)
        self.assertEqual(per["sources.offset_ms"]["value"], 15)
        self.assertEqual(per["stream.gen_late_ms"]["value"], 2)
        # the two state batches after the listeners went in against the one
        # before: 300 ms against 200 ms
        self.assertAlmostEqual(per["trace.overhead_pct"]["value"], 50.0)
        self.assertEqual(over, 0)


class SelfTime(unittest.TestCase):
    def test_children_subtract_and_sum_to_root(self):
        root = {"start": 0, "end": 100, "layer": "op"}
        nodes = [{"start": 10, "end": 40, "layer": "api"},
                 {"start": 20, "end": 30, "layer": "jobs"},     # inside api
                 {"start": 50, "end": 90, "layer": "action"},
                 {"start": 55, "end": 60, "layer": "catalyst"},
                 {"start": 70, "end": 80, "layer": "jobs"}]
        tree, unplaced = stats.nest(root, nodes)
        st = stats.self_times(tree)
        self.assertEqual(st, {"op": 30, "api": 20, "jobs": 20, "action": 25, "catalyst": 5})
        self.assertEqual(sum(st.values()), 100)
        self.assertEqual(unplaced, 0)

    def test_partial_overlap_is_clipped_and_counted(self):
        root = {"start": 0, "end": 100, "layer": "op"}
        nodes = [{"start": 10, "end": 50, "layer": "action"},
                 {"start": 40, "end": 70, "layer": "jobs"},     # outlives its parent by 20
                 {"start": 90, "end": 120, "layer": "jobs"},    # outlives the root
                 {"start": -5, "end": 5, "layer": "catalyst"}]  # starts before the root
        tree, unplaced = stats.nest(root, nodes)
        st = stats.self_times(tree)
        self.assertEqual(st, {"op": 50, "action": 30, "jobs": 20})
        self.assertEqual(sum(st.values()), 100)
        # 20 clipped off the first job, 5 of the catalyst phase left out; the
        # part of the second job past the root's end is not the op's time
        self.assertEqual(unplaced, 25)

    def test_intervals_outside_root_ignored(self):
        tree, unplaced = stats.nest({"start": 0, "end": 10, "layer": "op"},
                                    [{"start": 20, "end": 30, "layer": "jobs"}])
        self.assertEqual(stats.self_times(tree), {"op": 10})
        self.assertEqual(unplaced, 0)

    def test_error_reported_per_operation(self):
        # outlives the build span by 20 ms
        layer = {"jobs": [[2_030_000, 2_060_000]], "phases": []}
        spans = _synthetic_spans()
        _, errors, driver_only, error = metrics.self_time_check(spans, layer)
        self.assertEqual(errors, [100.0 * 20 / 500])
        self.assertEqual(error, 100.0 * 20 / 500)
        self.assertEqual(driver_only, [500.0 - 30])

    def test_concurrent_jobs_are_one_interval(self):
        layer = {"jobs": [[2_100_000, 2_200_000], [2_150_000, 2_300_000], [2_120_000, 2_180_000]],
                 "phases": []}
        selfs, errors, _, error = metrics.self_time_check(_synthetic_spans(), layer)
        self.assertEqual(errors, [0.0])
        # placed from the end of the millisecond the first job is stamped in
        self.assertAlmostEqual(selfs["jobs"], 200 - 0.999)
        self.assertAlmostEqual(selfs["action"], 450 - (200 - 0.999))

    def test_listener_millisecond_stamps(self):
        # The action began at 2040.3 ms; the planning phase it started is
        # stamped 2040 ms, its start truncated to the millisecond, so it must
        # still nest under the action rather than swallow it.
        layer = {"jobs": [], "phases": [["optimization", 2_040_000, 2_080_000]]}
        selfs, errors, _, _ = metrics.self_time_check(_synthetic_spans(2_040_300), layer)
        self.assertEqual(errors, [0.0])
        self.assertAlmostEqual(selfs["catalyst"], 40 - 0.999)
        self.assertAlmostEqual(selfs["action"], 449.7 - (40 - 0.999))

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)], lo=8, hi=12), 4)
        self.assertEqual(stats.merge([(5, 15), (0, 10), (20, 25), (3, 3)]), [(0, 15), (20, 25)])


def _synthetic_result():
    ops = [{"name": "q", "start_us": 1_000_000 * i, "end_us": 1_000_000 * i + 500_000, "ok": True,
            "traced": i >= 2 and i % 2 == 0} for i in range(6)]
    return {
        "setup_s": 5.0, "session_s": 3.0, "prime_s": 2.0, "slots": 4, "peak_rss_mb": 900.0,
        "window": {"start_us": 0, "end_us": 6_000_000, "trace_from_us": 2_000_000},
        "prime": {"docs": 10},
        "measured": {"ops": ops},
        "layer": {"counters": {"jobs": 4, "tasks": 8, "task_run_ms": 10, "task_cpu_ms": 8},
                  "jobs": [[2_100_000, 2_300_000]], "phases": [["planning", 2_050_000, 2_090_000]],
                  "skews": [1.5]},
    }


def _synthetic_stream_result():
    def batch(query, i, start_ms, ms, traced):
        return {"query": query, "batch": i, "rows": 10, "traced": traced,
                "start_us": start_ms * 1000, "end_us": (start_ms + ms) * 1000,
                "duration_ms": {"triggerExecution": ms, "latestOffset": 10, "getBatch": 5},
                "state_rows_total": 10 * i, "state_rows_updated": 10,
                "state_memory_bytes": 100, "state_commit_ms": 3, "late_rows_dropped": 0}
    progress = [batch("state", 0, 0, 900, False), batch("windows", 0, 0, 950, False),
                batch("state", 1, 1000, 200, False), batch("state", 2, 2000, 300, True),
                batch("state", 3, 3000, 300, True),
                batch("warm-state", 0, -5000, 100, False)]
    return {
        "setup_s": 5.0, "session_s": 3.0, "prime_s": 2.0, "slots": 4, "peak_rss_mb": 900.0,
        "window": {"start_us": 0, "end_us": 4_000_000, "trace_from_us": 1_500_000},
        "prime": {"backlog": 20},
        "measured": {"catchup_s": 0.95, "phase2_t0_ms": 1000, "progress": progress,
                     "backlog_samples": [[1_000_000, 10, 0], [2_000_000, 20, 10]],
                     "gen_late_ms": [1, 2, 3]},
        "layer": {"counters": {"jobs": 6}, "jobs": [], "phases": [], "skews": []},
    }


def _synthetic_spans(action_start_us=2_040_000):
    return [{"id": 1, "parent": 0, "op": 1, "name": "q", "layer": "op",
             "start_us": 2_000_000, "end_us": 2_500_000, "counts": {}},
            {"id": 2, "parent": 1, "op": 1, "name": "build", "layer": "api",
             "start_us": 2_010_000, "end_us": action_start_us, "counts": {"jobs": 0}},
            {"id": 3, "parent": 1, "op": 1, "name": "action", "layer": "action",
             "start_us": action_start_us, "end_us": 2_490_000, "counts": {"jobs": 1}}]


if __name__ == "__main__":
    unittest.main()
