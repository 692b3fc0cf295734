"""Self-tests of the benchmark's own arithmetic and metric contract.

    python3 perfbench/test_stats.py
"""

import json
import math
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
import stats  # noqa: E402
import vectors  # noqa: E402


def span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "name": name, "start_ms": start, "end_ms": end}


class PercentileTest(unittest.TestCase):
    def test_interpolates_and_counts(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), (2.5, 4))
        v, n = stats.percentile([1, 2, 3, 4], 90)
        self.assertAlmostEqual(v, 3.7)
        self.assertEqual(n, 4)

    def test_ends_and_single_sample(self):
        self.assertEqual(stats.percentile([5, 9, 7], 0), (5, 3))
        self.assertEqual(stats.percentile([5, 9, 7], 100), (9, 3))
        self.assertEqual(stats.percentile([2.5], 90), (2.5, 1))

    def test_empty(self):
        v, n = stats.percentile([], 50)
        self.assertTrue(math.isnan(v))
        self.assertEqual(n, 0)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 100),
                 span(1, 0, 10, 40), span(2, 0, 30, 60),  # overlap 30..40
                 span(3, 0, 90, 120),                     # runs past its parent
                 span(4, 1, 15, 35)]                      # grandchild
        self_t = stats.self_times(spans)
        # parent: covered [10,60] + [90,100] = 60 of 100
        self.assertAlmostEqual(self_t[0], 40)
        self.assertAlmostEqual(self_t[1], 30 - 20)
        self.assertAlmostEqual(self_t[2], 30)
        self.assertAlmostEqual(self_t[3], 30)
        self.assertAlmostEqual(self_t[4], 20)

    def test_uncovered_share(self):
        spans = [span(0, -1, 0, 200), span(1, 0, 0, 50), span(2, 0, 40, 100)]
        self.assertAlmostEqual(stats.uncovered_frac(spans[0], spans), 0.5)

    def test_union_ignores_empty_and_clips(self):
        self.assertEqual(stats.union_length([(5, 5), (-10, 3), (8, 20)], 0, 10), 5)

    def test_innermost(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 50), span(2, 1, 20, 30)]
        self.assertEqual(stats.innermost_span(25, spans)["id"], 2)
        self.assertEqual(stats.innermost_span(45, spans)["id"], 1)
        self.assertEqual(stats.innermost_span(70, spans)["id"], 0)
        self.assertIsNone(stats.innermost_span(150, spans))


class IdleFracTest(unittest.TestCase):
    def test_share_of_core_time_without_tasks(self):
        self.assertAlmostEqual(stats.idle_frac(200.0, 100.0, 4), 0.5)
        self.assertAlmostEqual(stats.idle_frac(400.0, 100.0, 4), 0.0)
        self.assertAlmostEqual(stats.idle_frac(0.0, 100.0, 4), 1.0)
        self.assertEqual(stats.idle_frac(10.0, 0.0, 4), 0.0)


class ChunkLatencyTest(unittest.TestCase):
    def test_first_covering_batch_by_completion(self):
        chunks = [{"offset": 0, "due_ms": 1000.0},
                  {"offset": 1, "due_ms": 1250.0},
                  {"offset": 2, "due_ms": 1500.0},
                  {"offset": 3, "due_ms": 1750.0}]
        progress = [
            {"end_offset": 2, "done_ms": 2600.0},  # covers 1 and 2
            {"end_offset": 0, "done_ms": 1800.0},  # listed late, finished first
            {"end_offset": 0, "done_ms": 2100.0},  # a no-data batch
        ]
        self.assertEqual(stats.chunk_latencies(chunks, progress),
                         [0.8, 1.35, 1.1, None])


class StreamSummaryTest(unittest.TestCase):
    def test_window_counts_missing_and_first_chunk(self):
        st = {"start_ms": 0.0,
              "chunks": [{"idx": 0, "offset": 0, "rows": 10, "due_ms": 0.0, "sent_ms": 1.0},
                         {"idx": 1, "offset": 1, "rows": 10, "due_ms": 5000.0, "sent_ms": 5002.0},
                         {"idx": 2, "offset": 2, "rows": 10, "due_ms": 5250.0, "sent_ms": 5250.5}],
              "progress": [{"batch_id": 0, "end_offset": 0, "done_ms": 3000.0,
                            "trigger_ms": 2900.0, "input_rows": 10},
                           {"batch_id": 1, "end_offset": 1, "done_ms": 6000.0,
                            "trigger_ms": 700.0, "input_rows": 10}]}
        s = run.stream_summary(st)
        self.assertEqual(s["latencies"], [1.0])
        self.assertEqual(s["missing"], 1)
        self.assertEqual(s["first_chunk_s"], 3.0)
        self.assertEqual(s["trigger_s"], [0.7])
        self.assertEqual(s["late_s"], [0.002, 0.0005])


class MemoryTest(unittest.TestCase):
    def test_peak_is_the_largest_summed_sample_plus_non_heap(self):
        raw = {"rss_hwm_mb": 2600.0,
               "memory": {"t_ms": [0, 20, 40],
                          "heap_live_mb": [100.0, 90.0, 50.0],
                          "heap_retained_mb": [100.0, 300.0, 900.0],
                          "spark_offheap_mb": [64.0, 0.0, 320.0],
                          "direct_mb": [1.0, 1.0, 2.0],
                          "nonheap_peak_mb": 200.0}}
        m = run.memory_summary(raw)
        self.assertEqual(m["peak_mem_mb"], 372.0 + 200.0)  # sample 3: 50 + 320 + 2
        self.assertEqual(m["heap_live_mb"], 100.0)
        self.assertEqual(m["heap_retained_mb"], 900.0)  # garbage is not in the peak
        self.assertEqual(m["spark_offheap_mb"], 320.0)
        self.assertEqual(m["nonheap_mb"], 200.0)
        self.assertEqual(m["rss_hwm_mb"], 2600.0)


def fork(setup, ops, checks=()):
    """A measuring JVM's raw result with `ops` as (kind, wall_s, digest)."""
    return {"setup_s": setup, "rss_hwm_mb": 2000.0,
            "memory": {"t_ms": [0], "heap_live_mb": [100.0 * setup],
                       "heap_retained_mb": [100.0 * setup],
                       "spark_offheap_mb": [0.0], "direct_mb": [0.0],
                       "nonheap_peak_mb": 0.0},
            "result": {"checks": [{"name": n, "ok": ok} for n, ok in checks],
                       "ops": [{"kind": k, "wall_s": w, "rows_in": 100, "rows_out": 10,
                                "digest": d, "ok": True} for k, w, d in ops]}}


class ForksTest(unittest.TestCase):
    def test_medians_over_jvms_and_pooled_steady_ops(self):
        raws = [fork(7.0, [("first", 20.0, "9:1"), ("steady", 10.0, "9:1")]),
                fork(9.0, [("first", 30.0, "9:1"), ("steady", 12.0, "9:1"),
                           ("steady", 14.0, "9:1")])]
        attempted, failed, names = run.outcome_all(raws)
        self.assertEqual((attempted, failed, names), (6, 0, []))  # 5 ops + fork check
        m, d = run.end_to_end(raws, attempted, failed)
        self.assertEqual(m["setup_s"], 8.0)
        self.assertEqual(m["first_run_s"], 25.0)
        self.assertEqual(m["run_s"], 12.0)
        self.assertEqual(d["run_s_samples"], 3)
        self.assertEqual(m["rows_per_s"], 100 / 12.0)
        self.assertEqual(m["peak_mem_mb"], 800.0)
        self.assertEqual(m["pass_frac"], 1.0)

    def test_jvms_that_disagree_fail_one_check(self):
        raws = [fork(7.0, [("first", 20.0, "9:1")], [("digest_q25", False)]),
                fork(7.0, [("first", 20.0, "9:2")])]
        attempted, failed, names = run.outcome_all(raws)
        self.assertEqual((attempted, failed), (4, 2))  # 2 ops, 1 check, fork check
        self.assertEqual(names, ["fork0:digest_q25", "fork_first_digests_differ:9:1,9:2"])

    def test_one_jvm_is_the_plain_outcome(self):
        raw = fork(7.0, [("first", 20.0, "9:1"), ("steady", 10.0, "9:1")])
        self.assertEqual(run.outcome_all([raw]), run.outcome(raw["result"]))


class ContractTest(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))

    def test_vector_fixture_is_a_function_of_the_seed(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            vectors.write(a, 7, "smoke")
            vectors.write(b, 7, "smoke")
            vectors.write(c, 8, "smoke")
            for t in ("embeddings", "documents"):
                ta = pq.read_table(f"{a}/{t}.parquet")
                self.assertTrue(ta.equals(pq.read_table(f"{b}/{t}.parquet")))
                self.assertFalse(ta.equals(pq.read_table(f"{c}/{t}.parquet")))


if __name__ == "__main__":
    unittest.main()
