"""Unit tests of the benchmark's own arithmetic.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def op(kind, start, end, ok=True, traced=False, rows=10, opid=1):
    return {"kind": kind, "op": opid, "start_ns": start, "end_ns": end,
            "ok": ok, "traced": traced, "rows": rows,
            "error": "" if ok else "boom"}


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(0))
        self.assertIsNone(stats.tail_percentile(99))
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(999), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_latency_reports_tail_only_when_allowed(self):
        few = [op("a", 0, (i + 1) * 10**9) for i in range(20)]
        self.assertEqual(set(stats.latency(few, "a")), {"n", "p50"})
        many = [op("a", 0, (i + 1) * 10**6) for i in range(100)]
        lat = stats.latency(many, "a")
        self.assertEqual(lat["n"], 100)
        self.assertAlmostEqual(lat["p90"], 0.090)
        self.assertAlmostEqual(lat["p50"], 0.0505)


class SelfTimeTest(unittest.TestCase):
    def span(self, s, e, i=0, parent=-1):
        return {"id": i, "parent": parent, "start_ns": s, "end_ns": e}

    def test_overlapping_children_counted_once(self):
        parent = self.span(0, 100)
        kids = [self.span(10, 40, 1, 0), self.span(30, 60, 2, 0),
                self.span(80, 90, 3, 0)]
        # children cover [10, 60] and [80, 90]: 60 of 100
        self.assertEqual(stats.self_time(parent, kids), 40)

    def test_children_clipped_to_parent(self):
        parent = self.span(50, 100)
        kids = [self.span(0, 60, 1, 0), self.span(95, 200, 2, 0)]
        self.assertEqual(stats.self_time(parent, kids), 35)

    def test_no_children(self):
        self.assertEqual(stats.self_time(self.span(5, 9), []), 4)


class FailedOpsTest(unittest.TestCase):
    def test_failed_ops_out_of_latency_but_in_error_rate(self):
        ops = [op("funnel", 0, 1 * 10**9), op("funnel", 0, 3 * 10**9),
               op("funnel", 0, 100 * 10**9, ok=False)]
        self.assertEqual(stats.latency(ops, "funnel"), {"n": 2, "p50": 2.0})
        self.assertAlmostEqual(stats.error_rate(ops), 1 / 3)

    def test_end_to_end_counts_only_successful_rows(self):
        rec = {"workload": "corpus_funnel", "setup_s": 2.0,
               "timed_s": 4.0,
               "ops": [op("funnel", 0, 10**9, rows=8),
                       op("funnel", 0, 5 * 10**9, ok=False, rows=8)]}
        m = stats.end_to_end(rec)
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["op_p50_s"], 1.0)
        self.assertEqual(m["rows_per_s"], 2.0)


class TracingOverheadTest(unittest.TestCase):
    def test_compares_with_both_untraced_neighbours(self):
        # untraced ops fall 6 -> 4 s with warm-up; the traced one between
        # them takes 5.5 s against their mean of 5 s
        ops = [op("a", 0, 6 * 10**9), op("a", 0, 55 * 10**8, traced=True),
               op("a", 0, 4 * 10**9)]
        self.assertAlmostEqual(stats.tracing_overhead(ops), 0.1)

    def test_needs_neighbours_on_both_sides(self):
        ops = [op("a", 0, 6 * 10**9), op("a", 0, 5 * 10**9, traced=True)]
        self.assertEqual(stats.tracing_overhead(ops), 0.0)


class FingerprintTest(unittest.TestCase):
    def result(self, seed="1", cores="4", value=1.0):
        rec = {"workload": "profile", "trace": False,
               "inputs": {"seed": seed, "rows": "600000",
                          "content_hash": "abc"},
               "settings": {"cores": cores, "max_heap_mb": "3072",
                            "shuffle_partitions": "8"}}
        return {"fingerprint": stats.fingerprint(rec),
                "metrics": {"op_p50_s": {"value": value, "unit": "s"}}}

    def test_same_fingerprint_compares(self):
        out = stats.compare(self.result(value=2.0), self.result(value=3.0))
        self.assertEqual(out["op_p50_s"], (2.0, 3.0, 1.5))

    def test_different_inputs_refused(self):
        with self.assertRaises(stats.FingerprintMismatch) as e:
            stats.compare(self.result(seed="1"), self.result(seed="2"))
        self.assertIn("inputs", str(e.exception))

    def test_different_settings_refused(self):
        with self.assertRaises(stats.FingerprintMismatch) as e:
            stats.compare(self.result(cores="4"), self.result(cores="2"))
        self.assertIn("settings", str(e.exception))


class ContaminationTest(unittest.TestCase):
    @staticmethod
    def stat(user, idle, steal=0):
        return f"cpu  {user} 0 0 {idle} 0 0 0 {steal} 0 0\ncpu0 ...\n"

    def test_own_cpu_is_not_contamination(self):
        # 4 s of busy CPU in 10 s of 4 cpus, all of it the run's own
        box = stats.contamination(self.stat(0, 0), self.stat(400, 3600),
                                  own_cpu_s=4.0, hz=100)
        self.assertAlmostEqual(box["others_cpu_share"], 0.0)
        self.assertFalse(box["contaminated"])

    def test_other_processes_flagged(self):
        box = stats.contamination(self.stat(0, 0), self.stat(1400, 2600),
                                  own_cpu_s=4.0, hz=100)
        self.assertAlmostEqual(box["others_cpu_share"], 0.25)
        self.assertTrue(box["contaminated"])


class BenchmarkJsonTest(unittest.TestCase):
    def test_metrics_match_what_the_runner_prints(self):
        path = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCHMARK.json")
        with open(path) as fh:
            b = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         stats.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         stats.PER_LAYER)
        self.assertEqual({w["name"] for w in b["workloads"]},
                         set(stats.MAIN_OP))


if __name__ == "__main__":
    unittest.main()
