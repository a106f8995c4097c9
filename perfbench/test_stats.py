"""Tests of the benchmark's statistics on canned samples.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import metrics
import stats


def req(due, start, end, ok=True, step=0):
    return {"due_ms": due, "start_ms": start, "end_ms": end, "ok": ok,
            "step": step}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 95), 95)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_supported_level_needs_ten_samples_beyond(self):
        # 200 samples: 10 lie beyond p95, so p95 is the highest supported
        self.assertEqual(stats.beyond(200, 95), 10)
        self.assertEqual(stats.supported_level(200), 95)
        # 199 leave only 9 beyond p95; p90 keeps 19
        self.assertEqual(stats.supported_level(199), 90)
        self.assertEqual(stats.supported_level(1000), 99)
        self.assertEqual(stats.supported_level(40), 75)
        self.assertEqual(stats.supported_level(20), 50)
        self.assertIsNone(stats.supported_level(19))


class LatencyTest(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        # sent 30 ms late, served in 20 ms: the user waited 50 ms
        self.assertEqual(stats.due_latencies([req(100, 130, 150)]), [50])

    def test_lateness_is_start_minus_due(self):
        self.assertEqual(stats.lateness([req(100, 100, 120), req(200, 260, 300)]),
                         [0, 60])

    def test_failures_are_excluded_from_latency(self):
        rs = [req(0, 0, 10), req(0, 0, 5000, ok=False), req(0, 0, 30)]
        self.assertEqual(stats.due_latencies(rs), [10, 30])


class BacklogTest(unittest.TestCase):
    def schedule(self, rate, seconds, service_ms, servers=1):
        """Requests due at `rate`/s, each served in `service_ms` by the
        first free of `servers` FIFO servers."""
        free = [0.0] * servers
        out = []
        for i in range(int(rate * seconds)):
            due = i * 1000.0 / rate
            k = min(range(servers), key=lambda j: free[j])
            start = max(due, free[k])
            free[k] = start + service_ms
            out.append(req(due, start, free[k]))
        return out

    def test_backlog_counts_due_and_unfinished(self):
        rs = [req(0, 0, 100), req(50, 100, 200), req(300, 300, 310)]
        self.assertEqual(stats.backlog(rs, 60), 2)
        self.assertEqual(stats.backlog(rs, 150), 1)
        self.assertEqual(stats.backlog(rs, 250), 0)

    def test_sustainable_rate_does_not_grow(self):
        rs = self.schedule(rate=5, seconds=20, service_ms=150)
        self.assertFalse(stats.growing_backlog(rs, 0, 20000, 5))

    def test_overload_grows(self):
        # 10 req/s offered, 5 req/s served: the queue grows by ~5 a second
        rs = self.schedule(rate=10, seconds=20, service_ms=200)
        self.assertTrue(stats.growing_backlog(rs, 0, 20000, 10))

    def test_more_senders_absorb_the_same_load(self):
        rs = self.schedule(rate=10, seconds=20, service_ms=200, servers=4)
        self.assertFalse(stats.growing_backlog(rs, 0, 20000, 10))


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": 1, "parent": 0, "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "start_ms": 10, "end_ms": 40},
            {"id": 3, "parent": 1, "start_ms": 30, "end_ms": 50},   # overlaps 2
            {"id": 4, "parent": 1, "start_ms": 90, "end_ms": 120},  # runs past 1
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 100 - 40 - 10)
        self.assertAlmostEqual(st[2], 30)


class ReportTest(unittest.TestCase):
    def raw(self):
        reqs = [dict(req(i * 250.0, i * 250.0, i * 250.0 + 100 + i), op=f"q{i}",
                     route="dense" if i < 40 else "scan", traced=False)
                for i in range(50)]
        reqs[3]["ok"] = False
        return {"requests": reqs, "quality": 0.9, "setup_s": [30.0, 4.0, 5.0],
                "live_heap_mb": 100.0, "cores": 4, "heap_max_mb": 3072.0,
                "checks": {"all_requests_ok": False},
                "syncs": [{"op": "sync0", "start_ms": 0, "end_ms": 2000,
                           "rows": 200, "ok": True, "fresh_ms": 2500.0}]}

    def test_failed_ops_count_and_fail_the_run(self):
        r = metrics.report("serve_sync", self.raw(), trace=False)
        self.assertEqual((r["attempted"], r["failed"]), (51, 1))
        self.assertFalse(r["correct"])

    def test_end_to_end_metrics(self):
        m = metrics.report("serve_sync", self.raw(), trace=False)["metrics"]
        self.assertEqual(set(m), {n for n, _ in metrics.E2E})
        self.assertEqual(m["setup_s"]["value"], 5.0)
        # 39 filterless successes with latencies 100+i, the failed i=3 left
        # out; the filtered requests are not in this sample
        lat = sorted(100 + i for i in range(40) if i != 3)
        self.assertEqual(m["p50_ms"]["value"], lat[19])
        self.assertEqual(m["p75_ms"]["value"], stats.percentile(lat, 75))

    def test_per_layer_reports_every_name(self):
        raw = self.raw()
        raw.update(spans=[], spark_ops={}, fs_read_ops=0)
        m = metrics.report("serve_sync", raw, trace=True)["metrics"]
        self.assertEqual(list(m), [n for n, _ in metrics.PER_LAYER])


if __name__ == "__main__":
    unittest.main()
