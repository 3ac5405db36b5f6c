"""Tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import stats


def op(ms, ok=True, results=16, kind="knn_batch", label="FLAT", recall=1.0):
    return stats.Op([kind, label, ms, ok, results, "" if ok else "boom", recall])


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        vals = list(range(1, 21))  # 20 samples
        v, pct, n = stats.tail(vals)
        self.assertEqual((v, pct, n), (10, 50.0, 20))
        self.assertEqual(sum(x > v for x in vals), 10)

    def test_eleven_samples_is_the_minimum(self):
        v, pct, n = stats.tail(list(range(11, 0, -1)))
        self.assertEqual(v, 1)
        self.assertAlmostEqual(pct, 100 / 11)

    def test_fewer_than_eleven_reports_the_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0, 3))
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


class FailuresAreInfinite(unittest.TestCase):
    def test_failed_op_latency_is_infinite(self):
        self.assertTrue(math.isinf(op(5.0, ok=False).latency))
        self.assertEqual(op(5.0).latency, 5.0)

    def test_median_and_tail_count_failures_beyond_any_limit(self):
        ops = [op(1.0), op(2.0), op(3.0, ok=False), op(4.0, ok=False)]
        self.assertTrue(math.isinf(stats.median([o.latency for o in ops])))
        ops = [op(float(i)) for i in range(1, 12)] + [op(0.5, ok=False)]
        self.assertEqual(stats.tail([o.latency for o in ops])[0], 2.0)

    def test_infinity_is_written_as_the_sentinel(self):
        self.assertEqual(stats.finite(math.inf), stats.INF_MS)
        self.assertEqual(stats.finite(7.5), 7.5)

    def test_failed_batch_adds_time_but_no_queries(self):
        ok = [op(1000.0, results=100)]
        self.assertEqual(stats.qps(ok), 100.0)
        self.assertEqual(stats.qps(ok + [op(1000.0, ok=False, results=100)]), 50.0)

    def test_failed_batch_counts_zero_recall(self):
        self.assertEqual(stats.recall_of([op(1.0, recall=0.9), op(1.0, ok=False)]), 0.45)

    def test_fixing_a_failure_never_reads_as_a_slowdown(self):
        before = [op(10.0), op(20.0), op(30.0, ok=False)]
        after = [op(10.0), op(20.0), op(30.0)]
        for metric in (lambda o: stats.median([x.latency for x in o]),
                       lambda o: stats.tail([x.latency for x in o])[0]):
            self.assertLessEqual(metric(after), metric(before))
        self.assertGreaterEqual(stats.qps(after), stats.qps(before))


class StorageAmplification(unittest.TestCase):
    def test_bytes_per_payload_byte(self):
        # 1000 live 64-d float32 vectors = 256000 payload bytes
        self.assertEqual(stats.storage_amplification(512000, 1000, 64), 2.0)
        self.assertEqual(stats.storage_amplification(256000, 1000, 64), 1.0)

    def test_empty_index(self):
        self.assertEqual(stats.storage_amplification(4096, 0, 64), 0.0)


class CurationPasses(unittest.TestCase):
    def test_pass_spans_from_one_quality_stage_to_the_next(self):
        def stage(name, ms, ok=True):
            return op(ms, ok=ok, kind="curation", label=name)
        one = [stage(s, 1000.0) for s in stats.TEXT_STAGES] + [op(500.0, label="object")]
        two = [stage(s, 2000.0) for s in stats.TEXT_STAGES]
        self.assertEqual(stats.curation_passes(one + two), [6.5, 12.0])
        broken = [stage("quality", 1.0, ok=False)] + [stage(s, 1.0) for s in stats.TEXT_STAGES[1:]]
        self.assertEqual(stats.curation_passes(broken), [])


if __name__ == "__main__":
    unittest.main()
