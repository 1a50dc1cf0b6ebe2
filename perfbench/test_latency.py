"""Unit tests of the tick-to-batch latency mapping and the percentile rule.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import latency


def query(batches, log):
    return {"batches": batches, "log": {str(k): v for k, v in log.items()}}


class LatencyTest(unittest.TestCase):
    # ticks 0-3 due every 100 ms from t=1000; tick 0 is in the warm-up window
    TICKS = [[0, 1000, 1001], [1, 1100, 1101], [2, 1200, 1202], [3, 1300, 1301]]

    def test_commit_time_is_trigger_start_plus_duration(self):
        q = query([[-1, 0, 1050, 40], [0, 2, 1250, 100], [2, 2, 1400, 5], [2, 3, 1400, 50]],
                  {0: [0], 1: [1], 2: [2], 3: [3]})
        self.assertEqual(latency.commit_times(q["batches"], q["log"]),
                         {0: 1090, 1: 1350, 2: 1350, 3: 1450})

    def test_slowest_query_sets_the_latency(self):
        fast = query([[-1, 3, 1310, 10]], {0: [0], 1: [1], 2: [2], 3: [3]})
        slow = query([[-1, 1, 1150, 50], [1, 3, 1300, 200]], {0: [0], 1: [1], 2: [2], 3: [3]})
        overall, by_query = latency.tick_latencies(self.TICKS, {"fast": fast, "slow": slow}, 1100)
        # tick 1: fast commits at 1320, slow at 1200 -> 1320 - 1100
        self.assertEqual(overall, [220, 300, 200])
        self.assertEqual(by_query["slow"], [100, 300, 200])
        self.assertEqual(by_query["fast"], [220, 120, 20])

    def test_a_tick_never_committed_is_an_error(self):
        q = query([[-1, 1, 1150, 50]], {0: [0], 1: [1]})
        with self.assertRaises(ValueError):
            latency.tick_latencies(self.TICKS, {"q": q}, 1000)

    def test_several_log_batches_in_one_micro_batch(self):
        q = query([[4, 7, 2000, 25]], {5: [10], 6: [11, 12], 7: [13]})
        self.assertEqual(latency.commit_times(q["batches"], q["log"]),
                         {10: 2025, 11: 2025, 12: 2025, 13: 2025})

    def test_percentile_interpolates_between_ranks(self):
        xs = list(range(1, 101))
        self.assertEqual(latency.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(latency.percentile(xs, 95), 95.05)
        self.assertEqual(latency.percentile([7], 95), 7)

    def test_p95_needs_ten_samples_beyond_it(self):
        self.assertTrue(latency.supported(200, 95))
        self.assertFalse(latency.supported(199, 95))
        self.assertTrue(latency.supported(20, 50))
        self.assertFalse(latency.supported(19, 50))


if __name__ == "__main__":
    unittest.main()
