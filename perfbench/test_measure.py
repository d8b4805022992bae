"""Tests of the benchmark's measurement rules.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import measure


class PercentileRule(unittest.TestCase):
    def test_reported_with_its_sample_count(self):
        self.assertEqual(measure.percentile(range(1, 101), 0.5), (50.5, 100))
        self.assertEqual(measure.percentile(range(1, 22), 0.5), (11.0, 21))

    def test_needs_ten_samples_beyond(self):
        # the median of 20 samples has ten beyond it: reported
        self.assertEqual(measure.percentile(range(20), 0.5), (9.5, 20))
        # p90 of 100 samples has ten beyond it: reported
        self.assertAlmostEqual(measure.percentile(range(1, 101), 0.9)[0], 90.1)
        # of 89 samples, p90 leaves nine beyond it: refused
        with self.assertRaises(measure.TooFewSamples):
            measure.percentile(range(89), 0.9)
        with self.assertRaises(measure.TooFewSamples):
            measure.percentile(range(19), 0.5)
        with self.assertRaises(measure.TooFewSamples):
            measure.percentile([], 0.5)


class LatencyFromDue(unittest.TestCase):
    def test_stall_is_charged_to_queued_records(self):
        # records due every 10 ms; the first batch commits on time, the
        # second is held up by a 500 ms stall and takes everything queued
        due = [0.0, 10.0, 20.0, 30.0, 40.0]
        batches = [(0, 1, 5.0), (1, 5, 540.0)]
        lat = measure.latencies_from_due(due, batches)
        self.assertEqual(list(lat), [5.0, 530.0, 520.0, 510.0, 500.0])

    def test_not_from_append_time(self):
        # a producer that ran 100 ms late appended record 0 at 100 ms;
        # its latency still runs from its due time
        lat = measure.latencies_from_due([0.0], [(0, 1, 130.0)])
        self.assertEqual(list(lat), [130.0])

    def test_unconsumed_records_get_no_latency(self):
        lat = measure.latencies_from_due([0.0, 1.0, 2.0], [(0, 2, 10.0)])
        self.assertEqual(len(lat), 2)


class AlertAttribution(unittest.TestCase):
    WM = 60000.0

    def test_first_record_past_deadline_plus_watermark(self):
        events = [0.0, 100000.0, 180000.0, 180001.0, 250000.0]
        # deadline 120000: the watermark passes it once a record with event
        # time > 180000 is seen; 180000 itself does not move it far enough
        idx = measure.alert_triggers(events, [120000.0], self.WM)
        self.assertEqual(list(idx), [3])

    def test_latency_runs_from_the_trigger_records_due_time(self):
        events = [0.0, 100000.0, 180000.0, 180001.0, 250000.0]
        due = [0.0, 2500.0, 4500.0, 4500.025, 6250.0]
        lat = measure.alert_latencies(events, due, [(120000.0, 5300.0)], self.WM)
        self.assertAlmostEqual(float(lat[0]), 5300.0 - 4500.025)

    def test_alerts_fired_by_the_end_sentinel_are_left_out(self):
        events = [0.0, 100000.0]
        lat = measure.alert_latencies(events, [0.0, 1.0], [(120000.0, 9.0)], self.WM)
        self.assertEqual(len(lat), 0)


class BacklogGrowth(unittest.TestCase):
    def test_steady_and_growing(self):
        steady = [(t, 10 + (t % 3)) for t in range(30)]
        growing = [(t, 10 + 100 * t) for t in range(30)]
        self.assertFalse(measure.backlog_grew(steady, slack=50))
        self.assertTrue(measure.backlog_grew(growing, slack=50))


if __name__ == "__main__":
    unittest.main()
