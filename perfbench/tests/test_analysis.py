"""Tests of the benchmark's own arithmetic: percentiles, self time, driver
gap and job attribution.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import analysis  # noqa: E402
from analysis import Attribution, percentile, union_length  # noqa: E402


def span(sid, name, t0, t1, parent=0, req="r"):
    return dict(ev="span", id=sid, parent=parent, name=name, req=req,
                t0=t0, t1=t1)


def job(jid, t0, t1, stages, span_id="", batch="", query=""):
    return [dict(ev="job_start", job=jid, t=t0, stages=stages,
                 span=str(span_id) if span_id else "", batch=batch,
                 query=query),
            dict(ev="job_end", job=jid, t=t1)]


def stage(sid, t0, t1, run_ms, tasks=4, attempt=0):
    return dict(ev="stage", stage=sid, attempt=attempt, t0=t0, t1=t1,
                tasks=tasks, run_ms=run_ms, shuffle_read=0, shuffle_write=0,
                spill=0)


class PercentileTest(unittest.TestCase):
    def test_median_needs_ten_samples_above_it(self):
        self.assertEqual(percentile(range(1, 21), 0.5), 10.5)
        with self.assertRaises(analysis.TooFewSamples):
            percentile(range(1, 20), 0.5)

    def test_p90_needs_a_hundred_samples(self):
        self.assertAlmostEqual(percentile(range(100), 0.9), 89.1)
        with self.assertRaises(analysis.TooFewSamples):
            percentile(range(99), 0.9)

    def test_empty_is_refused(self):
        with self.assertRaises(analysis.TooFewSamples):
            percentile([], 0.5)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10] * 2
        self.assertEqual(percentile(xs, 0.5), percentile(sorted(xs), 0.5))


class UnionTest(unittest.TestCase):
    def test_overlaps_are_counted_once(self):
        self.assertEqual(union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_clipping(self):
        self.assertEqual(union_length([(0, 10), (5, 15)], 2, 12), 10)

    def test_empty(self):
        self.assertEqual(union_length([]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_nested_children(self):
        # parent 0..100; child 10..40 with a grandchild 20..30; child 50..60
        a = Attribution([span(1, "p", 0, 100), span(2, "c", 10, 40, 1),
                         span(3, "g", 20, 30, 2), span(4, "c", 50, 60, 1)])
        self.assertEqual(a.stats(1)["self_ms"], 60)
        self.assertEqual(a.stats(2)["self_ms"], 20)
        self.assertEqual(a.stats(3)["self_ms"], 10)

    def test_overlapping_children(self):
        # two children on other threads overlap 30..40; one runs past the
        # parent's end and is clipped
        a = Attribution([span(1, "p", 0, 100), span(2, "c", 20, 40, 1),
                         span(3, "c", 30, 50, 1), span(4, "c", 90, 120, 1)])
        self.assertEqual(a.stats(1)["self_ms"], 100 - 30 - 10)


class AttributionTest(unittest.TestCase):
    def test_concurrent_jobs_in_one_span(self):
        # two overlapped jobs of one span (a store add that writes postings
        # while it expands pairs); job 1 finishes after job 2 started, so a
        # "most recent open job" rule would hand stage 10 to job 2
        ev = [span(1, "add", 0, 100)]
        ev += job(1, 10, 80, [10, 11], 1) + job(2, 20, 60, [12], 1)
        ev += [stage(10, 10, 70, 200), stage(11, 70, 80, 40),
               stage(12, 20, 60, 100)]
        a = Attribution(ev)
        self.assertEqual(sorted(s["stage"] for s in a.job_stages[1]), [10, 11])
        self.assertEqual([s["stage"] for s in a.job_stages[2]], [12])
        st = a.stats(1)
        self.assertEqual(st["jobs"], 2)
        self.assertEqual(st["task_ms"], 340)
        self.assertEqual(st["driver_gap_ms"], 100 - 70)

    def test_concurrent_jobs_in_sibling_spans(self):
        # sibling spans on two threads overlap in time; each job belongs to
        # the span whose id it carries, not to whichever span is open
        ev = [span(1, "root", 0, 100), span(2, "a", 10, 60, 1),
              span(3, "b", 20, 90, 1)]
        ev += job(1, 25, 55, [1], 2) + job(2, 30, 85, [2], 3)
        ev += [stage(1, 25, 55, 50), stage(2, 30, 85, 70)]
        a = Attribution(ev)
        self.assertEqual(a.stats(2)["jobs"], 1)
        self.assertEqual(a.stats(2)["task_ms"], 50)
        self.assertEqual(a.stats(3)["task_ms"], 70)
        self.assertEqual(a.stats(2)["driver_gap_ms"], 50 - 30)
        self.assertEqual(a.stats(3)["driver_gap_ms"], 70 - 55)
        root = a.stats(1)
        self.assertEqual(root["jobs"], 2)
        self.assertEqual(root["driver_gap_ms"], 100 - (85 - 25))

    def test_shared_stage_goes_to_the_job_that_ran_it(self):
        # job 2 lists job 1's shuffle stage 5 but skips it (it already ran)
        ev = [span(1, "q", 0, 100)]
        ev += job(1, 0, 40, [5, 6], 1) + job(2, 50, 90, [5, 7], 1)
        ev += [stage(5, 0, 30, 10), stage(6, 30, 40, 10), stage(7, 50, 90, 10)]
        a = Attribution(ev)
        self.assertEqual(sorted(s["stage"] for s in a.job_stages[1]), [5, 6])
        self.assertEqual([s["stage"] for s in a.job_stages[2]], [7])

    def test_jobs_without_a_span_stay_unattributed(self):
        ev = [span(1, "q", 0, 100)] + job(1, 10, 20, [1])
        ev += [stage(1, 10, 20, 5)]
        self.assertEqual(Attribution(ev).stats(1)["jobs"], 0)


if __name__ == "__main__":
    unittest.main()
