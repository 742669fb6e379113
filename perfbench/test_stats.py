"""Fast tests of the benchmark's arithmetic (no Spark session needed).

    python3 -m pytest perfbench/test_stats.py -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import (  # noqa: E402
    percentile,
    samples_beyond,
    self_and_driver_time,
    subtract,
    summarize,
    tail_percentile,
    union,
)


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 50) == 7.0
    assert percentile([3, 1, 2], 50) == 2  # unsorted input


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1], 0)


def test_samples_beyond_counts_strictly_greater_ranks():
    assert samples_beyond(100, 90) == 10
    assert samples_beyond(100, 50) == 50
    assert samples_beyond(21, 50) == 10  # rank 11 of 21


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(100) == 90
    assert tail_percentile(200) == 95
    assert tail_percentile(1000) == 99
    # 21 samples: the median has exactly 10 beyond it, nothing higher does
    assert tail_percentile(21) == 52
    assert samples_beyond(21, 52) == 10
    assert samples_beyond(21, 53) == 9
    # too few samples for even the median
    assert tail_percentile(19) is None
    assert tail_percentile(0) is None


def test_summarize_reports_sample_count():
    s = summarize([float(x) for x in range(1, 101)])
    assert s == {"n": 100, "p50": 50.0, "tail_q": 90, "tail": 90.0}
    small = summarize([1.0, 2.0, 3.0])
    assert small["n"] == 3 and small["p50"] == 2.0
    assert small["tail_q"] is None and small["tail"] is None


def test_union_merges_overlaps_and_drops_empty():
    assert union([(5, 6), (1, 3), (2, 4), (7, 7), (9, 8)]) == [(1, 4), (5, 6)]
    assert union([(0, 1), (1, 2)]) == [(0, 2)]  # touching intervals merge


def test_subtract_cuts_holes():
    assert subtract([(0, 10)], [(2, 3), (5, 7)]) == [(0, 2), (3, 5), (7, 10)]
    assert subtract([(0, 10)], [(-5, 15)]) == []
    assert subtract([(0, 10)], []) == [(0, 10)]
    assert subtract([(0, 10)], [(10, 12), (-3, 0)]) == [(0, 10)]


def test_driver_time_is_wall_minus_union_of_job_intervals():
    # overlapping jobs count once: union of (1,4) and (3,5) is 4 long
    own, driver = self_and_driver_time((0, 10), [], [(1, 4), (3, 5)])
    assert own == 10 and driver == 6


def test_driver_time_clips_jobs_to_the_span():
    # a job that started before the span (listener lag) only counts inside it
    own, driver = self_and_driver_time((10, 20), [], [(8, 12), (19, 25)])
    assert own == 10 and driver == 7


def test_child_spans_are_not_self_time():
    # child span (2, 6) ran its own jobs; the parent's job (7, 8) is the
    # only one charged against the parent's self time
    own, driver = self_and_driver_time((0, 10), [(2, 6)], [(7, 8)])
    assert own == 6 and driver == 5
    # a parent job overlapping a child interval is only charged outside it
    own, driver = self_and_driver_time((0, 10), [(2, 6)], [(5, 9)])
    assert own == 6 and driver == 3


def test_driver_time_without_jobs_is_all_self_time():
    assert self_and_driver_time((0.5, 1.75), [], []) == (1.25, 1.25)

