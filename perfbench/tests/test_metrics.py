"""Tests of the benchmark's own metric math (no Spark needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.metrics import (  # noqa: E402
    OpLog,
    bytes_per_input_byte,
    quartile_spread,
    self_times,
    tail,
    union_length,
)


class TestTail:
    def test_exactly_ten_beyond(self):
        xs = [float(i) for i in range(1, 21)]  # 20 samples
        t = tail(xs)
        assert t.beyond == 10
        assert t.value == 10.0  # index 9: ten samples (11..20) lie above it
        assert sum(x > t.value for x in xs) == 10
        assert t.percentile == pytest.approx(100 * 9 / 19)

    def test_highest_such_percentile_grows_with_n(self):
        small, large = tail(list(range(21))), tail(list(range(1001)))
        assert small.percentile == pytest.approx(50.0)
        assert large.percentile == pytest.approx(99.0)
        assert large.beyond == 10

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
        assert tail(xs).value == tail(sorted(xs)).value == 1.0

    def test_too_few_samples_reports_the_maximum(self):
        t = tail([0.3, 0.1, 0.2])
        assert (t.value, t.percentile, t.beyond, t.n) == (0.3, 100.0, 0, 3)
        assert tail([float(i) for i in range(10)]).beyond == 0  # ten is not enough
        assert tail([float(i) for i in range(11)]).value == 0.0  # eleven is

    def test_empty_raises(self):
        with pytest.raises(ValueError):
            tail([])


class TestBytesRatio:
    def test_ratio(self):
        assert bytes_per_input_byte(300, 100) == 3.0
        assert bytes_per_input_byte(0, 100) == 0.0

    @pytest.mark.parametrize("written,inp", [(10, 0), (10, -1), (-1, 10)])
    def test_rejects_bad_inputs(self, written, inp):
        with pytest.raises(ValueError):
            bytes_per_input_byte(written, inp)


class TestSelfTime:
    def test_union_merges_overlaps(self):
        assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
        assert union_length([(2, 2), (3, 1)]) == 0
        assert union_length([]) == 0

    def test_leaf_self_time_is_its_duration(self):
        got = self_times([{"id": 1, "parent": None, "start": 0.0, "end": 2.5}])
        assert got == {1: 2.5}

    def test_children_are_subtracted_once_and_clipped(self):
        spans = [
            {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
            {"id": 3, "parent": 1, "start": 3.0, "end": 5.0},  # overlaps 2
            {"id": 4, "parent": 1, "start": 9.0, "end": 12.0},  # runs past the parent
            {"id": 5, "parent": 2, "start": 2.0, "end": 3.0},  # grandchild
        ]
        got = self_times(spans)
        assert got[1] == pytest.approx(10 - (4 + 1))  # [1,5) and [9,10)
        assert got[2] == pytest.approx(3 - 1)  # only its own child counts
        assert got[3] == pytest.approx(2)
        assert got[5] == pytest.approx(1)


class TestOpAccounting:
    def test_failures_count_against_attempts(self):
        log = OpLog()
        for s in (0.1, 0.2, None, 0.3):
            log.record("read", s)
        log.record("write", 1.0)
        log.mark_wrong()
        assert log.attempted == 5
        assert log.raised == 1 and log.wrong == 1 and log.failed == 2
        assert log.failed_frac == pytest.approx(0.4)
        assert log.ok_frac == pytest.approx(0.6)
        assert log.durations == {"read": [0.1, 0.2, 0.3], "write": [1.0]}

    def test_all_ok(self):
        log = OpLog()
        log.record("lookup", 0.5)
        assert (log.failed_frac, log.ok_frac) == (0.0, 1.0)

    def test_nothing_attempted_raises(self):
        with pytest.raises(ValueError):
            _ = OpLog().failed_frac


class TestSpread:
    def test_quartile_spread_matches_statistics_quantiles(self):
        values = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
        import statistics

        q1, _, q3 = statistics.quantiles(values, n=4)
        assert quartile_spread(values) == pytest.approx((q3 - q1) / statistics.median(values))

    def test_zero_median_raises(self):
        with pytest.raises(ValueError):
            quartile_spread([0.0, 0.0, 0.0, 0.0])
