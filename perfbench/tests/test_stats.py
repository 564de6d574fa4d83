"""The benchmark's own arithmetic: tail percentile, span self time and
the DML rewrite ratio."""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import rewrite_ratio, self_times, tail_percentile  # noqa: E402


class TestTailPercentile:
    def test_needs_more_samples_than_the_tail(self):
        assert tail_percentile([1.0] * 10) is None

    def test_hundred_samples_give_p90(self):
        values = [float(v) for v in range(100, 0, -1)]
        assert tail_percentile(values) == (90, 90.0, 100)

    def test_twenty_samples_give_the_median(self):
        values = [float(v) for v in range(1, 21)]
        assert tail_percentile(values) == (50, 10.0, 20)

    def test_every_reported_percentile_keeps_ten_beyond(self):
        for n in range(11, 300):
            p, value, count = tail_percentile([float(v) for v in range(n)])
            assert count == n
            beyond = sum(1 for v in range(n) if v > value)
            assert beyond >= 10
            # one percentile higher would leave fewer than ten beyond
            assert n - math.ceil((p + 1) * n / 100) < 10

    def test_fifteen_samples(self):
        assert tail_percentile([float(v) for v in range(15)]) == (33, 4.0, 15)


def _span(start, end, parent=None):
    return {"start": start, "end": end, "parent": parent}


class TestSelfTimes:
    def test_no_children(self):
        assert self_times([_span(0.0, 2.5)]) == [2.5]

    def test_overlapping_children_count_once(self):
        spans = [
            _span(0.0, 10.0),
            _span(1.0, 4.0, 0),
            _span(3.0, 6.0, 0),
            _span(8.0, 12.0, 0),  # runs past its parent; clipped
        ]
        # covered: [1, 6] and [8, 10] -> 7
        assert self_times(spans) == pytest.approx([3.0, 3.0, 3.0, 4.0])

    def test_only_direct_children_are_subtracted(self):
        spans = [
            _span(0.0, 10.0),
            _span(2.0, 8.0, 0),
            _span(3.0, 5.0, 1),
        ]
        assert self_times(spans) == pytest.approx([4.0, 4.0, 2.0])


class TestRewriteRatio:
    def test_merge_and_delete_rows(self):
        merge = {
            "numTargetRowsCopied": 900, "numTargetRowsInserted": 40,
            "numTargetRowsUpdated": 50, "numTargetRowsMatchedUpdated": 50,
            "numTargetRowsDeleted": 10, "numTargetRowsMatchedDeleted": 10,
            "numTargetFilesRemoved": 3,
        }
        delete = {"numCopiedRows": 300, "numDeletedRows": 100}
        assert rewrite_ratio([merge, delete]) == pytest.approx(1200 / 200)

    def test_clause_split_counts_without_aggregate(self):
        merge = {
            "numTargetRowsCopied": 30,
            "numTargetRowsMatchedUpdated": 5,
            "numTargetRowsNotMatchedBySourceDeleted": 5,
        }
        assert rewrite_ratio([merge]) == pytest.approx(3.0)

    def test_commits_without_row_counts_are_skipped(self):
        assert rewrite_ratio([{"numTargetFilesRemoved": 2}, {}, None]) is None
        assert rewrite_ratio([{"numCopiedRows": 5}, {"numRemovedFiles": 1}]) is None

