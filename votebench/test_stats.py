"""Unit tests of the benchmark's pure helpers.

    python3 -m pytest votebench/test_stats.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
from stats import Batch, Span  # noqa: E402


def test_percentile_needs_ten_samples_beyond_it():
    assert stats.percentile(list(range(19)), 50) is None
    assert stats.percentile(list(range(20)), 50) == 9.5
    assert stats.percentile(list(range(199)), 95) is None
    assert stats.percentile([float(v) for v in range(200)], 95) == pytest.approx(189.05)


def test_percentile_interpolates_unsorted_input():
    values = [5.0, 1.0, 3.0, 2.0, 4.0] * 8
    assert stats.percentile(values, 50) == 3.0
    assert stats.percentile(values, 75) == 4.0


@pytest.mark.parametrize("q", [0, 100, -1, 101])
def test_percentile_rejects_edges(q):
    assert stats.percentile(list(range(1000)), q) is None


def _b(batch_id, rows, start=0.0):
    return Batch(batch_id, rows, start, start + 1.0)


def test_one_batch_per_chunk():
    batches = [_b(0, 10), _b(1, 10), _b(2, 10)]
    got = stats.attribute_chunks([10, 10, 10], batches)
    assert [b.batch_id for b in got] == [0, 1, 2]


def test_batch_spanning_several_chunks_and_an_empty_batch():
    # batch 1 is a watermark-only trigger with no rows; batch 2 reads three
    # chunks at once.
    batches = [_b(0, 5), _b(1, 0), _b(2, 15), _b(3, 5)]
    got = stats.attribute_chunks([5, 5, 5, 5, 5], batches)
    assert [b.batch_id for b in got] == [0, 2, 2, 2, 3]


def test_progress_out_of_order_and_chunk_never_read():
    batches = [_b(1, 5), _b(0, 5)]
    got = stats.attribute_chunks([5, 5, 5], batches)
    assert [b.batch_id if b else None for b in got] == [0, 1, None]


def test_error_rate_counts_failed_over_attempted():
    assert stats.error_rate(40, 0) == 0.0
    assert stats.error_rate(40, 2) == 0.05
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)
    with pytest.raises(ValueError):
        stats.error_rate(3, 4)


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(1, "query", 0.0, 10.0, None, "r1"),
        Span(2, "build", 1.0, 4.0, 1, "r1"),
        Span(3, "load", 2.0, 3.0, 2, "r1"),
        Span(4, "collect", 3.5, 8.0, 1, "r1"),  # overlaps build by 0.5
        Span(5, "other", 0.0, 2.0, None, "r2"),
    ]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 7.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(4.5)
    assert st[5] == pytest.approx(2.0)
    by_layer = stats.layer_self_ms(spans)
    assert by_layer["query"] == pytest.approx(3000.0)


def test_self_time_clips_child_outside_parent():
    spans = [Span(1, "p", 0.0, 1.0, None, None), Span(2, "c", 0.5, 3.0, 1, None)]
    assert stats.self_times(spans)[1] == pytest.approx(0.5)


def test_climbing_flags_a_growing_backlog():
    flat = [500.0, 520.0, 480.0] * 7
    assert not stats.climbing(flat, 100.0)
    rising = [400.0 + 60.0 * i for i in range(21)]
    assert stats.climbing(rising, 100.0)
    assert not stats.climbing(rising[:8], 100.0)
