"""Latency arithmetic on a synthetic progress list."""

from __future__ import annotations

import math

import pytest

from perfbench import latency


def _progress(batch_id, ts, trigger_ms, start, end, rows=10):
    return {
        "batchId": batch_id,
        "timestamp": ts,
        "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger_ms, "addBatch": trigger_ms - 100},
        # The Python data source reports offsets as Python-repr dicts.
        "sources": [{"startOffset": repr(start) if start else None, "endOffset": repr(end)}],
    }


PROGRESS = [
    _progress(0, "2026-01-01T00:00:00.000Z", 2000, None, {"s": "1000-4"}),
    _progress(1, "2026-01-01T00:00:02.000Z", 1500, {"s": "1000-4"}, {"s": "2500-0"}),
    _progress(2, "2026-01-01T00:00:04.000Z", 900, {"s": "2500-0"}, {"s": "2500-0"}, rows=0),
    _progress(1, "2026-01-01T00:00:02.000Z", 1500, {"s": "1000-4"}, {"s": "2500-0"}),
]
T0 = 1767225600.0  # 2026-01-01T00:00:00Z


def test_parse_offsets_accepts_repr_and_json():
    assert latency.parse_offsets("{'a': '1-2'}") == {"a": "1-2"}
    assert latency.parse_offsets('{"a": "1-2"}') == {"a": "1-2"}
    assert latency.parse_offsets(None) == {}


def test_data_batches_drop_empty_and_repeated_reports():
    batches = latency.data_batches(PROGRESS)
    assert [b.batch_id for b in batches] == [0, 1]
    assert batches[0].start_s == T0
    assert batches[1].commit_end_s == pytest.approx(T0 + 3.5)


def test_batch_membership_follows_offset_ranges():
    idx = latency.BatchIndex(latency.data_batches(PROGRESS))
    assert idx.batch_of("s", "1000-4").batch_id == 0
    assert idx.batch_of("s", "1000-5").batch_id == 1
    assert idx.batch_of("s", "2500-0").batch_id == 1
    assert idx.batch_of("s", "2500-1") is None
    assert idx.batch_of("other", "1-0") is None


def test_event_latency_is_creation_to_commit_end():
    idx = latency.BatchIndex(latency.data_batches(PROGRESS))
    created = [("s", "500-0", T0 - 1.0), ("s", "2000-0", T0 + 1.25), ("s", "9999-0", T0 + 5)]
    lats, missing = latency.event_latencies(idx, created)
    assert lats == pytest.approx([3.0, 2.25])
    assert missing == 1


def test_percentile_interpolates():
    assert latency.percentile([1, 2, 3, 4], 50) == 2.5
    assert latency.percentile([5], 99) == 5
    assert latency.percentile(list(range(101)), 99) == pytest.approx(99)
    assert math.isnan(latency.percentile([], 50))
