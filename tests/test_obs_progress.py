"""The StreamingQueryListener and the ``recentProgress`` poller fold the
same progress records through ``MetricsSnapshot.record`` and must build
the same snapshot."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark.sql.streaming.listener import QueryProgressEvent, StreamingQueryProgress

from xxt_cdc_spark.obs.metrics import CDCMetricsListener, percentile, snapshot_from_query


def _progress(batch_id: int, rows: int, trigger_ms: int, pos: int) -> dict:
    """A progress record as Spark serializes it; binlog offsets are JSON objects."""
    rates = {"numInputRows": rows, "inputRowsPerSecond": rows * 2.0, "processedRowsPerSecond": rows * 4.0}
    source = {"description": "xxt_binlog", "metrics": {}, **rates}
    for key, p in (("startOffset", pos), ("endOffset", pos + rows), ("latestOffset", pos + rows)):
        source[key] = {"file": "binlog.000001", "pos": p}
    return {
        "id": "8c4e9c3a-3a52-4bb4-9d0c-4f5d0a9c1b01",
        "runId": "0f1d7a2e-5b6c-4d8e-9f01-23456789abcd",
        "name": None,
        "timestamp": f"2026-01-01T00:00:{batch_id:02d}.000Z",
        "batchId": batch_id,
        "batchDuration": trigger_ms,
        "durationMs": {"addBatch": trigger_ms - 20, "walCommit": 8, "triggerExecution": trigger_ms},
        "stateOperators": [],
        "sources": [source],
        "sink": {"description": "NoopTable", "numOutputRows": -1, "metrics": {}},
        **rates,
    }


PROGRESS = [
    _progress(0, 100, 310, 0),
    _progress(1, 40, 120, 100),
    _progress(2, 0, 15, 140),  # counts as a batch, adds no duration
    _progress(3, 7, 95, 140),
]


@pytest.mark.parametrize("spark4_objects", [True, False])
def test_listener_and_poller_build_identical_snapshots(spark4_objects):
    """Spark 4's ``recentProgress`` yields StreamingQueryProgress objects,
    older Sparks plain dicts; the listener gets the object on an event."""
    listener = CDCMetricsListener()
    for j in PROGRESS:
        listener.onQueryProgress(QueryProgressEvent.fromJson({"progress": j}))
    recent = [StreamingQueryProgress.fromJson(j) if spark4_objects else j for j in PROGRESS]
    polled = snapshot_from_query(SimpleNamespace(recentProgress=recent))
    heard, got = listener.snapshot.as_dict(), polled.as_dict()
    for d in (heard, got):
        del d["uptime_s"], d["tps_since_start"]
    assert heard == got
    assert listener.snapshot.batch_durations_ms == polled.batch_durations_ms == [310.0, 120.0, 95.0]
    assert (got["batches"], got["events_ingested"]) == (4, 147)
    assert got["source_positions"][0]["end_offset"] == {"file": "binlog.000001", "pos": 147}


def test_percentile_is_nearest_rank_over_any_order():
    xs = [50.0, 10.0, 40.0, 20.0, 30.0]
    assert [percentile(xs, p) for p in (0.0, 0.5, 0.95)] == [10.0, 30.0, 50.0]
    assert percentile([], 0.5) is None
