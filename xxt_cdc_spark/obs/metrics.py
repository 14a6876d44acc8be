"""Observability: streaming metrics, health checks.

Parity targets: M32 core metrics (reference metrics/CDCMetrics.scala:13-152
— ingest/apply counts, TPS, error rate, binlog lag), M34 per-table
stats, M35 health checks (health/HealthCheck.scala:13-166 — thresholds
lag > 5 min, error rate > 5%), M36 periodic report.

Implementation: a StreamingQueryListener feeding a driver-side
snapshot — Spark already measures inputRowsPerSecond / batchDuration /
watermark per micro-batch (query.lastProgress), so the listener mostly
relabels those to the reference's metric names. A Prometheus exporter
can consume ``MetricsSnapshot.as_dict()`` 1:1 (M33).
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


def percentile(xs, p: float) -> float | None:
    """Nearest-rank percentile ``p`` (0..1) of ``xs`` in any order;
    None when ``xs`` is empty."""
    if not xs:
        return None
    s = sorted(xs)
    return s[min(len(s) - 1, int(round(p * (len(s) - 1))))]


@dataclass
class MetricsSnapshot:
    events_ingested: int = 0
    events_applied: int = 0
    events_failed: int = 0
    batches: int = 0
    last_batch_duration_ms: float = 0.0
    input_rows_per_second: float = 0.0
    processed_rows_per_second: float = 0.0
    lag_ms: float | None = None
    started_at: float = field(default_factory=time.time)
    per_table: dict[str, int] = field(default_factory=dict)
    batch_durations_ms: list[float] = field(default_factory=list)
    # last observed transport positions per source (S9 for the live
    # stream): description + start/end offsets from the progress JSON
    source_positions: list[dict] = field(default_factory=list)

    def latency_percentiles(self) -> dict[str, float | None]:
        """P50/P95/P99 of micro-batch apply duration — the engine's
        apply-latency figure comparable to BASELINE.md (events enter at
        batch start, are committed at batch end)."""
        xs = self.batch_durations_ms
        return {
            "p50_ms": percentile(xs, 0.50),
            "p95_ms": percentile(xs, 0.95),
            "p99_ms": percentile(xs, 0.99),
        }

    def record(self, progress: dict) -> None:
        """Fold one micro-batch progress record (the progress JSON as a
        dict, or a ``StreamingQueryProgress``, re-read through its
        ``json`` so source offsets stay JSON values rather than their
        ``str()``). Only batches with rows add to ``batch_durations_ms``."""
        if hasattr(progress, "json"):
            progress = json.loads(progress.json)
        rows = int(progress.get("numInputRows") or 0)
        self.batches += 1
        self.events_ingested += rows
        self.events_applied += rows
        self.input_rows_per_second = float(progress.get("inputRowsPerSecond") or 0.0)
        self.processed_rows_per_second = float(progress.get("processedRowsPerSecond") or 0.0)
        dur = float((progress.get("durationMs") or {}).get("triggerExecution", 0.0))
        self.last_batch_duration_ms = dur
        if rows:
            self.batch_durations_ms.append(dur)
        self.source_positions = [
            {
                "description": s.get("description"),
                "start_offset": s.get("startOffset"),
                "end_offset": s.get("endOffset"),
                "latest_offset": s.get("latestOffset"),
            }
            for s in (progress.get("sources") or [])
        ]

    @property
    def uptime_s(self) -> float:
        return time.time() - self.started_at

    @property
    def tps_since_start(self) -> float:
        up = self.uptime_s
        return self.events_applied / up if up > 0 else 0.0

    @property
    def error_rate(self) -> float:
        total = self.events_applied + self.events_failed
        return self.events_failed / total if total else 0.0

    def as_dict(self) -> dict:
        return {
            "events_ingested": self.events_ingested,
            "events_applied": self.events_applied,
            "events_failed": self.events_failed,
            "batches": self.batches,
            "last_batch_duration_ms": self.last_batch_duration_ms,
            "input_rows_per_second": self.input_rows_per_second,
            "processed_rows_per_second": self.processed_rows_per_second,
            "lag_ms": self.lag_ms,
            "tps_since_start": self.tps_since_start,
            "error_rate": self.error_rate,
            "uptime_s": self.uptime_s,
            "per_table": dict(self.per_table),
            "source_positions": list(self.source_positions),
        }


def snapshot_from_query(query) -> MetricsSnapshot:
    """Build a MetricsSnapshot by polling ``query.recentProgress``.

    The safe alternative to CDCMetricsListener for batch-style runs
    (bench, tests): a Python StreamingQueryListener is a py4j *callback*
    — the JVM posts onQueryProgress into a Python-side socket server,
    and if the interpreter is tearing down (or busy) the post raises
    ``py4j.Py4JNetworkException: Connection reset`` inside Spark's
    ListenerBus, poisoning stdout (round-1 BENCH crash). Polling
    recentProgress after ``awaitTermination`` reads the same per-batch
    progress JSON with zero callback machinery.

    Note ``spark.sql.streaming.numRecentProgressUpdates`` (default 100)
    bounds how many batches are retained — raise it for longer runs.
    """
    snap = MetricsSnapshot()
    for p in query.recentProgress:
        snap.record(p)
    return snap


class CDCMetricsListener(StreamingQueryListener):
    """Feeds MetricsSnapshot from micro-batch progress events."""

    def __init__(self) -> None:
        self.snapshot = MetricsSnapshot()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        self.snapshot.started_at = time.time()

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.snapshot.record(event.progress)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass


@dataclass
class HealthCheck:
    """Thresholded health evaluation (M35 parity)."""

    max_lag_ms: float = 5 * 60 * 1000  # lag > 5 min → degraded
    max_error_rate: float = 0.05  # error rate > 5% → degraded
    max_batch_duration_ms: float = 60_000

    def check(self, m: MetricsSnapshot) -> dict:
        problems = []
        if m.lag_ms is not None and m.lag_ms > self.max_lag_ms:
            problems.append(f"lag {m.lag_ms / 1000:.0f}s exceeds {self.max_lag_ms / 1000:.0f}s")
        if m.error_rate > self.max_error_rate:
            problems.append(f"error rate {m.error_rate:.1%} exceeds {self.max_error_rate:.0%}")
        if m.last_batch_duration_ms > self.max_batch_duration_ms:
            problems.append(
                f"batch duration {m.last_batch_duration_ms:.0f}ms exceeds {self.max_batch_duration_ms:.0f}ms"
            )
        status = "HEALTHY" if not problems else "DEGRADED"
        return {"status": status, "problems": problems, "metrics": m.as_dict()}
