"""CDCEngine — lifecycle orchestration: INIT → SNAPSHOT → CATCHUP → STREAMING.

Parity targets:

- C30 lifecycle engine (reference engine/CDCEngine.scala:44-715): the
  phase machine (:136-188), component init order (:296-334), and the
  start-position precedence **highWatermark > lastCommitted >
  (latest | beginning)** (:622-671).
- C27 low-watermark manager / C28 catchup / C29 snapshot-catchup
  coordinator (snapshot/*.scala): the DBLog/Debezium watermark
  algorithm — record low watermark, snapshot, record high watermark,
  replay (low, high], then stream from high. Changes captured between
  the watermarks overlap the snapshot; correctness relies on the
  idempotent PK-upsert sink (reference README.md:389-434).

The driver-side orchestration is deliberately thin: Spark does the
heavy lifting (partitioned snapshot scan, bounded replay, checkpointed
stream). The "binlog" abstraction is any position-ordered envelope
DataFrame source; tests use the derived changefeed, production uses
Kafka/Debezium or a JDBC poller.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xxt_cdc_spark.model.states import CDCState


@dataclass
class WatermarkStore:
    """Low/high watermark persistence (C27 parity, minus the actor
    machinery): a JSON file per snapshot id under the checkpoint dir.
    The reference keeps these in a `cdc_low_watermarks` table; a JDBC
    mirror can be layered on the same interface."""

    directory: str

    def _path(self, snapshot_id: str) -> str:
        return os.path.join(self.directory, f"watermark_{snapshot_id}.json")

    def save(self, snapshot_id: str, low, high, status: str) -> None:
        """``low``/``high`` are scalar offsets, (file, offset) pairs, or
        ``BinlogPosition`` instances; JSON stores pairs as 2-lists and
        positions in ``as_string`` form (normalized back on load)."""
        from xxt_cdc_spark.model.positions import BinlogPosition

        low = low.as_string() if isinstance(low, BinlogPosition) else low
        high = high.as_string() if isinstance(high, BinlogPosition) else high
        os.makedirs(self.directory, exist_ok=True)
        tmp = self._path(snapshot_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"snapshot_id": snapshot_id, "low": low, "high": high, "status": status}, f)
        os.replace(tmp, self._path(snapshot_id))  # atomic (FileOffsetStore parity)

    def load(self, snapshot_id: str) -> dict | None:
        try:
            with open(self._path(snapshot_id)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None


@dataclass
class CDCEngine:
    """Drives one source → sink replication task.

    Pluggable pieces:
    - ``snapshot_source()``: DataFrame of the current source table
      (production: partitioned spark.read.jdbc — S5/S6).
    - ``changelog(lo, hi)``: envelope-shaped DataFrame of changes with
      pos_offset in (lo, hi]; hi=None means unbounded tail.
    - ``current_position()``: the source's latest binlog position
      (production: SHOW MASTER STATUS via JDBC — S9).
    - ``apply_fn(df)``: idempotent sink application (sinks.apply_batch
      or a parquet-state merge).
    """

    spark: SparkSession
    snapshot_source: Callable[[], DataFrame]
    changelog: Callable[[int, int | None], DataFrame]
    current_position: Callable[[], int]
    apply_fn: Callable[[DataFrame], None]
    checkpoint_dir: str
    snapshot_id: str = "snap-0"
    state: CDCState = CDCState.INIT
    history: list[str] = field(default_factory=list)

    def _to(self, s: CDCState) -> None:
        self.state = self.state.transition(s)
        self.history.append(s.value)

    # -- phases (reference CDCEngine.scala:151-163) -----------------------
    def start(self, enable_snapshot: bool = True, stream: bool = False) -> dict:
        stats: dict = {"phases": []}
        store = WatermarkStore(self.checkpoint_dir)
        if enable_snapshot:
            self._to(CDCState.SNAPSHOT)
            t0 = time.monotonic()
            low = self.current_position()  # low watermark (S9)
            store.save(self.snapshot_id, low, None, "ACTIVE")
            self.apply_fn(self.snapshot_source())  # bulk idempotent write (S5/O18)
            high = self.current_position()  # high watermark
            store.save(self.snapshot_id, low, high, "SNAPSHOT_DONE")
            stats["phases"].append({"phase": "SNAPSHOT", "low": low, "high": high, "sec": time.monotonic() - t0})

            self._to(CDCState.CATCHUP)
            t0 = time.monotonic()
            if self._pos_advanced(low, high):
                # bounded replay (low, high] filtered like the reference's
                # takeWhile(pos < high) cut (T8/C28)
                delta = self.changelog(low, high)
                self.apply_fn(delta)
            store.save(self.snapshot_id, low, high, "COMPLETED")
            stats["phases"].append({"phase": "CATCHUP", "low": low, "high": high, "sec": time.monotonic() - t0})
            start_pos = high
        else:
            start_pos = self.resume_position()

        self._to(CDCState.STREAMING)
        stats["start_position"] = start_pos
        if stream:
            tail = self.changelog(start_pos, None)
            self.apply_fn(tail)
            stats["phases"].append({"phase": "STREAMING"})
        return stats

    def start_streaming_query(
        self,
        source,
        apply_fn,
        table_filter=None,
        trigger_interval: str = "1 second",
        available_now: bool = False,
    ):
        """Attach the unbounded streaming tail after snapshot/catchup
        (C30's STREAMING phase as a real checkpointed query).

        ``source`` is an envelope readStream DataFrame (file or Kafka);
        the stale-position gate drops anything at or below the resume
        position across restarts, so overlap between catchup and the
        stream start is absorbed even for non-idempotent sinks.
        """
        from xxt_cdc_spark.model.positions import position_after
        from xxt_cdc_spark.streaming.pipeline import CDCStreamPipeline

        if self.state is not CDCState.STREAMING:
            self._to(CDCState.STREAMING)
        start_pos = self.resume_position()
        # composite (pos_file, pos_offset) gate: offsets reset on binlog
        # rotation, so a scalar offset compare would drop fresh events
        bounded = source.filter(position_after(start_pos))
        pipe = CDCStreamPipeline(
            spark=self.spark,
            source=bounded,
            apply_fn=apply_fn,
            checkpoint_dir=os.path.join(self.checkpoint_dir, "stream"),
            table_filter=table_filter,
            trigger_interval=trigger_interval,
        )
        return pipe.start(available_now=available_now)

    def resume_position(self):
        """Start-position precedence: the snapshot watermark, read by
        its stored status > last committed (checkpoint) > latest.

        This departs from the reference (CDCEngine.scala:629-641),
        which resumes from the high watermark whenever one is stored
        and otherwise ignores the snapshot's status:

        - ``COMPLETED`` resumes from ``high``, as the reference does;
        - ``SNAPSHOT_DONE`` (the catchup never finished) resumes from
          ``low``, so the catchup (low, high] replays — the PK upsert is
          idempotent, so the overlap with what did apply is harmless;
        - ``ACTIVE`` (the snapshot never finished) raises: streaming
          from any position would leave the target half-loaded.

        Positions may be scalar offsets (single-file / synthetic
        sources) or composite (pos_file, pos_offset) pairs — JSON
        round-trips the pair as a list, normalized back to a tuple here
        so ``position_after`` applies the rotation-safe ordering."""
        wm = WatermarkStore(self.checkpoint_dir).load(self.snapshot_id) or {}
        if wm.get("status") == "ACTIVE":
            raise RuntimeError(
                f"snapshot {self.snapshot_id!r} is half-loaded (watermark status ACTIVE, "
                f"low {wm.get('low')!r}): re-run it with start(enable_snapshot=True) "
                "instead of resuming the stream"
            )
        if wm.get("status") == "SNAPSHOT_DONE":
            return self._norm_pos(wm["low"])
        if wm.get("high") is not None:
            return self._norm_pos(wm["high"])
        commit = self._last_committed()
        if commit is not None:
            return commit
        return self.current_position()

    @staticmethod
    def _norm_pos(pos):
        """JSON → position: 2-lists become (file, offset) tuples and
        ``gtid:<set>`` / ``file:<name>:<off>`` strings become their
        BinlogPosition types, so GTID-mode positions round-trip through
        resume exactly like file positions (reference
        MySQLBinlogReader.scala:127-131 GTID-mode start)."""
        from xxt_cdc_spark.model.positions import BinlogPosition

        if isinstance(pos, list):
            return tuple(pos)
        if isinstance(pos, str) and (pos.startswith("gtid:") or pos.startswith("file:")):
            return BinlogPosition.parse(pos)
        return pos

    @staticmethod
    def _pos_advanced(low, high) -> bool:
        """True when changes may exist in (low, high]. GTID sets use
        real containment (high ⊃ low ⇒ advanced); incomparable sets
        (divergent histories) replay conservatively."""
        from xxt_cdc_spark.model.gtid import GTIDSet
        from xxt_cdc_spark.model.positions import GTIDPosition

        if isinstance(low, GTIDPosition) and isinstance(high, GTIDPosition):
            cmp = GTIDSet.parse(high.gtid_set).compare(GTIDSet.parse(low.gtid_set))
            return cmp is None or cmp > 0
        return high > low

    def _last_committed(self):
        path = os.path.join(self.checkpoint_dir, "commits.json")
        try:
            with open(path) as f:
                return self._norm_pos(json.load(f)["position"])
        except FileNotFoundError:
            return None

    def commit_position(self, position) -> None:
        """Optional JDBC-offset-mirror-style commit (C23 parity); the
        streaming path's real offsets live in the Spark checkpoint.
        Accepts scalar offsets, (file, offset) pairs, and
        ``BinlogPosition`` instances (GTID or file) — the latter are
        stored in their ``as_string`` form and re-parsed on load."""
        from xxt_cdc_spark.model.positions import BinlogPosition

        if isinstance(position, BinlogPosition):
            position = position.as_string()
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        tmp = os.path.join(self.checkpoint_dir, "commits.json.tmp")
        with open(tmp, "w") as f:
            json.dump({"position": position}, f)
        os.replace(tmp, os.path.join(self.checkpoint_dir, "commits.json"))
