"""Idempotent JDBC upsert sink — the one operator Spark doesn't ship.

Parity targets:

- O14 DataWriter contract (reference connector/SinkConnector.scala:71-117):
  insert/update/delete/batchInsert, all idempotent.
- O15 generic JDBC writer (connector/jdbc/JdbcDataWriter.scala:16-224):
  SQL-string cache, typed binds, transactional batches.
- O16 MySQL upsert dialect (connector/sink/mysql/MySQLSinkConnector.scala:73-115):
  INSERT … ON DUPLICATE KEY UPDATE / DELETE … WHERE pk.
- O17 StarRocks dialect (plain INSERT on a PK table = upsert).
- C24 error handling (error/ErrorHandler.scala:82-372): error-code
  taxonomy → Retryable/NonRetryable/Fatal, exponential backoff with
  jitter capped at 30 s, circuit breaker Closed/Open/HalfOpen.

Execution model: ``apply_batch`` runs inside ``foreachBatch``. The
batch is hash-routed (same-key → same-partition, R1) and LWW-collapsed
through one exchange, and each partition drives one writer with one
connection — the Spark equivalent of the reference's 64-partition ×
serial-apply pipeline.
Failed statements go to a dead-letter list (returned, and optionally
persisted) instead of being silently skipped (improves on the
reference, whose README admits failed events may be dropped).

DB-API drivers (pymysql etc.) are not in this image; the writer takes
any ``connect_fn`` returning a DB-API connection — tests use sqlite3,
production passes a MySQL/StarRocks connector.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from enum import Enum
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xxt_cdc_spark.model.envelope import OP_DELETE
from xxt_cdc_spark.operators.collapse import last_write_wins, order_exprs
from xxt_cdc_spark.operators.routing import route


class ErrorClass(str, Enum):
    RETRYABLE = "RETRYABLE"
    NON_RETRYABLE = "NON_RETRYABLE"
    FATAL = "FATAL"


# MySQL error-code taxonomy (reference error/ErrorHandler.scala:127-167).
_MYSQL_RETRYABLE = {1040, 2006, 2013, 1205, 1213}  # too many conns, gone away, lost conn, lock wait, deadlock
_MYSQL_FATAL = {1045, 1049}  # access denied, unknown database
_MYSQL_NON_RETRYABLE = {1146, 1062, 1054}  # no table, dup entry (non-upsert), bad column


def classify_error(exc: Exception) -> ErrorClass:
    code = None
    if exc.args and isinstance(exc.args[0], int):
        code = exc.args[0]
    if code in _MYSQL_FATAL:
        return ErrorClass.FATAL
    if code in _MYSQL_NON_RETRYABLE:
        return ErrorClass.NON_RETRYABLE
    if code in _MYSQL_RETRYABLE:
        return ErrorClass.RETRYABLE
    msg = str(exc).lower()
    if "locked" in msg or "timeout" in msg or "connection" in msg or "deadlock" in msg:
        return ErrorClass.RETRYABLE
    return ErrorClass.NON_RETRYABLE


@dataclass
class RetryPolicy:
    """Exponential backoff + 10% jitter, capped (reference :284-291)."""

    max_retries: int = 5
    base_delay_s: float = 0.1
    max_delay_s: float = 30.0
    jitter: float = 0.1

    def delay(self, attempt: int) -> float:
        d = min(self.base_delay_s * (2**attempt), self.max_delay_s)
        return d * (1 + self.jitter * random.random())


@dataclass
class CircuitBreaker:
    """Closed → Open after `failure_threshold` consecutive failures;
    Open → HalfOpen after `cooldown_s`; HalfOpen success closes it
    (reference :297-372)."""

    failure_threshold: int = 5
    cooldown_s: float = 10.0
    _failures: int = 0
    _state: str = "CLOSED"
    _opened_at: float = 0.0

    @property
    def state(self) -> str:
        if self._state == "OPEN" and time.monotonic() - self._opened_at >= self.cooldown_s:
            return "HALF_OPEN"
        return self._state

    def allow(self) -> bool:
        return self.state in ("CLOSED", "HALF_OPEN")

    def record_success(self) -> None:
        self._failures = 0
        self._state = "CLOSED"

    def record_failure(self) -> None:
        self._failures += 1
        if self._failures >= self.failure_threshold:
            self._state = "OPEN"
            self._opened_at = time.monotonic()


class CircuitOpen(RuntimeError):
    pass


_DIALECTS = ("mysql", "sqlite", "starrocks")

# the writer's counters, in the order apply results report them
_STAT_KEYS = ("upserts", "deletes", "retries", "failures")

# Per-process connection pool (O20 parity — the reference's Hikari pool
# keeps connections across batches). Spark reuses Python workers across
# tasks (spark.python.worker.reuse), so a pooled connection survives
# from one micro-batch's apply to the next instead of paying connect +
# session-init per batch. Keyed by caller-chosen pool_key (one entry per
# target DB per worker process).
_CONN_POOL: dict[str, object] = {}
import threading as _threading  # noqa: E402

_POOL_LOCK = _threading.Lock()


def pool_stats() -> dict:
    """Pool introspection for the management surface (reference
    EnhancedMetricsCollector's connection-pool stats, M34)."""
    with _POOL_LOCK:
        return {"pooled_connections": len(_CONN_POOL), "pool_keys": sorted(_CONN_POOL)}


# Per-process writer cache for the wide-fanout dispatch (opt-in via
# apply_batch_fanout(cache_writers=...)): at 10k+ tables, constructing a
# fresh JdbcUpsertWriter per table per micro-batch (init + SQL-string
# build + factory closure) measures ~0.2 s/batch — pure overhead when
# the sink config is stable across batches, which is the same
# assumption the connection pool already makes. Keyed by
# (caller namespace, table); only pooled writers (pool_key set) are
# cached, and applied counts are delta-accounted because a reused
# writer's stats are cumulative.
_WRITER_CACHE: dict[tuple[str, str], object] = {}

# Bound on dead letters retained by a CACHED writer: a fresh writer's
# dead_letters die with the batch, but a cached one would accumulate
# forever (r8 ADVICE). Callers that persist dead letters drain the list
# per batch; this cap is the backstop for callers that do not.
_CACHED_DEAD_LETTER_CAP = 10_000


# Module-level cache accessors: the fanout dispatch closure must NOT
# touch _WRITER_CACHE/_POOL_LOCK directly — cloudpickle serializes the
# nested closure by value and a captured _thread.lock is unpicklable;
# these module functions pickle by reference and run against the
# WORKER process's module globals (the per-process cache they guard).
def _writer_cache_get(ns: str, t: str):
    with _POOL_LOCK:
        return _WRITER_CACHE.get((ns, t))


def _writer_cache_put(ns: str, t: str, writer) -> None:
    with _POOL_LOCK:
        _WRITER_CACHE[(ns, t)] = writer


def _writer_cache_evict(ns: str, t: str, writer) -> None:
    with _POOL_LOCK:
        if _WRITER_CACHE.get((ns, t)) is writer:
            del _WRITER_CACHE[(ns, t)]


def _trim_cached_dead_letters(writer, cap: int = _CACHED_DEAD_LETTER_CAP) -> None:
    """Keep only the most recent ``cap`` dead letters on a writer that
    outlives its batch (the per-process writer cache — r8 ADVICE). A
    cached writer is shared cross-thread (two streams, one namespace),
    so the mutation runs under ``_POOL_LOCK`` — the cheap length probe
    stays outside to keep the no-failure hot path lock-free (r9
    ADVICE: an unsynchronized ``del`` could race a concurrent append)."""
    if len(writer.dead_letters) > cap:
        with _POOL_LOCK:
            excess = len(writer.dead_letters) - cap
            if excess > 0:
                del writer.dead_letters[:excess]


# Fingerprint stamp of the target each pooled connection was last
# established for (by pool_key): the writer-cache drift check can only
# protect tables whose writers are cache HITS — a table acquiring its
# connection after the estate repointed (cache miss, or no cache at
# all: the pool outlives batches regardless of cache_writers) would
# still borrow the stale pooled connection. Reconciled at _acquire for
# every writer that carries a ``_target_fingerprint`` (set by the
# TableSink-based dispatch paths from TableSink.fingerprint, with a
# sink_factory.fingerprint fallback).
_POOL_FPS: dict[str, object] = {}

# pool_keys whose pooled connection holds UNCOMMITTED coalesced work,
# as a GENERATION marker (stamped per defer_commit flush from a
# process-wide monotonic sequence, key removed when committed):
# evicting such a connection would silently roll back rows already
# counted as applied, so a fingerprint conflict against a dirty key
# fails LOUDLY instead (micro-batch replays; PK-upsert idempotence
# converges it). The generation — not a plain set — lets commit_pooled
# clear only the work it actually committed: a flush landing between
# its commit and its clear changes the generation, so the stale clear
# is skipped and the new work stays marked. MONOTONIC, never reset
# (r10 review: a per-key counter restarting at 1 after each clear
# could ABA-match an older snapshot and unmark a sibling's
# uncommitted rows).
_POOL_DIRTY: dict[str, int] = {}
_POOL_DIRTY_SEQ = itertools.count(1)

# pool_keys whose DIRTY (counted-but-uncommitted) work was rolled back
# by an eviction that does NOT raise in the owning task — today that is
# the out-of-band ``evict_pooled_connection`` hook and commit_pooled's
# failure eviction of keys OUTSIDE the failing caller's commit set.
# commit_pooled checks this REGARDLESS of re-pooling or generation
# bumps (r11 ADVICE: a writer that re-acquires after a forced evict and
# defers new work would otherwise let commit_pooled find a live
# connection, commit it, and clear the mark — silently reporting the
# rolled-back rows as applied). A tombstone is popped by the first
# commit attempt on its key, which FAILS that batch so it replays; in
# the designed single-stream-per-key case that batch is the loss's
# owner and its replay re-applies the lost rows. The eviction paths
# that raise IN the evicting task (_dispose_stale_connection /
# _evict_stale_target / JdbcUpsertWriter._connection) do not
# tombstone: the raise already fails the owning batch, and a tombstone
# would only add a second spurious replay.
_POOL_LOST: set[str] = set()


def _close_quietly(conn, rollback: bool = False) -> None:
    """Roll back (when asked) and close a connection that is being
    discarded. Driver errors are swallowed: the connection is gone
    either way, and a failing close must not mask the error that led
    here."""
    if rollback:
        try:
            conn.rollback()
        except Exception:  # noqa: BLE001
            pass
    try:
        conn.close()
    except Exception:  # noqa: BLE001
        pass


def _dispose_stale_connection(conn, dirty: bool, prev, fingerprint, pool_key: str) -> None:
    """Roll back (if dirty), close, and — for dirty work — raise the
    loud two-targets error. Shared tail of every fingerprint-driven
    eviction: the rollback+evict keeps the worker unwedged (no orphaned
    open transaction holding target write locks), and the raise fails
    the evicting task so the micro-batch replays instead of silently
    losing rows already counted as applied."""
    _close_quietly(conn, rollback=dirty)
    if dirty:
        raise RuntimeError(
            f"pool_key {pool_key!r} maps to two target fingerprints "
            f"({prev!r} then {fingerprint!r}) while uncommitted coalesced "
            "work is pending on its connection — pool_key must embed the "
            "same target identity as the sink fingerprint (the pending "
            "work was rolled back; this task fails so its counts are "
            "discarded and the micro-batch replays)"
        )


def _evict_stale_target(pool_key: str, old_fingerprint) -> None:
    """Drop the pooled connection ONLY while it still belongs to
    ``old_fingerprint``'s target (stamp match). Used when a
    registration drifts to a fingerprint-LESS one: the rebuilt writer
    carries no fingerprint for the acquire-time reconcile, so the old
    target's connection must go now — but a sibling partition may
    already have re-pooled the NEW estate's connection (unstamped,
    since fingerprint-less writers don't stamp), and popping that
    would discard its deferred rows (r10 review). Dirty work raises,
    like every fingerprint-driven eviction."""
    with _POOL_LOCK:
        conn = _CONN_POOL.get(pool_key)
        if conn is None or _POOL_FPS.get(pool_key) != old_fingerprint:
            return
        dirty = pool_key in _POOL_DIRTY
        del _CONN_POOL[pool_key]
        _POOL_FPS.pop(pool_key, None)
        _POOL_DIRTY.pop(pool_key, None)
    _dispose_stale_connection(conn, dirty, old_fingerprint, None, pool_key)


def _dirty_generation(pool_key: str):
    """Current dirty generation for ``pool_key`` (module-level so
    worker-side closures can read it without capturing _POOL_LOCK —
    cloudpickle serializes nested closures by value and a captured
    _thread.lock is unpicklable)."""
    with _POOL_LOCK:
        return _POOL_DIRTY.get(pool_key)


def _clear_dirty_if_unchanged(pool_key: str, gen) -> None:
    """Remove the dirty mark iff its generation still equals ``gen``
    (a flush that raced the caller's commit bumps it and stays
    marked). Module-level for the same pickling reason as above."""
    with _POOL_LOCK:
        if _POOL_DIRTY.get(pool_key) == gen:
            _POOL_DIRTY.pop(pool_key, None)


def evict_pooled_connection(pool_key: str) -> None:
    """Close and forget ONE pooled connection, UNCONDITIONALLY — no
    fingerprint stamp match, no dirty-work raise. Library/operator
    hook only (e.g. forcing a reconnect after an out-of-band target
    restart); NOT part of any production dispatch path — repoint
    safety lives in the acquire-time fingerprint guard (``_acquire``)
    and, for drift to fingerprint-less registrations, the stamp-
    matched ``_evict_stale_target``. Because this pops without a stamp
    match, a caller racing concurrent writer tasks can discard a
    sibling's freshly re-pooled connection (and roll back its deferred
    rows); the loss is recorded in ``_POOL_LOST``, so the owning
    batch's ``commit_pooled`` fails loudly — even if the key was
    re-pooled and re-dirtied in between — the micro-batch replays, and
    PK-upsert idempotence converges it.

    CONTRACT: at most ONE writer stream may defer work under a given
    ``pool_key`` at a time (the engine's dispatch guarantees this —
    pool_key embeds the target identity and each target belongs to one
    query's sink). The loss tombstone is consumed by the FIRST commit
    touching the key; with two streams sharing a key, a non-owner
    could consume it (one spurious replay) while the loss's owner then
    commits clean and reports its rolled-back rows applied. Keying
    tombstones by owner would need a batch token threaded through
    defer/commit — out of contract for this single-stream design
    (r12 ADVICE)."""
    with _POOL_LOCK:
        conn = _CONN_POOL.pop(pool_key, None)
        _POOL_FPS.pop(pool_key, None)
        # a dirty mark describes deferred rows this close is about to
        # roll back AFTER they were counted. Pop it WITH the connection
        # (marks always describe the live pooled connection — the
        # _acquire adopt heuristic depends on that, r11 ADVICE) and
        # record the loss as a TOMBSTONE instead: commit_pooled raises
        # on it no matter what re-pools under the key or how the
        # generation moves, so the loss can never be silently
        # reported applied by a later commit (r11 ADVICE medium — the
        # old mark-without-connection signal died as soon as a writer
        # re-acquired and deferred new work).
        dirty = _POOL_DIRTY.pop(pool_key, None) is not None
        if dirty:
            # tombstone even on mark-without-connection (an invariant
            # violation by some other path) — fail loud, not silent
            _POOL_LOST.add(pool_key)
    if conn is not None:
        _close_quietly(conn, rollback=dirty)


def close_pooled_connections() -> None:
    """Close and forget every pooled connection in this process (and
    the fanout writer cache riding on the pool's lifetime)."""
    with _POOL_LOCK:
        for conn in _CONN_POOL.values():
            _close_quietly(conn)
        _CONN_POOL.clear()
        _WRITER_CACHE.clear()
        _POOL_FPS.clear()
        _POOL_DIRTY.clear()
        # full teardown clears loss tombstones too: carrying one across
        # a deliberate process-level reset would fail the NEXT run's
        # first commit for a loss that run never saw
        _POOL_LOST.clear()


def commit_pooled(pool_keys) -> None:
    """Commit the pooled connections behind ``pool_keys`` — the commit-
    coalescing barrier (R7) for deferred-commit writers: many tables'
    statements ride one transaction per connection, committed here
    once per partition instead of once per table (measured 3.0 →
    0.14 ms/table on the 1000-table fanout bench — the per-table
    COMMIT was 95% of the apply cost). A connection whose commit fails
    is evicted (it may be wedged mid-transaction) and the error
    propagates so the micro-batch replays — convergence is guaranteed
    by the PK-upsert idempotence, same as every other retry path.

    CONTRACT: one writer stream per ``pool_key`` (see
    ``evict_pooled_connection``). Loss tombstones are one-shot — the
    first commit touching a tombstoned key consumes it and fails so
    the owning batch replays; that attribution is only correct when
    the committing stream IS the key's sole writer (r12 ADVICE)."""
    with _POOL_LOCK:
        by_conn: dict[int, object] = {}
        keys_of: dict[int, list[str]] = {}
        gen_snapshot: dict[str, int | None] = {}
        lost = []
        for k in pool_keys:
            if k in _POOL_LOST:
                # counted rows on this key were rolled back by an
                # eviction that could not signal their owner (forced
                # evict / another caller's commit failure). The
                # tombstone survives re-pooling and generation bumps
                # (r11 ADVICE medium) — pop it and fail THIS batch so
                # it replays; its replay re-applies the lost rows. A
                # dirty mark is popped only when no live connection
                # remains to hold the work it describes: a re-pooled
                # connection's NEW deferred rows stay marked (still
                # uncommitted — the replay re-flushes and commits them).
                _POOL_LOST.discard(k)
                if _CONN_POOL.get(k) is None:
                    _POOL_DIRTY.pop(k, None)
                lost.append(k)
                continue
            conn = _CONN_POOL.get(k)
            if conn is not None:
                by_conn[id(conn)] = conn
                keys_of.setdefault(id(conn), []).append(k)
                gen_snapshot[k] = _POOL_DIRTY.get(k)
            elif k in _POOL_DIRTY:
                # defensive backstop: a dirty mark with no connection
                # and no tombstone is an invariant violation (every
                # eviction path pops the mark with the connection) —
                # still fail the batch rather than report rows applied
                _POOL_DIRTY.pop(k, None)
                lost.append(k)
    if lost:
        raise RuntimeError(
            f"pooled connection(s) for {lost!r} were evicted with "
            "uncommitted coalesced work pending — the rows were rolled "
            "back; failing the batch so it replays"
        )
    for cid, conn in by_conn.items():
        try:
            conn.commit()
        except Exception:
            # evict EVERY pool_key pointing at the failed connection —
            # including keys outside this commit set — evicting just
            # one would leave siblings handing out a closed/wedged
            # handle to later writers (r5 ADVICE item 5)
            committing = set(pool_keys)
            with _POOL_LOCK:
                for key in [k for k, c in _CONN_POOL.items() if c is conn]:
                    del _CONN_POOL[key]
                    _POOL_FPS.pop(key, None)
                    was_dirty = _POOL_DIRTY.pop(key, None) is not None
                    # a dirty key OUTSIDE this commit set belongs to a
                    # caller the raise below cannot reach — tombstone
                    # it so ITS commit_pooled fails loudly instead of
                    # silently reporting the rolled-back rows applied
                    if was_dirty and key not in committing:
                        _POOL_LOST.add(key)
            _close_quietly(conn)
            raise
        # clear THIS connection's dirty marks immediately (a later
        # conn's commit failure must not leave already-committed keys
        # marked), and only if the generation is unchanged — a sibling
        # stream's flush racing between the commit above and this
        # clear bumps the counter and its uncommitted work stays
        # marked (r10 review)
        with _POOL_LOCK:
            for k in keys_of.get(cid, ()):
                if _POOL_DIRTY.get(k) == gen_snapshot.get(k):
                    _POOL_DIRTY.pop(k, None)


class JdbcUpsertWriter:
    """Per-partition idempotent writer. One DB-API connection, cached
    SQL strings, batched executemany, retry + breaker around each batch.
    """

    def __init__(
        self,
        connect_fn: Callable[[], object],
        table: str,
        columns: list[str],
        key_cols: list[str],
        dialect: str = "mysql",
        batch_size: int = 500,
        retry: RetryPolicy | None = None,
        breaker: CircuitBreaker | None = None,
        connection_init: list[str] | None = None,
        pool_key: str | None = None,
        defer_commit: bool = False,
        multi_values: bool = False,
    ) -> None:
        if dialect not in _DIALECTS:
            raise ValueError(f"dialect must be one of {_DIALECTS}")
        # multi_values: render each upsert flush as ONE multi-row
        # INSERT ... VALUES (...),(...) statement instead of DB-API
        # executemany. This is the reference's
        # rewriteBatchedStatements=true posture
        # (its HikariCP config) done engine-side: a remote MySQL/
        # StarRocks target sees ONE round trip per batch_size rows
        # instead of one per row, and even in-process sqlite measures
        # 2.7× (one parse + one VDBE run per chunk). Deletes keep
        # executemany — they are a small fraction of a changefeed and
        # row-value IN lists complicate composite-key dialects.
        self.multi_values = multi_values
        # Bind-parameter budget per multi-VALUES statement: SQLite caps
        # host parameters at SQLITE_MAX_VARIABLE_NUMBER (999 before
        # 3.32, 32766 after) and MySQL at max_allowed_packet. Blowing
        # the cap is NON-retryable, so an uncapped wide-table flush
        # (batch_size rows × len(columns) placeholders) would
        # dead-letter whole chunks on a config-shaped limit. 999 is the
        # floor every supported engine honors; _flush splits multi
        # chunks to at most this many rows per statement.
        self._multi_rows_cap = max(1, 999 // max(1, len(columns)))
        self.connect_fn = connect_fn
        # per-connection tuning statements (O20 parity — the reference's
        # Hikari cachePrepStmts/rewriteBatchedStatements knobs; e.g.
        # sqlite PRAGMAs or MySQL sessionInitStatement)
        self.connection_init = connection_init or []
        # pool_key: borrow/return the connection from the per-process
        # pool instead of connect/close per apply — init statements run
        # once per pooled connection, not once per micro-batch
        self.pool_key = pool_key
        # defer_commit: leave flushed statements uncommitted on the
        # (pooled) connection; the caller commits once per partition via
        # commit_pooled(). Requires a pool_key — a non-pooled connection
        # closes when the apply returns and would silently roll back.
        self.defer_commit = defer_commit
        if defer_commit and pool_key is None:
            raise ValueError("defer_commit requires pool_key (the caller commits the pool)")
        self.table = table
        self.columns = columns
        self.key_cols = key_cols
        self.dialect = dialect
        self.batch_size = batch_size
        self.retry = retry or RetryPolicy()
        self.breaker = breaker or CircuitBreaker()
        self._sql_cache: dict[str, str] = {}  # O15: SQL-string cache
        self.dead_letters: list[tuple[str, tuple, str]] = []
        self.stats = dict.fromkeys(_STAT_KEYS, 0)

    # -- SQL generation (dialect parity with O16/O17) --------------------
    def _upsert_sql(self) -> str:
        return self._multi_upsert_sql(1)

    def _delete_sql(self) -> str:
        if "delete" not in self._sql_cache:
            ph = "%s" if self.dialect == "mysql" else "?"
            where = " AND ".join(f"{k} = {ph}" for k in self.key_cols)
            self._sql_cache["delete"] = f"DELETE FROM {self.table} WHERE {where}"
        return self._sql_cache["delete"]

    def _multi_upsert_sql(self, n_rows: int) -> str:
        """One INSERT with ``n_rows`` VALUES tuples (multi_values
        flushes). Cached per row count — a flush stream produces at
        most a handful of distinct sizes (batch_size + remainders)."""
        key = f"multi:{n_rows}"
        if key not in self._sql_cache:
            cols = ", ".join(self.columns)
            one = "%s" if self.dialect == "mysql" else "?"
            row_ph = "(" + ", ".join([one] * len(self.columns)) + ")"
            ph = ", ".join([row_ph] * n_rows)
            if self.dialect == "mysql":
                updates = ", ".join(
                    f"{c}=VALUES({c})" for c in self.columns if c not in self.key_cols
                )
                sql = f"INSERT INTO {self.table} ({cols}) VALUES {ph} ON DUPLICATE KEY UPDATE {updates}"
            elif self.dialect == "sqlite":
                keys = ", ".join(self.key_cols)
                updates = ", ".join(
                    f"{c}=excluded.{c}" for c in self.columns if c not in self.key_cols
                )
                sql = f"INSERT INTO {self.table} ({cols}) VALUES {ph} ON CONFLICT({keys}) DO UPDATE SET {updates}"
            else:  # starrocks: PK table upserts on plain INSERT
                sql = f"INSERT INTO {self.table} ({cols}) VALUES {ph}"
            self._sql_cache[key] = sql
        return self._sql_cache[key]

    # -- connection acquisition (direct or pooled, O20) -------------------
    def _new_connection(self):
        conn = self.connect_fn()
        if self.connection_init:
            # through a cursor, not conn.execute: only sqlite3 has the
            # Connection.execute shortcut — DB-API MySQL drivers
            # (pymysql/mysqlclient) would crash with AttributeError
            cur = conn.cursor()
            for stmt in self.connection_init:
                cur.execute(stmt)
            cur.close()
        return conn

    def _acquire(self) -> tuple[object, bool]:
        if self.pool_key is None:
            return self._acquire_with_retry(), False
        # repoint guard at the ONE chokepoint every pooled path goes
        # through (r10 review): a writer whose registration carried a
        # target fingerprint (TableSink.fingerprint, set by the
        # dispatch layers as _target_fingerprint) refuses to borrow a
        # pooled connection stamped for a DIFFERENT target — the stale
        # connection is evicted (or, if it holds uncommitted coalesced
        # work, the conflict raises). Raw writer_factory callers carry
        # no fingerprint and rely on the pool_key contract, as ever.
        fp = getattr(self, "_target_fingerprint", None)
        for _ in range(3):
            # fingerprint validation and borrow happen in the SAME lock
            # section (r10 review: a separate check-then-get would let
            # a sibling evict and re-pool a different-target connection
            # between the two)
            stale = None
            with _POOL_LOCK:
                conn = _CONN_POOL.get(self.pool_key)
                if (
                    conn is not None
                    and fp is not None
                    and _POOL_FPS.get(self.pool_key) != fp
                ):
                    prev = _POOL_FPS.get(self.pool_key)
                    dirty = self.pool_key in _POOL_DIRTY
                    if prev is None and dirty:
                        # UNSTAMPED + DIRTY: a fingerprint-less writer
                        # CO-DISPATCHED in this batch deferred rows on
                        # it. Dirty marks always describe the LIVE
                        # pooled connection: every eviction path pops
                        # the mark with the connection under one lock
                        # (the forced-evict hook converts it to a
                        # _POOL_LOST tombstone instead of leaving it —
                        # r11 ADVICE), so this mark cannot be a stale
                        # description of a dead connection and the
                        # pooling writer is a same-batch sibling, not a
                        # pre-repoint leftover. Per the pool_key
                        # contract — the key embeds target identity,
                        # the ONLY protection fingerprint-less writers
                        # ever have — it is the SAME target. Evicting
                        # would roll back counted rows and raise; the
                        # replay repeats the same partition order, so
                        # the batch would crash-loop deterministically
                        # instead of converging (r10 ADVICE). Adopt it;
                        # leave it unstamped (this writer did not
                        # establish it, so it asserts nothing).
                        return conn, True
                    # genuine stamp conflict (two fingerprinted
                    # registrations map different targets onto one
                    # pool_key — dirty raises below), or an UNSTAMPED
                    # IDLE connection from a non-stamping path (unknown
                    # target — conservative eviction costs one
                    # reconnect, never a raise since it is clean)
                    del _CONN_POOL[self.pool_key]
                    _POOL_FPS.pop(self.pool_key, None)
                    _POOL_DIRTY.pop(self.pool_key, None)
                    stale, conn = conn, None
            if stale is not None:
                _dispose_stale_connection(stale, dirty, prev, fp, self.pool_key)
            if conn is not None:
                return conn, True
            # connect OUTSIDE the lock: _acquire_with_retry sleeps its
            # backoff, and holding _POOL_LOCK through that would stall
            # every other writer task's acquire/evict for the full
            # backoff. Double-checked put; the race loser closes its
            # spare connection — but only ADOPTS the winner's
            # connection when the stamp matches its own fingerprint (a
            # conflicting sibling's connection points at a different
            # target — loop so the mismatch is reconciled, not
            # silently written to).
            conn = self._acquire_with_retry()
            with _POOL_LOCK:
                existing = _CONN_POOL.get(self.pool_key)
                if existing is None:
                    _CONN_POOL[self.pool_key] = conn
                    # stamp at POOLING time, same lock: the stamp's
                    # lifetime is the connection's (every pop clears
                    # it), so it can never describe a past connection
                    if fp is not None:
                        _POOL_FPS[self.pool_key] = fp
                    return conn, True
                race_fp = _POOL_FPS.get(self.pool_key)
                adoptable = (
                    fp is None
                    or race_fp == fp
                    # unstamped + dirty: same-batch fingerprint-less
                    # sibling's deferred work — same-target under the
                    # pool_key contract (see the adopt branch above)
                    or (race_fp is None and self.pool_key in _POOL_DIRTY)
                )
            _close_quietly(conn)
            if adoptable:
                return existing, True
        raise RuntimeError(
            f"pool_key {self.pool_key!r} keeps re-pooling connections with a "
            "conflicting target fingerprint under concurrent writers — "
            "pool_key must embed the same target identity as the sink "
            "fingerprint"
        )

    def _acquire_with_retry(self):
        """Connection establishment under the SAME retry policy as batch
        flushes: connect-time failures are where the retryable class
        lives in practice — MySQL 1040 'too many connections' / 2013
        'lost connection' fire on connect, and sqlite returns 'database
        is locked' from connection-init PRAGMAs under writer contention
        (observed in the bench). Non-retryable/fatal errors (bad
        credentials, unknown database) still raise immediately."""
        attempt = 0
        while True:
            try:
                return self._new_connection()
            except Exception as exc:  # noqa: BLE001 — classified below
                cls = classify_error(exc)
                if cls is ErrorClass.RETRYABLE and attempt < self.retry.max_retries:
                    with _POOL_LOCK:  # shared cached writer (see _flush)
                        self.stats["retries"] += 1
                    time.sleep(self.retry.delay(attempt))
                    attempt += 1
                    continue
                raise

    @contextmanager
    def _connection(self):
        """The one connection scope every apply path runs in. A pooled
        connection goes back to the pool, a direct one is closed. A
        connection that saw an unhandled failure may be wedged
        mid-transaction: it is rolled back, closed and never returned
        to the pool."""
        conn, pooled = self._acquire()
        try:
            yield conn
        except BaseException:
            if pooled:
                with _POOL_LOCK:
                    if _CONN_POOL.get(self.pool_key) is conn:
                        del _CONN_POOL[self.pool_key]
                        _POOL_FPS.pop(self.pool_key, None)
                        _POOL_DIRTY.pop(self.pool_key, None)
            _close_quietly(conn, rollback=True)
            raise
        if not pooled:
            _close_quietly(conn)

    # -- batch application -------------------------------------------------
    def _apply_runs(self, conn, runs) -> dict:
        """The one statement loop: flush ``(kind, params)`` runs in
        order, each in chunks of at most ``batch_size``. Every public
        apply path reaches the database through this loop inside
        ``_connection()``."""
        for kind, params in runs:
            for i in range(0, len(params), self.batch_size):
                self._flush(conn, kind, params[i : i + self.batch_size])
        return dict(self.stats)

    def _ordered_runs(self, seq):
        """Group ``(kind, params)`` pairs into runs, in order: a run ends
        when the kind flips or reaches ``batch_size``, so delete/upsert
        interleavings for different keys never reorder. Streams — at
        most one run is held at a time, and each full run is yielded
        (flushed) before the next pair is pulled."""
        for kind, pairs in itertools.groupby(seq, key=lambda kp: kp[0]):
            params = (p for _, p in pairs)
            while run := list(itertools.islice(params, self.batch_size)):
                yield kind, run

    def apply_rows(self, rows) -> dict:
        """Apply an iterator of envelope-ish rows (needs ``op`` plus the
        payload columns) in the order they arrive: a flush happens
        whenever the pending op kind flips, so delete/upsert
        interleavings for different keys never reorder. The strict-order
        reference the Arrow plan (``_block_runs``) is tested against."""
        pairs = (
            ("delete", tuple(r[k] for k in self.key_cols))
            if r["op"] == OP_DELETE
            else ("upsert", tuple(r[c] for c in self.columns))
            for r in rows
        )
        with self._connection() as conn:
            return self._apply_runs(conn, self._ordered_runs(pairs))

    def apply_pdf(self, pdf, collapse_keys: list[str] | None = None) -> dict:
        """Apply one Arrow block (a Table or a RecordBatch; subclasses
        override this method by name, so the parameter keeps its name)
        through ``_block_runs``: the statements, retry/breaker and stats
        of ``apply_rows`` over its rows, without per-row dict work.

        ``collapse_keys``: first keep only the last row of each key
        (rows must already be in position order, which every caller
        guarantees via the sorted plan)."""
        if pdf.num_rows == 0:
            return dict(self.stats)
        if collapse_keys:
            pdf = _as_batch(pdf)
            pdf = pdf.take(_keep_last(_key_codes([pdf.column(k) for k in collapse_keys])))
        with self._connection() as conn:
            return self._apply_runs(conn, self._block_runs(pdf))

    def apply_pdf_stream(self, frames) -> dict:
        """``apply_pdf`` over an ITERATOR of Arrow blocks (the
        mapInArrow block stream): one connection for the whole
        partition, each block applied AS IT ARRIVES, so the Arrow
        transfer overlaps the sink writes (buffering all blocks first
        measured a ~20% bulk-throughput loss: transfer and sqlite
        writes serialized instead of pipelining). Per-key statement
        order is preserved: blocks arrive in partition order."""
        runs = (run for block in frames if block.num_rows for run in self._block_runs(block))
        with self._connection() as conn:
            return self._apply_runs(conn, runs)

    def _block_runs(self, block):
        """Plan one Arrow block as ``(kind, params)`` runs.

        Only statements on the same key must keep their order. A
        statement's wave is how many earlier statements in the block
        have its key, so a wave holds each key at most once and its
        statements commute: the runs are wave 0's deletes, then its
        upserts, then wave 1's, and so on, each in block order. A
        collapsed block is one wave: two runs."""
        import pyarrow.compute as pc

        block = _as_batch(block)
        is_del = pc.fill_null(pc.equal(block.column("op"), OP_DELETE), False)
        run = 2 * _waves(_key_codes([block.column(k) for k in self.key_cols]))
        run += ~is_del.to_numpy(zero_copy_only=False)
        order = np.argsort(run, kind="stable")
        for rows in np.split(order, np.flatnonzero(np.diff(run[order])) + 1):
            kind, names = ("upsert", self.columns) if run[rows[0]] % 2 else ("delete", self.key_cols)
            yield kind, _bind(block if len(rows) == len(run) else block.take(rows), names)

    def apply_param_groups(self, upserts: list[tuple], deletes: list[tuple]) -> dict:
        """Apply pre-projected parameter tuples (upserts shaped like
        ``columns``, deletes like ``key_cols``) as two statement
        groups. ONLY valid for LWW-collapsed input — each key carries
        at most one statement, so delete/upsert group order across
        DISTINCT keys is free. The fanout dispatch loop uses this to
        skip the dict-row round trip of ``apply_rows`` (tuple build
        happens once, in the loop that parsed the row images)."""
        with self._connection() as conn:
            return self._apply_runs(conn, (("delete", deletes), ("upsert", upserts)))

    def apply_ordered_params(self, seq: list[tuple[str, tuple]]) -> dict:
        """Apply pre-projected ``(kind, params)`` tuples IN ORDER,
        flushing on kind flips exactly like ``apply_rows``. This is the
        order-preserving counterpart of ``apply_param_groups`` for
        batches that contain KEYLESS rows: a keyless row can carry
        several statements for the same underlying row, so the
        two-group (deletes-then-upserts) apply would turn an
        insert-then-delete sequence into delete-then-insert and
        resurrect the row (r7 advice)."""
        with self._connection() as conn:
            return self._apply_runs(conn, self._ordered_runs(seq))

    def _flush(self, conn, kind: str, params: list[tuple]) -> None:
        multi = kind == "upsert" and self.multi_values and len(params) > 1
        if multi and len(params) > self._multi_rows_cap:
            # split to the placeholder budget (see __init__) — each
            # sub-chunk keeps its own retry/dead-letter accounting
            for i in range(0, len(params), self._multi_rows_cap):
                self._flush(conn, kind, params[i : i + self._multi_rows_cap])
            return
        if multi:
            sql = self._multi_upsert_sql(len(params))
            flat = [x for p in params for x in p]
        else:
            sql = self._delete_sql() if kind == "delete" else self._upsert_sql()
        attempt = 0
        while True:
            if not self.breaker.allow():
                raise CircuitOpen(f"circuit open after {self.breaker.failure_threshold} failures")
            try:
                cur = conn.cursor()
                if multi:
                    # ONE statement, one round trip for the whole chunk
                    # (rows apply in VALUES order on both MySQL and
                    # sqlite, so uncollapsed same-key runs stay correct)
                    cur.execute(sql, flat)
                else:
                    cur.executemany(sql, params)
                if not self.defer_commit:
                    conn.commit()
                elif self.pool_key is not None:
                    # the pooled connection now holds uncommitted rows
                    # until commit: bump the dirty GENERATION so a
                    # fingerprint conflict refuses to evict it, and so
                    # a concurrent commit_pooled clear that raced this
                    # flush skips the key (generation mismatch)
                    with _POOL_LOCK:
                        _POOL_DIRTY[self.pool_key] = next(_POOL_DIRTY_SEQ)
                self.breaker.record_success()
                # under _POOL_LOCK for the same reason as the failure
                # path below: a CACHED writer is shared across streams
                # in one process, and += on a shared dict entry is a
                # preemptible read-modify-write — unsynchronized, two
                # concurrent flushes can lose an increment and the
                # delta-accounted applied counts drift (r10 ADVICE).
                # One uncontended lock round-trip per FLUSH (not per
                # row) is noise next to the statement round-trip.
                with _POOL_LOCK:
                    self.stats["deletes" if kind == "delete" else "upserts"] += len(
                        params
                    )
                return
            except Exception as exc:
                try:
                    conn.rollback()
                except Exception:
                    pass
                self.breaker.record_failure()
                if self.defer_commit:
                    # the rollback tossed SIBLING tables' uncommitted
                    # statements too — retrying or dead-lettering just
                    # this chunk would commit a torn transaction. Fail
                    # the task; the micro-batch replay re-applies every
                    # table (PK-upsert idempotent).
                    raise
                cls = classify_error(exc)
                if cls is ErrorClass.FATAL:
                    raise
                if cls is ErrorClass.RETRYABLE and attempt < self.retry.max_retries:
                    with _POOL_LOCK:  # shared cached writer (see _flush)
                        self.stats["retries"] += 1
                    time.sleep(self.retry.delay(attempt))
                    attempt += 1
                    continue
                # dead-letter instead of silent skip. The append runs
                # under _POOL_LOCK to pair with the cached-writer trim
                # (_trim_cached_dead_letters): a CACHED writer is shared
                # across streams in one process, so the trim's `del` and
                # this extend must not interleave on anything weaker
                # than the GIL (failure path — the lock costs nothing on
                # the no-failure hot path).
                letters = [(kind, p, repr(exc)) for p in params]
                with _POOL_LOCK:
                    # failures counter under the same lock: += on a
                    # shared dict entry is a preemptible read-modify-
                    # write, same cross-thread exposure as the list
                    self.stats["failures"] += len(params)
                    self.dead_letters.extend(letters)
                return


@dataclass
class TableSink:
    """Per-table sink registration for the multi-table pipeline."""

    writer_factory: Callable[[], "JdbcUpsertWriter"]
    key_cols: list[str]
    schema: object  # pyspark StructType of the table's row image
    # Optional sink-config identity (e.g. the target JDBC URL): when
    # set, a writer cached under ``cache_writers`` records it and any
    # later batch whose registration carries a DIFFERENT fingerprint
    # evicts and rebuilds instead of silently applying to the old
    # target (r8 ADVICE — cache-hit config drift).
    fingerprint: str | None = None


def apply_batch_multi(
    env_df: DataFrame,
    sinks: dict[str, TableSink],
    num_partitions: int = 8,
    fanout_threshold: int = 16,
    coalesce_commits: bool = False,
    cache_writers: str | None = None,
) -> dict[str, int]:
    """foreachBatch body for a MULTI-TABLE envelope stream (the
    reference replicates up to 100k tables through one pipeline).

    Two physical strategies, chosen by how many registered tables the
    batch touches:

    - **per-table** (≤ ``fanout_threshold`` tables): each slice is
      parsed against its table's discovered schema JVM-side
      (``from_json``) and applied through its own ``apply_batch`` —
      best per-row cost, but one Spark job per table.
    - **fanout** (wide table spread): ONE job for the whole batch,
      partitioned by (db, table, key) — job count independent of table
      count, which is what survives the reference's claimed 100k active
      tables (its README.md:516). See ``apply_batch_fanout``.

    Applied counts come from the writers' own stats — no per-table
    ``count()`` actions (round-1 verdict: 2+ jobs × 100k tables per
    micro-batch is a driver-side scale-killer). Tables absent from
    ``sinks`` are skipped (same posture as the T5 filter). Returns
    rows-applied per table. ``cache_writers`` forwards to the fanout
    path (per-table writer reuse across micro-batches — see
    ``apply_batch_fanout``; the per-table path constructs a handful of
    writers per batch, not worth caching).
    """
    from xxt_cdc_spark.operators.normalize import envelope_to_typed

    present = [r["table"] for r in env_df.select("table").distinct().collect()]
    tables = [t for t in present if t in sinks]
    if len(tables) > fanout_threshold:
        return apply_batch_fanout(
            env_df, sinks, num_partitions, coalesce_commits,
            cache_writers=cache_writers,
        )

    applied: dict[str, int] = {}
    for table in tables:
        sink = sinks[table]
        typed_iu = envelope_to_typed(
            env_df.filter(F.col("op") != OP_DELETE), table, sink.schema, "after"
        )
        typed_d = envelope_to_typed(
            env_df.filter(F.col("op") == OP_DELETE), table, sink.schema, "before"
        )
        changes = typed_iu.filter(F.col("op") != OP_DELETE).unionByName(typed_d)
        # stamp the sink's target fingerprint onto each constructed
        # writer so apply_batch's pooled acquires get the same repoint
        # guard as the fanout paths (r10 review: this below-threshold
        # branch shares the cross-batch pool too)
        sink_fp = getattr(sink, "fingerprint", None)
        if sink_fp is not None:
            def factory(_orig=sink.writer_factory, _fp=sink_fp):
                w = _orig()
                w._target_fingerprint = _fp
                return w
        else:
            factory = sink.writer_factory
        stats = apply_batch(
            changes,
            factory,
            sink.key_cols,
            ["pos_file", "pos_offset"],
            num_partitions,
        )
        applied[table] = stats["upserts"] + stats["deletes"]
    return applied


def apply_batch_fanout(
    env_df: DataFrame,
    sinks: dict[str, TableSink] | None = None,
    num_partitions: int = 8,
    coalesce_commits: bool = False,
    sink_factory: Callable[[str], TableSink] | None = None,
    route_cols: list[str] | None = None,
    cache_writers: str | None = None,
) -> dict[str, int]:
    """Wide-table-fan-out apply: ONE Spark job regardless of table count.

    ``route_cols`` overrides the default (db, table, key) routing.
    Pass a coarser key — e.g. a target-shard id derived from the
    table name — to ALIGN partitions with target instances: every
    row of a shard lands in one partition, so each target sees
    exactly ONE writer transaction per batch (no cross-partition
    lock contention on targets that serialize writers). Any
    override must still co-locate each (table, key): a column
    derived from ``table`` alone always qualifies.

    The envelope batch is LWW-collapsed and hash-routed on
    (db, table, key) — same key always lands in the same partition, so
    per-key order survives — then each partition's Arrow blocks dispatch
    to the right table's writer in Python, parsing the JSON row images
    with ``json.loads``. Trade-off vs the per-table path: row images
    are parsed Python-side (values arrive as json scalars; timestamps
    stay ISO strings, which DB drivers accept), in exchange for a job
    count of O(1) instead of O(tables) per micro-batch.

    Dispatch metadata ships to executors in one of two forms:

    - ``sinks``: an explicit per-table registry in the task closure —
      the same bounded registry the reference keeps in every worker.
      Right up to a few thousand tables; beyond that, PICKLING the
      registry dominates the batch (measured: a 100k-entry dict of
      factory closures stalls serialization for minutes).
    - ``sink_factory``: a single table-name → TableSink template —
      O(1) closure size regardless of table count; each partition
      materializes sinks lazily for ONLY the tables it actually
      touches (≤ its row spread). This is the 100k-active-tables
      configuration, and the honest production shape: at that scale
      table metadata is derived (discovery/naming convention), not
      hand-registered per table.

    ``coalesce_commits=True`` turns each partition's apply into ONE
    transaction per pooled connection (R7 commit coalescing at table
    granularity): pooled writers flush without committing and the
    partition commits its pool once at the end. The per-table COMMIT
    is 95% of wide-fanout apply cost (measured: 3.0 → 0.14 ms/table at
    1000 tables), so this is what makes a 100k-active-table batch
    feasible — per-table cost must be microseconds, not milliseconds.
    Writer factories should share one ``pool_key`` per target DB so
    sibling tables ride the same transaction; writers without a
    pool_key keep autocommit semantics. Failure anywhere rolls back
    the whole partition transaction and replays the micro-batch —
    strictly stronger atomicity than the per-table-commit default.

    ``cache_writers`` (a caller-chosen namespace string) reuses each
    table's constructed writer across micro-batches in the worker
    process — at 10k+ tables, fresh per-batch writer construction
    (init + SQL build + factory closure) measures ~0.2 s/batch of pure
    overhead. Same stability assumption as the connection pool; only
    pooled writers are cached, applied counts are delta-accounted, and
    ``close_pooled_connections()`` clears the cache with the pool.
    The namespace MUST be unique per sink CONFIGURATION (embed the
    target identity, e.g. ``f"pipe:{jdbc_url}"``): a cache hit skips
    the factory entirely, so a reused namespace pointing at a
    different target would silently apply to the OLD target. Three
    safety nets back that contract (r8 ADVICE): with explicit
    ``sinks``, every hit re-validates the table is still registered
    with the same key columns and ``TableSink.fingerprint`` (evict +
    rebuild on drift, skip on deregistration); with ``sink_factory``,
    an optional ``sink_factory.fingerprint`` attribute folds into the
    cache key so a config change misses by construction; and cached
    writers cap retained dead letters at ``_CACHED_DEAD_LETTER_CAP``.

    The POOLED CONNECTION gets its own guard at the acquire chokepoint
    (r10): every writer built here carries a ``_target_fingerprint``
    (sink-level, falling back to factory-level), and ``_acquire``
    refuses a pooled connection stamped for a DIFFERENT target — the
    stale connection is evicted and the writer reconnects through its
    own ``connect_fn``, so a repointed estate lands in the new target
    even on cache misses and with ``cache_writers=None``. A conflict against a connection holding
    uncommitted coalesced rows fails loudly instead (the micro-batch
    replays) — that shape means one batch mapped two targets onto one
    ``pool_key``, which violates the pool contract below.

    Pool contract (applies to BOTH registration styles): a writer's
    ``pool_key`` must embed the same target identity as its
    fingerprint (e.g. the JDBC URL). The connection POOL is keyed only
    by ``pool_key``; the fingerprint stamp catches repoints that
    violate this, but only for registrations that CARRY a fingerprint
    — raw ``writer_factory`` callers rely on the contract alone.
    """
    if (sinks is None) == (sink_factory is None):
        raise ValueError("pass exactly one of sinks= or sink_factory=")

    # Fold an optional factory-level config fingerprint into the cache
    # namespace (r8 ADVICE): with ``sink_factory`` the per-hit registry
    # validation used for explicit ``sinks`` is unavailable (calling
    # the factory on every hit would re-pay the construction cost the
    # cache exists to remove), so a ``sink_factory.fingerprint``
    # attribute — when the caller sets one — turns a config change into
    # a cache MISS by key instead of relying on the namespace contract.
    factory_fp = (
        getattr(sink_factory, "fingerprint", None) if sink_factory is not None else None
    )
    cache_ns = cache_writers
    if cache_writers is not None and factory_fp is not None:
        cache_ns = f"{cache_writers}#{factory_fp}"

    # ONE exchange: hash-route + in-partition position sort only. The
    # LWW collapse happens INSIDE the dispatch loop below — rows arrive
    # sorted by (pos_file, pos_offset), so "last write per (table, key)
    # dict entry wins" IS the window's row_number()=1 result, at zero
    # extra shuffle. (A window before the route would re-exchange at
    # spark.sql.shuffle.partitions; a window after it reuses the
    # exchange ONLY while no key column is foldable — a single-table
    # batch with a literal table column silently re-exchanged.)
    routed = route(
        env_df,
        num_partitions,
        route_cols or ["db", "table", "key"],
        ["pos_file", "pos_offset"],
    )

    def _run_blocks(blocks):
        # Dispatch shape (r7, third iteration — every change below
        # measured on the 10k-table fanout bench):
        # 1. ONE concat per partition, then a VECTORIZED LWW
        #    collapse (numpy keep-last per (table, key) code — rows
        #    arrive position-sorted, so the last row kept IS the old
        #    window's row_number()=1). Keyless rows bypass the
        #    collapse untouched.
        # 2. One pass over the SURVIVORS' five dispatch columns builds
        #    the statement param tuples directly — no per-row dict
        #    projection, no dict-of-dicts, no re-iteration in
        #    apply_rows (apply_param_groups consumes the tuples
        #    as-is; group order across keys is free post-collapse).
        # Rejected shapes from earlier rounds still apply: a
        # per-block apply double-counts tables spanning Arrow
        # blocks (writer stats are cumulative), and a per-table
        # groupby pays per-group slicing that HALVES throughput at
        # 10 rows/table.
        import pyarrow as pa
        import pyarrow.compute as pc

        batches = list(blocks)
        if not any(b.num_rows for b in batches):
            return
        block = _as_batch(pa.Table.from_batches(batches))
        keyed = pc.fill_null(pc.not_equal(block.column("key"), ""), False)
        keyless = np.flatnonzero(~keyed.to_numpy(zero_copy_only=False))
        # Tables carrying keyless rows must apply ORDER-PRESERVING:
        # a keyless row can hold several statements for one
        # underlying row, so the two-group apply_param_groups
        # (all deletes, then all upserts) would flip an
        # insert-then-delete into delete-then-insert and resurrect
        # the row (r7 advice). Those tables route through
        # apply_ordered_params (kind-flip flushes in block order);
        # fully-keyed tables keep the cheap two-group path.
        keyless_tables = set(block.column("table").take(keyless).to_pylist())
        codes = _key_codes([block.column("table"), block.column("key")])
        codes[keyless] = len(codes) + np.arange(len(keyless))  # a key of its own: always kept
        block = block.take(_keep_last(codes))
        writers: dict[str, object] = {}
        ups: dict[str, list] = {}
        dels: dict[str, list] = {}
        seq: dict[str, list] = {}
        base: dict[str, int] = {}
        skipped: set[str] = set()
        deferred_keys: set[str] = set()
        for t, op, key, before, after in zip(*(c.to_pylist() for c in block.columns)):
            writer = writers.get(t)
            if writer is None:
                if t in skipped:
                    continue  # unregistered table: skip, as ever
                sink = None
                if cache_writers is not None:
                    writer = _writer_cache_get(cache_ns, t)
                    if writer is not None and sinks is not None:
                        # re-validate every hit against the CURRENT
                        # registry (r8 ADVICE): a table removed from
                        # ``sinks`` must stop applying, and one
                        # re-registered with different key columns
                        # or a different config fingerprint must
                        # evict + rebuild, not reuse the old target.
                        sink = sinks.get(t)
                        if (
                            sink is None
                            or list(sink.key_cols) != list(writer.key_cols)
                            or getattr(sink, "fingerprint", None)
                            != getattr(writer, "_cache_fingerprint", None)
                        ):
                            # evict the WRITER only: the pooled
                            # connection is handled by the rebuilt
                            # writer's acquire-time fingerprint
                            # reconcile (a direct pool evict here
                            # could race a sibling partition that
                            # already re-pooled the NEW target's
                            # connection — r10 review)
                            _writer_cache_evict(cache_ns, t, writer)
                            if (
                                sink is not None
                                and writer.pool_key is not None
                                and getattr(sink, "fingerprint", None) is None
                                and getattr(writer, "_cache_fingerprint", None)
                                is not None
                            ):
                                # drift TO a fingerprint-LESS
                                # registration: the rebuilt writer
                                # will carry no fingerprint, so the
                                # acquire-time reconcile cannot
                                # protect it — drop the OLD
                                # target's connection, stamp-
                                # matched so a sibling's freshly
                                # re-pooled (unstamped) connection
                                # is never popped (r10 review)
                                _evict_stale_target(
                                    writer.pool_key,
                                    getattr(writer, "_cache_fingerprint", None),
                                )
                            writer = None
                            if sink is None:
                                skipped.add(t)
                                continue
                if writer is None:
                    if sink is None:
                        if sinks is not None:
                            if t not in sinks:
                                skipped.add(t)
                                continue
                            sink = sinks[t]
                        else:
                            sink = sink_factory(t)
                    writer = sink.writer_factory()
                    # target identity for the acquire-time pool
                    # reconcile (r10): sink-level fingerprint, with
                    # the factory-level one as fallback so the
                    # sink_factory posture (whose TableSinks often
                    # carry none) is protected too.
                    # CONTRACT (r10 ADVICE): both sources stamp the
                    # same _POOL_FPS namespace, so when sinks that
                    # SHARE a pool_key mix the two (one carries a
                    # sink.fingerprint, a sibling falls back to
                    # factory_fp), the two strings must be EQUAL —
                    # different spellings of one physical target
                    # (e.g. JDBC URL vs config hash) read as a
                    # two-targets conflict at acquire (evict
                    # thrash, or the dirty raise). Single-target
                    # callers should set exactly one of the two;
                    # per-sink-target callers must embed the target
                    # in pool_key anyway, which keeps namespaces
                    # disjoint.
                    sink_fp = getattr(sink, "fingerprint", None)
                    writer._target_fingerprint = (
                        sink_fp if sink_fp is not None else factory_fp
                    )
                    if cache_writers is not None and writer.pool_key is not None:
                        writer._cache_fingerprint = sink_fp
                        _writer_cache_put(cache_ns, t, writer)
                # reconcile per-CALL commit posture on cached AND
                # fresh writers: a writer cached by a coalescing
                # batch must not keep deferring when a later batch
                # runs uncoalesced (its statements would sit
                # uncommitted on the pooled connection — data loss)
                writer.defer_commit = bool(
                    coalesce_commits and writer.pool_key is not None
                )
                if writer.defer_commit:
                    deferred_keys.add(writer.pool_key)
                writers[t] = writer
                # delta-accounted applied counts: a cached writer's
                # stats are cumulative across batches
                base[t] = writer.stats["upserts"] + writer.stats["deletes"]
                ups[t] = []
                dels[t] = []
                if t in keyless_tables:
                    seq[t] = []
            if op == OP_DELETE:
                src = json.loads(key) if key else {}
                if before:
                    src = {**json.loads(before), **src}
                p = tuple(src.get(c) for c in writer.key_cols)
                if t in keyless_tables:
                    seq[t].append(("delete", p))
                else:
                    dels[t].append(p)
            else:
                src = json.loads(after) if after else {}
                p = tuple(src.get(c) for c in writer.columns)
                if t in keyless_tables:
                    seq[t].append(("upsert", p))
                else:
                    ups[t].append(p)
        applied_local: dict[str, int] = {}
        for t, writer in writers.items():
            if t in keyless_tables:
                stats = writer.apply_ordered_params(seq[t])
            else:
                stats = writer.apply_param_groups(ups[t], dels[t])
            applied_local[t] = stats["upserts"] + stats["deletes"] - base[t]
            # a CACHED writer outlives the batch — cap its retained
            # dead letters so failures can't grow memory unbounded
            # across micro-batches (r8 ADVICE); most recent kept.
            # Only writers actually PLACED in the cache (pooled —
            # the _writer_cache_put condition): a fresh unpooled
            # writer dies with the batch and its dead letters belong
            # to the caller (r9 ADVICE).
            if cache_writers is not None and writer.pool_key is not None:
                _trim_cached_dead_letters(writer)
        if deferred_keys:
            commit_pooled(deferred_keys)
        yield pa.RecordBatch.from_pydict(
            {"table": list(applied_local), "applied": list(applied_local.values())},
            schema=pa.schema([("table", pa.string()), ("applied", pa.int64())]),
        )

    applied: dict[str, int] = {}
    # project to the five columns the dispatch reads AFTER the
    # route's in-partition sort: the Arrow transfer drops
    # db/ts/gtid/pos_* (~40% of envelope bytes) and the projection
    # adds no exchange, so partition order survives
    dispatch_cols = routed.select("table", "op", "key", "before", "after")
    for r in dispatch_cols.mapInArrow(_run_blocks, "table string, applied long").collect():
        applied[r["table"]] = applied.get(r["table"], 0) + r["applied"]
    return applied


def _as_batch(block):
    """A block as one RecordBatch: the driver's ``toArrow()`` Table
    combines its chunks; a ``mapInArrow`` batch passes as is."""
    import pyarrow as pa

    return block.combine_chunks().to_batches()[0] if isinstance(block, pa.Table) else block


def _key_codes(arrays) -> np.ndarray:
    """Dense integer codes of the keys the equal-length ``arrays`` form
    row by row: equal keys, equal codes. A null component is one value
    of its own."""
    import pyarrow.compute as pc

    codes = None
    for a in arrays:
        enc = pc.dictionary_encode(a, null_encoding="encode")
        c = enc.indices.to_numpy().astype(np.int64)
        # re-densify each product, so the next one cannot overflow
        codes = c if codes is None else np.unique(codes * len(enc.dictionary) + c, return_inverse=True)[1]
    return codes


def _waves(codes) -> np.ndarray:
    """Each row's wave: how many earlier rows share its key code."""
    order = np.argsort(codes, kind="stable")
    pos = np.arange(len(codes))
    first = np.diff(codes[order], prepend=-1) != 0
    wave = np.empty_like(pos)
    wave[order] = pos - np.maximum.accumulate(np.where(first, pos, 0))
    return wave


def _keep_last(codes) -> np.ndarray:
    """Positions of each key's last row, in block order: the LWW
    collapse of a position-ordered block."""
    return np.flatnonzero(_waves(codes) == np.bincount(codes)[codes] - 1)


def _bind(batch, names) -> list[tuple]:
    """Parameter tuples of ``names`` for every row of ``batch``, equal in
    value and Python type to what ``apply_rows`` binds for the same
    rows. A tz-aware timestamp keeps the wall clock in its own zone
    (the session zone Spark stamps) and drops the zone. A column that
    holds a null binds through ``to_pylist()``, so a null is None and a
    NaN stays NaN; the others take the faster numpy hop, whose
    ``tolist()`` yields the same values and types."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = []
    for name in names:
        c = batch.column(name)
        if pa.types.is_timestamp(c.type) and c.type.tz:
            c = pc.local_timestamp(c)
        if c.null_count:
            cols.append(c.to_pylist())
        else:
            cols.append(c.to_numpy(zero_copy_only=False).tolist())
    return list(zip(*cols))


def _write_dead_letters(writer, dead_letter_dir: str | None) -> None:
    """Persist ``writer``'s dead letters as one JSON-lines file of its
    own (a fresh name per writer, so partitions never share a file)."""
    if not (dead_letter_dir and writer.dead_letters):
        return
    os.makedirs(dead_letter_dir, exist_ok=True)
    path = os.path.join(dead_letter_dir, f"dead-{uuid.uuid4().hex}.jsonl")
    with open(path, "w") as f:
        for kind, params, err in writer.dead_letters:
            f.write(json.dumps({"kind": kind, "params": list(params), "error": err}, default=str) + "\n")


def _route_for_apply(
    batch_df: DataFrame,
    num_partitions: int,
    key_cols: list[str],
    order_cols: list[str],
    collapse: bool,
) -> DataFrame:
    """Hash-route a batch by key through ONE exchange and order each
    partition for its serial writer.

    The route's ``repartition(n, keys)`` places key ``k`` in partition
    ``pmod(murmur3(k), n)`` (``apply_batch_txn``'s ``{pipeline}@{n}``
    gate identity depends on that mapping); the LWW window then runs on
    that partitioning, so Spark plans no second exchange for it.

    ``collapse=False`` sorts each partition by binlog position: every
    event applies, and the writer keeps each key's events in that
    order. After the collapse every key carries exactly one statement,
    so the partition needs no order at all: the writer's plan
    (``_block_runs``) applies each block as one wave, deletes then
    upserts."""
    routed = batch_df.repartition(num_partitions, *key_cols)
    if collapse:
        return last_write_wins(routed, key_cols, order_cols)
    return routed.sortWithinPartitions(*order_exprs(order_cols))


def _apply_partitions(routed: DataFrame, apply_frames, keys=_STAT_KEYS) -> dict:
    """Run ``apply_frames`` once per partition of ``routed`` and sum the
    stats dicts it returns over ``keys``.

    ``apply_frames`` receives the partition's ``mapInArrow`` record
    batches, lazily and in partition order (see ``apply_pdf_stream``).
    The stats come back with the same job: callers get applied counts
    without a ``count()`` action over the batch."""

    def _task(batches):
        import pyarrow as pa

        stats = apply_frames(batches)
        yield pa.RecordBatch.from_pylist([{k: stats[k] for k in keys}])

    parts = routed.mapInArrow(_task, ", ".join(f"{k} long" for k in keys)).collect()
    return {k: sum(p[k] for p in parts) for k in keys}


def apply_batch(
    batch_df: DataFrame,
    writer_factory: Callable[[], JdbcUpsertWriter],
    key_cols: list[str],
    order_cols: list[str] | None = None,
    num_partitions: int | None = 8,
    dead_letter_dir: str | None = None,
    collapse: bool = True,
    arrow: bool = True,
    driver_apply: bool = False,
) -> dict:
    """foreachBatch body (O19 apply-worker parity):

    1. hash-route by key (R1) — the batch's one exchange;
    2. LWW-collapse on that partitioning (R5) — at most one statement
       per key;
    3. without the collapse, sort each partition by position (R4);
    4. one writer per partition applies its slice serially, each Arrow
       block in key waves (``_block_runs``): a collapsed block is two
       statement groups, deletes then upserts, as the reference's
       apply worker groups D/U/I.

    Replays after failure are safe: the sink is a PK-upsert (same
    effectively-once argument as the reference, README.md:526-548).
    With ``dead_letter_dir``, rows the writer could not apply are
    persisted as JSON-lines per partition for replay/inspection —
    improving on the reference, whose failed events could be silently
    skipped (its README.md:731).

    ``collapse=False`` skips the LWW window: the position-sorted
    per-partition writer applies every key's events in order, so the
    converged state is identical — it just executes more statements,
    and flushes up to twice per key wave (a block's largest per-key
    event count) instead of twice per block.
    The right trade for latency-sensitive small batches with few
    per-key repeats (the reference applies every event too); keep
    collapsing for update-heavy replays: on ``perfbench``'s bootstrap
    catchup the two statement groups cut 36,846 flushes to 16
    (SCALING.md "Bulk apply: one exchange, two statement groups,
    Arrow decode").

    Every path ships rows to the writer as Arrow blocks and binds
    parameters straight from them (``_bind``). ``arrow`` selects nothing: it stays for
    callers that pass ``arrow=True``, and ``arrow=False`` (the removed
    pickled-Row executor path) raises ``ValueError``.

    ``num_partitions=None`` skips the hash-route shuffle entirely and
    applies on the SOURCE partitioning (in-partition position sort
    only — zero shuffles per micro-batch). Correct ONLY when the
    transport already co-locates each key in one partition: a
    single-partition micro-batch (e.g. maxFilesPerTrigger=1 small
    files), or — the production case — a Kafka topic keyed by PK, where
    Kafka's partitioner IS the reference's hash router and re-routing
    in Spark would be a redundant shuffle. Requires ``collapse=False``
    (the LWW window would reintroduce the shuffle).

    ``driver_apply=True`` (requires ``num_partitions=None``) collects
    the sorted batch to the driver (Arrow ``toArrow``) and applies it
    through ONE vectorized writer there — no executor Python worker,
    no ``mapInArrow`` dispatch. This is the LATENCY posture for
    transport-aligned small batches: the zero-shuffle plan is already
    effectively one serial writer, so the executor round trip (a
    Python task's fixed cost, ~5 ms executor run time measured; it was
    ~77 ms before the package stopped workers re-reading pyspark.zip,
    SCALING.md "Python task fixed cost") is pure overhead; the reference's
    applier is exactly one JVM-local worker too (its
    pipeline/CDCStreamPipeline.scala mapAsync(1) stage). Row order is
    preserved (collect concatenates partitions in order, each sorted
    by position; co-located keys keep their per-key order). With
    ``collapse=True`` the LWW collapse is a numpy keep-last per key on
    the collected block (O(rows), no shuffle) and the apply is two
    executemany groups; without it, two per key wave. Use the
    distributed path for bulk/throughput batches — a
    driver collect of a multi-million-row batch is the anti-pattern
    everywhere else in this engine.
    """
    if not arrow:
        raise ValueError(
            "apply_batch(arrow=False): the pickled-Row executor path was removed; "
            "every apply ships Arrow blocks"
        )
    order_cols = order_cols or ["pos_file", "pos_offset"]
    if driver_apply and num_partitions is not None:
        raise ValueError(
            "driver_apply requires num_partitions=None (transport-aligned latency posture)"
        )
    if driver_apply:
        # LWW collapse (when asked) happens on the collected block —
        # O(rows) keep-last per key, no shuffle — so the plan below
        # stays sort-only either way
        writer = writer_factory()
        # rotation-safe sort (order_exprs, not raw columns): the LWW
        # collapse below keeps the last row in BLOCK order, so a
        # binlog suffix widening (binlog.999999 → binlog.1000000) under
        # a plain lexicographic sort would keep the pre-rotation row
        # (r7 advice — same hazard route()/last_write_wins already guard)
        sorted_df = batch_df.sortWithinPartitions(*order_exprs(order_cols))
        # toArrow() (public, Spark 4) always collects via Arrow —
        # toPandas() silently falls back to row-at-a-time pickle when
        # spark.sql.execution.arrow.pyspark.enabled=false (measured
        # 920 vs ~190 ms per 7k-row batch)
        stats = writer.apply_pdf(
            sorted_df.toArrow(), collapse_keys=key_cols if collapse else None
        )
        _write_dead_letters(writer, dead_letter_dir)
        return {k: stats[k] for k in _STAT_KEYS}
    if num_partitions is None:
        if collapse:
            raise ValueError("num_partitions=None (transport-aligned apply) requires collapse=False")
        routed = batch_df.sortWithinPartitions(*order_exprs(order_cols))
    else:
        routed = _route_for_apply(batch_df, num_partitions, key_cols, order_cols, collapse)

    def _run(frames):
        writer = writer_factory()
        stats = writer.apply_pdf_stream(frames)
        _write_dead_letters(writer, dead_letter_dir)
        return stats

    return _apply_partitions(routed, _run)


# --- exactly-once for NON-idempotent sinks (transactional offsets) -----------
OFFSETS_TABLE = "__xxt_applied_batches"


def _gate_ph(dialect: str) -> str:
    return "%s" if dialect == "mysql" else "?"


def apply_batch_txn(
    batch_df: DataFrame,
    writer_factory: Callable[[], JdbcUpsertWriter],
    key_cols: list[str],
    batch_id: int,
    pipeline: str = "default",
    order_cols: list[str] | None = None,
    num_partitions: int = 8,
    collapse: bool = False,
) -> dict:
    """``apply_batch`` with EXACTLY-ONCE semantics for sinks whose
    statements are NOT idempotent (append-only tables, increment
    counters, audit logs): the batch position rides in the SAME target
    transaction as the data — the offsets-in-target pattern (Kafka
    Connect JDBC / Flink XA sinks use the same protocol).

    Per partition: (1) the gate row for (pipeline, partition) is read —
    a batch id at or past this one means the partition already applied
    (a foreachBatch REPLAY after a crash between the target commit and
    the streaming checkpoint advance) and is skipped whole; (2) the
    writer applies its slice with ``defer_commit`` — nothing commits;
    (3) the gate row is rewritten to this batch id; (4) ONE commit
    lands data + position atomically. A crash anywhere before (4)
    rolls the whole partition back; a crash after (4) makes the replay
    hit the gate. No idempotence assumption anywhere.

    ``writer_factory`` must produce pooled, defer-commit writers (the
    transaction needs one connection that outlives the apply).
    The gate table is created (and committed) BEFORE the data
    transaction opens — MySQL DDL auto-commits, so in-transaction
    creation would tear the atomicity; pre-create it in production.

    Concurrency: the gate is INSERT-only — PRIMARY KEY (pipeline,
    partition_id, batch_id), one row inserted per applied batch inside
    the data transaction. Two racing attempts for the same partition
    (Spark speculative execution, a zombie task surviving a network
    partition) can BOTH pass the pre-read, but only the first commit's
    INSERT survives; the loser hits the PK conflict and its whole
    transaction (data included) rolls back — the pre-read is a fast-
    skip optimization, never the correctness mechanism. Older rows for
    the partition are pruned in the same transaction, keeping the gate
    at one row per partition.

    Topology: the stored pipeline identity is ``{pipeline}@{num_
    partitions}`` — changing the partition count remaps keys to
    different partition ids, so gates from the old topology must not
    veto the new one. A checkpoint RESET (batch ids restart at 0)
    still requires a new pipeline name or clearing the offsets table:
    the gate cannot distinguish a replay from a reset by design.

    Upgrade: gate rows written by pre-topology-id deployments (keyed
    by the bare pipeline name) still veto replays and are pruned into
    the new format by the first commit — provided the partition count
    did not change across the upgrade (the legacy identity carried no
    topology; if the count changed, drain and clear the gate table).
    """
    order_cols = order_cols or ["pos_file", "pos_offset"]
    # collapse defaults OFF here — the sinks this gate exists for
    # (append-only, counters, audit logs) need EVERY event, and an LWW
    # collapse would silently drop a key's intermediate history; turn
    # it on only for PK-upsert targets riding the gate for its
    # skip-the-replay economics
    routed = _route_for_apply(batch_df, num_partitions, key_cols, order_cols, collapse)

    def _run(frames):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        writer = writer_factory()
        if not (writer.defer_commit and writer.pool_key):
            raise ValueError(
                "apply_batch_txn requires defer_commit + pool_key writers "
                "(one connection must carry data and offsets to one commit)"
            )
        ph = _gate_ph(writer.dialect)
        # num_partitions is part of the stored identity: a topology
        # change remaps keys to different partition ids, and old gates
        # must not veto (or be mistaken for) the new layout's batches
        gate_id = f"{pipeline}@{num_partitions}"
        # the writer's own connection scope: a failure anywhere below
        # rolls back data + gate together and evicts the connection
        with writer._connection() as conn:
            cur = conn.cursor()  # DB-API portable (conn.execute is sqlite-only)
            # gate table: ensured OUTSIDE the data transaction.
            # INSERT-only rows keyed by (pipeline, partition, batch) —
            # the PK is what makes racing committers safe (see docstring)
            cur.execute(
                f"CREATE TABLE IF NOT EXISTS {OFFSETS_TABLE} ("
                "pipeline VARCHAR(128) NOT NULL, partition_id INTEGER NOT NULL, "
                "batch_id INTEGER NOT NULL, PRIMARY KEY (pipeline, partition_id, batch_id))"
            )
            conn.commit()

            # LEGACY rows (pre-topology-id deployments stored the bare
            # pipeline name) must keep vetoing replays after an upgrade
            # — CREATE TABLE IF NOT EXISTS won't migrate them, and
            # ignoring them would replay the last committed batch into
            # exactly the non-idempotent sinks this gate protects. They
            # are honored here and pruned below (in-band migration);
            # the legacy identity carried no partition count, so this
            # assumes the topology is unchanged across the upgrade —
            # if it isn't, drain the stream and clear the gate table.
            cur.execute(
                f"SELECT MAX(batch_id) FROM {OFFSETS_TABLE} WHERE pipeline IN ({ph}, {ph}) "
                f"AND partition_id = {ph}",
                (gate_id, pipeline, pid),
            )
            row = cur.fetchone()
            if row is not None and row[0] is not None and row[0] >= batch_id:
                return {**dict.fromkeys(_STAT_KEYS, 0), "skipped": 1}

            # the slice's statements stay uncommitted (defer_commit);
            # apply_pdf_stream re-borrows this same pooled connection
            stats = writer.apply_pdf_stream(frames)
            # prune superseded gate rows (same txn), then INSERT this
            # batch's row: a racing twin that also passed the pre-read
            # fails HERE on the PK and rolls back its data with it
            cur.execute(
                f"DELETE FROM {OFFSETS_TABLE} WHERE pipeline IN ({ph}, {ph}) "
                f"AND partition_id = {ph} AND batch_id < {ph}",
                (gate_id, pipeline, pid, batch_id),
            )
            cur.execute(
                f"INSERT INTO {OFFSETS_TABLE} (pipeline, partition_id, batch_id) "
                f"VALUES ({ph}, {ph}, {ph})",
                (gate_id, pid, batch_id),
            )
            # (pool_key is guaranteed truthy here — the entry guard
            # raises without defer_commit + pool_key)
            _gen = _dirty_generation(writer.pool_key)
            conn.commit()  # data + position, atomically
            # this commit bypasses commit_pooled, so clear the dirty
            # mark the deferred flushes set — a stale mark would make a
            # later fingerprinted reconcile on this pool_key raise the
            # two-targets error spuriously (r10 review). Generation-
            # checked like commit_pooled: a sibling's flush racing the
            # commit stays marked. Module-level helpers, NOT direct
            # _POOL_LOCK access — this closure cloudpickles by value
            # and a captured lock is unpicklable.
            _clear_dirty_if_unchanged(writer.pool_key, _gen)
            return {**stats, "skipped": 0}

    return _apply_partitions(routed, _run, (*_STAT_KEYS, "skipped"))
