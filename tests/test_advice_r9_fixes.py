"""Regression tests for the round-9 ADVICE items.

1. (medium) sinks/upsert.py fingerprint-drift eviction: rebuilding the
   writer is not enough when the caller reuses the same ``pool_key``
   for a re-pointed target — the POOLED CONNECTION must be evicted too,
   or the rebuilt writer silently keeps writing to the old target. The
   r8 test masked this by embedding the DB path in pool_key; here the
   pool_key is deliberately SHARED across the two targets.
2. (low) _trim_cached_dead_letters: mutation is _POOL_LOCK-guarded
   (cached writers are shared cross-thread) and the dispatch trims only
   writers actually placed in the cache (pool_key is not None).
"""

import sqlite3
import threading

import pytest
from pyspark.sql import functions as F

from xxt_cdc_spark.sinks.upsert import (
    _CONN_POOL,
    TableSink,
    _trim_cached_dead_letters,
    apply_batch_fanout,
    close_pooled_connections,
    evict_pooled_connection,
)


def _env(spark, n_events: int, n_tables: int):
    return spark.range(n_events).select(
        F.lit("d").alias("db"),
        F.concat(F.lit("t"), (F.col("id") % n_tables)).alias("table"),
        F.lit("I").alias("op"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit("binlog.000001").alias("pos_file"),
        F.col("id").alias("pos_offset"),
        F.lit(None).cast("string").alias("gtid"),
        F.to_json(F.struct(F.floor(F.col("id") / n_tables).alias("k"))).alias("key"),
        F.lit(None).cast("string").alias("before"),
        F.to_json(
            F.struct(F.floor(F.col("id") / n_tables).alias("k"), F.col("id").alias("v"))
        ).alias("after"),
    )


def _mk_db(path: str, n_tables: int) -> None:
    con = sqlite3.connect(path)
    for i in range(n_tables):
        con.execute(f"CREATE TABLE t{i} (k INTEGER PRIMARY KEY, v INTEGER)")
    con.commit()
    con.close()


def _sink_shared_pool(
    db: str, table: str, fingerprint: str | None, pool_key: str = "r9adv:shared"
) -> TableSink:
    """Sink whose pool_key does NOT embed the target — the contract
    violation the fingerprint safety net must now survive."""

    def make():
        import sqlite3 as _sq

        from xxt_cdc_spark.sinks.upsert import JdbcUpsertWriter as _W

        return _W(
            connect_fn=lambda: _sq.connect(db, timeout=60),
            table=table,
            columns=["k", "v"],
            key_cols=["k"],
            dialect="sqlite",
            pool_key=pool_key,  # deliberately target-agnostic
        )

    return TableSink(make, ["k"], None, fingerprint=fingerprint)


class TestFingerprintDriftEvictsPooledConnection:
    def test_repoint_with_shared_pool_key_lands_in_new_target(self, spark, tmp_path):
        """Batch 1 applies to db_a; the registration is then re-pointed
        at db_b with a new fingerprint but the SAME pool_key. Pre-fix,
        the rebuilt writer borrowed db_a's pooled connection and every
        batch-2 row landed in the OLD target."""
        n_tables = 2
        db_a = str(tmp_path / "a.db")
        db_b = str(tmp_path / "b.db")
        _mk_db(db_a, n_tables)
        _mk_db(db_b, n_tables)
        env = _env(spark, 200, n_tables)
        ns = "r9-repoint"
        try:
            sinks_a = {
                f"t{i}": _sink_shared_pool(db_a, f"t{i}", fingerprint=db_a)
                for i in range(n_tables)
            }
            apply_batch_fanout(
                env, sinks_a, num_partitions=2, coalesce_commits=True, cache_writers=ns
            )
            sinks_b = {
                f"t{i}": _sink_shared_pool(db_b, f"t{i}", fingerprint=db_b)
                for i in range(n_tables)
            }
            applied = apply_batch_fanout(
                env, sinks_b, num_partitions=2, coalesce_commits=True, cache_writers=ns
            )
            assert sum(applied.values()) == 200
        finally:
            close_pooled_connections()
        con = sqlite3.connect(db_b)
        n_b = sum(
            con.execute(f"SELECT COUNT(*) FROM t{i}").fetchone()[0]
            for i in range(n_tables)
        )
        con.close()
        assert n_b == 200, f"rows must land in the NEW target, got {n_b} in db_b"

    def test_evict_pooled_connection_unit(self):
        """evict_pooled_connection closes + removes exactly its key and
        is a no-op for absent keys."""

        class FakeConn:
            closed = False

            def close(self):
                self.closed = True

        keep, drop = FakeConn(), FakeConn()
        _CONN_POOL["r9:keep"] = keep
        _CONN_POOL["r9:drop"] = drop
        try:
            evict_pooled_connection("r9:drop")
            evict_pooled_connection("r9:absent")  # no-op, no raise
            assert drop.closed and not keep.closed
            assert "r9:drop" not in _CONN_POOL and "r9:keep" in _CONN_POOL
        finally:
            _CONN_POOL.pop("r9:keep", None)
            _CONN_POOL.pop("r9:drop", None)


class _FakeWriter:
    def __init__(self, n: int):
        self.dead_letters = [("upsert", (i,), "boom") for i in range(n)]


class TestDeadLetterTrim:
    def test_trims_to_cap_keeping_most_recent(self):
        w = _FakeWriter(25)
        _trim_cached_dead_letters(w, cap=10)
        assert len(w.dead_letters) == 10
        assert w.dead_letters[0][1] == (15,) and w.dead_letters[-1][1] == (24,)

    def test_noop_at_or_below_cap(self):
        w = _FakeWriter(10)
        _trim_cached_dead_letters(w, cap=10)
        assert len(w.dead_letters) == 10

    def test_concurrent_append_and_trim_never_lose_recent(self):
        """The lock-guarded trim must tolerate a concurrent appender
        (cached writers are shared across streams in one process): no
        exception, and the newest letters always survive."""
        from xxt_cdc_spark.sinks.upsert import _POOL_LOCK

        w = _FakeWriter(0)
        stop = threading.Event()
        errs: list[Exception] = []

        def appender():
            i = 0
            try:
                while not stop.is_set():
                    with _POOL_LOCK:
                        w.dead_letters.append(("upsert", (i,), "x"))
                    i += 1
            except Exception as exc:  # noqa: BLE001
                errs.append(exc)

        def trimmer():
            try:
                for _ in range(2000):
                    _trim_cached_dead_letters(w, cap=50)
            except Exception as exc:  # noqa: BLE001
                errs.append(exc)

        ta = threading.Thread(target=appender)
        tb = threading.Thread(target=trimmer)
        ta.start()
        tb.start()
        tb.join()
        stop.set()
        ta.join()
        assert not errs
        # after the final trim + any trailing appends, the list tail is
        # still the most recent contiguous run
        tail = [p[1][0] for p in w.dead_letters[-10:]]
        assert tail == sorted(tail)


class TestWriterCacheLifecycleProperty:
    def test_random_repoint_deregister_sequences_land_correctly(self, spark, tmp_path):
        """Seeded-random lifecycle sweep over the hostile posture (one
        SHARED target-agnostic pool_key + a persistent cache namespace):
        across 5 batches the WHOLE estate repoints together between
        batches (a batch's registered sinks must share a target when
        they share a pool_key — the documented pool contract), while
        each table is independently registered or deregistered per
        batch. Invariants after every batch: applied counts cover
        exactly the registered tables, each registered table's CURRENT
        target holds exactly this batch's values, and stale targets
        keep the values of the last batch that pointed there (no
        cross-target bleed through the pooled connection — the r9
        ADVICE medium, generalized across a random repoint history)."""
        import random as _random

        import sqlite3 as _sq

        from pyspark.sql import functions as F

        from xxt_cdc_spark.sinks.upsert import (
            TableSink,
            apply_batch_fanout,
            close_pooled_connections,
        )

        n_tables, n_batches, keys_per_table = 4, 5, 50
        dbs = {}
        for tag in "abc":
            path = str(tmp_path / f"{tag}.db")
            con = _sq.connect(path)
            for i in range(n_tables):
                con.execute(f"CREATE TABLE t{i} (k INTEGER PRIMARY KEY, v INTEGER)")
            con.commit()
            con.close()
            dbs[tag] = path

        def sink(db_path: str, table: str) -> TableSink:
            def make():
                import sqlite3 as _sq2

                from xxt_cdc_spark.sinks.upsert import JdbcUpsertWriter as _W

                return _W(
                    connect_fn=lambda: _sq2.connect(db_path, timeout=60),
                    table=table,
                    columns=["k", "v"],
                    key_cols=["k"],
                    dialect="sqlite",
                    pool_key="prop:shared",  # deliberately target-agnostic
                )

            return TableSink(make, ["k"], None, fingerprint=db_path)

        def env(batch: int):
            n_events = n_tables * keys_per_table
            return spark.range(n_events).select(
                F.lit("d").alias("db"),
                F.concat(F.lit("t"), (F.col("id") % n_tables)).alias("table"),
                F.lit("I").alias("op"),
                F.lit(None).cast("timestamp").alias("ts"),
                F.lit("binlog.000001").alias("pos_file"),
                F.col("id").alias("pos_offset"),
                F.lit(None).cast("string").alias("gtid"),
                F.to_json(
                    F.struct(F.floor(F.col("id") / n_tables).alias("k"))
                ).alias("key"),
                F.lit(None).cast("string").alias("before"),
                F.to_json(
                    F.struct(
                        F.floor(F.col("id") / n_tables).alias("k"),
                        (F.lit(batch * 10_000) + F.col("id")).alias("v"),
                    )
                ).alias("after"),
            )

        def table_rows(db_path: str, table: str) -> set[tuple[int, int]]:
            con = _sq.connect(db_path)
            rows = set(con.execute(f"SELECT k, v FROM {table}").fetchall())
            con.close()
            return rows

        def expected_rows(batch: int, ti: int) -> set[tuple[int, int]]:
            # ids for table ti are ti, ti+4, ...; k = id//4, v = b*10000+id
            return {
                (k, batch * 10_000 + k * n_tables + ti)
                for k in range(keys_per_table)
            }

        rng = _random.Random(1234)
        ns = "prop-lifecycle"
        # scripted batch targets guarantee repoint coverage (a→b→b→c→a:
        # repoint, hold, repoint, repoint-back — the back-repoint would
        # reuse a stale pooled connection pre-fix too)
        batch_tags = ["a", "b", "b", "c", "a"]
        # last_target[t] = (batch, tag) of the last batch that applied t
        last_target: dict[str, tuple[int, str]] = {}
        try:
            for b in range(n_batches):
                tag = batch_tags[b]
                # per-table registration is seeded-random, but t0 is
                # always registered so every repoint is exercised
                registered = {"t0"} | {
                    f"t{i}" for i in range(1, n_tables) if rng.random() < 0.7
                }
                sinks = {t: sink(dbs[tag], t) for t in registered}
                applied = apply_batch_fanout(
                    env(b), sinks, num_partitions=2,
                    coalesce_commits=True, cache_writers=ns,
                )
                assert set(applied) == registered, (b, tag, applied)
                assert all(v == keys_per_table for v in applied.values()), applied
                for t in registered:
                    last_target[t] = (b, tag)
                # every table's LAST target holds exactly that batch's
                # values — and because stale targets are only ever
                # overwritten when they become last_target again, this
                # transitively checks no cross-target bleed
                for t, (lb, ltag) in last_target.items():
                    ti = int(t[1:])
                    assert table_rows(dbs[ltag], t) == expected_rows(lb, ti), (
                        b, t, ltag,
                    )
        finally:
            close_pooled_connections()


class TestCacheMissRepoint:
    def test_fresh_table_after_estate_repoint_lands_in_new_target(self, spark, tmp_path):
        """The cache-HIT drift check cannot protect a table building its
        FIRST writer after the estate repointed: batch 1 applies t0 to
        db_a (pooling a connection under a target-agnostic key), batch 2
        registers a brand-new table t1 pointed at db_b with the same
        pool_key. Pre-fix, t1's fresh writer borrowed db_a's pooled
        connection and silently wrote to the OLD target; the pool
        fingerprint stamp now evicts it at construction time."""
        for db in ("a.db", "b.db"):
            _mk_db(str(tmp_path / db), 2)
        db_a, db_b = str(tmp_path / "a.db"), str(tmp_path / "b.db")
        ns = "r10-miss-repoint"
        try:
            # batch 1: only t0, at db_a
            env1 = _env(spark, 100, 1)  # all rows to t0
            apply_batch_fanout(
                env1,
                {"t0": _sink_shared_pool(db_a, "t0", fingerprint=db_a)},
                num_partitions=2, coalesce_commits=True, cache_writers=ns,
            )
            # batch 2: only t1 — never seen by the cache — at db_b
            env2 = _env(spark, 100, 2).filter("table = 't1'")
            applied = apply_batch_fanout(
                env2,
                {"t1": _sink_shared_pool(db_b, "t1", fingerprint=db_b)},
                num_partitions=2, coalesce_commits=True, cache_writers=ns,
            )
            assert applied.get("t1") == 50
        finally:
            close_pooled_connections()
        con = sqlite3.connect(db_b)
        n_b = con.execute("SELECT COUNT(*) FROM t1").fetchone()[0]
        con.close()
        assert n_b == 50, f"fresh-table rows must land in the NEW target, got {n_b}"

    def test_cache_disabled_repoint_also_protected(self, spark, tmp_path):
        """The pool outlives batches even with NO writer cache: a plain
        repoint (fresh sinks dict, cache_writers=None, reused pool_key)
        must also land in the new target via the pool stamp."""
        _mk_db(str(tmp_path / "a.db"), 1)
        _mk_db(str(tmp_path / "b.db"), 1)
        db_a, db_b = str(tmp_path / "a.db"), str(tmp_path / "b.db")
        env = _env(spark, 100, 1)
        try:
            apply_batch_fanout(
                env, {"t0": _sink_shared_pool(db_a, "t0", fingerprint=db_a)},
                num_partitions=2, coalesce_commits=True,
            )
            applied = apply_batch_fanout(
                env, {"t0": _sink_shared_pool(db_b, "t0", fingerprint=db_b)},
                num_partitions=2, coalesce_commits=True,
            )
            assert applied.get("t0") == 100
        finally:
            close_pooled_connections()
        con = sqlite3.connect(db_b)
        n_b = con.execute("SELECT COUNT(*) FROM t0").fetchone()[0]
        con.close()
        assert n_b == 100, f"repointed rows must land in the NEW target, got {n_b}"


class TestAcquireTimeReconcile:
    def test_sink_factory_repoint_via_factory_fingerprint(self, spark, tmp_path):
        """The sink_factory posture (whose TableSinks carry no
        per-sink fingerprint) must be repoint-protected through the
        factory-level fingerprint: it re-keys the writer cache AND
        flows into the acquire-time pool reconcile, so batch 2 lands in
        the new target even though the pool_key never changed."""
        _mk_db(str(tmp_path / "a.db"), 1)
        _mk_db(str(tmp_path / "b.db"), 1)
        db_a, db_b = str(tmp_path / "a.db"), str(tmp_path / "b.db")

        def make_factory(db):
            def sf(table, _db=db):
                def make():
                    import sqlite3 as _sq

                    from xxt_cdc_spark.sinks.upsert import JdbcUpsertWriter as _W

                    return _W(
                        connect_fn=lambda: _sq.connect(_db, timeout=60),
                        table=table,
                        columns=["k", "v"],
                        key_cols=["k"],
                        dialect="sqlite",
                        pool_key="r10fx:shared",
                    )

                return TableSink(make, ["k"], None)  # NO sink fingerprint

            sf.fingerprint = db
            return sf

        env = _env(spark, 100, 1)
        try:
            apply_batch_fanout(
                env, sink_factory=make_factory(db_a), num_partitions=2,
                coalesce_commits=True, cache_writers="r10-fx",
            )
            applied = apply_batch_fanout(
                env, sink_factory=make_factory(db_b), num_partitions=2,
                coalesce_commits=True, cache_writers="r10-fx",
            )
            assert applied.get("t0") == 100
        finally:
            close_pooled_connections()
        con = sqlite3.connect(db_b)
        n_b = con.execute("SELECT COUNT(*) FROM t0").fetchone()[0]
        con.close()
        assert n_b == 100, f"factory-fingerprint repoint must land in db_b, got {n_b}"

    def test_intra_batch_conflicting_fingerprints_fail_loudly(self, spark, tmp_path):
        """One batch mapping TWO target fingerprints onto one pool_key
        with coalesced commits is the interleave where a silent evict
        would roll back rows already counted as applied — it must fail
        loudly instead (num_partitions=1 forces both tables through one
        worker so the conflict is deterministic)."""
        _mk_db(str(tmp_path / "a.db"), 2)
        _mk_db(str(tmp_path / "b.db"), 2)
        db_a, db_b = str(tmp_path / "a.db"), str(tmp_path / "b.db")
        env = _env(spark, 100, 2)
        # unique pool_key: the loud conflict leaves worker-side state
        # behind only for ITS key (evicted + rolled back by the fix),
        # but sharing the file-wide key with other tests would still
        # couple orderings
        sinks = {
            "t0": _sink_shared_pool(db_a, "t0", fingerprint=db_a, pool_key="r10cf:shared"),
            "t1": _sink_shared_pool(db_b, "t1", fingerprint=db_b, pool_key="r10cf:shared"),
        }
        try:
            with pytest.raises(Exception, match="two target fingerprints"):
                apply_batch_fanout(
                    env, sinks, num_partitions=1, coalesce_commits=True,
                )
        finally:
            close_pooled_connections()

    def test_unstamped_idle_connection_evicted_conservatively(self, tmp_path):
        """A pooled IDLE connection established by a non-stamping path
        has an UNKNOWN target: a fingerprinted acquire must evict it
        (one reconnect) rather than mislabel or adopt it. (Exercised
        through _acquire — the one production chokepoint — since the
        standalone reconcile helper was removed as dead code, r10
        ADVICE.)"""
        from xxt_cdc_spark.sinks.upsert import _POOL_FPS, JdbcUpsertWriter

        db = str(tmp_path / "u.db")
        sqlite3.connect(db).close()

        class FakeConn:
            closed = False

            def close(self):
                self.closed = True

            def rollback(self):
                pass

        stale = FakeConn()
        _CONN_POOL["r10:unstamped"] = stale
        w = JdbcUpsertWriter(
            connect_fn=lambda: sqlite3.connect(db, timeout=60),
            table="t",
            columns=["k"],
            key_cols=["k"],
            dialect="sqlite",
            pool_key="r10:unstamped",
        )
        w._target_fingerprint = "db_b"
        try:
            conn, pooled = w._acquire()
            assert pooled and stale.closed, "unknown-target idle conn must go"
            assert _CONN_POOL["r10:unstamped"] is conn
            assert _POOL_FPS["r10:unstamped"] == "db_b"
            # second acquire with the same fingerprint: clean borrow
            conn2, _ = w._acquire()
            assert conn2 is conn
        finally:
            close_pooled_connections()


class TestAdviceR10GuardScoping:
    """r10 ADVICE: the dirty-conflict raise must be scoped to genuinely
    CONFLICTING stamps; unstamped connections get evict-idle/adopt-dirty
    so a legitimate fingerprint-less + fingerprinted share of one
    pool_key (same target) cannot deterministically crash-loop."""

    def test_unstamped_dirty_connection_adopted_not_raised(self):
        """An UNSTAMPED connection holding a fingerprint-less sibling's
        deferred rows must be ADOPTED by a fingerprinted acquire:
        evicting would roll back counted rows, raise, and — because
        partition order repeats on replay — crash-loop the batch."""
        from xxt_cdc_spark.sinks.upsert import _POOL_DIRTY, _POOL_FPS, JdbcUpsertWriter

        class FakeConn:
            closed = False

            def close(self):
                self.closed = True

            def rollback(self):
                pass

        dirty_conn = FakeConn()
        key = "r10adv:mixed"
        _CONN_POOL[key] = dirty_conn
        _POOL_DIRTY[key] = 1

        def _no_reconnect():
            raise AssertionError("adopt path must not reconnect")

        w = JdbcUpsertWriter(
            connect_fn=_no_reconnect,
            table="t",
            columns=["k"],
            key_cols=["k"],
            dialect="sqlite",
            pool_key=key,
        )
        w._target_fingerprint = "db_b"
        try:
            conn, pooled = w._acquire()
            assert conn is dirty_conn and pooled
            assert not dirty_conn.closed
            # adopted, not relabeled: this writer did not establish the
            # connection, so it must assert nothing about its target
            assert key not in _POOL_FPS
            assert key in _POOL_DIRTY
        finally:
            _POOL_DIRTY.pop(key, None)
            close_pooled_connections()

    def test_stamped_dirty_conflict_still_raises(self):
        """Scoping must not weaken the real guard: two different
        non-None stamps on one pool_key with uncommitted work is the
        contract violation — still a loud two-targets failure."""
        from xxt_cdc_spark.sinks.upsert import _POOL_DIRTY, _POOL_FPS, JdbcUpsertWriter

        class FakeConn:
            closed = rolled = False

            def close(self):
                self.closed = True

            def rollback(self):
                self.rolled = True

        conn = FakeConn()
        key = "r10adv:conflict"
        _CONN_POOL[key] = conn
        _POOL_FPS[key] = "db_a"
        _POOL_DIRTY[key] = 3
        w = JdbcUpsertWriter(
            connect_fn=lambda: None,
            table="t",
            columns=["k"],
            key_cols=["k"],
            dialect="sqlite",
            pool_key=key,
        )
        w._target_fingerprint = "db_b"
        try:
            with pytest.raises(RuntimeError, match="two target fingerprints"):
                w._acquire()
            assert conn.closed and conn.rolled
            assert key not in _CONN_POOL and key not in _POOL_DIRTY
        finally:
            _POOL_DIRTY.pop(key, None)
            close_pooled_connections()

    def test_mixed_fingerprint_sinks_one_pool_key_converges(self, spark, tmp_path):
        """The ADVICE scenario end-to-end: a fingerprint-less sink and a
        fingerprinted sink legitimately share one pool_key for the SAME
        target under coalesce_commits. Pre-fix, the fingerprinted
        writer's acquire hit unstamped+dirty and raised the two-targets
        error on every deterministic replay."""
        db = str(tmp_path / "mix.db")
        _mk_db(db, 2)
        env = _env(spark, 200, 2)
        sinks = {
            "t0": _sink_shared_pool(db, "t0", fingerprint=None, pool_key="r10adv:share"),
            "t1": _sink_shared_pool(db, "t1", fingerprint=db, pool_key="r10adv:share"),
        }
        try:
            applied = apply_batch_fanout(
                env, sinks, num_partitions=1, coalesce_commits=True
            )
            assert sum(applied.values()) == 200
        finally:
            close_pooled_connections()
        con = sqlite3.connect(db)
        n = sum(
            con.execute(f"SELECT COUNT(*) FROM t{i}").fetchone()[0] for i in range(2)
        )
        con.close()
        assert n == 200

    def test_evict_pooled_connection_tombstones_dirty_loss(self):
        """Forced (unconditional) eviction under pending deferred work
        must not turn the loss silent: the rollback happens, the dirty
        mark is popped WITH the connection (marks always describe the
        live pooled connection), and the loss is recorded as a
        _POOL_LOST tombstone so the in-flight batch's commit_pooled
        fails loudly (rows were counted, then rolled back). r11 ADVICE
        upgraded this from a surviving mark (which died as soon as a
        writer re-acquired and deferred new work) to the tombstone."""
        from xxt_cdc_spark.sinks.upsert import _POOL_DIRTY, _POOL_LOST, commit_pooled

        class FakeConn:
            closed = rolled = False

            def close(self):
                self.closed = True

            def rollback(self):
                self.rolled = True

        conn = FakeConn()
        key = "r10adv:forced"
        _CONN_POOL[key] = conn
        _POOL_DIRTY[key] = 7
        try:
            evict_pooled_connection(key)
            assert conn.closed and conn.rolled
            assert key not in _POOL_DIRTY, "mark must not outlive its connection"
            assert key in _POOL_LOST, "evidence must survive the evict"
            with pytest.raises(RuntimeError, match="uncommitted coalesced work"):
                commit_pooled([key])
            assert key not in _POOL_LOST
            commit_pooled([key])  # replay's commit proceeds clean
        finally:
            _POOL_DIRTY.pop(key, None)
            close_pooled_connections()


class TestDirtyLifecycle:
    def test_txn_commit_clears_dirty_mark(self, spark, tmp_path):
        """apply_batch_txn commits directly (not via commit_pooled);
        its deferred flushes' dirty marks must clear on that commit, or
        a later fingerprinted batch on the same pool_key raises the
        two-targets error spuriously (r10 review)."""
        from xxt_cdc_spark.sinks.upsert import JdbcUpsertWriter, apply_batch_txn

        db = str(tmp_path / "txn.db")
        con = sqlite3.connect(db)
        con.execute("CREATE TABLE t (id INTEGER, v TEXT)")
        con.execute("CREATE TABLE t0 (k INTEGER PRIMARY KEY, v INTEGER)")
        con.commit()
        con.close()
        pool_key = "r10txn:shared"

        def fac():
            return JdbcUpsertWriter(
                connect_fn=lambda: sqlite3.connect(db, timeout=60),
                table="t",
                columns=["id", "v"],
                key_cols=["id"],
                dialect="starrocks",
                pool_key=pool_key,
                defer_commit=True,
            )

        rows = [("I", "f1", i, i, f"v{i}") for i in range(20)]
        df = spark.createDataFrame(
            rows, "op string, pos_file string, pos_offset long, id long, v string"
        )
        try:
            apply_batch_txn(df, fac, ["id"], batch_id=0, num_partitions=1)
            # a FINGERPRINTED batch on the same pool_key must not trip
            # the dirty-conflict guard (everything is committed)
            env = _env(spark, 50, 1)
            applied = apply_batch_fanout(
                env, {"t0": _sink_shared_pool(db, "t0", fingerprint=db,
                                              pool_key=pool_key)},
                num_partitions=1, coalesce_commits=True,
            )
            assert applied.get("t0") == 50
        finally:
            close_pooled_connections()

    def test_drift_to_fingerprintless_registration_still_repoints(self, spark, tmp_path):
        """Drift TO a fingerprint-less registration: the rebuilt writer
        carries no fingerprint for the acquire-time reconcile, so the
        hit-path must drop the old pooled connection directly — batch-2
        rows land in the new target (r10 review regression)."""
        _mk_db(str(tmp_path / "a.db"), 1)
        _mk_db(str(tmp_path / "b.db"), 1)
        db_a, db_b = str(tmp_path / "a.db"), str(tmp_path / "b.db")
        env = _env(spark, 100, 1)
        ns = "r10-fpless"
        key = "r10fpless:shared"
        try:
            apply_batch_fanout(
                env, {"t0": _sink_shared_pool(db_a, "t0", fingerprint=db_a, pool_key=key)},
                num_partitions=2, coalesce_commits=True, cache_writers=ns,
            )
            applied = apply_batch_fanout(
                env, {"t0": _sink_shared_pool(db_b, "t0", fingerprint=None, pool_key=key)},
                num_partitions=2, coalesce_commits=True, cache_writers=ns,
            )
            assert applied.get("t0") == 100
        finally:
            close_pooled_connections()
        con = sqlite3.connect(db_b)
        n_b = con.execute("SELECT COUNT(*) FROM t0").fetchone()[0]
        con.close()
        assert n_b == 100, f"fingerprint-less repoint must land in db_b, got {n_b}"
