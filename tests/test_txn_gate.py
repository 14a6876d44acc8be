"""Transactional-offsets apply: exactly-once for non-idempotent sinks.

The target here is deliberately a PLAIN-INSERT sink into a table with
no primary key (the 'starrocks' dialect renders bare INSERTs) — the
class of sink where the engine's usual PK-upsert idempotence argument
does NOT hold and only the offsets-in-target transaction protects a
foreachBatch replay from duplicating rows.
"""

from __future__ import annotations

import os
import sqlite3

import pytest

from xxt_cdc_spark.sinks.upsert import (
    OFFSETS_TABLE,
    JdbcUpsertWriter,
    apply_batch,
    apply_batch_txn,
    close_pooled_connections,
)

COLS = ["id", "v"]


def _mk_target(db):
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE IF NOT EXISTS t (id INTEGER, v TEXT)")  # no PK!
    con.commit()
    con.close()


def _factory(db, pool_key, defer=True):
    def make():
        return JdbcUpsertWriter(
            connect_fn=lambda: sqlite3.connect(db, timeout=60),
            table="t",
            columns=COLS,
            key_cols=["id"],
            dialect="starrocks",  # plain INSERT — non-idempotent
            pool_key=pool_key,
            defer_commit=defer,
        )

    return make


def _batch(spark, ids, offset0=0):
    rows = [("I", "f1", offset0 + i, i, f"v{i}") for i in ids]
    return spark.createDataFrame(
        rows, "op string, pos_file string, pos_offset long, id long, v string"
    )


def _count(db, sql="SELECT COUNT(*) FROM t"):
    con = sqlite3.connect(db)
    try:
        return con.execute(sql).fetchone()[0]
    finally:
        con.close()


@pytest.fixture(autouse=True)
def _clean_pool():
    yield
    close_pooled_connections()


class TestTxnGate:
    def test_replay_without_gate_duplicates(self, spark, tmp_path):
        """The counterfactual: a plain-insert sink really does double
        on replay under the ordinary apply path."""
        db = str(tmp_path / "t.db")
        _mk_target(db)
        fac = _factory(db, pool_key=None, defer=False)
        df = _batch(spark, range(50))
        apply_batch(df, fac, ["id"], num_partitions=2)
        apply_batch(df, fac, ["id"], num_partitions=2)
        assert _count(db) == 100  # duplicated — the gate is load-bearing

    def test_exactly_once_under_replay(self, spark, tmp_path):
        db = str(tmp_path / "t.db")
        _mk_target(db)
        fac = _factory(db, pool_key=f"txn-{tmp_path.name}")
        df = _batch(spark, range(50))
        s1 = apply_batch_txn(df, fac, ["id"], batch_id=0, num_partitions=2)
        s2 = apply_batch_txn(df, fac, ["id"], batch_id=0, num_partitions=2)
        assert _count(db) == 50
        assert s1["upserts"] == 50 and s1["skipped"] == 0
        assert s2["upserts"] == 0 and s2["skipped"] == 2  # both partitions gated
        # the next batch advances normally
        apply_batch_txn(_batch(spark, range(50, 70), 100), fac, ["id"], batch_id=1, num_partitions=2)
        assert _count(db) == 70
        assert _count(db, f"SELECT MAX(batch_id) FROM {OFFSETS_TABLE}") == 1

    def test_partial_job_crash_then_replay_is_exact(self, spark, tmp_path):
        """One partition commits, the other crashes before its commit:
        the replay must skip the committed partition (its gate row is
        in the target) and apply only the crashed one — final state
        exact, no duplicates, no holes. This is the crash window the
        per-partition gate exists for."""
        db = str(tmp_path / "t.db")
        marker = str(tmp_path / "crashed.once")
        _mk_target(db)
        key = f"txn-crash-{tmp_path.name}"

        # fully self-contained (no test-module globals): the factory
        # body executes INSIDE worker tasks, where this module is not
        # importable
        def crashing_factory(db=db, key=key, marker=marker):
            import sqlite3 as _sq

            from xxt_cdc_spark.sinks.upsert import JdbcUpsertWriter as _W

            base = _W(
                connect_fn=lambda: _sq.connect(db, timeout=60),
                table="t",
                columns=["id", "v"],
                key_cols=["id"],
                dialect="starrocks",
                pool_key=key,
                defer_commit=True,
            )
            orig = base.apply_pdf_stream

            def apply_pdf_stream(frames):
                import os as _os
                import time as _time

                frames = list(frames)
                if frames and not _os.path.exists(marker):
                    from pyspark import TaskContext

                    if TaskContext.get().partitionId() == 1:
                        open(marker, "w").close()
                        _time.sleep(2)  # let partition 0 reach its commit
                        orig(iter(frames))  # statements applied, uncommitted
                        raise RuntimeError("simulated sink crash before commit")
                return orig(iter(frames))

            base.apply_pdf_stream = apply_pdf_stream
            return base

        df = _batch(spark, range(40))
        with pytest.raises(Exception, match="simulated sink crash"):
            apply_batch_txn(df, crashing_factory, ["id"], batch_id=0, num_partitions=2)
        n_after_crash = _count(db)
        assert n_after_crash < 40  # partition 1 rolled back entirely

        stats = apply_batch_txn(df, crashing_factory, ["id"], batch_id=0, num_partitions=2)
        assert _count(db) == 40
        assert _count(db, "SELECT COUNT(*) FROM (SELECT DISTINCT id FROM t)") == 40
        assert stats["skipped"] >= 1  # the committed partition was gated

    def test_no_collapse_by_default_every_event_lands(self, spark, tmp_path):
        """r5 review finding: the gate exists for append-only/audit
        sinks where EVERY event matters — an implicit LWW collapse
        would silently drop a key's intermediate history. Two events
        for the same key must both reach the target."""
        db = str(tmp_path / "t.db")
        _mk_target(db)
        fac = _factory(db, pool_key=f"txn-nc-{tmp_path.name}")
        rows = [("I", "f1", 1, 5, "first"), ("U", "f1", 2, 5, "second")]
        df = spark.createDataFrame(
            rows, "op string, pos_file string, pos_offset long, id long, v string"
        )
        apply_batch_txn(df, fac, ["id"], batch_id=0, num_partitions=1)
        assert _count(db) == 2  # audit history intact

    def test_requires_defer_commit_pool(self, spark, tmp_path):
        db = str(tmp_path / "t.db")
        _mk_target(db)
        fac = _factory(db, pool_key=None, defer=False)
        with pytest.raises(Exception, match="defer_commit"):
            apply_batch_txn(_batch(spark, range(4)), fac, ["id"], batch_id=0, num_partitions=1)


class TestTxnGateConcurrencyAndTopology:
    def test_racing_committer_fails_on_gate_pk(self, spark, tmp_path):
        """The gate is INSERT-only with PK (pipeline, partition, batch):
        a racing twin that passed the pre-read and applies the same
        (partition, batch) must die on the PK at commit time — the
        pre-read is an optimization, the PK is the correctness
        mechanism (r5 ADVICE item 1)."""
        db = str(tmp_path / "t.db")
        _mk_target(db)
        fac = _factory(db, pool_key=f"txn:{db}")
        apply_batch_txn(_batch(spark, range(10)), fac, ["id"], batch_id=7, num_partitions=1)
        con = sqlite3.connect(db)
        try:
            with pytest.raises(sqlite3.IntegrityError):
                # what the loser of the race executes inside its txn
                con.execute(
                    f"INSERT INTO {OFFSETS_TABLE} (pipeline, partition_id, batch_id) "
                    "VALUES ('default@1', 0, 7)"
                )
        finally:
            con.close()

    def test_topology_change_does_not_inherit_gates(self, spark, tmp_path):
        """num_partitions is part of the gate identity: after running at
        2 partitions up to batch 5, a 1-partition layout replays from
        batch 0 WITHOUT being vetoed by the old topology's gates
        (r5 ADVICE item 2: the old key shape skipped it forever)."""
        db = str(tmp_path / "t.db")
        _mk_target(db)
        fac = _factory(db, pool_key=f"txn:{db}")
        apply_batch_txn(_batch(spark, range(20)), fac, ["id"], batch_id=5, num_partitions=2)
        n_before = _count(db)
        stats = apply_batch_txn(
            _batch(spark, range(20, 30), offset0=100), fac, ["id"], batch_id=0, num_partitions=1
        )
        assert stats["skipped"] == 0 and stats["upserts"] == 10
        assert _count(db) == n_before + 10
        # and the same (identity, batch) REPLAY still skips
        stats = apply_batch_txn(
            _batch(spark, range(20, 30), offset0=100), fac, ["id"], batch_id=0, num_partitions=1
        )
        assert stats["skipped"] == 1
        assert _count(db) == n_before + 10
