"""The distributed apply's plan and statement groups.

- ``apply_batch`` and ``apply_batch_txn`` route through one helper,
  ``_route_for_apply``, whose plan holds exactly one shuffle exchange
  (the route's ``REPARTITION_BY_NUM``) with and without the LWW
  collapse: the window reuses the route's partitioning.
- After the collapse each partition applies deletes first, then
  upserts: a batch whose position order alternates delete and upsert
  across keys reaches the writer as at most two runs per Arrow block,
  and at most two flushes per ``batch_size`` rows, where position
  order flushed at almost every kind flip.
- Without the collapse a block applies in key waves: at most two
  flushes per wave (a block's largest per-key count), where position
  order flushed at every delete/upsert flip.
- The converged target and the statement counts do not depend on the
  apply path.
"""

from __future__ import annotations

import math
import os
import sqlite3
import uuid

import pytest

from xxt_cdc_spark.sinks import upsert
from xxt_cdc_spark.sinks.upsert import (
    JdbcUpsertWriter,
    apply_batch,
    apply_batch_txn,
    close_pooled_connections,
)

N_KEYS = 2000


def _make_target(path: str) -> None:
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE t (k INTEGER PRIMARY KEY, v INTEGER)")
    con.commit()
    con.close()


def _target(path: str) -> list[tuple]:
    con = sqlite3.connect(path)
    try:
        return con.execute("SELECT k, v FROM t ORDER BY k").fetchall()
    finally:
        con.close()


def _counting_factory(path: str, log_dir: str, batch_size: int, **kw):
    """Writers that log each Arrow block ("B <largest per-key count>")
    and each ``_flush`` ("F <rows>") to a file of their own, so
    executor-side counts reach the test. The class is local, so it
    pickles by value."""

    def make():
        log_path = os.path.join(log_dir, f"w-{uuid.uuid4().hex}.log")

        class FlushCounter(JdbcUpsertWriter):
            log = log_path

            def _block_runs(self, block):
                import pyarrow.compute as pc

                # the block marker carries the block's largest per-key count
                top = pc.max(pc.value_counts(block.column("k")).field("counts")).as_py()
                with open(self.log, "a") as f:
                    f.write(f"B {top}\n")
                yield from super()._block_runs(block)

            def _flush(self, conn, kind, params):
                with open(self.log, "a") as f:
                    f.write(f"F {len(params)}\n")
                super()._flush(conn, kind, params)

        return FlushCounter(
            connect_fn=lambda: sqlite3.connect(path, timeout=30),
            table="t",
            columns=["k", "v"],
            key_cols=["k"],
            dialect="sqlite",
            batch_size=batch_size,
            **kw,
        )

    return make


def _writer_logs(log_dir: str) -> list[list[str]]:
    out = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            out.append(f.read().split("\n")[:-1])
    return out


def _alternating_batch(spark):
    """Every key is upserted at position 2k; odd keys are deleted at
    2k+1. After the LWW collapse the survivors alternate upsert,
    delete, upsert, ... in position order."""
    rows = [("U", "binlog.000001", 2 * k, k, k * 10) for k in range(N_KEYS)]
    rows += [("D", "binlog.000001", 2 * k + 1, k, None) for k in range(1, N_KEYS, 2)]
    return spark.createDataFrame(
        rows, "op string, pos_file string, pos_offset long, k long, v long"
    )


EXPECTED = [(k, k * 10) for k in range(0, N_KEYS, 2)]


@pytest.fixture
def routed_frames(monkeypatch):
    """Record every frame ``_route_for_apply`` returns."""
    seen = []
    real = upsert._route_for_apply

    def spy(*a, **kw):
        seen.append(real(*a, **kw))
        return seen[-1]

    monkeypatch.setattr(upsert, "_route_for_apply", spy)
    return seen


def _shuffle_exchanges(df) -> list[str]:
    # an executed adaptive plan prints its final plan, then the initial one
    plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    return [ln.strip() for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]


class TestOneExchange:
    @pytest.mark.parametrize("collapse", [True, False])
    def test_apply_batch_plan_has_one_exchange(self, spark, tmp_path, routed_frames, collapse):
        db = str(tmp_path / "t.db")
        _make_target(db)
        log_dir = str(tmp_path / "logs")
        os.makedirs(log_dir)
        apply_batch(
            _alternating_batch(spark),
            _counting_factory(db, log_dir, 100),
            ["k"],
            num_partitions=3,
            collapse=collapse,
            arrow=True,
        )
        assert len(routed_frames) == 1
        exchanges = _shuffle_exchanges(routed_frames[0])
        assert len(exchanges) == 1, exchanges
        assert "REPARTITION_BY_NUM" in exchanges[0] and "(k#" in exchanges[0]
        assert _target(db) == EXPECTED

    def test_apply_batch_txn_routes_through_the_same_helper(self, spark, tmp_path, routed_frames):
        db = str(tmp_path / "t.db")
        _make_target(db)
        fac = _counting_factory(
            db, str(tmp_path), 100, pool_key=f"plan-{uuid.uuid4().hex}", defer_commit=True
        )
        try:
            stats = apply_batch_txn(
                _alternating_batch(spark), fac, ["k"], batch_id=0, num_partitions=3, collapse=True
            )
        finally:
            close_pooled_connections()
        assert len(routed_frames) == 1
        assert len(_shuffle_exchanges(routed_frames[0])) == 1
        assert (stats["upserts"], stats["deletes"], stats["skipped"]) == (N_KEYS // 2, N_KEYS // 2, 0)
        assert _target(db) == EXPECTED

    def test_route_keeps_the_murmur3_partition_of_each_key(self, spark):
        """``apply_batch_txn``'s ``{pipeline}@{n}`` gate identity
        assumes key k lands in partition pmod(murmur3(k), n)."""
        from pyspark.sql import functions as F

        routed = upsert._route_for_apply(_alternating_batch(spark), 3, ["k"], ["pos_file", "pos_offset"], True)
        got = routed.select("k", F.spark_partition_id().alias("p"), F.pmod(F.hash("k"), F.lit(3)).alias("h"))
        assert got.filter("p != h").count() == 0


class TestTwoStatementGroups:
    def test_arrow_path_flushes_at_most_twice_per_block(self, spark, tmp_path):
        db = str(tmp_path / "t.db")
        _make_target(db)
        log_dir = str(tmp_path / "logs")
        os.makedirs(log_dir)
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key)
        spark.conf.set(key, "256")  # several blocks per partition
        try:
            apply_batch(
                _alternating_batch(spark), _counting_factory(db, log_dir, 5000), ["k"],
                num_partitions=2, arrow=True,
            )
        finally:
            spark.conf.set(key, old)
        logs = _writer_logs(log_dir)
        blocks = [blk for log in logs for blk in "\n".join(log).split("B")[1:]]
        assert len(blocks) > 2 * len(logs)  # the conf really split the partitions
        assert sum(int(ln[2:]) for log in logs for ln in log if ln.startswith("F")) == N_KEYS
        for blk in blocks:
            assert len([ln for ln in blk.split("\n") if ln.startswith("F")]) <= 2, blk
        assert _target(db) == EXPECTED

    def test_collapsed_apply_flushes_two_runs_per_batch_size(self, spark, tmp_path):
        db = str(tmp_path / "t.db")
        _make_target(db)
        log_dir = str(tmp_path / "logs")
        os.makedirs(log_dir)
        batch_size = 100
        apply_batch(_alternating_batch(spark), _counting_factory(db, log_dir, batch_size), ["k"], num_partitions=2)
        logs = _writer_logs(log_dir)
        assert len(logs) == 2
        for log in logs:
            log = [ln for ln in log if ln.startswith("F")]  # "B" marks an Arrow block
            rows = sum(int(ln[2:]) for ln in log)
            assert len(log) <= 2 * math.ceil(rows / batch_size), (rows, len(log))
        assert _target(db) == EXPECTED


class TestConvergence:
    def test_every_apply_path_lands_the_same_target_and_counts(self, spark, tmp_path):
        paths = {
            "collapse": dict(num_partitions=2),
            "plain": dict(num_partitions=2, collapse=False),
            "driver-collapse": dict(num_partitions=None, driver_apply=True),
            "driver-plain": dict(num_partitions=None, driver_apply=True, collapse=False),
        }
        df = _alternating_batch(spark)
        for name, kw in paths.items():
            db = str(tmp_path / f"{name}.db")
            _make_target(db)
            log_dir = str(tmp_path / f"{name}-logs")
            os.makedirs(log_dir)
            stats = apply_batch(df, _counting_factory(db, log_dir, 100), ["k"], **kw)
            collapsed = kw.get("collapse", True)
            # collapsed: one statement per key; plain: every event
            want = (N_KEYS // 2, N_KEYS // 2) if collapsed else (N_KEYS, N_KEYS // 2)
            assert (stats["upserts"], stats["deletes"], stats["failures"]) == (*want, 0), name
            assert _target(db) == EXPECTED, name


def _blocks(logs: list[list[str]]) -> list[tuple[int, int, int]]:
    """(largest per-key count, flushes, flushed rows) per Arrow block."""
    out = []
    for log in logs:
        for ln in log:
            if ln.startswith("B"):
                out.append([int(ln[2:]), 0, 0])
            else:
                out[-1][1] += 1
                out[-1][2] += int(ln[2:])
    return [tuple(b) for b in out]


class TestKeyWaves:
    """Without the collapse only statements on one key keep their
    order: a block applies in key waves, at most two flushes (deletes,
    then upserts) per wave, where position order flushed at every
    delete/upsert flip (2,000 flushes for this batch's 3,000 events)."""

    @pytest.mark.parametrize(
        "kw, block_rows",
        [
            (dict(num_partitions=2), None),
            (dict(num_partitions=2), "256"),
            (dict(num_partitions=None, driver_apply=True), None),
        ],
        ids=["executor", "executor-256-row-blocks", "driver"],
    )
    def test_uncollapsed_apply_flushes_twice_per_key_wave(self, spark, tmp_path, kw, block_rows):
        db = str(tmp_path / "t.db")
        _make_target(db)
        log_dir = str(tmp_path / "logs")
        os.makedirs(log_dir)
        conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(conf)
        if block_rows:
            spark.conf.set(conf, block_rows)
        try:
            stats = apply_batch(
                _alternating_batch(spark), _counting_factory(db, log_dir, 5000), ["k"],
                collapse=False, **kw,
            )
        finally:
            spark.conf.set(conf, old)
        blocks = _blocks(_writer_logs(log_dir))
        assert sum(rows for _, _, rows in blocks) == N_KEYS + N_KEYS // 2
        for top, flushes, _ in blocks:
            assert flushes <= 2 * top, (top, flushes)
        assert (stats["upserts"], stats["deletes"]) == (N_KEYS, N_KEYS // 2)
        assert _target(db) == EXPECTED
