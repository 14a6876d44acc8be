"""Sink tests: idempotent upsert into a real DB (sqlite), retry/backoff,
circuit breaker, error taxonomy, dead-lettering."""

from __future__ import annotations

import sqlite3

import pytest

from xxt_cdc_spark.changefeed import ORDERS_PAYLOAD, orders_changefeed
from xxt_cdc_spark.sinks.upsert import (
    CircuitBreaker,
    CircuitOpen,
    ErrorClass,
    JdbcUpsertWriter,
    RetryPolicy,
    apply_batch,
    classify_error,
)

COLUMNS = ["op", "pos_offset"] + ORDERS_PAYLOAD  # writer consumes op + payload


def _make_target(path: str) -> None:
    con = sqlite3.connect(path)
    con.execute(
        "CREATE TABLE orders (o_orderkey INTEGER PRIMARY KEY, o_custkey INTEGER,"
        " o_orderstatus TEXT, o_totalprice REAL, o_orderdate TEXT, o_orderpriority TEXT)"
    )
    con.commit()
    con.close()


def _writer_factory(path: str):
    def factory() -> JdbcUpsertWriter:
        return JdbcUpsertWriter(
            connect_fn=lambda: sqlite3.connect(path, timeout=30),
            table="orders",
            columns=ORDERS_PAYLOAD,
            key_cols=["o_orderkey"],
            dialect="sqlite",
        )

    return factory


def _final_state(path: str) -> dict[int, tuple]:
    con = sqlite3.connect(path)
    rows = con.execute("SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders").fetchall()
    con.close()
    return {r[0]: r for r in rows}


@pytest.fixture()
def target_db(tmp_path):
    path = str(tmp_path / "target.db")
    _make_target(path)
    return path


class TestUpsertEndToEnd:
    def test_apply_changefeed_converges(self, spark, sf_dir, target_db):
        cf = orders_changefeed(spark, sf_dir).selectExpr(
            "op", "pos_offset", "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "cast(o_orderdate as string) AS o_orderdate", "o_orderpriority",
        )
        apply_batch(cf, _writer_factory(target_db), ["o_orderkey"], ["pos_offset"], num_partitions=4)

        state = _final_state(target_db)
        # deleted keys (o_orderkey % 7 == 0) must be gone
        assert all(k % 7 != 0 for k in state)
        # updated keys (%3, not deleted) carry status 'U'
        updated = [k for k in state if k % 3 == 0]
        assert updated and all(state[k][1] == "U" for k in updated)
        # untouched keys keep an original status
        untouched = [k for k in state if k % 3 != 0]
        assert untouched and all(state[k][1] in ("O", "F", "P") for k in untouched)

    def test_no_collapse_path_converges_identically(self, spark, sf_dir, target_db, tmp_path):
        """collapse=False applies every event in position order; the
        converged state must equal the collapsed path's."""
        cf = orders_changefeed(spark, sf_dir).selectExpr(
            "op", "pos_offset", "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "cast(o_orderdate as string) AS o_orderdate", "o_orderpriority",
        )
        apply_batch(cf, _writer_factory(target_db), ["o_orderkey"], ["pos_offset"], 4)
        collapsed_state = _final_state(target_db)

        other = str(tmp_path / "nc.db")
        _make_target(other)
        apply_batch(cf, _writer_factory(other), ["o_orderkey"], ["pos_offset"], 4, collapse=False)
        assert _final_state(other) == collapsed_state

    def test_arrow_path_converges_identically(self, spark, sf_dir, target_db, tmp_path):
        """The distributed Arrow apply must converge to the same state AND
        report the same applied counts as the writer's row API over the
        LWW-collapsed rows in position order."""
        cf = orders_changefeed(spark, sf_dir).selectExpr(
            "op", "pos_offset", "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "cast(o_orderdate as string) AS o_orderdate", "o_orderpriority",
        )
        last = {}
        for r in sorted(cf.collect(), key=lambda r: r["pos_offset"]):
            last[r["o_orderkey"]] = r  # the last event per key wins
        row_stats = _writer_factory(target_db)().apply_rows(
            sorted(last.values(), key=lambda r: r["pos_offset"])
        )
        row_state = _final_state(target_db)

        other = str(tmp_path / "ar.db")
        _make_target(other)
        arrow_stats = apply_batch(
            cf, _writer_factory(other), ["o_orderkey"], ["pos_offset"], 4, arrow=True
        )
        assert _final_state(other) == row_state
        assert (arrow_stats["upserts"], arrow_stats["deletes"]) == (
            row_stats["upserts"],
            row_stats["deletes"],
        )

    def test_transport_aligned_no_shuffle_converges(self, spark, sf_dir, target_db, tmp_path):
        """num_partitions=None applies on the source partitioning (zero
        shuffles); with keys co-located (single partition here, Kafka
        keyed-topic in production) it must converge identically."""
        cf = orders_changefeed(spark, sf_dir).selectExpr(
            "op", "pos_offset", "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "cast(o_orderdate as string) AS o_orderdate", "o_orderpriority",
        )
        apply_batch(cf, _writer_factory(target_db), ["o_orderkey"], ["pos_offset"], 4)
        expected = _final_state(target_db)

        other = str(tmp_path / "ta.db")
        _make_target(other)
        apply_batch(
            cf.coalesce(1),
            _writer_factory(other),
            ["o_orderkey"],
            ["pos_offset"],
            num_partitions=None,
            collapse=False,
            arrow=True,
        )
        assert _final_state(other) == expected

        with pytest.raises(ValueError, match="collapse=False"):
            apply_batch(cf, _writer_factory(other), ["o_orderkey"], ["pos_offset"],
                        num_partitions=None, collapse=True)

    def test_driver_apply_converges_identically(self, spark, sf_dir, target_db, tmp_path):
        """driver_apply=True (Arrow collect + one vectorized driver-side
        writer — the latency posture) must converge to the distributed
        path's state, both uncollapsed (run-ordered flushes) and with
        the pandas-side LWW collapse (two statement groups)."""
        cf = orders_changefeed(spark, sf_dir).selectExpr(
            "op", "pos_offset", "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "cast(o_orderdate as string) AS o_orderdate", "o_orderpriority",
        )
        apply_batch(cf, _writer_factory(target_db), ["o_orderkey"], ["pos_offset"], 4)
        expected = _final_state(target_db)

        uncollapsed = str(tmp_path / "drv.db")
        _make_target(uncollapsed)
        stats = apply_batch(
            cf.coalesce(1), _writer_factory(uncollapsed), ["o_orderkey"], ["pos_offset"],
            num_partitions=None, collapse=False, driver_apply=True,
        )
        assert _final_state(uncollapsed) == expected
        assert stats["upserts"] > 0 and stats["deletes"] > 0

        collapsed = str(tmp_path / "drvc.db")
        _make_target(collapsed)
        stats_c = apply_batch(
            cf.coalesce(1), _writer_factory(collapsed), ["o_orderkey"], ["pos_offset"],
            num_partitions=None, collapse=True, driver_apply=True,
        )
        assert _final_state(collapsed) == expected
        # collapse applies at most one statement per key
        assert stats_c["upserts"] + stats_c["deletes"] < stats["upserts"] + stats["deletes"]

        with pytest.raises(ValueError, match="driver_apply"):
            apply_batch(cf, _writer_factory(collapsed), ["o_orderkey"], ["pos_offset"],
                        num_partitions=4, driver_apply=True)

    def test_replay_is_idempotent(self, spark, sf_dir, target_db):
        cf = orders_changefeed(spark, sf_dir).selectExpr(
            "op", "pos_offset", "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "cast(o_orderdate as string) AS o_orderdate", "o_orderpriority",
        )
        apply_batch(cf, _writer_factory(target_db), ["o_orderkey"], ["pos_offset"], 4)
        first = _final_state(target_db)
        # full replay (duplicate delivery of the whole feed)
        apply_batch(cf, _writer_factory(target_db), ["o_orderkey"], ["pos_offset"], 4)
        assert _final_state(target_db) == first


class _FlakyConn:
    """DB-API connection failing the first N executemany calls."""

    def __init__(self, real: sqlite3.Connection, fail_times: list[int]):
        self.real = real
        self.fail_times = fail_times

    def cursor(self):
        return _FlakyCursor(self.real.cursor(), self.fail_times)

    def commit(self):
        self.real.commit()

    def rollback(self):
        self.real.rollback()

    def close(self):
        self.real.close()


class _FlakyCursor:
    def __init__(self, real, fail_times: list[int]):
        self.real = real
        self.fail_times = fail_times

    def executemany(self, sql, params):
        if self.fail_times and self.fail_times[0] > 0:
            self.fail_times[0] -= 1
            raise sqlite3.OperationalError("database is locked")
        return self.real.executemany(sql, params)


class TestConnectionPool:
    """O20: pooled connections persist across apply calls in a process;
    a failed apply evicts its connection instead of repooling it."""

    def _writer(self, path, calls, pool_key, **kw):
        def connect():
            calls.append(1)
            return sqlite3.connect(path, timeout=30)

        return JdbcUpsertWriter(
            connect_fn=connect,
            table="orders",
            columns=ORDERS_PAYLOAD,
            key_cols=["o_orderkey"],
            dialect="sqlite",
            pool_key=pool_key,
            **kw,
        )

    def test_connection_reused_across_applies(self, target_db):
        from xxt_cdc_spark.sinks.upsert import close_pooled_connections

        calls: list[int] = []
        row = {
            "op": "I", "o_orderkey": 1, "o_custkey": 2, "o_orderstatus": "O",
            "o_totalprice": 1.0, "o_orderdate": "1995-01-01", "o_orderpriority": "1-URGENT",
        }
        try:
            for i in range(3):
                w = self._writer(target_db, calls, pool_key="t1")
                w.apply_rows([dict(row, o_orderkey=i + 1)])
            assert len(calls) == 1  # one physical connection for 3 applies
            con = sqlite3.connect(target_db)
            assert con.execute("SELECT count(*) FROM orders").fetchone()[0] == 3
            con.close()
        finally:
            close_pooled_connections()

    def test_unpooled_connects_every_apply(self, target_db):
        calls: list[int] = []
        row = {
            "op": "I", "o_orderkey": 1, "o_custkey": 2, "o_orderstatus": "O",
            "o_totalprice": 1.0, "o_orderdate": "1995-01-01", "o_orderpriority": "1-URGENT",
        }
        for i in range(2):
            w = self._writer(target_db, calls, pool_key=None)
            w.apply_rows([dict(row, o_orderkey=i + 1)])
        assert len(calls) == 2

    def test_failed_apply_evicts_pooled_connection(self, target_db):
        from xxt_cdc_spark.sinks.upsert import _CONN_POOL, close_pooled_connections

        calls: list[int] = []
        try:
            w = self._writer(
                target_db, calls, pool_key="t2",
                breaker=CircuitBreaker(failure_threshold=1, cooldown_s=60),
                retry=RetryPolicy(max_retries=0),
            )
            w.apply_rows([{
                "op": "I", "o_orderkey": 1, "o_custkey": 2, "o_orderstatus": "O",
                "o_totalprice": 1.0, "o_orderdate": "1995-01-01", "o_orderpriority": "1-URGENT",
            }])
            assert "t2" in _CONN_POOL
            # second apply hits an open circuit mid-flush → raises → evicted
            w2 = self._writer(
                target_db, calls, pool_key="t2",
                breaker=w.breaker,
            )
            w2.breaker.record_failure()  # opens (threshold 1)
            with pytest.raises(CircuitOpen):
                w2.apply_rows([{
                    "op": "I", "o_orderkey": 9, "o_custkey": 2, "o_orderstatus": "O",
                    "o_totalprice": 1.0, "o_orderdate": "1995-01-01", "o_orderpriority": "1-URGENT",
                }])
            assert "t2" not in _CONN_POOL
        finally:
            close_pooled_connections()


class TestRetryAndBreaker:
    def test_retry_then_succeed(self, target_db):
        fails = [2]
        w = JdbcUpsertWriter(
            connect_fn=lambda: _FlakyConn(sqlite3.connect(target_db), fails),
            table="orders",
            columns=ORDERS_PAYLOAD,
            key_cols=["o_orderkey"],
            dialect="sqlite",
            retry=RetryPolicy(max_retries=5, base_delay_s=0.001),
        )
        rows = [
            {"op": "I", "o_orderkey": 1, "o_custkey": 2, "o_orderstatus": "O",
             "o_totalprice": 1.0, "o_orderdate": "2024-01-01", "o_orderpriority": "1"}
        ]
        w.apply_rows(iter(rows))
        assert w.stats["retries"] == 2
        assert w.stats["upserts"] == 1
        assert _final_state(target_db) == {1: (1, "O", 1.0)}

    def test_connect_time_retryable_error_retries(self, target_db):
        """Connection establishment failures classified retryable (MySQL
        1040/2013, sqlite 'database is locked' from init PRAGMAs under
        writer contention) go through the same retry policy as flushes
        — observed live when two bench writers raced journal_mode=WAL."""
        attempts = [0]

        def flaky_connect():
            attempts[0] += 1
            if attempts[0] <= 2:
                raise sqlite3.OperationalError("database is locked")
            return sqlite3.connect(target_db)

        w = JdbcUpsertWriter(
            connect_fn=flaky_connect,
            table="orders",
            columns=ORDERS_PAYLOAD,
            key_cols=["o_orderkey"],
            dialect="sqlite",
            retry=RetryPolicy(max_retries=5, base_delay_s=0.001),
        )
        rows = [
            {"op": "I", "o_orderkey": 5, "o_custkey": 2, "o_orderstatus": "O",
             "o_totalprice": 2.0, "o_orderdate": "2024-01-01", "o_orderpriority": "1"}
        ]
        w.apply_rows(iter(rows))
        assert w.stats["retries"] == 2 and w.stats["upserts"] == 1
        assert attempts[0] == 3

    def test_connect_time_fatal_error_raises(self, target_db):
        def denied():
            raise sqlite3.OperationalError(1045, "access denied")

        w = JdbcUpsertWriter(
            connect_fn=denied,
            table="orders",
            columns=ORDERS_PAYLOAD,
            key_cols=["o_orderkey"],
            dialect="sqlite",
            retry=RetryPolicy(max_retries=3, base_delay_s=0.001),
        )
        with pytest.raises(sqlite3.OperationalError):
            w.apply_rows(iter([{
                "op": "I", "o_orderkey": 5, "o_custkey": 2, "o_orderstatus": "O",
                "o_totalprice": 2.0, "o_orderdate": "2024-01-01", "o_orderpriority": "1",
            }]))
        assert w.stats["retries"] == 0

    def test_non_retryable_goes_to_dead_letter(self, target_db):
        w = JdbcUpsertWriter(
            connect_fn=lambda: sqlite3.connect(target_db),
            table="missing_table",
            columns=ORDERS_PAYLOAD,
            key_cols=["o_orderkey"],
            dialect="sqlite",
            retry=RetryPolicy(max_retries=1, base_delay_s=0.001),
        )
        rows = [
            {"op": "I", "o_orderkey": 1, "o_custkey": 2, "o_orderstatus": "O",
             "o_totalprice": 1.0, "o_orderdate": "2024-01-01", "o_orderpriority": "1"}
        ]
        w.apply_rows(iter(rows))
        assert w.stats["failures"] == 1
        assert len(w.dead_letters) == 1

    def test_vectorized_path_dead_letters_identically(self, target_db):
        """apply_pdf rides the same _flush retry/dead-letter machinery
        as apply_rows — a non-retryable statement failure lands in
        dead_letters, not a raise (r7 vectorized paths)."""
        import pandas as pd
        import pyarrow as pa

        w = JdbcUpsertWriter(
            connect_fn=lambda: sqlite3.connect(target_db),
            table="missing_table",
            columns=ORDERS_PAYLOAD,
            key_cols=["o_orderkey"],
            dialect="sqlite",
            retry=RetryPolicy(max_retries=1, base_delay_s=0.001),
        )
        pdf = pd.DataFrame([
            {"op": "I", "o_orderkey": 1, "o_custkey": 2, "o_orderstatus": "O",
             "o_totalprice": 1.0, "o_orderdate": "2024-01-01", "o_orderpriority": "1"}
        ])
        w.apply_pdf(pa.Table.from_pandas(pdf, preserve_index=False))
        assert w.stats["failures"] == 1
        assert len(w.dead_letters) == 1

    def test_breaker_opens_and_recovers(self):
        b = CircuitBreaker(failure_threshold=3, cooldown_s=0.05)
        assert b.allow()
        for _ in range(3):
            b.record_failure()
        assert b.state == "OPEN" and not b.allow()
        import time

        time.sleep(0.06)
        assert b.state == "HALF_OPEN" and b.allow()
        b.record_success()
        assert b.state == "CLOSED"

    def test_breaker_raises_circuit_open(self, target_db):
        always_fail = [10**9]
        w = JdbcUpsertWriter(
            connect_fn=lambda: _FlakyConn(sqlite3.connect(target_db), always_fail),
            table="orders",
            columns=ORDERS_PAYLOAD,
            key_cols=["o_orderkey"],
            dialect="sqlite",
            retry=RetryPolicy(max_retries=10, base_delay_s=0.001),
            breaker=CircuitBreaker(failure_threshold=2, cooldown_s=60),
        )
        rows = [
            {"op": "I", "o_orderkey": 1, "o_custkey": 2, "o_orderstatus": "O",
             "o_totalprice": 1.0, "o_orderdate": "2024-01-01", "o_orderpriority": "1"}
        ]
        with pytest.raises(CircuitOpen):
            w.apply_rows(iter(rows))


class TestErrorTaxonomy:
    @pytest.mark.parametrize(
        "exc,expected",
        [
            (Exception(1040, "too many connections"), ErrorClass.RETRYABLE),
            (Exception(2006, "server gone away"), ErrorClass.RETRYABLE),
            (Exception(1213, "deadlock"), ErrorClass.RETRYABLE),
            (Exception(1045, "access denied"), ErrorClass.FATAL),
            (Exception(1049, "unknown db"), ErrorClass.FATAL),
            (Exception(1146, "no such table"), ErrorClass.NON_RETRYABLE),
            (sqlite3.OperationalError("database is locked"), ErrorClass.RETRYABLE),
            (ValueError("weird"), ErrorClass.NON_RETRYABLE),
        ],
    )
    def test_classification(self, exc, expected):
        assert classify_error(exc) == expected


class TestSqlDialects:
    def _writer(self, dialect):
        return JdbcUpsertWriter(
            connect_fn=lambda: None,
            table="t",
            columns=["k", "v"],
            key_cols=["k"],
            dialect=dialect,
        )

    def test_mysql_upsert_sql(self):
        sql = self._writer("mysql")._upsert_sql()
        assert "ON DUPLICATE KEY UPDATE v=VALUES(v)" in sql and "%s" in sql

    def test_multi_values_sql_per_dialect(self):
        """multi_values renders ONE statement with n VALUES tuples —
        the engine-side rewriteBatchedStatements posture (the
        reference's HikariCP knob); cached per row count."""
        sql = self._writer("mysql")._multi_upsert_sql(3)
        assert sql.count("(%s, %s)") == 3
        assert "ON DUPLICATE KEY UPDATE v=VALUES(v)" in sql
        sql = self._writer("sqlite")._multi_upsert_sql(2)
        assert sql.count("(?, ?)") == 2
        assert "ON CONFLICT(k) DO UPDATE SET v=excluded.v" in sql
        sql = self._writer("starrocks")._multi_upsert_sql(4)
        assert sql.count("(?, ?)") == 4 and "ON " not in sql
        w = self._writer("sqlite")
        assert w._multi_upsert_sql(5) is w._multi_upsert_sql(5)  # cached

    def test_sqlite_upsert_sql(self):
        sql = self._writer("sqlite")._upsert_sql()
        assert "ON CONFLICT(k) DO UPDATE SET v=excluded.v" in sql

    def test_starrocks_plain_insert(self):
        sql = self._writer("starrocks")._upsert_sql()
        assert sql.startswith("INSERT INTO t") and "ON " not in sql

    def test_delete_sql(self):
        assert self._writer("mysql")._delete_sql() == "DELETE FROM t WHERE k = %s"

    def test_bad_dialect(self):
        with pytest.raises(ValueError):
            self._writer("oracle")
