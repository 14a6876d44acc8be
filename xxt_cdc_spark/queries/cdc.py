"""CDC operator queries — SURVEY.md §2 inventory, oracle-checked.

Each query exercises an engine operator over the deterministic
changefeed derived from ``orders`` (changefeed.py), with a DuckDB
oracle reproducing the same history in ANSI SQL. Coverage map:

- cdc_envelope_roundtrip     → T1 envelope JSON ↔ typed fidelity
- cdc_multirow_explode       → T1 multi-row explode (fixes reference bug)
- cdc_lww_collapse           → R5 key-collapse / last-write-wins
- cdc_apply_upsert           → O16/O19 upsert-merge apply
- cdc_dedup_transport        → R5 duplicate-delivery removal
- cdc_route_stats            → R1/R2 hash routing (portable md5 router)
- cdc_snapshot_chunks        → S6 PK-range chunked snapshot planning
- cdc_offset_barrier         → C22 min-barrier committable position
- cdc_table_filter           → T5 include/exclude wildcard filtering
- cdc_ddl_classify           → T6/C31 DDL classification
- cdc_mor_converged          → merge-on-read sink lifecycle
                               (append → compact → append → read-merge)
- cdc_binlog_transport_replay → S1 binlog transport round-trip (rotated
                               files, source-assigned positions)
- cdc_gtid_resume_cut        → S2 GTID-mode resume gate (interval
                               containment compiled to JVM BETWEENs)
- cdc_incremental_agg        → materialized-view-over-CDC: aggregate
                               maintained from ±image deltas
- cdc_mor_asof               → merge-on-read time travel (state as of
                               a position ≡ replay cut)
- cdc_scd2_history           → SCD Type-2 version table, built
                               incrementally (3 batches + replay) and
                               hash-checked against the one-shot window
- cdc_reconcile_drift        → source/target convergence check
                               (chunk checksums + row drill-down;
                               oracle derives the expected report
                               independently of the protocol)
- cdc_temporal_join          → point-in-time join vs the SCD2
                               history (union-tag + running-last, no
                               join operator in the plan)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xxt_cdc_spark.changefeed import (
    ORDERS_CHANGEFEED_SQL,
    ORDERS_PAYLOAD,
    orders_changefeed,
    to_envelope,
)
from xxt_cdc_spark.operators.apply import apply_changes
from xxt_cdc_spark.operators.collapse import dedup_transport, last_write_wins
from xxt_cdc_spark.operators.ddl import classify_ddl_df
from xxt_cdc_spark.operators.normalize import envelope_to_typed, normalize_raw_events
from xxt_cdc_spark.session import normalize_timestamps
from xxt_cdc_spark.operators.table_filter import TableFilter

_CF = f"WITH cf AS ({ORDERS_CHANGEFEED_SQL})"


# --- T1/T2: envelope JSON round-trip --------------------------------------
def cdc_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed → JSON envelope → typed again; oracle is the direct feed,
    so any loss in the JSON encode/decode (types, nulls, timestamps)
    fails the hash. (Subsumes the former cdc_changefeed_events entry:
    the raw feed is this query's own input, so a feed defect fails this
    hash too — r4 registry consolidation.)"""
    cf = orders_changefeed(spark, sf_dir)
    # the whole query is map-side JSON codec work (no shuffle anywhere),
    # so a single-file orders scan runs it on the union's 4 tasks —
    # spread it first (r12: 1.9 → 1.0 s; a production changefeed
    # arrives from the binlog source already partitioned, so this is
    # the small-file-artifact posture of functions/dedup.shingles)
    cf = cf.repartition(spark.sparkContext.defaultParallelism)
    env = to_envelope(cf)
    orders_schema = normalize_timestamps(spark.read.parquet(f"{sf_dir}/orders.parquet")).schema
    # image='auto' does the per-op before/after dispatch in one pass —
    # no filter+union re-computing the changefeed per branch. No final
    # global sort: the result is a bag (the correctness gate hashes
    # rows order-insensitively), and a sort directly over a
    # shuffle-free map pipeline makes the range-partitioner's sampling
    # job recompute the whole plan a second time.
    typed = envelope_to_typed(env, "orders", orders_schema, image="auto")
    return typed.select("op", "pos_file", "pos_offset", *ORDERS_PAYLOAD)


CDC_ROUNDTRIP_SQL = f"""{_CF}
SELECT op, pos_file, pos_offset, o_orderkey,
       CASE WHEN op = 'D' THEN NULL ELSE o_custkey END AS o_custkey,
       CASE WHEN op = 'D' THEN NULL ELSE o_orderstatus END AS o_orderstatus,
       CASE WHEN op = 'D' THEN NULL ELSE o_totalprice END AS o_totalprice,
       CASE WHEN op = 'D' THEN NULL ELSE o_orderdate END AS o_orderdate,
       CASE WHEN op = 'D' THEN NULL ELSE o_orderpriority END AS o_orderpriority
FROM cf
"""


# --- T1: multi-row explode -------------------------------------------------
def cdc_multirow_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack orders into multi-row WRITE_ROWS events (one per customer),
    normalize, and verify every row is emitted — the reference dropped
    all but the first row (MySQLEventNormalizer.scala:73)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    raw = (
        orders.groupBy("o_custkey")
        .agg(F.collect_list(F.to_json(F.struct("o_orderkey", "o_totalprice"))).alias("rows_after"))
        .select(
            F.lit("binlog.000001").alias("pos_file"),
            F.col("o_custkey").alias("pos_offset"),
            F.lit(None).cast("timestamp").alias("ts"),
            F.lit("WRITE_ROWS").alias("event_type"),
            F.lit("testdb").alias("db"),
            F.lit("orders").alias("table"),
            F.lit(None).cast("array<string>").alias("rows_before"),
            F.col("rows_after"),
            F.lit(None).cast("string").alias("sql"),
        )
    )
    env = normalize_raw_events(raw, {"orders": ["o_orderkey"]})
    return env.select(
        "db",
        "table",
        "op",
        F.get_json_object("after", "$.o_orderkey").cast("long").alias("o_orderkey"),
        F.get_json_object("key", "$.o_orderkey").cast("long").alias("key_orderkey"),
    ).orderBy("o_orderkey")


CDC_MULTIROW_SQL = """
SELECT 'testdb' AS db, 'orders' AS "table", 'I' AS op,
       o_orderkey, o_orderkey AS key_orderkey
FROM orders ORDER BY o_orderkey
"""


# --- R5: last-write-wins collapse ------------------------------------------
def cdc_lww_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    cf = orders_changefeed(spark, sf_dir)
    return last_write_wins(cf, ["o_orderkey"], ["pos_offset"]).select(
        "o_orderkey", "op", "pos_offset", "o_orderstatus", "o_totalprice"
    )


CDC_LWW_SQL = f"""{_CF}
SELECT o_orderkey, op, pos_offset, o_orderstatus, o_totalprice
FROM cf
QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY pos_offset DESC) = 1
ORDER BY o_orderkey
"""


# --- O16/O19: apply (upsert-merge) -------------------------------------------
def cdc_apply_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the changefeed onto the snapshot — final converged state.

    Idempotency is part of the contract: the feed contains duplicate
    deliveries, and apply_changes collapses them (effectively-once).
    """
    orders = normalize_timestamps(spark.read.parquet(f"{sf_dir}/orders.parquet"))
    cf = orders_changefeed(spark, sf_dir)
    state = apply_changes(orders, cf, ["o_orderkey"], ["pos_offset"])
    return state


CDC_APPLY_SQL = f"""{_CF},
latest AS (
  SELECT * FROM cf
  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY pos_offset DESC) = 1
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
FROM latest WHERE op <> 'D'
UNION ALL
SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM cf)
ORDER BY o_orderkey
"""


# --- R5: transport dedup ------------------------------------------------------
def cdc_dedup_transport(spark: SparkSession, sf_dir: str) -> DataFrame:
    # project to the three columns the report needs BEFORE the dedup
    # and dedup on all of them (r15): dropDuplicates on a key subset
    # keeps the non-key columns via first(), and first(string) agg
    # buffers are not UnsafeRow-mutable, so the dedup planned as a
    # SortAggregate carrying every payload column. A distinct over
    # exactly (key, pos, op) is a grouping-keys-only HashAggregate —
    # and is literally the oracle's own spelling (SELECT DISTINCT
    # o_orderkey, pos_offset, op), so equivalence holds even if a
    # duplicate delivery ever disagreed on payload columns. op is
    # determined by (o_orderkey, pos_offset) in the changefeed, so the
    # row set is identical to the previous key-subset dedup.
    cf = orders_changefeed(spark, sf_dir).select("o_orderkey", "pos_offset", "op")
    deduped = dedup_transport(cf, ["o_orderkey", "pos_offset", "op"])
    return deduped.groupBy("op").agg(F.count(F.lit(1)).alias("n_events")).orderBy("op")


CDC_DEDUP_SQL = f"""{_CF}
SELECT op, COUNT(*) AS n_events
FROM (SELECT DISTINCT o_orderkey, pos_offset, op FROM cf)
GROUP BY op ORDER BY op
"""


# --- R1/R2: hash routing (portable md5 router) ---------------------------------
def cdc_route_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition balance of the key router over 16 shards.

    Production routing uses Spark's native hash shuffle
    (operators/routing.py); this portable md5-based variant proves the
    same-key→same-partition property against the oracle.
    """
    cf = orders_changefeed(spark, sf_dir)
    pid = (
        F.expr(
            "locate(substring(md5(concat_ws(':', 'testdb', 'orders', cast(o_orderkey as string))), 1, 1),"
            " '0123456789abcdef') - 1"
        )
    ).alias("partition_id")
    return (
        cf.select(pid, "o_orderkey")
        .groupBy("partition_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.countDistinct("o_orderkey").alias("n_keys"))
        .orderBy("partition_id")
    )


CDC_ROUTE_SQL = f"""{_CF}
SELECT strpos('0123456789abcdef', substr(md5('testdb' || ':' || 'orders' || ':' || CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1 AS partition_id,
       COUNT(*) AS n_events, COUNT(DISTINCT o_orderkey) AS n_keys
FROM cf GROUP BY 1 ORDER BY partition_id
"""


# --- S6: PK-range chunk planning -------------------------------------------------
def cdc_snapshot_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width PK chunking (reference SnapshotWorker.scala:223-297) —
    the plan Spark's partitioned JDBC read executes."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    bounds = orders.agg(
        F.min("o_orderkey").alias("lo"), (F.max("o_orderkey") + 1).alias("hi")
    )
    n = 8
    chunked = orders.crossJoin(F.broadcast(bounds)).withColumn(
        "chunk_id",
        F.floor((F.col("o_orderkey") - F.col("lo")) * n / (F.col("hi") - F.col("lo"))),
    )
    return (
        chunked.groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("chunk_id")
    )


CDC_CHUNKS_SQL = """
WITH bounds AS (SELECT MIN(o_orderkey) AS lo, MAX(o_orderkey) + 1 AS hi FROM orders)
SELECT CAST(FLOOR((o_orderkey - lo) * 8 / (hi - lo)) AS BIGINT) AS chunk_id,
       COUNT(*) AS n_rows, MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
FROM orders CROSS JOIN bounds
GROUP BY 1 ORDER BY chunk_id
"""


# --- C22: offset min-barrier -------------------------------------------------------
def cdc_offset_barrier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Committable position = min over partitions of max applied position
    (reference DefaultOffsetCoordinator.scala:81-115). In production the
    streaming checkpoint subsumes this; the operator remains for the
    JDBC offset-mirror parity path."""
    cf = orders_changefeed(spark, sf_dir)
    per_part = (
        cf.withColumn("partition_id", F.col("o_orderkey") % 8)
        .groupBy("partition_id")
        .agg(F.max("pos_offset").alias("max_applied"))
    )
    w = Window.partitionBy()
    return per_part.withColumn("committable", F.min("max_applied").over(w)).orderBy("partition_id")


CDC_BARRIER_SQL = f"""{_CF}
SELECT partition_id, max_applied, MIN(max_applied) OVER () AS committable
FROM (
  SELECT o_orderkey % 8 AS partition_id, MAX(pos_offset) AS max_applied
  FROM cf GROUP BY 1
) ORDER BY partition_id
"""


# --- T5: table filtering ---------------------------------------------------------
_FILTER_TABLES = [
    "orders",
    "orders_2024",
    "orders_backup",
    "lineitem",
    "lineitem_old",
    "temp_orders",
    "customer",
    "users",
]


def cdc_table_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = TableFilter(
        include_tables=["orders*", "lineitem", "users"],
        exclude_tables=["*_backup", "temp_*"],
    )
    df = spark.createDataFrame([(t,) for t in _FILTER_TABLES], "table string").withColumn(
        "db", F.lit("testdb")
    )
    return df.withColumn("included", tf.predicate()).select("table", "included").orderBy("table")


CDC_FILTER_SQL = """
WITH t(tbl) AS (VALUES ('orders'), ('orders_2024'), ('orders_backup'), ('lineitem'),
                       ('lineitem_old'), ('temp_orders'), ('customer'), ('users'))
SELECT tbl AS "table",
       (NOT regexp_matches(tbl, '^.*_backup$')) AND (NOT regexp_matches(tbl, '^temp_.*$'))
       AND (regexp_matches(tbl, '^orders.*$') OR tbl = 'lineitem' OR tbl = 'users') AS included
FROM t ORDER BY tbl
"""


# --- T6/C31: DDL classification -----------------------------------------------------
_DDL_STATEMENTS = [
    "CREATE TABLE testdb.orders (id INT)",
    "CREATE TABLE IF NOT EXISTS `users` (id INT)",
    "ALTER TABLE orders ADD COLUMN x INT",
    "ALTER TABLE `testdb`.`lineitem` DROP COLUMN y",
    "DROP TABLE IF EXISTS temp_orders",
    "TRUNCATE TABLE audit_log",
    "TRUNCATE sessions",
    "RENAME TABLE old_orders TO new_orders",
    "CREATE INDEX idx_c ON customer (c_name)",
    "CREATE UNIQUE INDEX idx_u ON users (email)",
    "DROP INDEX idx_c ON customer",
    "INSERT INTO orders VALUES (1)",
    "BEGIN",
    "UPDATE orders SET x = 1",
]


def cdc_ddl_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.createDataFrame([(s,) for s in _DDL_STATEMENTS], "sql string")
    out = classify_ddl_df(df)
    return out.select("sql", "ddl_type", "ddl_table", "severity").orderBy("sql")


CDC_DDL_SQL = r"""
WITH s(sql) AS (VALUES
  ('CREATE TABLE testdb.orders (id INT)'),
  ('CREATE TABLE IF NOT EXISTS `users` (id INT)'),
  ('ALTER TABLE orders ADD COLUMN x INT'),
  ('ALTER TABLE `testdb`.`lineitem` DROP COLUMN y'),
  ('DROP TABLE IF EXISTS temp_orders'),
  ('TRUNCATE TABLE audit_log'),
  ('TRUNCATE sessions'),
  ('RENAME TABLE old_orders TO new_orders'),
  ('CREATE INDEX idx_c ON customer (c_name)'),
  ('CREATE UNIQUE INDEX idx_u ON users (email)'),
  ('DROP INDEX idx_c ON customer'),
  ('INSERT INTO orders VALUES (1)'),
  ('BEGIN'),
  ('UPDATE orders SET x = 1')
),
classified AS (
  SELECT sql,
    CASE
      WHEN regexp_matches(sql, '(?i)^\s*CREATE\s+(TEMPORARY\s+)?TABLE') THEN 'CREATE_TABLE'
      WHEN regexp_matches(sql, '(?i)^\s*ALTER\s+TABLE') THEN 'ALTER_TABLE'
      WHEN regexp_matches(sql, '(?i)^\s*DROP\s+(TEMPORARY\s+)?TABLE') THEN 'DROP_TABLE'
      WHEN regexp_matches(sql, '(?i)^\s*TRUNCATE') THEN 'TRUNCATE_TABLE'
      WHEN regexp_matches(sql, '(?i)^\s*RENAME\s+TABLE') THEN 'RENAME_TABLE'
      WHEN regexp_matches(sql, '(?i)^\s*CREATE\s+(UNIQUE\s+)?INDEX') THEN 'CREATE_INDEX'
      WHEN regexp_matches(sql, '(?i)^\s*DROP\s+INDEX') THEN 'DROP_INDEX'
      ELSE NULL
    END AS ddl_type,
    CASE
      WHEN regexp_matches(sql, '(?i)^\s*CREATE\s+(TEMPORARY\s+)?TABLE')
        THEN regexp_extract(sql, '(?i)^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([`"\w.]+)', 1)
      WHEN regexp_matches(sql, '(?i)^\s*ALTER\s+TABLE')
        THEN regexp_extract(sql, '(?i)^\s*ALTER\s+TABLE\s+([`"\w.]+)', 1)
      WHEN regexp_matches(sql, '(?i)^\s*DROP\s+(TEMPORARY\s+)?TABLE')
        THEN regexp_extract(sql, '(?i)^\s*DROP\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+EXISTS\s+)?([`"\w.]+)', 1)
      WHEN regexp_matches(sql, '(?i)^\s*TRUNCATE')
        THEN regexp_extract(sql, '(?i)^\s*TRUNCATE\s+(?:TABLE\s+)?([`"\w.]+)', 1)
      WHEN regexp_matches(sql, '(?i)^\s*RENAME\s+TABLE')
        THEN regexp_extract(sql, '(?i)^\s*RENAME\s+TABLE\s+([`"\w.]+)', 1)
      WHEN regexp_matches(sql, '(?i)^\s*CREATE\s+(UNIQUE\s+)?INDEX')
        THEN regexp_extract(sql, '(?i)^\s*CREATE\s+(?:UNIQUE\s+)?INDEX\s+[`"\w]+\s+ON\s+([`"\w.]+)', 1)
      WHEN regexp_matches(sql, '(?i)^\s*DROP\s+INDEX')
        THEN regexp_extract(sql, '(?i)^\s*DROP\s+INDEX\s+[`"\w]+\s+ON\s+([`"\w.]+)', 1)
      ELSE NULL
    END AS raw_name
  FROM s
  WHERE regexp_matches(sql, '(?i)^\s*(CREATE|ALTER|DROP|TRUNCATE|RENAME)')
)
SELECT sql, ddl_type,
       CASE WHEN raw_name IS NULL THEN NULL
            ELSE CASE WHEN strpos(replace(replace(raw_name, '`', ''), '"', ''), '.') > 0
                      THEN split_part(replace(replace(raw_name, '`', ''), '"', ''), '.', 2)
                      ELSE replace(replace(raw_name, '`', ''), '"', '') END
       END AS ddl_table,
       CASE WHEN ddl_type IN ('DROP_TABLE', 'TRUNCATE_TABLE') THEN 'CRITICAL' ELSE 'INFO' END AS severity
FROM classified ORDER BY sql
"""


# --- composite-PK apply (lineitem) -------------------------------------------
def cdc_composite_key_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column key routing/collapse/apply — the composite-PK case
    the reference routes via the full PK map (EventRouter.scala:28-31)."""
    from xxt_cdc_spark.changefeed import lineitem_base, lineitem_changefeed

    # corpus lineitem has duplicate (orderkey, linenumber) pairs — the
    # keyed snapshot is the deterministic per-key representative
    li = lineitem_base(spark, sf_dir)
    cf = lineitem_changefeed(spark, sf_dir)
    state = apply_changes(li, cf, ["l_orderkey", "l_linenumber"], ["pos_offset"])
    return state.orderBy("l_orderkey", "l_linenumber")


from xxt_cdc_spark.changefeed import LINEITEM_CHANGEFEED_SQL  # noqa: E402

CDC_COMPOSITE_SQL = f"""
WITH cf AS ({LINEITEM_CHANGEFEED_SQL}),
latest AS (
  SELECT * FROM cf
  QUALIFY ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber ORDER BY pos_offset DESC) = 1
)
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice
FROM latest WHERE op <> 'D'
ORDER BY l_orderkey, l_linenumber
"""


# --- bounded catchup replay (T8/C28) --------------------------------------------
CATCHUP_LOW, CATCHUP_HIGH = 50000, 100000


def cdc_catchup_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage state build: snapshot at `low`, then bounded replay of
    (low, high] — the watermark-protocol execution path. The oracle
    computes the state at `high` directly, so a hash-match proves the
    snapshot+catchup composition equals single-shot replay."""
    orders = normalize_timestamps(spark.read.parquet(f"{sf_dir}/orders.parquet"))
    cf = orders_changefeed(spark, sf_dir)
    state_low = apply_changes(
        orders, cf.filter(F.col("pos_offset") <= CATCHUP_LOW), ["o_orderkey"], ["pos_offset"]
    )
    delta = cf.filter(
        (F.col("pos_offset") > CATCHUP_LOW) & (F.col("pos_offset") <= CATCHUP_HIGH)
    )
    state_high = apply_changes(state_low, delta, ["o_orderkey"], ["pos_offset"])
    return state_high.orderBy("o_orderkey")


CDC_CATCHUP_SQL = f"""{_CF},
bounded AS (SELECT * FROM cf WHERE pos_offset <= {CATCHUP_HIGH}),
latest AS (
  SELECT * FROM bounded
  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY pos_offset DESC) = 1
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
FROM latest WHERE op <> 'D'
UNION ALL
SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM bounded)
ORDER BY o_orderkey
"""


# --- merge-on-read sink convergence (changelog_mor) ---------------------------
# split position 422 cuts INSIDE key 42's event run (42 % 21 == 0, so it
# has insert 421, update 422 AND delete 423): the insert+update land in
# the compacted base, the delete arrives in the post-compaction suffix —
# exercising cross-batch supersede, not just a clean key split.
MOR_CUT = 422


def cdc_mor_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read lifecycle end-to-end: append the changefeed prefix
    to the log, COMPACT it into the bucketed state table (watermark
    advances), append the suffix, and read ``converged()`` — the
    (compacted base ⋈ LWW suffix) view. The oracle replays the WHOLE
    feed in one LWW pass, so a hash-match proves append→compact→append→
    read-merge equals single-shot replay, including a suffix delete
    superseding a compacted base row (key 42)."""
    import shutil
    import tempfile

    from xxt_cdc_spark.sinks.changelog_mor import ChangelogMorTable

    cf = orders_changefeed(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="mor_q_")
    try:
        t = ChangelogMorTable(spark, tmp, ["o_orderkey"], n_buckets=8)
        t.append_batch(cf.filter(F.col("pos_offset") <= MOR_CUT))
        t.compact()
        t.append_batch(cf.filter(F.col("pos_offset") > MOR_CUT))
        # materialize off the temp files before they are removed
        out = t.converged().orderBy("o_orderkey").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


CDC_MOR_SQL = f"""{_CF},
latest AS (
  SELECT * FROM cf
  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY pos_offset DESC) = 1
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
FROM latest WHERE op <> 'D'
ORDER BY o_orderkey
"""


# --- S1: the binlog transport end-to-end -----------------------------------
def cdc_binlog_transport_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real transport round-trip: changefeed → envelope records
    appended to rotated binlog files (with a mid-stream ROTATE) → read
    back through the xxt_binlog batch reader → decode → LWW converge.

    The transport assigns its OWN positions (file, byte offset of each
    record) — the oracle replays the same history on the changefeed's
    logical clock, so a hash-match proves the transport's clock induces
    the same total order (append order) as the logical one, across the
    file rotations, with none of the payload damaged by the wire format.

    The log itself is written DISTRIBUTED: the changefeed is
    range-partitioned on its logical clock and each partition appends
    its slice as one rotated file (partition i → binlog.<i+1>), so the
    per-file offset order within ascending file numbers reproduces the
    logical order with no driver materialization — rotation falls out
    of the partitioning instead of being staged row-by-row.
    """
    import os
    import shutil
    import tempfile

    from xxt_cdc_spark.streaming.binlog_source import register

    cf = orders_changefeed(spark, sf_dir)
    env = to_envelope(cf)
    tmp = tempfile.mkdtemp(prefix="binlog_q_")
    n_files = 8  # rotated files = range partitions

    def _write_files(batches):
        import pandas as pd
        from pyspark import TaskContext

        from xxt_cdc_spark.streaming.binlog_source import encode_record

        pid = TaskContext.get().partitionId()
        fp = os.path.join(tmp, f"binlog.{pid + 1:06d}")
        n = 0
        # "w", not append: a speculative/retried task rewrites its whole
        # file, keeping the write idempotent
        with open(fp, "w", encoding="utf-8") as f:
            for pdf in batches:
                for rec in pdf.to_dict("records"):
                    rec.pop("pos_offset", None)
                    # one canonical wire encoding (see encode_record):
                    # the transport reader must never meet a format this
                    # writer and BinlogLogWriter disagree on
                    f.write(encode_record(rec) + "\n")
                    n += 1
        yield pd.DataFrame({"rows_written": [n]})

    try:
        (
            env.select(
                "pos_offset", "db", "table", "op", "ts", "gtid", "key", "before", "after"
            )
            .repartitionByRange(n_files, "pos_offset")
            .sortWithinPartitions("pos_offset")
            .mapInPandas(_write_files, "rows_written long")
            .collect()  # O(n_files) driver rows — bounded metadata only
        )
        register(spark)
        env2 = spark.read.format("xxt_binlog").option("path", tmp).load()
        orders_schema = normalize_timestamps(
            spark.read.parquet(f"{sf_dir}/orders.parquet")
        ).schema
        typed = envelope_to_typed(env2, "orders", orders_schema, image="auto")
        latest = last_write_wins(typed, ["o_orderkey"], ["pos_file", "pos_offset"])
        out = (
            latest.filter(F.col("op") != "D")
            .select(*ORDERS_PAYLOAD)
            .orderBy("o_orderkey")
            .localCheckpoint(eager=True)  # materialize before temp cleanup
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


CDC_BINLOG_REPLAY_SQL = f"""{_CF},
latest AS (
  SELECT * FROM cf
  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY pos_offset DESC) = 1
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
FROM latest WHERE op <> 'D'
ORDER BY o_orderkey
"""


# --- merge-on-read time travel ------------------------------------------------
MOR_ASOF = 77777  # between MOR_CUT (compaction watermark) and the feed's max


def cdc_mor_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel on the merge-on-read table: append→compact→append,
    then read ``as_of`` a position BETWEEN the compaction watermark and
    the head. The oracle replays the raw feed cut at the same position,
    so a hash-match proves (compacted base ⋈ bounded suffix) is
    position-exact — not just eventually consistent."""
    import shutil
    import tempfile

    from xxt_cdc_spark.sinks.changelog_mor import ChangelogMorTable

    cf = orders_changefeed(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="mor_asof_q_")
    try:
        t = ChangelogMorTable(spark, tmp, ["o_orderkey"], n_buckets=8)
        t.append_batch(cf.filter(F.col("pos_offset") <= MOR_CUT))
        t.compact()
        t.append_batch(cf.filter(F.col("pos_offset") > MOR_CUT))
        out = (
            t.as_of("binlog.000001", MOR_ASOF)
            .orderBy("o_orderkey")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


CDC_MOR_ASOF_SQL = f"""{_CF},
latest AS (
  SELECT * FROM cf WHERE pos_offset <= {MOR_ASOF}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY pos_offset DESC) = 1
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
FROM latest WHERE op <> 'D'
ORDER BY o_orderkey
"""


# --- incremental aggregate maintenance ---------------------------------------
def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized view over CDC: a grouped aggregate (count + exact
    sum by order status) maintained purely from change DELTAS — the
    changefeed replays in four position chunks, each contributing
    (+new, −old-image) per key — never recomputed from the base table
    (operators/incremental_agg.py). The oracle aggregates the converged
    state directly, so a hash-match proves insert/update/delete/
    group-migration deltas compose to exactly the from-scratch answer.
    """
    from xxt_cdc_spark.operators.incremental_agg import cdc_agg_delta, merge_agg

    group, sums = ["o_orderstatus"], ["o_totalprice"]
    cf = orders_changefeed(spark, sf_dir)
    max_pos = cf.agg(F.max("pos_offset")).first()[0]
    cuts = [0] + [max_pos * i // 4 for i in (1, 2, 3)] + [max_pos]

    payload = cf.select(*ORDERS_PAYLOAD).limit(0)
    state = payload  # empty: the feed's inserts build it
    agg = (
        payload.select(
            *group,
            F.lit(0).cast("long").alias("n"),
            F.lit(0).cast("decimal(25,6)").alias("o_totalprice_sum"),
        ).limit(0)
    )
    for lo, hi in zip(cuts, cuts[1:]):
        chunk = cf.filter((F.col("pos_offset") > lo) & (F.col("pos_offset") <= hi))
        collapsed = last_write_wins(chunk, ["o_orderkey"], ["pos_offset"]).localCheckpoint(
            eager=True
        )
        # prior images of the touched keys: with a persisted state table
        # this is the bucket-pruned lookup (see tests/test_incremental_agg)
        old = state.join(collapsed.select("o_orderkey"), "o_orderkey", "inner")
        delta = cdc_agg_delta(collapsed, old, group, sums)
        agg = merge_agg(agg, delta, group, sums).localCheckpoint(eager=True)
        state = apply_changes(state, collapsed, ["o_orderkey"], ["pos_offset"]).localCheckpoint(
            eager=True
        )
    return agg.select(
        *group,
        F.col("n"),
        F.col("o_totalprice_sum").cast("double").alias("total_price"),
    ).orderBy(*group)


CDC_INCR_AGG_SQL = f"""{_CF},
latest AS (
  SELECT * FROM cf
  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY pos_offset DESC) = 1
)
SELECT o_orderstatus, COUNT(*) AS n, {{dsum}} AS total_price
FROM latest WHERE op <> 'D'
GROUP BY o_orderstatus ORDER BY o_orderstatus
""".format(dsum="CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)")


# --- GTID resume gate --------------------------------------------------------
GTID_UUID = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
GTID_EXECUTED = f"{GTID_UUID}:1-60000:60101-900000"


def cdc_gtid_resume_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GTID-mode resume over the changefeed: each event carries a
    single-transaction GTID (txid = pos_offset); the executed set has a
    GAP (60001-60100) and an open tail (>900000). position_after
    compiles the set into JVM-side BETWEEN clauses
    (model/gtid.gtid_not_executed); the oracle states the same
    containment cut explicitly, so a hash-match proves the interval
    algebra — the semantics the reference's string compare punts on."""
    from xxt_cdc_spark.model.positions import GTIDPosition, position_after

    cf = orders_changefeed(spark, sf_dir).withColumn(
        "gtid", F.concat(F.lit(f"{GTID_UUID}:"), F.col("pos_offset"))
    )
    kept = cf.filter(position_after(GTIDPosition(GTID_EXECUTED)))
    return (
        kept.groupBy("op")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("pos_offset").alias("min_tx"),
            F.max("pos_offset").alias("max_tx"),
        )
        .orderBy("op")
    )


CDC_GTID_CUT_SQL = f"""{_CF}
SELECT op, COUNT(*) AS n_events, MIN(pos_offset) AS min_tx, MAX(pos_offset) AS max_tx
FROM cf
WHERE NOT (pos_offset BETWEEN 1 AND 60000 OR pos_offset BETWEEN 60101 AND 900000)
GROUP BY op ORDER BY op
"""


# --- SCD Type-2 history materialization --------------------------------------
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 version table of the changefeed (operators/scd2.py), built
    INCREMENTALLY: the feed splits into three position-ordered batches
    folded through ``Scd2Table.apply_batch`` (bucket-pruned current
    state + versioned closed-history dirs), with batch 1 fully REPLAYED
    (the _SUCCESS-gated idempotency check). The oracle computes the
    whole history in one SQL window pass — hash-equality proves
    incremental maintenance ≡ from-scratch, deletes close versions
    without creating them, and the replay moved nothing."""
    import shutil
    import tempfile

    from xxt_cdc_spark.operators.scd2 import Scd2Table

    cf = orders_changefeed(spark, sf_dir)
    # batch by op phase (all inserts, then all updates, then all
    # deletes — positions are k*10+{1,2,3}, so per-key order is
    # monotone across batches): EVERY updated/deleted key spans
    # batches, which is what actually exercises the cross-batch
    # closed_from_state path — a position-range cut at a multiple of
    # 10 would keep each key's events in one batch and leave that
    # path vacuously untested
    batches = [cf.filter(F.col("pos_offset") % 10 == p) for p in (1, 2, 3)]
    root = tempfile.mkdtemp(prefix="xxt_scd2_")
    try:
        t = Scd2Table(spark, root, ["o_orderkey"], ["pos_file", "pos_offset"], n_buckets=8)
        for i, b in enumerate(batches):
            t.apply_batch(b, i)
            if i == 1:
                t.apply_batch(batches[1], 1)  # replay: must be a no-op
        out = (
            t.history()
            .select(
                "o_orderkey",
                F.col("valid_from_pos_offset").alias("valid_from"),
                F.col("valid_to_pos_offset").alias("valid_to"),
                "is_current",
                "o_orderstatus",
                "o_totalprice",
                "o_orderpriority",
            )
            .orderBy("o_orderkey", "valid_from")
        )
        return out.localCheckpoint(eager=True)  # survive the state-dir cleanup
    finally:
        shutil.rmtree(root, ignore_errors=True)


CDC_SCD2_SQL = f"""{_CF},
dedup AS (SELECT DISTINCT * FROM cf),
v AS (
  SELECT *, LEAD(pos_offset) OVER (PARTITION BY o_orderkey
                                   ORDER BY pos_file, pos_offset) AS valid_to
  FROM dedup
)
SELECT o_orderkey, pos_offset AS valid_from, valid_to,
       CAST(CASE WHEN valid_to IS NULL AND op <> 'D' THEN 1 ELSE 0 END AS INT) AS is_current,
       o_orderstatus, o_totalprice, o_orderpriority
FROM v WHERE op <> 'D'
ORDER BY o_orderkey, valid_from
"""


# --- temporal (point-in-time) join vs the SCD2 history -----------------------
def cdc_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink-style temporal table join (operators/temporal_join.py):
    every changefeed position probes the orders SCD2 history at itself
    AND at +4 (positions are k*10+{1,2,3}, so +4 probes land mid-
    interval and, for deleted keys, in the post-delete GAP — the case
    the running-last trick alone would get wrong). Inner join: probes
    before the key existed or past its delete match nothing. The
    oracle is the naive range join over the LEAD-built history."""
    from xxt_cdc_spark.operators.scd2 import scd2_history
    from xxt_cdc_spark.operators.temporal_join import temporal_join

    cf = orders_changefeed(spark, sf_dir)
    hist = scd2_history(
        cf.select("op", "pos_file", "pos_offset", "o_orderkey", "o_orderstatus", "o_totalprice"),
        ["o_orderkey"],
        ["pos_file", "pos_offset"],
    )
    probes = cf.select(
        "o_orderkey",
        "pos_file",
        "pos_offset",
        F.explode(F.array(F.lit(0), F.lit(4))).alias("_d"),
    ).select(
        "o_orderkey",
        "pos_file",
        (F.col("pos_offset") + F.col("_d")).alias("pos_offset"),
    ).distinct()  # the feed carries transport-duplicated updates; probe once
    out = temporal_join(probes, hist, ["o_orderkey"], ["pos_file", "pos_offset"], how="inner")
    return out.select(
        "o_orderkey",
        F.col("pos_offset").alias("probe_pos"),
        F.col("valid_from_pos_offset").alias("valid_from"),
        "o_orderstatus",
        "o_totalprice",
    )


CDC_TEMPORAL_SQL = f"""{_CF},
dedup AS (SELECT DISTINCT * FROM cf),
v AS (
  SELECT *, LEAD(pos_offset) OVER (PARTITION BY o_orderkey
                                   ORDER BY pos_file, pos_offset) AS valid_to
  FROM dedup
),
hist AS (SELECT * FROM v WHERE op <> 'D'),
probes AS (
  SELECT o_orderkey, pos_offset + d.d AS p
  FROM dedup CROSS JOIN (VALUES (0), (4)) AS d(d)
)
SELECT p.o_orderkey, p.p AS probe_pos, h.pos_offset AS valid_from,
       h.o_orderstatus, h.o_totalprice
FROM probes p
JOIN hist h ON p.o_orderkey = h.o_orderkey
           AND h.pos_offset <= p.p
           AND (h.valid_to IS NULL OR p.p < h.valid_to)
ORDER BY p.o_orderkey, probe_pos
"""


# --- table reconciliation (pt-table-checksum workflow) -----------------------
RECON_MOD = 997


def cdc_reconcile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence check for a replication target (operators/
    reconcile.py — chunk checksums, then row drill-down on mismatched
    chunks only): a synthetic target drifts from ``orders`` by
    deterministic deletes / updates / spurious inserts keyed off
    ``o_orderkey % 997``; the report must name exactly those keys with
    the right status. The oracle DERIVES the expected report directly
    from the drift rule — it shares no code path with the checksum
    protocol, so hash equality proves the protocol finds precisely the
    true diff set (no false negatives from chunking or hashing, no
    false positives from NULL handling)."""
    from xxt_cdc_spark.operators.reconcile import reconcile
    from xxt_cdc_spark.session import load_tables

    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    src = orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    m = F.col("o_orderkey") % RECON_MOD
    target = (
        src.filter(m != 0)  # deletes never applied
        .withColumn(
            "o_totalprice",
            F.when(m == 1, F.col("o_totalprice") + 1.0).otherwise(F.col("o_totalprice")),
        )
        .unionByName(  # spurious rows the source never had
            src.filter(m == 2).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
            )
        )
    )
    return (
        reconcile(src, target, ["o_orderkey"], n_chunks=256)
    )


CDC_RECONCILE_SQL = f"""
SELECT o_orderkey, 'missing_in_target' AS status FROM orders WHERE o_orderkey % {RECON_MOD} = 0
UNION ALL
SELECT o_orderkey, 'differs' AS status FROM orders WHERE o_orderkey % {RECON_MOD} = 1
UNION ALL
SELECT o_orderkey + 10000000 AS o_orderkey, 'missing_in_source' AS status
FROM orders WHERE o_orderkey % {RECON_MOD} = 2
ORDER BY o_orderkey, status
"""


# --- C31+: additive-DDL auto-apply (beyond-reference, r5 verdict item 6) -------
def cdc_ddl_additive_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER ADD COLUMN mid-changefeed converges to the EVOLVED target
    schema under the opt-in ``DDLStrategy.APPLY``, while destructive
    DDL in the same feed still only alerts (the reference's
    ddl/DDLHandler.scala:71-75 is detect-only for everything).

    Sequence: (1) phase-1 inserts apply under the base 3-column
    schema; (2) the DDL channel delivers an additive ALTER (applied —
    sink gains o_score), a DROP COLUMN ALTER and a DROP TABLE (both
    alert-only — auto-applying either would destroy data); (3) phase-2
    updates carrying the new column apply under the evolved schema.
    The oracle reconstructs the converged state independently — it
    proves BOTH the evolution (o_score populated for updated keys,
    NULL for untouched rows, exactly MySQL ADD COLUMN semantics) and
    the non-destruction (o_custkey still present, table still there).
    """
    import os
    import sqlite3
    import tempfile

    from xxt_cdc_spark.operators.ddl import DDLStrategy, classify_ddl, handle_ddl
    from xxt_cdc_spark.sinks.schema_evolution import apply_additive_ddl
    from xxt_cdc_spark.sinks.upsert import JdbcUpsertWriter, apply_batch

    orders = normalize_timestamps(spark.read.parquet(f"{sf_dir}/orders.parquet"))
    k = F.col("o_orderkey")
    base_cols = ["o_orderkey", "o_custkey", "o_orderstatus"]
    phase1 = orders.select(
        F.lit("I").alias("op"),
        F.lit("binlog.000001").alias("pos_file"),
        (k * 10 + 1).alias("pos_offset"),
        *base_cols,
    )
    phase2 = orders.filter(k % 3 == 0).select(
        F.lit("U").alias("op"),
        F.lit("binlog.000001").alias("pos_file"),
        (k * 10 + 2).alias("pos_offset"),
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.lit("U").alias("o_orderstatus"),
        (k % 100).cast("long").alias("o_score"),
    )
    with tempfile.TemporaryDirectory() as tmp:
        db = os.path.join(tmp, "evo.db")
        con = sqlite3.connect(db)
        con.execute(
            "CREATE TABLE orders_evo (o_orderkey INTEGER PRIMARY KEY,"
            " o_custkey INTEGER, o_orderstatus TEXT)"
        )
        con.commit()
        con.close()

        def factory(cols):
            return lambda: JdbcUpsertWriter(
                connect_fn=lambda: sqlite3.connect(db, timeout=60),
                table="orders_evo",
                columns=cols,
                key_cols=["o_orderkey"],
                dialect="sqlite",
                connection_init=["PRAGMA journal_mode=WAL", "PRAGMA synchronous=OFF"],
            )

        # both phases ride the executor Arrow apply (apply_pdf_stream),
        # so the driver's oracle row certifies that path end-to-end
        # across the additive DDL
        apply_batch(phase1, factory(base_cols), ["o_orderkey"], ["pos_file", "pos_offset"], 2)
        actions = [
            handle_ddl(
                classify_ddl(stmt),
                DDLStrategy.APPLY,
                apply_fn=lambda e, cols: apply_additive_ddl(
                    lambda: sqlite3.connect(db, timeout=60), e.table, cols
                ),
            )
            for stmt in (
                "ALTER TABLE orders_evo ADD COLUMN o_score BIGINT",
                "ALTER TABLE orders_evo DROP COLUMN o_custkey",
                "DROP TABLE orders_evo",
            )
        ]
        if actions != ["applied", "alerted", "alerted"]:  # defensive: the contract
            raise AssertionError(f"unexpected DDL dispositions: {actions}")
        apply_batch(
            phase2, factory(base_cols + ["o_score"]), ["o_orderkey"], ["pos_file", "pos_offset"], 2
        )
        con = sqlite3.connect(db)
        rows = con.execute(
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_score "
            "FROM orders_evo ORDER BY o_orderkey"
        ).fetchall()
        con.close()
    return spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string, o_score long"
    ).orderBy("o_orderkey")


CDC_DDL_APPLY_SQL = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 3 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
       CASE WHEN o_orderkey % 3 = 0 THEN CAST(o_orderkey % 100 AS BIGINT) ELSE NULL END AS o_score
FROM orders ORDER BY o_orderkey
"""


QUERIES = {
    "cdc_ddl_additive_apply": cdc_ddl_additive_apply,
    "cdc_temporal_join": cdc_temporal_join,
    "cdc_reconcile_drift": cdc_reconcile_drift,
    "cdc_scd2_history": cdc_scd2_history,
    "cdc_envelope_roundtrip": cdc_envelope_roundtrip,
    "cdc_multirow_explode": cdc_multirow_explode,
    "cdc_lww_collapse": cdc_lww_collapse,
    "cdc_apply_upsert": cdc_apply_upsert,
    "cdc_dedup_transport": cdc_dedup_transport,
    "cdc_route_stats": cdc_route_stats,
    "cdc_snapshot_chunks": cdc_snapshot_chunks,
    "cdc_offset_barrier": cdc_offset_barrier,
    "cdc_table_filter": cdc_table_filter,
    "cdc_ddl_classify": cdc_ddl_classify,
    "cdc_composite_key_apply": cdc_composite_key_apply,
    "cdc_catchup_range": cdc_catchup_range,
    "cdc_mor_converged": cdc_mor_converged,
    "cdc_binlog_transport_replay": cdc_binlog_transport_replay,
    "cdc_gtid_resume_cut": cdc_gtid_resume_cut,
    "cdc_incremental_agg": cdc_incremental_agg,
    "cdc_mor_asof": cdc_mor_asof,
}

ORACLE = {
    "cdc_ddl_additive_apply": CDC_DDL_APPLY_SQL,
    "cdc_temporal_join": CDC_TEMPORAL_SQL,
    "cdc_reconcile_drift": CDC_RECONCILE_SQL,
    "cdc_scd2_history": CDC_SCD2_SQL,
    "cdc_envelope_roundtrip": CDC_ROUNDTRIP_SQL,
    "cdc_multirow_explode": CDC_MULTIROW_SQL,
    "cdc_lww_collapse": CDC_LWW_SQL,
    "cdc_apply_upsert": CDC_APPLY_SQL,
    "cdc_dedup_transport": CDC_DEDUP_SQL,
    "cdc_route_stats": CDC_ROUTE_SQL,
    "cdc_snapshot_chunks": CDC_CHUNKS_SQL,
    "cdc_offset_barrier": CDC_BARRIER_SQL,
    "cdc_table_filter": CDC_FILTER_SQL,
    "cdc_ddl_classify": CDC_DDL_SQL,
    "cdc_composite_key_apply": CDC_COMPOSITE_SQL,
    "cdc_catchup_range": CDC_CATCHUP_SQL,
    "cdc_mor_converged": CDC_MOR_SQL,
    "cdc_binlog_transport_replay": CDC_BINLOG_REPLAY_SQL,
    "cdc_gtid_resume_cut": CDC_GTID_CUT_SQL,
    "cdc_incremental_agg": CDC_INCR_AGG_SQL,
    "cdc_mor_asof": CDC_MOR_ASOF_SQL,
}
