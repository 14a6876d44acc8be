"""Event-stream analytics queries (batch-checkable forms).

These are the batch twins of the engine's Structured Streaming
operators (streaming/pipeline.py): tumbling-window aggregation,
sessionization, JSON payload extraction, hot-key detection. The
streaming execution itself (watermarks, checkpoints, foreachBatch) is
exercised in tests/test_streaming.py; registering the batch forms here
gives the semantics an oracle check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xxt_cdc_spark.queries._util import dsum, sql_dsum

SESSION_GAP_MIN = 30


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events table, tolerating any parquet ts annotation.

    Spark has no nanosecond timestamp: the nanosAsLong legacy conf
    (runtime-settable) reads the column as raw nanos, and integer
    division converts to microseconds — same truncation DuckDB's
    epoch_us applies, so both engines see identical instants.
    Micros/millis files annotated isAdjustedToUTC=false would surface
    as TIMESTAMP_NTZ; normalize_timestamps delivers TIMESTAMP either
    way (value-identity under the pinned UTC timezone).
    """
    from xxt_cdc_spark.session import normalize_timestamps

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
    return normalize_timestamps(df)


# --- tumbling window aggregation (M32-style TPS per window) -----------------
def stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


WINDOW_AGG_SQL = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
"""


# --- sessionization (gap-based) ------------------------------------------------
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    new_session = (gap.isNull() | (gap > SESSION_GAP_MIN * 60 * 1_000_000)).cast("int")
    sessioned = ev.withColumn("session_id", F.sum(new_session).over(w))
    return (
        sessioned.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                (F.unix_micros(F.max("ts").cast("timestamp")) - F.unix_micros(F.min("ts").cast("timestamp")))
                / F.lit(1_000_000.0)
            ).alias("duration_s"),
        )
    )


SESSIONIZE_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))
                   > {SESSION_GAP_MIN * 60 * 1_000_000}
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessioned AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
       (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS duration_s
FROM sessioned GROUP BY user_id, session_id ORDER BY user_id, session_id
"""


# --- event profiles: JSON extraction + hot-key top-k (folded family, r4) -----
def stream_event_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two event-analytics shapes keyed by ``family``: per-event-type
    aggregation over a JSON-extracted payload field (get_json_object →
    long), and the hot-user top-10 (the M33/M34 "hot set" gauges).
    Folds the former stream_json_props / stream_hot_users entries; the
    discriminator keys the hash so each family stays gated."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    json_props = (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("double").alias("v1"),
            F.max("k").cast("double").alias("v2"),
        )
        .select(
            F.lit("json_props").alias("family"),
            F.col("event_type").alias("key"),
            "n",
            "v1",
            "v2",
        )
    )
    hot = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .orderBy(F.col("n").desc(), F.col("user_id"))
        .limit(10)
        .select(
            F.lit("hot_users").alias("family"),
            F.col("user_id").cast("string").alias("key"),
            "n",
            F.col("sum_value").alias("v1"),
            F.lit(None).cast("double").alias("v2"),
        )
    )
    return json_props.unionByName(hot).orderBy("family", "key")


EVENT_PROFILES_SQL = f"""
SELECT family, key, n, v1, v2 FROM (
  SELECT 'json_props' AS family, event_type AS key, COUNT(*) AS n,
         CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) AS v1,
         CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) AS v2
  FROM events GROUP BY event_type
  UNION ALL
  SELECT 'hot_users' AS family, CAST(user_id AS VARCHAR) AS key, n, v1, v2 FROM (
    SELECT user_id, COUNT(*) AS n, {sql_dsum('value')} AS v1,
           CAST(NULL AS DOUBLE) AS v2
    FROM events GROUP BY user_id
    ORDER BY n DESC, user_id LIMIT 10
  )
)
ORDER BY family, key
"""


# --- as-of join: each event matched to the user's latest prior order -----------------
def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one — SURVEY.md §2.7): implemented
    as the union-tag + running last_value trick, which scales as one
    shuffle+sort instead of a per-row subquery."""
    from xxt_cdc_spark.session import normalize_timestamps

    ev = _events(spark, sf_dir).filter(F.col("event_id") % 50 == 0)
    orders = normalize_timestamps(spark.read.parquet(f"{sf_dir}/orders.parquet"))
    left = ev.select(
        F.col("user_id").alias("uid"),
        F.col("ts").cast("timestamp").alias("t"),
        F.lit(1).alias("is_event"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    right = orders.select(
        (F.col("o_custkey") % 100).alias("uid"),  # map custkey into user space
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
    )
    unioned = left.unionByName(right)
    # deterministic order: orders sort before events at the same instant;
    # ties among orders broken by o_orderkey (latest wins → desc nulls last)
    w = (
        Window.partitionBy("uid")
        .orderBy(F.col("t"), F.col("is_event"), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = unioned.withColumn("last_order", F.last("o_orderkey", ignorenulls=True).over(w))
    return (
        matched.filter(F.col("is_event") == 1)
        .select("event_id", F.col("uid").alias("user_id"), "last_order")
    )


ASOF_SQL = """
WITH unioned AS (
  SELECT user_id AS uid, ts AS t, 1 AS is_event, event_id, CAST(NULL AS BIGINT) AS o_orderkey
  FROM events WHERE event_id % 50 = 0
  UNION ALL
  SELECT o_custkey % 100 AS uid, o_orderdate AS t, 0 AS is_event, CAST(NULL AS BIGINT), o_orderkey
  FROM orders
),
matched AS (
  SELECT uid, t, is_event, event_id,
         LAST_VALUE(o_orderkey IGNORE NULLS) OVER (
           PARTITION BY uid ORDER BY t, is_event, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_order
  FROM unioned
)
SELECT event_id, uid AS user_id, last_order
FROM matched WHERE is_event = 1 ORDER BY event_id
"""


# --- skew-salted aggregation (scale-path twin of a hot-key agg) ---------------
def events_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py): identical
    results to the direct groupBy — the oracle match proves it — with a
    uniform first shuffle even under a hot event_type."""
    from xxt_cdc_spark.operators.skew import salted_agg

    ev = _events(spark, sf_dir)
    return salted_agg(
        ev,
        ["event_type"],
        [
            (F.count(F.lit(1)), F.sum("partial_0"), "n_events"),
            (
                F.sum(F.col("value").cast("decimal(25,6)")),
                F.sum("partial_1").cast("double"),
                "sum_value",
            ),
        ],
        salt_buckets=16,
        salt_source="event_id",
    ).orderBy("event_type")


SALTED_AGG_SQL = f"""
SELECT event_type, COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""


# --- stream-stream interval join (batch twin) --------------------------------
ATTRIB_WINDOW_S = 86_400  # attribute purchases to clicks within 24 h


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution through the SAME `interval_join`
    wrapper the streaming path uses (streaming/stream_join.py): each
    purchase matched to every click by the same user in the prior 24 h.
    Registered in batch form so the join semantics get a value-hash
    oracle; the streaming execution (multi-batch, watermark eviction,
    outer gating) is pinned in tests/test_stream_join.py. The two
    sides are separate scans — exactly the two-source shape of the
    streaming deployment, and it sidesteps self-join ambiguity."""
    from xxt_cdc_spark.streaming.stream_join import interval_join

    clicks = (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id"))
    )
    purchases = (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purchase_ts"), F.col("event_id").alias("purchase_id"))
    )
    j = interval_join(
        clicks, purchases, "user_id", "click_ts", "purchase_ts", 0, ATTRIB_WINDOW_S
    )
    return j.select("user_id", "click_id", "purchase_id")


INTERVAL_JOIN_SQL = f"""
SELECT c.user_id AS user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL {ATTRIB_WINDOW_S} SECOND
ORDER BY click_id, purchase_id
"""


# --- time-series gap fill (LOCF + linear interpolation) ----------------------
GAPFILL_BUCKET_S = 3600  # hourly grid


def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-filled per-user hourly series
    (operators/gap_fill.py): dense grid over each user's observed
    range, zero-filled event counts, LOCF and linearly interpolated
    hourly value sums. The interpolation arithmetic is written
    identically on both engines (exact-decimal sums cast to double,
    then one double expression), so values hash-match bit-for-bit.

    No final global sort (r11): the result is a ~1M-row grid and the
    correctness gate hashes rows order-insensitively (same contract
    cdc_envelope_roundtrip ships unsorted under). A trailing orderBy
    here cost 1.9 s at sf0.1 — the range partitioner's sampling pass
    re-executes the plan a second time before the real sort runs.
    Since r12 the fills are windowed over the OBSERVED rows and the
    grid is exploded from gap segments (operators/gap_fill.py) — the
    1M-row grid is never sorted or joined at all (2.44 → 1.41 s)."""
    from xxt_cdc_spark.operators.gap_fill import bucketize, gap_fill

    ev = _events(spark, sf_dir)
    observed = (
        ev.select("user_id", bucketize("ts", GAPFILL_BUCKET_S).alias("b"), "value")
        .groupBy("user_id", "b")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sv"))
    )
    filled = gap_fill(
        observed, ["user_id"], "b", value_cols=["sv"], count_cols=["n_events"]
    )
    return filled.select(
        "user_id",
        "b",
        F.timestamp_micros(F.col("b") * F.lit(GAPFILL_BUCKET_S * 1_000_000)).alias(
            "bucket_start"
        ),
        "observed",
        "n_events",
        F.round("sv_locf", 9).alias("sum_value_locf"),
        F.round("sv_interp", 9).alias("sum_value_interp"),
    )


GAPFILL_SQL = f"""
WITH obs AS (
  SELECT user_id, CAST(epoch_us(ts) // {GAPFILL_BUCKET_S * 1_000_000} AS BIGINT) AS b,
         COUNT(*) AS n_events, {sql_dsum('value')} AS sv
  FROM events GROUP BY 1, 2
),
rng AS (SELECT user_id, MIN(b) AS lo, MAX(b) AS hi FROM obs GROUP BY 1),
grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS b FROM rng),
dense AS (
  SELECT g.user_id, g.b, o.n_events, o.sv,
         CASE WHEN o.b IS NOT NULL THEN 1 ELSE 0 END AS observed
  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.b = o.b
),
filled AS (
  SELECT user_id, b, sv, observed,
         COALESCE(n_events, 0) AS n_events,
         LAST_VALUE(sv IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         FIRST_VALUE(sv IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY b
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         CAST(LAST_VALUE(CASE WHEN sv IS NOT NULL THEN b END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS prev_b,
         CAST(FIRST_VALUE(CASE WHEN sv IS NOT NULL THEN b END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY b
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS DOUBLE) AS next_b
  FROM dense
)
SELECT user_id, b, make_timestamp(b * {GAPFILL_BUCKET_S * 1_000_000}) AS bucket_start,
       observed, n_events,
       round(prev_v, 9) AS sum_value_locf,
       round(CASE WHEN sv IS NOT NULL THEN sv
                  ELSE prev_v + (next_v - prev_v)
                       * ((CAST(b AS DOUBLE) - prev_b) / (next_b - prev_b)) END,
             9) AS sum_value_interp
FROM filled ORDER BY user_id, b
"""


# --- time-series downsampling family (OHLC + time-weighted average) ----------
DOWNSAMPLE_BUCKET_S = 86_400  # daily buckets


def ts_downsample_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both downsampling operators (operators/timeseries.py) in one
    keyed result: per-user DAILY OHLC of the event value (open/close on
    the deterministic (ts, event_id, value) total order) and the
    time-weighted average (sample-to-next weighting, exact-decimal
    accumulation). family discriminates; v1..v4 = (open, high, low,
    close) or (twa, span_us, NULL, NULL)."""
    from xxt_cdc_spark.operators.gap_fill import bucketize
    from xxt_cdc_spark.operators.timeseries import ohlc, time_weighted_avg

    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", "ts", bucketize("ts", DOWNSAMPLE_BUCKET_S).alias("b"), "value"
    )
    # event_id is the events table's unique key, so (ts, event_id) is
    # unique per group — the packed-order HashAggregate path applies
    # (row-identical to the struct order; see operators/timeseries.ohlc)
    o = ohlc(
        ev, ["user_id"], "b", "ts", "value", tiebreak_col="event_id", unique_order=True
    ).select(
        F.lit("ohlc").alias("family"),
        "user_id",
        "b",
        "n_samples",
        F.col("open").alias("v1"),
        F.col("high").alias("v2"),
        F.col("low").alias("v3"),
        F.col("close").alias("v4"),
    )
    t = time_weighted_avg(
        ev, ["user_id"], "b", "ts", "value", tiebreak_col="event_id"
    ).select(
        F.lit("twa").alias("family"),
        "user_id",
        "b",
        "n_samples",
        F.round("twa", 9).alias("v1"),
        F.col("span_us").cast("double").alias("v2"),
        F.lit(None).cast("double").alias("v3"),
        F.lit(None).cast("double").alias("v4"),
    )
    return o.unionByName(t)


DOWNSAMPLE_SQL = f"""
WITH base AS (
  SELECT user_id, event_id, ts, CAST(epoch_us(ts) // {DOWNSAMPLE_BUCKET_S * 1_000_000} AS BIGINT) AS b, value
  FROM events
),
ranked AS (
  SELECT user_id, b, value,
         row_number() OVER (PARTITION BY user_id, b ORDER BY ts, event_id, value) AS rn_a,
         row_number() OVER (PARTITION BY user_id, b ORDER BY ts DESC, event_id DESC, value DESC) AS rn_d
  FROM base
),
o AS (
  SELECT 'ohlc' AS family, user_id, b, COUNT(*) AS n_samples,
         MAX(CASE WHEN rn_a = 1 THEN value END) AS v1,
         MAX(value) AS v2, MIN(value) AS v3,
         MAX(CASE WHEN rn_d = 1 THEN value END) AS v4
  FROM ranked GROUP BY user_id, b
),
led AS (
  SELECT user_id, b, value,
         epoch_us(lead(ts) OVER (PARTITION BY user_id, b ORDER BY ts, event_id))
           - epoch_us(ts) AS dt
  FROM base
),
t AS (
  SELECT 'twa' AS family, user_id, b, COUNT(*) AS n_samples,
         round(CASE WHEN SUM(dt) > 0
               THEN CAST(SUM(CAST(value * dt AS DECIMAL(28,6))) AS DOUBLE)
                    / CAST(SUM(dt) AS DOUBLE) END, 9) AS v1,
         CAST(SUM(dt) AS DOUBLE) AS v2,
         CAST(NULL AS DOUBLE) AS v3, CAST(NULL AS DOUBLE) AS v4
  FROM led GROUP BY user_id, b
)
SELECT * FROM (SELECT * FROM o UNION ALL SELECT * FROM t)
ORDER BY family, user_id, b
"""


def ts_incremental_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persistent candle store (operators/timeseries.IncrementalOHLC)
    built INCREMENTALLY: events arrive in three interleaved chunks plus
    one full replay of chunk 0 (exactly-once check — every field is a
    lattice merge, so the replay must not move the state), then the
    store is read back. The oracle computes the one-shot OHLC in SQL —
    hash-equality proves chunked maintenance ≡ from-scratch."""
    import shutil
    import tempfile

    from xxt_cdc_spark.operators.gap_fill import bucketize
    from xxt_cdc_spark.operators.timeseries import IncrementalOHLC

    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", "ts", bucketize("ts", DOWNSAMPLE_BUCKET_S).alias("b"), "value"
    )
    state = tempfile.mkdtemp(prefix="xxt_incr_ohlc_")
    try:
        inc = IncrementalOHLC(spark, state, ["user_id"], n_buckets=8)
        for i in range(3):
            inc.update(ev.filter(F.col("event_id") % 3 == i), "b", "ts", "value", "event_id")
        inc.update(ev.filter(F.col("event_id") % 3 == 0), "b", "ts", "value", "event_id")
        out = inc.read().orderBy("user_id", "b")
        return out.localCheckpoint(eager=True)  # survive the state-dir cleanup
    finally:
        shutil.rmtree(state, ignore_errors=True)


INCR_OHLC_SQL = f"""
WITH base AS (
  SELECT user_id, event_id, ts, CAST(epoch_us(ts) // {DOWNSAMPLE_BUCKET_S * 1_000_000} AS BIGINT) AS b, value
  FROM events
),
ranked AS (
  SELECT user_id, b, value,
         row_number() OVER (PARTITION BY user_id, b ORDER BY ts, event_id, value) AS rn_a,
         row_number() OVER (PARTITION BY user_id, b ORDER BY ts DESC, event_id DESC, value DESC) AS rn_d
  FROM base
)
SELECT user_id, b,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high, MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close
FROM ranked GROUP BY user_id, b ORDER BY user_id, b
"""


# --- RANGE-frame window (value-based frame, not row-based) -------------------
MOVAVG_DAYS = 7


def ts_range_frame_movavg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day moving average per user over daily value sums,
    as a RANGE frame (``rangeBetween(-6, 0)`` on the day index) — the
    value-based frame class the rest of the registry's windows (all
    ROWS frames) don't cover. RANGE vs ROWS matters exactly when the
    series has gaps: a missing day shrinks the window's row count but
    not its day span, so the two frames genuinely diverge here (the
    events series is sparse per user). The frame aggregate accumulates
    in exact decimal, so the average is order-free on both engines."""
    ev = _events(spark, sf_dir)
    daily = (
        ev.select("user_id", bucketize_day(), "value")
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sv"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rangeBetween(-(MOVAVG_DAYS - 1), 0)
    )
    from xxt_cdc_spark.queries._util import DEC

    return daily.select(
        "user_id",
        "day",
        "n_events",
        "sv",
        F.count(F.lit(1)).over(w).alias("days_in_window"),
        F.round(
            (F.sum(F.col("sv").cast(DEC)).over(w).cast("double") / F.count(F.lit(1)).over(w)),
            9,
        ).alias("mov_avg"),
    ).orderBy("user_id", "day")


def bucketize_day():
    from xxt_cdc_spark.operators.gap_fill import bucketize

    return bucketize("ts", 86_400).alias("day")


RANGE_MOVAVG_SQL = f"""
WITH daily AS (
  SELECT user_id, CAST(epoch_us(ts) // {86_400 * 1_000_000} AS BIGINT) AS day,
         COUNT(*) AS n_events, {sql_dsum('value')} AS sv
  FROM events GROUP BY 1, 2
)
SELECT user_id, day, n_events, sv,
       COUNT(*) OVER w AS days_in_window,
       round(CAST(SUM(CAST(sv AS DECIMAL(18,6))) OVER w AS DOUBLE)
             / COUNT(*) OVER w, 9) AS mov_avg
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day
             RANGE BETWEEN {MOVAVG_DAYS - 1} PRECEDING AND CURRENT ROW)
ORDER BY user_id, day
"""


# --- windowed top-k heavy hitters (batch twin of streaming/topk_stream) ------
TOPK_WINDOW_K = 5


def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour top-k event types by count — the BATCH TWIN of the
    streaming windowed top-k operator (streaming/topk_stream.py, which
    emits exactly these rows for every watermark-closed window; the
    equivalence is pinned in tests/test_topk_stream.py). Deterministic
    rank ties on the key."""
    ev = _events(spark, sf_dir)
    counts = (
        ev.filter(F.col("event_type").isNotNull())
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.col("event_type").cast("string").alias("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    win = Window.partitionBy("w").orderBy(F.col("n").desc(), "event_type")
    return (
        counts.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= TOPK_WINDOW_K)
        .select(F.col("w.start").alias("window_start"), "rank", "event_type", "n")
    )


STREAM_TOPK_SQL = f"""
WITH counts AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type, COUNT(*) AS n
  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
)
SELECT window_start, CAST(rank AS INT) AS rank, event_type, n FROM (
  SELECT window_start, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY window_start ORDER BY n DESC, event_type) AS rank
  FROM counts
) WHERE rank <= {TOPK_WINDOW_K}
ORDER BY window_start, rank
"""


def stream_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-stage windowed top-k (operators/topk_store.WindowedTopK —
    the open-domain scale form of streaming/topk_stream) built
    INCREMENTALLY: events arrive in three interleaved chunks plus one
    full replay of chunk 1 (the sum-merge is NOT naturally idempotent,
    so this exercises the versioned-dir + commit-marker protocol), then
    the store is ranked at read time. The oracle computes the one-shot
    top-k in SQL — hash-equality proves chunked maintenance ≡
    from-scratch."""
    import shutil
    import tempfile

    from xxt_cdc_spark.operators.topk_store import WindowedTopK

    ev = _events(spark, sf_dir).select("event_type", "ts", "event_id")
    state = tempfile.mkdtemp(prefix="xxt_topk_store_")
    try:
        store = WindowedTopK(spark, state, windows_per_bucket=64)
        for i in range(3):
            store.apply_batch(ev.filter(F.col("event_id") % 3 == i), i)
        store.apply_batch(ev.filter(F.col("event_id") % 3 == 1), 1)  # replay
        out = (
            store.topk(TOPK_WINDOW_K, include_open=True)
            .orderBy("window_start", "rank")
        )
        return out.localCheckpoint(eager=True)  # survive the state cleanup
    finally:
        shutil.rmtree(state, ignore_errors=True)


# --- hierarchical OHLC rollup (continuous-aggregate hierarchy) ---------------
def ts_ohlc_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily candles built BY FOLDING HOURLY CANDLES
    (operators/timeseries.ohlc_coarsen — the TimescaleDB 1m→1h→1d
    rollup chain: every OHLC field is a lattice over the finer level,
    so each level aggregates candle rows, never raw samples). The
    oracle computes daily OHLC directly from the raw events — hash
    equality proves the hierarchy is lossless."""
    from xxt_cdc_spark.operators.gap_fill import bucketize
    from xxt_cdc_spark.operators.timeseries import ohlc, ohlc_coarsen

    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", "ts", bucketize("ts", 3600).alias("b"), "value"
    )
    hourly = ohlc(
        ev, ["user_id"], "b", "ts", "value", tiebreak_col="event_id", unique_order=True
    )
    daily = ohlc_coarsen(hourly, ["user_id"], "b", factor=24)
    return daily.select("user_id", "B", "n_samples", "open", "high", "low", "close")


OHLC_HIERARCHY_SQL = """
WITH base AS (
  SELECT user_id, event_id, ts,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS B, value
  FROM events
),
ranked AS (
  SELECT user_id, B, value,
         row_number() OVER (PARTITION BY user_id, B ORDER BY ts, event_id, value) AS rn_a,
         row_number() OVER (PARTITION BY user_id, B ORDER BY ts DESC, event_id DESC, value DESC) AS rn_d
  FROM base
)
SELECT user_id, B, COUNT(*) AS n_samples,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high, MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close
FROM ranked GROUP BY user_id, B ORDER BY user_id, B
"""


# --- VARIANT (Spark 4 semi-structured type) ----------------------------------
def variant_props_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through the VARIANT type (Spark 4):
    ``parse_json`` once into the binary-encoded variant, then typed
    ``variant_get`` path extractions — the engine-native successor to
    per-access ``get_json_object`` string re-parsing (which
    stream_event_profiles covers): parse once, extract many, typed at
    the extraction site. Missing paths yield typed NULLs (counted here
    to pin that semantic). Oracle: DuckDB JSON extraction."""
    ev = _events(spark, sf_dir)
    v = ev.select(
        F.col("event_type").cast("string").alias("event_type"),
        F.parse_json("props").alias("v"),
    ).select(
        "event_type",
        F.expr("variant_get(v, '$.k', 'int')").alias("k"),
        F.expr("variant_get(v, '$.absent', 'string')").alias("missing"),
    )
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("k").cast("long")).alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count("missing").alias("n_absent"),
        )
    )


VARIANT_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS INT) AS min_k,
       CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS INT) AS max_k,
       COUNT(json_extract_string(props, '$.absent')) AS n_absent
FROM events GROUP BY event_type ORDER BY event_type
"""


QUERIES = {
    "stream_topk_per_window": stream_topk_per_window,
    "stream_topk_incremental": stream_topk_incremental,
    "variant_props_profile": variant_props_profile,
    "ts_ohlc_hierarchy": ts_ohlc_hierarchy,
    "stream_interval_join": stream_interval_join,
    "ts_gap_fill": ts_gap_fill,
    "ts_downsample_family": ts_downsample_family,
    "ts_incremental_ohlc": ts_incremental_ohlc,
    "ts_range_frame_movavg": ts_range_frame_movavg,
    "stream_event_profiles": stream_event_profiles,
    "events_salted_agg": events_salted_agg,
    "stream_window_agg": stream_window_agg,
    "stream_sessionize": stream_sessionize,
    "asof_join_events_orders": asof_join_events_orders,
}

ORACLE = {
    "stream_topk_per_window": STREAM_TOPK_SQL,
    "stream_topk_incremental": STREAM_TOPK_SQL,
    "variant_props_profile": VARIANT_SQL,
    "ts_ohlc_hierarchy": OHLC_HIERARCHY_SQL,
    "stream_interval_join": INTERVAL_JOIN_SQL,
    "ts_gap_fill": GAPFILL_SQL,
    "ts_downsample_family": DOWNSAMPLE_SQL,
    "ts_incremental_ohlc": INCR_OHLC_SQL,
    "ts_range_frame_movavg": RANGE_MOVAVG_SQL,
    "stream_event_profiles": EVENT_PROFILES_SQL,
    "events_salted_agg": SALTED_AGG_SQL,
    "stream_window_agg": WINDOW_AGG_SQL,
    "stream_sessionize": SESSIONIZE_SQL,
    "asof_join_events_orders": ASOF_SQL,
}
