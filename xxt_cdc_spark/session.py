"""SparkSession construction with scale-appropriate defaults.

Local testing runs on ``local[N]``; production settings are the same
except master/memory come from the cluster manager. All defaults are
chosen for the 100 TB design point: AQE on (runtime re-planning,
skew-join splitting, partition coalescing), Arrow enabled for the
Pandas-UDF slow path, UTC session timezone so results are comparable
across engines.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """Cores for a ``local[N]`` master: $SPARK_GRAFT_CPUS when set, else
    the cores this process may run on (a fixed default oversubscribes a
    small host: a 3-row job on 4 cores ran as a 32-task stage)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


# Shuffle partitions and executor heap are the TWO confs that must
# track data volume: 32 partitions / 8g heap is right for the sf0.1
# gate (≈1 core per partition, no spill), but a fixed count under 100×
# the data means 100× the per-partition bytes. Measured at sf100
# (600M lineitem): with the gate config, q5 took 148 s and
# dedup_minhash_lsh died with UNABLE_TO_ACQUIRE_MEMORY; with
# 256 partitions + SPARK_DRIVER_MEMORY=64g, q5 ran 44 s and minhash
# 158 s (3.0× slope). AQE coalesces an over-provisioned count away on
# small inputs but never splits an undersized one up, so err high.
# Size ∝ data via SPARK_GRAFT_SHUFFLE_PARTITIONS / SPARK_DRIVER_MEMORY;
# cluster deployments set both per job.
DEFAULT_SHUFFLE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or local_cpus()
)


# Spark names each Python worker socket ``<dir>/.<uuid4>.sock`` (43 more
# characters) and Linux allows 107 bytes in ``sun_path``; a longer
# directory would make every Python task fail to bind its socket.
_UNIX_SOCKET_DIR_MAX = 64


def python_worker_socket_conf() -> dict[str, str]:
    """Reach the Python workers over a Unix-domain socket in
    ``tempfile.gettempdir()``, or over loopback TCP when that directory
    is too long to hold the socket's path. The Unix socket avoids a
    ~40 ms stall, the size of Linux's delayed-ACK timer, on the TCP
    socket that carries a task's input (SCALING.md "Python task fixed
    cost")."""
    socket_dir = tempfile.gettempdir()
    if len(os.fsencode(socket_dir)) > _UNIX_SOCKET_DIR_MAX:
        return {"spark.python.unix.domain.socket.enabled": "false"}
    return {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": socket_dir,
    }


def get_spark(
    app_name: str = "xxt_cdc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    On a real cluster, ``master`` is provided by spark-submit; locally we
    default to ``local[N]`` with N from ``local_cpus()``.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: coalesce small shuffle partitions, split skewed ones,
        # convert sort-merge→broadcast at runtime. Essential at 100 TB
        # where static planning misestimates.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every Python<->JVM data exchange (Pandas UDFs,
        # toPandas); the slow path should at least be batched.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic cross-engine semantics (DuckDB oracle, MySQL
        # sources): pin UTC.
        .config("spark.sql.session.timeZone", "UTC")
        # One timestamp type everywhere: parquet files annotated
        # isAdjustedToUTC=false otherwise surface as TIMESTAMP_NTZ on
        # Spark 4, which breaks unix_micros() and withWatermark(). Under
        # the pinned UTC timezone LTZ and NTZ are value-identical, so
        # reading everything as LTZ is safe and keeps every operator on
        # the TIMESTAMP type they expect.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.timestampType", "TIMESTAMP_LTZ")
        .config("spark.ui.enabled", "false")
        # corpus events.parquet carries TIMESTAMP(NANOS); read as long
        # and convert (Spark has no nanos timestamp type)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local file:// IO without Hadoop checksum shadow files: local
        # disk integrity is the kernel's job, and the .crc writes sit on
        # the streaming micro-batch latency path (~20 ms/batch
        # measured). Cluster deployments on HDFS/S3 are unaffected —
        # this only rebinds the file:// scheme.
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        # ...and the same for the FileContext/AbstractFileSystem path the
        # streaming CheckpointFileManager resolves through: scheme file
        # otherwise lands on ChecksumFs-wrapped LocalFs REGARDLESS of
        # fs.file.impl, so every offset-WAL/commit-log/sink-manifest
        # write paid a .crc shadow write — measured 195 → 147 ms MOR
        # append p50 from this one binding (SCALING.md "Latency
        # posture", round-4 latency pass)
        .config(
            "spark.hadoop.fs.AbstractFileSystem.file.impl",
            "org.apache.hadoop.fs.local.RawLocalFs",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in python_worker_socket_conf().items():
        builder = builder.config(k, v)
    if master:
        builder = builder.config("spark.master", master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.config("spark.master", f"local[{local_cpus()}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def normalize_timestamps(df):
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP at the ingress.

    Under the engine's pinned UTC session timezone the cast is
    value-identity, and doing it once at the boundary keeps every
    downstream operator (``unix_micros``, ``withWatermark``,
    ``window``) on the one timestamp type they require — regardless of
    how the parquet footer annotates the column or which session confs
    the caller's environment carries.
    """
    from pyspark.sql import functions as F

    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Register the corpus parquet tables as temp views and return them.

    Mirrors the reference's catalog bootstrap (table discovery →
    per-table schema) for the file-backed test corpus.
    """
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    # make this loader safe under ANY session (the driver runs queries
    # in its own): nanos-annotated files read as raw longs, and
    # NTZ-annotated files read as LTZ (both confs are runtime-settable)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            if name == "events" and dict(df.dtypes).get("ts") == "bigint":
                from pyspark.sql import functions as F

                df = df.withColumn("ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
            # belt-and-braces: if the inference conf was frozen by the
            # caller's session, still deliver TIMESTAMP columns
            df = normalize_timestamps(df)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
