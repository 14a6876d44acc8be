"""Data-quality queries (functions/quality.py): profiling + integrity.

Group-A module (queries/__init__.py rotation; group B is at the
sweep cap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xxt_cdc_spark.functions import quality as Q
from xxt_cdc_spark.session import load_tables

PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
DUP_MOD = 997   # injected duplicate keys
ORPHAN_MOD = 991  # injected orphan custkeys


def dq_orders_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One data-quality report over a DETERMINISTICALLY-DRIFTED copy of
    orders (clean TPC-H data would make every integrity check a
    vacuous zero): keys ≡0 mod 997 are duplicated (PK violation), and
    custkeys of keys ≡0 mod 991 are remapped out of the customer
    domain (FK orphans). Families: per-column profile rows (null /
    distinct counts, min/max as strings) and per-check violation
    counts. The oracle recomputes both directly in SQL."""
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    orders, customer = t["orders"], t["customer"]
    k = F.col("o_orderkey")
    dirty = (
        orders.select(*PROFILE_COLS)
        .withColumn(
            "o_custkey",
            F.when(k % ORPHAN_MOD == 0, F.col("o_custkey") + 10_000_000).otherwise(
                F.col("o_custkey")
            ),
        )
        .unionByName(orders.select(*PROFILE_COLS).filter(k % DUP_MOD == 0))
        # the report embeds `dirty` in 5 branches (profile + 3 checks ×
        # their subplans) — materialize once instead of ~10 orders scans
        .localCheckpoint(eager=True)
    )

    prof = Q.profile(dirty, PROFILE_COLS).select(
        F.lit("profile").alias("family"),
        F.col("column").alias("name"),
        F.col("n_null").cast("string").alias("v1"),
        F.col("n_distinct").cast("string").alias("v2"),
        F.col("min_str").alias("v3"),
        F.col("max_str").alias("v4"),
    )
    checks = [
        ("pk_duplicates", Q.pk_violations(dirty, ["o_orderkey"]).filter(
            F.col("violation") == "duplicate"
        )),
        ("fk_orphans", Q.fk_orphans(dirty, "o_custkey", customer, "c_custkey")),
        ("bad_status", Q.accepted_values_violations(dirty, "o_orderstatus", ["O", "F", "P"])),
    ]
    integ = None
    for name, viol in checks:
        row = viol.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit("integrity").alias("family"),
            F.lit(name).alias("name"),
            F.col("n").cast("string").alias("v1"),
            F.lit("").alias("v2"),
            F.lit("").alias("v3"),
            F.lit("").alias("v4"),
        )
        integ = row if integ is None else integ.unionByName(row)
    return prof.unionByName(integ)


DQ_SQL = f"""
WITH dirty AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % {ORPHAN_MOD} = 0 THEN o_custkey + 10000000 ELSE o_custkey END AS o_custkey,
         o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % {DUP_MOD} = 0
),
prof AS (
  SELECT 'profile' AS family, col AS name,
         CAST(n_null AS VARCHAR) AS v1, CAST(ndv AS VARCHAR) AS v2, mn AS v3, mx AS v4
  FROM (
    SELECT 'o_orderkey' AS col, SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_null,
           COUNT(DISTINCT o_orderkey) AS ndv, MIN(CAST(o_orderkey AS VARCHAR)) AS mn, MAX(CAST(o_orderkey AS VARCHAR)) AS mx FROM dirty
    UNION ALL
    SELECT 'o_custkey', SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
           COUNT(DISTINCT o_custkey), MIN(CAST(o_custkey AS VARCHAR)), MAX(CAST(o_custkey AS VARCHAR)) FROM dirty
    UNION ALL
    SELECT 'o_orderstatus', SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
           COUNT(DISTINCT o_orderstatus), MIN(o_orderstatus), MAX(o_orderstatus) FROM dirty
    UNION ALL
    SELECT 'o_totalprice', SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END),
           COUNT(DISTINCT o_totalprice), MIN(CAST(o_totalprice AS VARCHAR)), MAX(CAST(o_totalprice AS VARCHAR)) FROM dirty
    UNION ALL
    SELECT 'o_orderpriority', SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
           COUNT(DISTINCT o_orderpriority), MIN(o_orderpriority), MAX(o_orderpriority) FROM dirty
  )
),
integ AS (
  SELECT 'integrity' AS family, 'pk_duplicates' AS name,
         CAST((SELECT COUNT(*) FROM (SELECT o_orderkey FROM dirty GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS VARCHAR) AS v1,
         '' AS v2, '' AS v3, '' AS v4
  UNION ALL
  SELECT 'integrity', 'fk_orphans',
         CAST((SELECT COUNT(*) FROM (
            SELECT DISTINCT o_custkey FROM dirty
            WHERE o_custkey IS NOT NULL
              AND o_custkey NOT IN (SELECT c_custkey FROM customer))) AS VARCHAR),
         '', '', ''
  UNION ALL
  SELECT 'integrity', 'bad_status',
         CAST((SELECT COUNT(*) FROM (
            SELECT DISTINCT o_orderstatus FROM dirty
            WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O', 'F', 'P'))) AS VARCHAR),
         '', '', ''
)
SELECT * FROM prof UNION ALL SELECT * FROM integ ORDER BY family, name
"""

QUERIES = {"dq_orders_report": dq_orders_report}
ORACLE = {"dq_orders_report": DQ_SQL}
