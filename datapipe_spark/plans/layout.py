"""Layout-rewrite maintenance as a driver-oracled query (SURVEY §4).

The reference relies on Iceberg's ``rewrite_data_files`` table
maintenance (task6-ecommerce-tables-config.yaml:51-61; batch
design.md:193). ``operators/maintenance.py`` carries the parquet
stand-ins (compaction, range clustering, z-order); this module drives
the clustering and z-order rewrites end to end as registry queries so
the driver's hash oracle attests content-preservation — the
data-skipping win itself (file-footer min/max disjointness,
minority-touch predicates) is stats-gated in tests/test_pipeline_ops.py.
Each entry rewrites its scratch copy of lineitem into a second scratch
dir: nothing reads the copy, so no directory swap is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipe_spark.operators.maintenance import cluster_parquet_into, zorder_parquet_into
from datapipe_spark.sources.tables import load_table
from datapipe_spark.util import fresh_dir


def lineitem_cluster_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy lineitem to scratch, range-cluster it by ``l_shipdate``
    (one sampled range shuffle + per-file sort) into a second scratch
    dir, then read the REWRITTEN table back through a first-ship-year
    predicate — the scan that now file-skips on footer stats — and
    roll up by ship month.

    The oracle aggregates the ORIGINAL table: hash equality proves the
    rewrite dropped, duplicated, and corrupted nothing. Money/quantity
    are summed as DECIMAL(18,2) and cast to double only in the final
    projection (oracle decimal discipline).
    """
    copy, path = fresh_dir("lineitem_cluster_src"), fresh_dir("lineitem_clustered")
    src = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity", "l_extendedprice"
    )
    src.write.mode("overwrite").parquet(copy)
    cluster_parquet_into(
        spark, copy, path, ["l_shipdate"], target_bytes=4 * 1024 * 1024
    )
    t = spark.read.parquet(path)
    first_year = src.select(F.min(F.year("l_shipdate"))).first()[0]
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        t.filter(F.year("l_shipdate") == first_year)
        .groupBy(
            F.year("l_shipdate").alias("ship_year"),
            F.month("l_shipdate").alias("ship_month"),
        )
        .agg(
            F.count("*").alias("n_items"),
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_price"),
        )
    )


LINEITEM_CLUSTER_REWRITE_SQL = """
WITH fy AS (SELECT MIN(YEAR(l_shipdate)) AS y FROM lineitem)
SELECT YEAR(l_shipdate) AS ship_year,
       MONTH(l_shipdate) AS ship_month,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem, fy
WHERE YEAR(l_shipdate) = fy.y
GROUP BY 1, 2
"""


def lineitem_zorder_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy lineitem to scratch, Z-ORDER it on ``(l_partkey,
    l_suppkey)`` (per-column quantile-rank bucketing + Morton bit
    interleave + one sampled range shuffle — ``zorder_parquet_into``)
    into a second scratch dir, then read the REWRITTEN table back
    through a compound box predicate on BOTH clustered columns — the
    scan shape single-column clustering cannot serve (footer pruning
    multiplies across dimensions) — and roll up per part.

    The oracle aggregates the ORIGINAL table: hash equality proves the
    multi-dimensional rewrite dropped, duplicated, and corrupted
    nothing. The pruning win itself (either-column file skipping,
    multiplicative box pruning) is stats-gated in
    tests/test_pipeline_ops.py::test_zorder_parquet_prunes_on_both_columns.
    """
    copy, path = fresh_dir("lineitem_zorder_src"), fresh_dir("lineitem_zordered")
    src = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    src.write.mode("overwrite").parquet(copy)
    # 6 bits/dim ⇒ 4096 distinct z-values — ample file-level
    # selectivity for this table's ≲100 files (bits size the CODEGEN
    # and quantile-sketch cost quadratically-ish; 8 bits only starts
    # paying off past ~10k files)
    zorder_parquet_into(
        spark, copy, path, ["l_partkey", "l_suppkey"],
        target_bytes=4 * 1024 * 1024, bits_per_dim=6,
    )
    t = spark.read.parquet(path)
    lim = src.select(
        F.floor(F.max("l_partkey") / 10).alias("p"),
        F.floor(F.max("l_suppkey") / 10).alias("s"),
    ).first()
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        t.filter((F.col("l_partkey") <= lim["p"]) & (F.col("l_suppkey") <= lim["s"]))
        .groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_items"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_price"),
        )
    )


LINEITEM_ZORDER_REWRITE_SQL = """
WITH lim AS (
  SELECT CAST(FLOOR(MAX(l_partkey) / 10) AS BIGINT) AS p,
         CAST(FLOOR(MAX(l_suppkey) / 10) AS BIGINT) AS s
  FROM lineitem
)
SELECT l_partkey,
       COUNT(*) AS n_items,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem, lim
WHERE l_partkey <= lim.p AND l_suppkey <= lim.s
GROUP BY l_partkey
"""
