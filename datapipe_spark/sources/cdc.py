"""CDC changelog semantics (reference ingestion pipeline, SURVEY §1.2).

The reference captures PostgreSQL row changes via Debezium, flattens the
envelope with ``ExtractNewRecordState`` (rewrite deletes, append
``__op/__ts_ms/__source_ts_ms/__source_lsn``), serializes decimals as
strings, and archives to time-partitioned snappy Parquet
(``connectors/users-debezium-connector.json:26-38``,
``task10-s3-sink-connector-config.json:14-21``).

No Postgres/Kafka exists in this sandbox, so the changelog is
*synthesized deterministically* from the ``orders`` table with pure
column arithmetic — meaning the DuckDB oracle can reproduce it exactly
and every downstream CDC operator is hash-checkable.

Scale notes: the changelog is an append-only fact stream; compaction
(latest-state-per-key) is one window per key — shuffle on the primary
key, which is also how an Iceberg MERGE would distribute. No driver
collects anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datapipe_spark.functions import money, time_partition_cols
from datapipe_spark.sources.tables import load_table

# Deterministic op assignment (mirrors the reference's mixed workload,
# data-generator.py:85-89): every order row is inserted; every 3rd key
# is updated to completed; every 7th key is deleted. LSN = key*10+v is
# monotone per key and globally unique.
CHANGELOG_COLUMNS = [
    "id",
    "user_id",
    "status",
    "total_amount",
    "created_at",
    "__op",
    "__ts_ms",
    "__source_ts_ms",
    "__source_lsn",
]


def synth_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic orders changelog with Debezium-flattened shape.

    ``total_amount`` is a *string* (decimal.handling.mode=string,
    users-debezium-connector.json:38) — consumers must re-cast (F15).
    """
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderstatus").alias("status"),
        money("o_totalprice").cast("string").alias("total_amount"),
        F.col("o_orderdate").alias("created_at"),
    )

    def version(op: str, v: int, ts_shift: str, status: F.Column) -> F.Column:
        return F.struct(
            F.col("id"),
            F.col("user_id"),
            status.alias("status"),
            F.col("total_amount"),
            F.col("created_at"),
            F.lit(op).alias("__op"),
            (F.col("created_at") + F.expr(ts_shift) + F.expr("INTERVAL 1 MINUTE")).alias(
                "__ts_ms"
            ),
            (F.col("created_at") + F.expr(ts_shift)).alias("__source_ts_ms"),
            (F.col("id") * 10 + v).alias("__source_lsn"),
        )

    # ONE scan of orders, not a 3-branch union (each branch re-reads the
    # table — 3× the IO at 100 TB): build the per-row version array and
    # explode; inapplicable versions are null elements dropped after the
    # explode. Output rows identical to the union form. Trade-off
    # (r12 review): an __op-filtered consumer no longer gets Catalyst
    # branch pruning (all three structs are built per row before the
    # filter) — extra per-row CPU on the same single scan, chosen over
    # the union form's 3 scans for full-stream consumers, which
    # dominate (the drop writers additionally persist across ops).
    return _explode_versions(
        base,
        F.array(
            version("c", 1, "INTERVAL 0 DAY", F.col("status")),
            F.when(F.col("id") % 3 == 0, version("u", 2, "INTERVAL 1 DAY", F.lit("F"))),
            F.when(F.col("id") % 7 == 0, version("d", 3, "INTERVAL 2 DAY", F.col("status"))),
        ),
    ).select("_r.*")


def _explode_versions(base: DataFrame, versions: F.Column, *keep: str) -> DataFrame:
    """The one-scan version-array explode shared by the single- and
    multi-table changelog generators (r12 review — two verbatim
    copies): inapplicable versions are null array elements dropped
    after the explode."""
    return base.select(*keep, F.explode(versions).alias("_r")).filter(
        F.col("_r").isNotNull()
    )


# DuckDB-side reproduction of synth_changelog for oracle checks.
SYNTH_CHANGELOG_SQL_BODY = """
WITH base AS (
  SELECT o_orderkey AS id, o_custkey AS user_id, o_orderstatus AS status,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total_amount,
         o_orderdate AS created_at
  FROM orders
)
SELECT id, user_id, status, total_amount, created_at,
       'c' AS __op,
       created_at + INTERVAL 1 MINUTE AS __ts_ms,
       created_at AS __source_ts_ms,
       id * 10 + 1 AS __source_lsn
FROM base
UNION ALL
SELECT id, user_id, 'F' AS status, total_amount, created_at,
       'u' AS __op,
       created_at + INTERVAL 1 DAY + INTERVAL 1 MINUTE AS __ts_ms,
       created_at + INTERVAL 1 DAY AS __source_ts_ms,
       id * 10 + 2 AS __source_lsn
FROM base WHERE id % 3 = 0
UNION ALL
SELECT id, user_id, status, total_amount, created_at,
       'd' AS __op,
       created_at + INTERVAL 2 DAY + INTERVAL 1 MINUTE AS __ts_ms,
       created_at + INTERVAL 2 DAY AS __source_ts_ms,
       id * 10 + 3 AS __source_lsn
FROM base WHERE id % 7 = 0
"""


def nest_envelope(changelog: DataFrame) -> DataFrame:
    """Rebuild the raw Debezium envelope from flattened records
    (inverse of the ExtractNewRecordState SMT) — shape per
    ``.kiro/specs/data-ingestion-pipeline/design.md:447-488``:
    ``{before, after, source{...}, op, ts_ms}``.
    """
    payload = F.struct("id", "user_id", "status", "total_amount", "created_at")
    return changelog.select(
        F.when(F.col("__op").isin("u", "d"), payload).alias("before"),
        F.when(F.col("__op") != "d", payload).alias("after"),
        F.struct(
            F.lit("postgres").alias("db"),
            F.lit("public").alias("schema"),
            F.lit("orders").alias("table"),
            F.col("__source_lsn").alias("lsn"),
            F.col("__source_ts_ms").alias("ts_ms"),
        ).alias("source"),
        F.col("__op").alias("op"),
        F.col("__ts_ms").alias("ts_ms"),
    )


def flatten_envelope(envelope: DataFrame) -> DataFrame:
    """ExtractNewRecordState semantics: take ``after.*`` (or ``before.*``
    for rewritten deletes), append ``__``-metadata columns
    (users-debezium-connector.json:26-32)."""
    rec = F.when(F.col("op") == "d", F.col("before")).otherwise(F.col("after"))
    return envelope.select(
        rec.getField("id").alias("id"),
        rec.getField("user_id").alias("user_id"),
        rec.getField("status").alias("status"),
        rec.getField("total_amount").alias("total_amount"),
        rec.getField("created_at").alias("created_at"),
        F.col("op").alias("__op"),
        F.col("ts_ms").alias("__ts_ms"),
        F.col("source.ts_ms").alias("__source_ts_ms"),
        F.col("source.lsn").alias("__source_lsn"),
    )


def compact_latest(changelog: DataFrame, key: str = "id", lsn: str = "__source_lsn") -> DataFrame:
    """Latest-state-per-key snapshot compaction (W5).

    Keeps the newest version of each key by commit LSN and drops keys
    whose newest version is a delete — equivalent to Iceberg
    copy-on-write MERGE (task6-ecommerce-tables-config.yaml:58-60) and
    to the query-tool's newest-by-LSN invariant
    (utils-dev/read_s3_parquet.py:51).

    Multi-table changelogs (``synth_changelog_multi``) compact PER
    TABLE automatically: when a ``table_name`` column is present it
    joins the partition key (r12 review — ids and LSNs collide across
    tables, so a bare ``id`` key silently merged three tables' keys
    and tie-broke arbitrarily).
    """
    keys = [key] + (["table_name"] if "table_name" in changelog.columns else [])
    w = Window.partitionBy(*keys).orderBy(F.col(lsn).desc())
    return (
        changelog.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("__op") != "d"))
        .drop("_rn")
    )


_GRANULARITY_COLS = ("year", "month", "day", "hour")


def write_archive(
    df: DataFrame, path: str, ts_col: str = "__source_ts_ms", granularity: str = "hour"
) -> None:
    """S5: time-partitioned snappy-parquet archive sink
    (task10-s3-sink-connector-config.json:10-21): hive layout
    ``year=/month=/day=/hour=`` keyed off the record's source commit
    timestamp.

    ``granularity`` picks the deepest partition level — the reference
    itself varies this per table (second-level for orders,
    connectors/orders-s3-sink-connector.json:14-21; hourly for the
    bulk sink). Partition depth must track event density: hourly dirs
    over a multi-year low-rate stream produce the small-file
    pathology that ``operators.maintenance.compact_parquet_into``
    exists to fix — pick the coarsest granularity whose partitions stay
    under ~1 GB. 128 MB target files come from upstream partition
    sizing; at 100 TB add the compaction pass."""
    cols = _GRANULARITY_COLS[: _GRANULARITY_COLS.index(granularity) + 1]
    parts = time_partition_cols(ts_col)[: len(cols)]
    # drop any pre-existing partition columns first (r12 review): the
    # docstring's own remediation — re-archiving read_archive output at
    # a coarser granularity — carries year/month/day/hour as DATA
    # columns, and select('*', *parts) would duplicate the names and
    # crash the repartition with AMBIGUOUS_REFERENCE
    df = df.drop(*[c for c in _GRANULARITY_COLS if c in df.columns])
    # cluster rows by partition key before the write: without this,
    # every task holds rows of every time bucket and emits
    # tasks × partitions files (the small-file explosion + committer
    # rename storm); with it, each partition's data lands in O(1) files
    (
        df.select("*", *parts)
        .repartition(*cols)
        .write.mode("overwrite")
        .partitionBy(*cols)
        .parquet(path)
    )


def read_archive(spark: SparkSession, path: str) -> DataFrame:
    """S6/S7: partition-pruned archive scan with file provenance
    (utils-dev/s3_parquet_query.py:62-132, read_s3_parquet.py:7-35).
    Partition pruning on year/month/day/hour predicates is automatic
    (Spark FileIndex does what the pandas tool hand-rolled)."""
    return spark.read.parquet(path).withColumn("_source_file", F.input_file_name())


# Per-table CDC topology (SURVEY §1.1): the reference captures four
# tables through per-table publications/topics
# (task4-postgresql-statefulset.yaml:122-125). Domain mapping per
# FIXTURES.md: users≈customer, products≈part, orders≈orders.
CDC_TABLES = {
    "users": ("customer", "c_custkey"),
    "products": ("part", "p_partkey"),
    "orders": ("orders", "o_orderkey"),
}


def synth_changelog_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-level changelog across all captured tables — one stream per
    table, tagged with its topic name (``postgres.public.<table>``
    keyed by PK, users-debezium-connector.json:12,57). Same
    deterministic op assignment as ``synth_changelog``."""
    frames = []
    for topic, (tbl, key) in CDC_TABLES.items():
        base = load_table(spark, sf_dir, tbl).select(F.col(key).alias("id"))

        def version(op: str, v: int) -> F.Column:
            return F.struct(
                F.lit(op).alias("__op"),
                (F.col("id") * 10 + v).alias("__source_lsn"),
            )

        # one scan per table (see synth_changelog): explode the version
        # array instead of unioning three scans of the same table
        versions = F.array(
            version("c", 1),
            F.when(F.col("id") % 3 == 0, version("u", 2)),
            F.when(F.col("id") % 7 == 0, version("d", 3)),
        )
        frames.append(
            _explode_versions(base, versions, "id")
            .select(
                F.lit(topic).alias("table_name"),
                "id",
                F.col("_r.__op").alias("__op"),
                F.col("_r.__source_lsn").alias("__source_lsn"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out
