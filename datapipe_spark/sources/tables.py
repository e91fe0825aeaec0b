"""Testdata table loaders.

The driver materializes a TPC-H-ish star schema plus ``events`` /
``documents`` / ``embeddings`` at ``/root/testdata/sf*/``. Domain
mapping to the reference's e-commerce model (see FIXTURES.md §6):
customer≈users, part≈products, orders≈orders, lineitem≈order_items,
events≈user_events.

Schemas are *fixed and declared* in the reference (SQL DDL + Avro
registry, reference ``.kiro/specs/data-ingestion-pipeline/design.md:345-360``);
we mirror that: no ``inferSchema``, explicit post-read normalization.

Scale note: each table is a plain parquet path — at 100 TB these become
partitioned directories / Iceberg tables; everything downstream only
sees a DataFrame, so the swap is contained here.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# events.ts has shipped as two parquet types across driver testdata
# generations: TIMESTAMP(NANOS) (round 1 — readable only with
# nanosAsLong, converted back to a µs timestamp below) and
# TIMESTAMP(MICROS, isAdjustedToUTC=false) (round 3 — arrives as
# TIMESTAMP_NTZ and is kept as-is; arithmetic goes through
# ``functions.epoch_us`` which accepts both LTZ and NTZ).
_NANOS_TS_COLS = {"events": ["ts"]}

# Spark's own inferred schema per table file, keyed by the file's
# identity: a bare ``spark.read.parquet`` submits one footer-inference
# job per call (~60 ms of CPU), so each file is inferred once and read
# with ``.schema(...)`` after that. A rewritten file changes size or
# mtime and is inferred again.
_SCHEMAS: dict[str, tuple[tuple[int, int], StructType]] = {}


def _ensure_session_confs(spark: SparkSession, name: str) -> None:
    """Make table reads work on ANY SparkSession, not just the engine's
    own factory (``session.py``). The external driver builds a *vanilla*
    session, so every conf the read depends on must be (re)applied here
    at runtime — both are runtime-settable SQL confs:

    - ``nanosAsLong``: events.parquet stores TIMESTAMP(NANOS), which the
      parquet reader rejects outright (PARQUET_TYPE_ILLEGAL) unless it
      is read as a plain int64.
    - UTC session timezone: date/hour derivations and collected
      datetimes must agree with the DuckDB oracle regardless of the
      host's system timezone.
    """
    if name in _NANOS_TS_COLS and (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true"
    ):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:  # unset and defaultless — definitely not pinned to UTC
        tz = None
    if tz != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def ensure_session_confs(spark: SparkSession, name: str = "events") -> None:
    """Public form of the runtime-conf guard, for paths that consume
    previously-materialized data (e.g. a cached streaming drop-set)
    without going through ``load_table`` first: timestamp casts are
    only exact if the session timezone is already pinned to UTC."""
    _ensure_session_confs(spark, name)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing timestamp columns."""
    _ensure_session_confs(spark, name)
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for c in _NANOS_TS_COLS.get(name, []):
        if dict(df.dtypes).get(c) == "bigint":
            # integral division: ns epochs exceed 2^53, double math would
            # round the low microseconds
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    st = os.stat(path)
    if not stat.S_ISREG(st.st_mode):
        # a table directory (``scripts/scale_smoke.py``'s scaled copies)
        # has no cheap identity: its parts change under a fixed mtime
        return spark.read.parquet(path)
    ident = (st.st_size, st.st_mtime_ns)
    hit = _SCHEMAS.get(path)
    if hit is None or hit[0] != ident:
        hit = _SCHEMAS[path] = (ident, spark.read.parquet(path).schema)
    return spark.read.schema(hit[1]).parquet(path)


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register each table as a temp view (for spark.sql entry points)."""
    from datapipe_spark import TABLES

    for name in names or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
