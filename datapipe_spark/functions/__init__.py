"""Scalar function library (SURVEY §2.7 F1–F19). Not every F-row has a
helper here; COVERAGE.md §2.7 maps each one to the code that serves it.

Everything is built on ``pyspark.sql.functions`` so expressions stay
inside whole-stage codegen — no Python UDFs in the hot path. Each
helper cites the reference definition it re-expresses.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Money columns: the reference stores DECIMAL(10,2) and CDC serializes
# decimals as strings (users-debezium-connector.json:38). Testdata uses
# doubles; we pin an exact decimal type before aggregation so sums are
# order-independent (critical for distributed agg AND oracle parity).
MONEY = "decimal(18,2)"
RATE = "decimal(6,2)"


def money(c: str | Column) -> Column:
    """F15: cast to exact money decimal before arithmetic/aggregation."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast(MONEY)


def op_label(c: str | Column) -> Column:
    """F3: CDC __op code → label, fallback to raw code
    (s3_parquet_query.py:191-198)."""
    c = F.col(c) if isinstance(c, str) else c
    return (
        F.when(c == "c", "CREATE")
        .when(c == "u", "UPDATE")
        .when(c == "d", "DELETE")
        .when(c == "r", "READ")
        .otherwise(c)
    )


def epoch_us(c: str | Column) -> Column:
    """Microseconds since epoch, for TIMESTAMP *or* TIMESTAMP_NTZ input.

    The driver's testdata stores ``events.ts`` as parquet
    TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4 reads as
    TIMESTAMP_NTZ — a type ``unix_micros`` rejects. Casting through
    ``timestamp_ltz`` first is a no-op for LTZ input and interprets NTZ
    wall time in the session timezone, which ``sources.tables`` pins to
    UTC, so the result equals DuckDB's ``epoch_us`` on the same data.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.unix_micros(c.cast("timestamp_ltz"))


def json_amount(props: str | Column, field: str = "amount") -> Column:
    """F11: JSONExtractFloat(properties, field) (realtime design.md:285)."""
    props = F.col(props) if isinstance(props, str) else props
    return F.get_json_object(props, f"$.{field}").cast("double")


def ratio(num: Column, den: Column) -> Column:
    """A11: zero-guarded ratio KPI (batch design.md:717-724)."""
    return F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(F.lit(0.0))


def time_partition_cols(ts: str | Column) -> list[Column]:
    """S5/F18: year/month/day/hour partition columns derived from a
    record timestamp (task10-s3-sink-connector-config.json:14-21)."""
    ts = F.col(ts) if isinstance(ts, str) else ts
    return [
        F.year(ts).alias("year"),
        F.month(ts).alias("month"),
        F.dayofmonth(ts).alias("day"),
        F.hour(ts).alias("hour"),
    ]


def with_lineage(df, batch_id: str | None = None):
    """Q4/F13/F14: lineage metadata injection — ``loaded_at`` processing
    timestamp, per-batch ``batch_id`` UUID, source ``file_name``
    (batch design.md:322-325: every raw-layer mirror carries these).
    ``batch_id`` is one UUID per ingest batch (driver-side, matching
    the reference's batch-scoped id), not per-row."""
    import uuid as _uuid

    return (
        df.withColumn("loaded_at", F.current_timestamp())
        .withColumn("batch_id", F.lit(batch_id or str(_uuid.uuid4())))
        .withColumn("file_name", F.input_file_name())
    )


def project_tolerant(df, cols: list[str]):
    """P1: user-supplied column list tolerant of missing names — the
    ad-hoc query tool keeps whatever subset exists
    (s3_parquet_query.py:146-151)."""
    present = [c for c in cols if c in df.columns]
    return df.select(*present) if present else df
