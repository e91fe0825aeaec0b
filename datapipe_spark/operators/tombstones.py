"""The merge-on-read erasure queue shared by every persisted store — the
band index (``dedup_index``), the SCD2 dimension store (``scd2``) and
the IVF index (``similarity``): Iceberg's equality-delete pattern on
plain parquet.

A store's queue is a ``tombstones/`` dir of parquet files, one per
queued request, appended through the commit journal
(``operators/journal.py``) with moves only — ``meta.json`` is never
touched. The rows are the store's erasure obligation: a key column
(``doc_id``, ``id``, ``vec_id``) plus whatever scopes it (the SCD2
store's ``asof_inc`` watermark). Readers ``fold`` the queue into their
scans with an anti-join, so erased rows are hidden before any physical
rewrite; the store's purge folds it physically and deletes the files
it folded in the same journaled commit (``backlog``). A rebuild clears
it with ``journal.reset``.

The fold broadcasts the queue while its files stay under
``BROADCAST_MAX_BYTES``. The decision comes from the sizes of the
files one listing returned, so it costs no Spark job and works for
every store, including the IVF index, which keeps no ``meta.json``.
A purge broadcasts its backlog under ``BACKLOG_BROADCAST_MAX_ROWS``
and falls back to shuffle joins past it, so a snapshot-sized backlog
cannot OOM the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipe_spark.operators import journal

_DIR = "tombstones"

# a queued key is ~10 bytes on disk, so 32 MB ≈ the backlog row gate
BROADCAST_MAX_BYTES = 32 << 20
BACKLOG_BROADCAST_MAX_ROWS = 2_000_000


def pending(store_dir: str) -> list[str]:
    """The queue's parquet files, from one directory listing (empty
    when nothing is queued)."""
    root = os.path.join(store_dir, _DIR)
    try:
        names = sorted(os.listdir(root))
    except FileNotFoundError:
        return []
    return [os.path.join(root, n) for n in names if n.endswith(".parquet")]


def _read(spark: SparkSession, files: list[str]) -> DataFrame:
    """The queued rows under the schema of the first file's footer: a
    declared schema, so the read submits no inference job."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    schema = from_arrow_schema(pq.read_schema(files[0]))
    return spark.read.schema(schema).parquet(*files)


def queue(store_dir: str, rows: DataFrame) -> int:
    """Append the distinct ``rows`` not already queued as one journaled
    moves-only commit. A replayed request therefore queues nothing
    twice. The caller has run its store's writer recovery entry.
    Returns the number of rows queued."""
    spark = rows.sparkSession
    files = pending(store_dir)
    if files:
        rows = rows.join(_read(spark, files), rows.columns, "left_anti")
    kb = rows.distinct().localCheckpoint(eager=True)
    n = kb.count()
    if n == 0:
        return 0
    token, stage = journal.new_stage(store_dir)
    staged = os.path.join(stage, _DIR)
    kb.coalesce(1).write.mode("overwrite").parquet(staged)
    moves = journal.staged_moves(staged, os.path.join(store_dir, _DIR), token)
    journal.commit(store_dir, {"moves": moves})
    journal.roll_forward(store_dir, sweep=True)
    return n


def fold(
    spark: SparkSession,
    store_dir: str,
    df: DataFrame,
    on: str | tuple[str, str],
    cond=None,
) -> DataFrame:
    """``df`` minus every row the queue erases: a left anti-join on
    ``on`` — a column both share, or a ``(df column, queue column)``
    pair — and'ed with ``cond``, a Column over the aliases ``h`` (df)
    and ``t`` (queue). Returns ``df`` untouched when nothing is
    queued."""
    files = pending(store_dir)
    if not files:
        return df
    col, qcol = (on, on) if isinstance(on, str) else on
    t = _read(spark, files)
    if sum(os.path.getsize(f) for f in files) <= BROADCAST_MAX_BYTES:
        t = F.broadcast(t)
    match = F.col(f"h.{col}") == F.col(f"t.{qcol}")
    if cond is not None:
        match = match & cond
    return df.alias("h").join(t.alias("t"), match, "left_anti")


def backlog(
    spark: SparkSession, store_dir: str, rows: DataFrame | None
) -> tuple[DataFrame | None, list[str]]:
    """A purge's erasure spec: the explicit ``rows`` ∪ every queued
    row (under ``rows``' columns), and the queue files the purge's
    commit must delete. The spec is None when both are empty."""
    files = pending(store_dir)
    parts = [] if rows is None else [rows]
    if files:
        queued = _read(spark, files)
        parts.append(queued if rows is None else queued.select(*rows.columns))
    if not parts:
        return None, files
    spec = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    return spec, files
