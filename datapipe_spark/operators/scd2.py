"""Materialized SCD2 dimension store — build / incremental upsert / read.

``plans.cdc_queries.cdc_scd2_history`` computes the Type-2 dimension on
the fly from the full changelog; a feature store MATERIALIZES it and
maintains it from changelog increments (r7 verdict ask #8; the
reference's "latest state vs full history" split — its S3 archival
connector keeps the raw changelog,
1-data-ingestion-pipeline/task10-s3-sink-connector-config.json, and
its Iceberg tables retain snapshot history,
2-batch-analytics-layer/task6-ecommerce-tables-config.yaml:56-57).
Layout under ``dim_dir``::

    meta.json            {"last_batch_id": N, "n_buckets": B,
                          "layout": 2} — layout is REQUIRED: absent
                         means a pre-versioned store this code would
                         misread, so every entry raises instead
    current/bucket=K/    the OPEN version per live key, hash-bucketed
                         on the key (K = pmod(xxhash64(id), B)) — an
                         upsert rewrites ONLY the buckets holding
                         touched keys (r8 verdict ask #1), so per-
                         increment write cost tracks the increment,
                         never the store
    closed/              versions CLOSED by committed increments —
                         append-only flat parquet files, each carrying
                         an ``inc`` lineage column (constant per file,
                         so footer min/max prunes ``scd2_as_of``
                         filters); compactable via
                         ``scd2_compact_closed``
    (commit journal)     present only while a commit completes (see
                         below)

The current/closed split is the hive form of partitioning by
``is_current``: the hot "current dimension" read touches one compact
slice; history files are write-once. Full SCD2 history =
``current ∪ closed`` (``scd2_read_history``) and equals the batch
``CDC_SCD2_HISTORY_SQL`` oracle row for row — the registry entry
``scd2_dimension_store`` drives build + two increments end-to-end
under that hash oracle.

Exactly-once via the journaled two-phase commit every persisted store
shares (``operators/journal.py`` — r8 advisory: the prior sequential
closed-rename → current-swap → meta left a crash window in which an
increment's closed versions were reader-visible while the same
versions were still open in ``current/``). An upsert stages its closed
delta files AND its rewritten bucket dirs under an invisible staging
dir, then durably records ONE journal (atomic rename) naming the
closed-file moves, the per-bucket dir swaps, and the meta (watermark)
the commit must leave behind. Once the journal exists the commit WILL
complete: ``_roll_forward`` — run at every read/write entry — finishes
it idempotently after any crash, and meta advances only inside that
same journaled step, so readers never see a torn
increment: crash before the journal leaves zero visible change (the
batch replays wholesale against the unchanged store); crash after it
is completed by the next entry before anything else runs. A replayed
``batch_id`` ≤ the watermark is skipped wholesale. Single writer per
store by contract (one streaming query owns a dimension).

Scope of the reader guarantee (r12 review): "readers never see a torn
increment" is an ENTRY-time property — a reader entering the store
sees the pre-commit or post-commit state, never a mix, across any
crash. A Spark scan already RUNNING when a live writer's swap lands
read file paths that just moved and can fail mid-job (the inherent
limit of directory-swap commits on a plain filesystem; Iceberg buys
scan-during-commit isolation with manifest indirection) — such a read
retries against the committed store.

Increments must arrive in per-key LSN order (the CDC stream contract —
Debezium preserves per-key order within a topic partition).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datapipe_spark.operators import journal, tombstones
from datapipe_spark.operators.lease import guards_writer
from datapipe_spark.util import run_concurrently, write_empty_parquet

# stored rows additionally carry _written_inc — the batch that WROTE
# the version (closed rows also carry `inc`, the batch that CLOSED
# them). Together they are the lineage that makes `scd2_as_of`
# (Iceberg time travel on this artifact) a pure metadata
# reconstruction.
_STORE_SCHEMA = (
    "id long, user_id long, status string, total_amount double, "
    "valid_from timestamp, valid_to timestamp, is_current boolean, "
    "__source_lsn long, _written_inc int"
)

_HISTORY_COLS = [
    "id", "user_id", "status", "total_amount",
    "valid_from", "valid_to", "is_current", "__source_lsn",
]

_STORE_COLS = [*_HISTORY_COLS, "_written_inc"]

# the changelog's fixed envelope — any OTHER increment column is a
# dimension attribute the store must carry (schema evolution, r10
# verdict ask #3; the reference validates nullable column adds
# end-to-end, 1-data-ingestion-pipeline/task9-validate-cdc.sh:296-320)
_ENVELOPE_COLS = {
    "id", "user_id", "status", "total_amount", "created_at",
    "__op", "__ts_ms", "__source_ts_ms", "__source_lsn",
}

# names an evolved column may NOT take: the store's own derived /
# lineage / partition columns (r11 advisory, low — a collision would
# produce a duplicate column in the store DDL and corrupt meta)
_RESERVED_COLS = (set(_STORE_COLS) - _ENVELOPE_COLS) | {
    "bucket", "inc", "cbucket",
}


def _extras(meta: dict) -> list[tuple[str, str]]:
    """The store's evolved columns beyond the base schema, in
    evolution order: ``[(name, ddl_type), ...]`` from meta.json."""
    return [tuple(e) for e in meta.get("extra_cols", [])]


def _store_ddl(extras: list[tuple[str, str]]) -> str:
    return _STORE_SCHEMA + "".join(f", {n} {t}" for n, t in extras)


def _store_cols(extras: list[tuple[str, str]]) -> list[str]:
    return [*_STORE_COLS, *(n for n, _t in extras)]


def _history_cols(extras: list[tuple[str, str]]) -> list[str]:
    return [*_HISTORY_COLS, *(n for n, _t in extras)]


def _evolved_extras(
    meta: dict, increment: DataFrame
) -> list[tuple[str, str]]:
    """The store's extras AFTER accepting this increment: existing
    extras plus any new non-envelope increment column, appended in the
    increment's column order (types from the increment's schema). New
    columns are nullable by construction — pre-evolution rows read
    back null (the parquet reader back-fills requested-but-absent
    columns), which is exactly the reference's nullable/defaulted
    column-add contract."""
    extras = _extras(meta)
    known = _ENVELOPE_COLS | {n for n, _t in extras}
    for f in increment.schema.fields:
        if f.name not in known:
            if f.name in _RESERVED_COLS:
                # an evolved attribute named like a store-internal
                # column (bucket, inc, cbucket, valid_from, ...) would
                # duplicate a column in the store DDL and corrupt meta
                # irreversibly (r11 advisory, low) — reject up front
                raise ValueError(
                    f"increment column {f.name!r} collides with an SCD2 "
                    f"store-internal column ({sorted(_RESERVED_COLS)}); "
                    "rename it before upserting — accepting it would "
                    "duplicate a column in the store schema."
                )
            extras.append((f.name, f.dataType.simpleString()))
    return extras

# broadcast gate for the touched-key probe (r8 advisory): a snapshot-
# sized increment (initial load / backfill) must NOT force-broadcast
# every key in the table — past this many increment rows the merge
# falls back to a shuffle join on the touched buckets' slice. The
# bound uses the increment's ROW count (an upper bound on touched
# keys, free on the checkpointed increment — no extra shuffle).
SCD2_BROADCAST_MAX_ROWS = 2_000_000

# default current/ bucket count — sized so a bucket stays a few
# hundred MB at the scales this repo tests; a 100 TB deployment picks
# n_buckets at init so store_bytes / n_buckets ≈ a task-sized chunk
SCD2_DEFAULT_BUCKETS = 8

# closed rows carry a FIXED-modulus key bucket (`cbucket`) so key-
# pruned history reads footer-prune closed files after compaction
# clusters on it — decoupled from the current/ layout bucket count,
# which `scd2_rebucket` may change after the files are written
SCD2_CLOSED_KEY_BUCKETS = 1024

_JOURNAL = journal.JOURNAL

# store layout version, recorded in meta.json at init and REQUIRED at
# every entry (r9 advisory, low): a pre-versioned store (flat
# un-bucketed current/, closed/inc=N subdirs) would otherwise be
# silently misread — `bucket` filters would raise mid-plan and legacy
# closed history would be invisible to `_has_closed`. Layout 2 =
# hash-bucketed current/bucket=K + flat closed/ files carrying
# (inc, cbucket).
_LAYOUT = 2


def _p(dim_dir: str, part: str) -> str:
    return dim_dir.rstrip("/") + "/" + part


def _write_meta(dim_dir: str, meta: dict) -> None:
    from datapipe_spark.util import atomic_write_json

    atomic_write_json(_p(dim_dir, "meta.json"), meta)


def _meta(dim_dir: str) -> dict:
    with open(_p(dim_dir, "meta.json")) as f:
        meta = json.load(f)
    if int(meta.get("layout", 0)) < _LAYOUT:
        raise RuntimeError(
            f"SCD2 store at {dim_dir} has layout "
            f"{meta.get('layout', 'absent (pre-versioned)')} but this "
            f"reader requires layout {_LAYOUT}: the store predates the "
            "bucketed current/ + flat closed/ format and would be "
            "silently misread. Rebuild it (scd2_init + replay the "
            "changelog) or migrate it before reading."
        )
    return meta


# the commit point (``operators/journal.py``): a module name so tests
# can crash a commit before it
_write_journal = journal.commit


def _roll_forward(dim_dir: str, sweep: bool = False) -> bool:
    """Complete a pending commit (``journal.roll_forward``), then gate
    the layout, then — ``sweep=True``, writer entries only — remove
    staging debris (the reader/writer rule in ``operators/journal.py``).
    Returns True if a pending commit was completed."""
    pending = journal.roll_forward(dim_dir)
    # layout gate AFTER journal replay, not before: the only journal a
    # legacy-meta store can carry is `scd2_migrate`'s own commit (legacy
    # stores predate the journal entirely), and its j["meta"] carries
    # the current layout — completing it first lets a reader finish a
    # crashed migration; a journal-less legacy store still raises here
    # at every entry (r9 advisory, low)
    if os.path.exists(_p(dim_dir, "meta.json")):
        _meta(dim_dir)
    if sweep:
        journal.sweep(dim_dir)
    return pending


# readers and writers share one recovery entry point (early-bound on
# purpose: entry recovery always runs the real roll-forward even when
# tests monkeypatch the commit-time `_roll_forward` name). Readers
# call it bare (never sweep); writers pass sweep=True.
_recover = _roll_forward


def _bucket_of(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("id")), F.lit(n_buckets)).cast("int")


def _cbucket_of():
    """The fixed-modulus closed-key bucket — a pure function of the
    key, decoupled from the layout bucket count. ONE spelling for
    writer, reader, heal, migrate, and purge (r12 review: five
    hand-repeated copies — one drifted hash or modulus would silently
    mis-route keyed history reads and purge file-pruning, since values
    written by one path would stop matching sets computed by
    another)."""
    return F.pmod(
        F.xxhash64(F.col("id")), F.lit(SCD2_CLOSED_KEY_BUCKETS)
    ).cast("int")


def scd2_init(
    spark: SparkSession, dim_dir: str, n_buckets: int = SCD2_DEFAULT_BUCKETS
) -> None:
    """Create an empty store: typed empty ``current/bucket=0``, no
    history, watermark −1. Refuses an already-initialized store (r12
    review): re-running init on a live store would HALF-reset it —
    watermark and bucket=0 clobbered while other buckets, closed/
    history, and tombstones survive — and the next upsert would merge
    a fresh timeline into stale open rows. Wipe the directory (or
    point at a fresh one) to rebuild."""
    if os.path.exists(_p(dim_dir, "meta.json")):
        raise FileExistsError(
            f"SCD2 store at {dim_dir} is already initialized "
            "(meta.json present): scd2_init would half-reset it, "
            "leaving stale buckets and closed history under a fresh "
            "watermark. Remove the store directory first to rebuild."
        )
    os.makedirs(dim_dir, exist_ok=True)
    write_empty_parquet(_p(dim_dir, "current/bucket=0"), _STORE_SCHEMA)
    _write_meta(
        dim_dir,
        {"last_batch_id": -1, "n_buckets": int(n_buckets), "layout": _LAYOUT},
    )


def _normalize_increment(
    inc: DataFrame, extras: list[tuple[str, str]]
) -> DataFrame:
    """Changelog rows → chain rows: the CDC string decimal re-cast once
    (F15), ``__ts_ms`` carried as the effectivity timestamp, evolved
    columns carried through (an increment predating a column supplies
    null — the nullable-add contract)."""
    cols = [
        F.col("id"),
        F.col("user_id"),
        F.col("status"),
        F.col("total_amount").cast("decimal(18,2)").cast("double").alias("total_amount"),
        F.col("__ts_ms").alias("valid_from"),
        F.col("__op"),
        F.col("__source_lsn"),
    ]
    have = set(inc.columns)
    for n, t in extras:
        cols.append(
            (F.col(n) if n in have else F.lit(None)).cast(t).alias(n)
        )
    return inc.select(*cols)


def _read_current(spark: SparkSession, dim_dir: str, meta: dict | None = None) -> DataFrame:
    """Read the open slice under the store's EXPLICIT schema (base +
    evolved extras from meta + the ``bucket`` partition column): the
    parquet reader back-fills requested-but-absent columns with null,
    so pre-evolution bucket files need neither rewriting nor a
    mergeSchema footer sweep — the 100 TB cost of a column add is
    zero data I/O."""
    if meta is None:
        meta = _meta(dim_dir)
    ddl = _store_ddl(_extras(meta)) + ", bucket int"
    return spark.read.schema(ddl).parquet(_p(dim_dir, "current"))


def _read_closed(spark: SparkSession, dim_dir: str, meta: dict) -> DataFrame:
    """Read the closed slice under the explicit evolved schema (plus
    the ``inc``/``cbucket`` lineage columns)."""
    ddl = _store_ddl(_extras(meta)) + ", inc int, cbucket int"
    return spark.read.schema(ddl).parquet(_p(dim_dir, "closed"))


def _heal_cbucket(df: DataFrame) -> DataFrame:
    """Recompute ``cbucket`` for rows whose closed file predates the
    column (the explicit-schema read back-fills null; r11 advisory,
    medium): ``cbucket`` is a pure function of the key, the same
    fixed-modulus derivation ``scd2_migrate`` uses, so every closed
    REWRITE routes through this to heal legacy rows permanently
    instead of persisting the null (which a bare ``cbucket IN``
    filter would silently drop from keyed reads forever)."""
    return df.withColumn(
        "cbucket", F.coalesce(F.col("cbucket"), _cbucket_of())
    )


def _has_closed(dim_dir: str) -> bool:
    root = _p(dim_dir, "closed")
    return os.path.isdir(root) and any(
        n.endswith(".parquet") for n in os.listdir(root)
    )


def _merge_plan(spark: SparkSession, dim_dir: str, increment: DataFrame, batch_id: int):
    """The upsert's un-materialized plans — split out so the plan gate
    can assert the dimension store is never scanned beyond the touched
    buckets and never shuffled on more than the touched keys: the scan
    partition-prunes to the increment's buckets, and the touched-key
    set probes both slices map-side (broadcast) while the increment is
    small, falling back to a shuffle join past
    ``SCD2_BROADCAST_MAX_ROWS`` (a snapshot-sized backfill must not
    OOM the driver on a forced broadcast). Returns
    ``(chained, cur_untouched, touched_buckets, extras, inc)`` — the
    caller owns unpersisting ``inc``."""
    meta = _meta(dim_dir)
    n_buckets = int(meta["n_buckets"])
    extras = _evolved_extras(meta, increment)
    inc = (
        _normalize_increment(increment, extras)
        .withColumn("_written_inc", F.lit(batch_id).cast("int"))
        .persist()
    )
    touched = inc.select("id").distinct()
    # one aggregation serves both the touched-bucket set and the
    # broadcast gate's row count AND materializes the increment into
    # the cache (persist is lazy — this collect is the computing
    # action, so the merge below never rescans the caller's changelog;
    # r13: persist replaces an eager localCheckpoint, folding the
    # separate materialization job into this stats job)
    stats = inc.groupBy(_bucket_of(n_buckets).alias("b")).count().collect()
    tb = sorted(r["b"] for r in stats)
    n_rows = sum(r["count"] for r in stats)
    probe = F.broadcast(touched) if n_rows <= SCD2_BROADCAST_MAX_ROWS else touched
    # read the store under the EVOLVED schema: pre-evolution bucket
    # files back-fill the new columns with null at scan time
    cur = _read_current(
        spark, dim_dir, {**meta, "extra_cols": [list(e) for e in extras]}
    ).filter(F.col("bucket").isin(tb) if tb else F.lit(False))
    cur_untouched = cur.join(probe, "id", "left_anti")
    # stored open rows re-enter the chain as pseudo-log rows, KEEPING
    # their original _written_inc lineage; a replay against an
    # already-swapped current/ makes them (id, lsn) twins of increment
    # rows — the dedupe collapses them (op differs only in label, never
    # 'd' for a stored row, and a twin's _written_inc is necessarily
    # this batch's id, so either survivor is identical)
    pseudo = cur.join(probe, "id").select(
        "id", "user_id", "status", "total_amount", "valid_from",
        F.lit("u").alias("__op"), "__source_lsn", "_written_inc",
        *(n for n, _t in extras),
    )
    merged = pseudo.unionByName(inc).dropDuplicates(["id", "__source_lsn"])
    w = Window.partitionBy("id").orderBy("__source_lsn")
    chained = (
        merged.withColumn("valid_to", F.lead("valid_from").over(w))
        .withColumn(
            "is_current", F.col("valid_to").isNull() & (F.col("__op") != "d")
        )
        .filter(F.col("__op") != "d")
        .select(*_store_cols(extras))
    )
    return chained, cur_untouched, tb, extras, inc


@guards_writer
def scd2_upsert(spark: SparkSession, dim_dir: str, increment: DataFrame, batch_id: int) -> bool:
    """Apply one changelog increment: close the open version of every
    touched key whose history advanced, open the new latest version,
    drop keys whose increment ends in a delete tombstone (the tombstone
    bounds the prior version's validity but is not a dimension row —
    same semantics as ``cdc_scd2_history``).

    Cost shape at 100 TB: the ``current/`` scan partition-prunes to
    the increment's touched buckets; the touched-key set probes that
    slice map-side (broadcast, gated — shuffle fallback for snapshot-
    sized increments); the version re-chain is one hash shuffle of
    O(touched keys × versions-in-increment) rows; ``closed/`` is
    append-only; and the write-back rewrites ONLY the touched buckets
    — O(live keys in touched buckets), never O(live keys). Commit is
    the journaled two-phase rename (module docstring): a reader never
    sees a torn increment and a replayed ``batch_id`` ≤ the watermark
    is skipped. Returns True if applied, False if skipped (replay).
    """
    _recover(dim_dir, sweep=True)
    if batch_id <= journal.watermark(dim_dir):
        return False
    meta = _meta(dim_dir)
    chained, cur_untouched, tb, extras, inc = _merge_plan(
        spark, dim_dir, increment, batch_id
    )
    # schema evolution commits WITH the increment (one journal): the
    # evolved column list only becomes readable when the data carrying
    # it does
    new_meta = {
        **meta,
        "last_batch_id": batch_id,
        "extra_cols": [list(e) for e in extras],
    }
    if not tb:  # empty increment: advance the watermark, touch nothing
        inc.unpersist()
        _write_journal(dim_dir, {"moves": [], "swaps": [], "meta": new_meta})
        _roll_forward(dim_dir, sweep=True)
        return True
    # persist (not eager localCheckpoint): the closed-delta write below
    # is the computing action, so the re-chain shuffle runs once and
    # the current-slice write reuses the cached rows — one fewer full
    # pass per increment (r13, guide §1.2/§5)
    chained = chained.persist()
    token, stage = journal.new_stage(dim_dir)
    n_buckets = int(meta["n_buckets"])

    # stage the closed delta (flat files carrying the closing batch as
    # the `inc` lineage column — constant per file, so as_of footer-
    # prunes whole files — plus the fixed-modulus key bucket for
    # key-pruned reads, selective after compaction clusters on it)
    def _stage_closed() -> None:
        chained.filter(~F.col("is_current")).withColumn(
            "inc", F.lit(batch_id).cast("int")
        ).withColumn(
            "cbucket",
            _cbucket_of(),
        ).write.mode("overwrite").parquet(os.path.join(stage, "closed"))

    # stage the rewritten touched buckets (one output file per bucket)
    def _stage_current() -> None:
        new_current = cur_untouched.select(*_store_cols(extras)).unionByName(
            chained.filter("is_current")
        )
        (
            new_current.withColumn("bucket", _bucket_of(n_buckets))
            .repartition(len(tb), "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(stage, "current"))
        )

    # r14 (guide §2.6): the two staged writes are independent actions —
    # different output dirs, both reading the persisted ``chained``
    # (concurrent first-touch of a cached partition is computed once
    # under the block manager's per-partition lock) — so submitting
    # them together overlaps the second write's planning + job behind
    # the first instead of serializing ~1/3 of the increment wall. The
    # journal below is written only after BOTH futures resolve, so the
    # two-phase commit point is unchanged; a failure in either write
    # surfaces here, before the journal, exactly as the sequential
    # form did (staging debris is swept by the next entry's recovery).
    run_concurrently(spark, _stage_closed, _stage_current)
    moves = journal.staged_moves(
        os.path.join(stage, "closed"), _p(dim_dir, "closed"), token
    )
    swaps = _bucket_swaps(spark, stage, dim_dir, tb, _store_ddl(extras))

    _write_journal(dim_dir, {"moves": moves, "swaps": swaps, "meta": new_meta})
    _roll_forward(dim_dir, sweep=True)
    chained.unpersist()
    inc.unpersist()
    return True


def _bucket_swaps(
    spark: SparkSession, stage: str, dim_dir: str, tb: list, ddl: str
) -> list[list[str]]:
    """Journal ``swaps`` for the touched buckets: a bucket whose every
    key was tombstoned/purged produced no staged dir — swap in a typed
    empty one so the stale open rows still get replaced (one spelling
    for upsert and purge)."""
    swaps = []
    for b in tb:
        src = os.path.join(stage, f"current/bucket={b}")
        if not os.path.isdir(src):
            write_empty_parquet(src, ddl)
        swaps.append([src, _p(dim_dir, f"current/bucket={b}")])
    return swaps


def _queue_scope():
    """The erasure queue's sequence scope (``operators/tombstones.py``
    ``fold`` condition): a tombstone ``(id, asof_inc)`` hides every
    version of the key written at or before the queue point
    (``_written_inc`` ≤ ``asof_inc``); versions a LATER increment
    writes survive, exactly as after a physical purge followed by
    re-insertion. The folded slice must still carry ``_written_inc``."""
    return F.col("h._written_inc") <= F.col("t.asof_inc")


def scd2_read_history(spark: SparkSession, dim_dir: str) -> DataFrame:
    """The full Type-2 dimension: closed versions ∪ open versions —
    row-identical to the batch ``cdc_scd2_history`` over the same
    changelog (hash-oracled by the registry entry). Queued tombstones
    are folded in at read (``_queue_scope``)."""
    _recover(dim_dir)
    meta = _meta(dim_dir)
    hcols = _history_cols(_extras(meta))
    cur = tombstones.fold(
        spark, dim_dir, _read_current(spark, dim_dir, meta), "id", _queue_scope()
    )
    if _has_closed(dim_dir):
        closed = tombstones.fold(
            spark, dim_dir, _read_closed(spark, dim_dir, meta), "id", _queue_scope()
        )
        return closed.select(*hcols).unionByName(cur.select(*hcols))
    return cur.select(*hcols)


def scd2_lookup(spark: SparkSession, dim_dir: str, ids: list) -> DataFrame:
    """Feature-serving point lookup: the current (open) version of the
    given keys, scanning ONLY the buckets those keys hash into. The
    key set's bucket values partition-prune the ``current/`` scan and
    the keys themselves broadcast into it — at 100 TB a k-key lookup
    touches ≤k bucket dirs (task-sized each) instead of the whole
    dimension slice. Plan-gated in tests."""
    _recover(dim_dir)
    meta = _meta(dim_dir)
    n_buckets = int(meta["n_buckets"])
    keys = spark.createDataFrame([(int(i),) for i in ids], "id long")
    tb = sorted(
        r[0]
        for r in keys.select(_bucket_of(n_buckets).alias("b")).distinct().collect()
    )
    cur = tombstones.fold(
        spark,
        dim_dir,
        _read_current(spark, dim_dir, meta).filter(
            F.col("bucket").isin(tb) if tb else F.lit(False)
        ),
        "id",
        _queue_scope(),
    )
    return cur.join(F.broadcast(keys), "id").select(
        *_history_cols(_extras(meta))
    )


def scd2_history_for_keys(
    spark: SparkSession, dim_dir: str, keys: DataFrame
) -> DataFrame:
    """Key-pruned full-history read — the feature-serving PIT source:
    every version of JUST the given keys. The ``current/`` scan
    partition-prunes to the keys' layout buckets; the ``closed/`` scan
    filters on the fixed-modulus ``cbucket`` column (footer-selective
    once ``scd2_compact_closed`` clusters on it); a broadcast LEFT
    SEMI join then trims both slices to the exact key set. Cost is
    O(touched buckets + matching closed files) — at 100 TB a bounded
    key set (a micro-batch, a training shard) reads a bounded slice of
    the store, never the whole dimension. ``keys`` must have an ``id``
    column; row-equality with the filtered full read is pinned in
    tests."""
    _recover(dim_dir)
    meta = _meta(dim_dir)
    n_buckets = int(meta["n_buckets"])
    kb = keys.select("id").distinct().localCheckpoint(eager=True)
    # broadcast gate (r12 review — the upsert/purge probe posture):
    # a snapshot-sized key set (the docstring's training shard) must
    # not force-broadcast through the driver; past the gate the semi
    # join falls back to a shuffle. The count is free on the
    # checkpointed frame.
    n_keys = kb.count()
    gated = n_keys <= SCD2_BROADCAST_MAX_ROWS
    # one job yields both pruning sets (layout bucket + fixed-modulus
    # closed bucket per distinct key); bounded: ≤ n_buckets × 1024
    # distinct pairs regardless of key count
    pairs = (
        kb.select(
            _bucket_of(n_buckets).alias("b"),
            _cbucket_of().alias("cb"),
        )
        .distinct()
        .collect()
    )
    tb = sorted({r["b"] for r in pairs})
    cb = sorted({r["cb"] for r in pairs})
    hcols = _history_cols(_extras(meta))
    cur = tombstones.fold(
        spark,
        dim_dir,
        _read_current(spark, dim_dir, meta).filter(
            F.col("bucket").isin(tb) if tb else F.lit(False)
        ),
        "id",
        _queue_scope(),
    ).select(*hcols)
    hist = cur
    if _has_closed(dim_dir):
        # the IS NULL arm keeps rows from files predating cbucket (the
        # explicit schema back-fills null — r11 advisory, medium): for
        # cbucket-bearing files the pushed Or(In, IsNull) still prunes
        # row groups (null_count 0 + min/max miss ⟹ skip); for legacy
        # files the predicate isn't pushable and evaluates true post-
        # scan, and the broadcast semi join below trims to exact keys
        closed = _read_closed(spark, dim_dir, meta).filter(
            (F.col("cbucket").isin(cb) | F.col("cbucket").isNull())
            if cb
            else F.lit(False)
        )
        closed = tombstones.fold(spark, dim_dir, closed, "id", _queue_scope())
        hist = closed.select(*hcols).unionByName(cur)
    return hist.join(F.broadcast(kb) if gated else kb, "id", "semi")


def scd2_as_of(spark: SparkSession, dim_dir: str, batch_id: int) -> DataFrame:
    """Time travel (Iceberg ``VERSION AS OF``, on OUR artifact): the
    dimension history exactly as it stood after increment ``batch_id``
    committed — a pure metadata reconstruction from the store's batch
    lineage, no changelog replay and no data rewrite:

    - versions written later (``_written_inc`` > N) don't exist yet;
    - versions closed by an increment ≤ N keep their closed form
      (``inc``, the closing batch, is constant per append file, so
      footer min/max discards every later closing wholesale);
    - versions closed only by a LATER increment — plus today's open
      rows — were the open versions as of N (valid_to reopened to
      null; stored rows are never tombstones, so open ⟹ current).

    Row-identical to rebuilding SCD2 from the changelog prefix
    (hash-oracled by ``scd2_dimension_as_of``; ``as_of(last batch)``
    ≡ ``scd2_read_history`` is asserted in tests)."""
    _recover(dim_dir)
    meta = _meta(dim_dir)
    hcols = _history_cols(_extras(meta))
    cur = (
        tombstones.fold(
            spark, dim_dir, _read_current(spark, dim_dir, meta), "id", _queue_scope()
        )
        .filter(F.col("_written_inc") <= batch_id)
        .select(*hcols)
    )
    if not _has_closed(dim_dir):
        return cur
    closed = tombstones.fold(
        spark, dim_dir, _read_closed(spark, dim_dir, meta), "id", _queue_scope()
    ).filter(F.col("_written_inc") <= batch_id)
    closed_by_now = closed.filter(F.col("inc") <= batch_id).select(*hcols)
    reopened = (
        closed.filter(F.col("inc") > batch_id)
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
        .select(*hcols)
    )
    return closed_by_now.unionByName(reopened).unionByName(cur)


@guards_writer
def scd2_rebucket(spark: SparkSession, dim_dir: str, n_buckets: int) -> None:
    """Bucket-count evolution: rewrite the ``current/`` slice into a
    new bucket count — the maintenance a growing dimension needs when
    buckets outgrow task size (the 100 TB sizing rule in
    ``scd2_init``'s docstring), or a shrunken one accumulates
    small-file overhead. One hash shuffle of the OPEN slice only
    (history files untouched — closed/ carries no bucket structure),
    committed as a single journaled whole-dir swap + meta update, so
    readers see the old or new layout, never a mix, and a crash
    anywhere is rolled forward by the next entry. Content-preserving
    by contract (history, as_of, and lookup equality are pinned in
    tests)."""
    _recover(dim_dir, sweep=True)
    meta = _meta(dim_dir)
    if int(n_buckets) == int(meta["n_buckets"]):
        return
    cur = _read_current(spark, dim_dir, meta).select(
        *_store_cols(_extras(meta))
    )
    stage = _p(journal.new_stage(dim_dir)[1], "current")
    (
        cur.withColumn("bucket", _bucket_of(int(n_buckets)))
        .repartition(int(n_buckets), "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(stage)
    )
    for name in ("_SUCCESS", "._SUCCESS.crc"):
        p = os.path.join(stage, name)
        if os.path.exists(p):
            os.remove(p)
    if not any(n.startswith("bucket=") for n in os.listdir(stage)):
        # empty store: keep a typed empty bucket so reads stay schema'd
        write_empty_parquet(
            os.path.join(stage, "bucket=0"), _store_ddl(_extras(meta))
        )
    _write_journal(
        dim_dir,
        {
            "moves": [],
            "swaps": [[stage, _p(dim_dir, "current")]],
            "meta": {**meta, "n_buckets": int(n_buckets)},
        },
    )
    _roll_forward(dim_dir, sweep=True)


@guards_writer
def scd2_compact_closed(
    spark: SparkSession, dim_dir: str, target_bytes: int | None = None
) -> tuple[int, int]:
    """Maintenance rewrite of the append-only history (r8 verdict ask
    #3): long streaming maintenance leaves one small file set per
    increment — the small-files failure mode the band/IVF indexes
    already solve. Range-cluster ``closed/`` on the ``inc`` lineage
    column into size-targeted files (``compact_minhash_index``
    posture): row sets identical, the ``inc`` column preserved so
    ``scd2_as_of`` still reconstructs every committed version, and
    post-clustering each file's footer covers a narrow ``inc`` slice
    so time-travel filters keep pruning whole files. Completes any
    pending commit first (the r8 compaction advisory), leaves
    ``meta.json`` untouched, and commits through the journal: the
    clustered rewrite is staged under a staging dir and swapped in
    as a journaled ``swaps`` entry (r9 advisory, medium #1 — the
    previous bare rename pair could crash between renames and leave
    NO ``closed/`` dir at all, which ``_has_closed`` read as "no
    history": readers silently served current-only history and the
    next upsert recreated ``closed/`` from scratch, permanently
    orphaning every prior version). Returns
    ``(files_before, files_after)``."""
    from datapipe_spark.operators.maintenance import (
        TARGET_FILE_BYTES,
        cluster_parquet_into,
        parquet_file_count,
    )

    _recover(dim_dir, sweep=True)
    # fold the merge-on-read erasure queue first (r10 verdict ask #2 —
    # Iceberg folds delete files at compaction): the physical purge
    # clears the tombstones, so post-compaction reads drop the
    # anti-join entirely. Re-enters this writer's own lease.
    if tombstones.pending(dim_dir):
        scd2_purge_keys(spark, dim_dir, None)
    if not _has_closed(dim_dir):
        return (0, 0)
    root = _p(dim_dir, "closed")
    before = parquet_file_count(root)
    # cluster key-bucket-major: a key-pruned read touches ~1/1024 of
    # the files; within a bucket slice `inc` stays contiguous so
    # time-travel filters keep pruning too. The rewrite reads under
    # the EXPLICIT evolved schema — a footer-sampled read could
    # silently drop a column pre-evolution files lack.
    cols = ["cbucket", "inc"]
    schema = _store_ddl(_extras(_meta(dim_dir))) + ", inc int, cbucket int"
    stage = _p(journal.new_stage(dim_dir)[1], "closed")
    cluster_parquet_into(
        spark, root, stage, cols,
        target_bytes=target_bytes or TARGET_FILE_BYTES, schema=schema,
        transform=_heal_cbucket,  # legacy null cbucket healed on rewrite
    )
    _write_journal(
        dim_dir, {"moves": [], "swaps": [[stage, root]], "meta": _meta(dim_dir)}
    )
    _roll_forward(dim_dir, sweep=True)
    return (before, parquet_file_count(root))


def scd2_dimension_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form of time travel: the cached store holds three
    committed increments (initial load, update tail, delete tail);
    travel back to batch 1 — creates + updates applied, every delete
    still in the future — and require row equality with an SCD2 build
    over the changelog PREFIX (``CDC_SCD2_AS_OF_CU_SQL``). Versions
    deleted today must reappear open; versions closed by batch-1
    updates must stay closed."""
    store = _cached_scd2_store(spark, sf_dir)
    return scd2_as_of(spark, store, batch_id=1)


def _cached_scd2_store(spark: SparkSession, sf_dir: str) -> str:
    """Build-once cache of the materialized store for a testdata dir
    (``util.build_once``). The feature-store READ path
    (``lineitem_pit_stored``) probes this; the registry build entry
    deliberately rebuilds from scratch each call — it is attesting the
    incremental writer."""
    from datapipe_spark.sources.cdc import synth_changelog
    from datapipe_spark.util import build_once

    def _build(tmp: str) -> None:
        log = synth_changelog(spark, sf_dir)
        scd2_init(spark, tmp)
        # three increments (initial load, update tail, delete tail) so
        # scd2_as_of has nontrivial intermediate states to travel to
        for b, op in enumerate(("c", "u", "d")):
            scd2_upsert(spark, tmp, log.filter(F.col("__op") == op), batch_id=b)
        # leave the cache in maintained form: closed/ range-clustered
        # on (cbucket, inc), the layout a production store sits in
        # between maintenance passes — key-pruned reads footer-prune
        # and the purge entries exercise the file-pruned rewrite
        scd2_compact_closed(spark, tmp)

    return build_once(
        os.path.join(sf_dir, "orders.parquet"), "scd2v6",
        "SPARK_GRAFT_SCD2_DIR", "/tmp/datapipe_spark_scd2", _build,
    )


def lineitem_pit_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-store READ path end-to-end: the point-in-time
    status rollup served from the MATERIALIZED dimension store instead
    of an on-the-fly SCD2 build — the plan a feature platform actually
    runs (facts shuffle once; the dimension history is a parquet scan
    of current ∪ closed). Shares ``LINEITEM_PIT_STATUS_ROLLUP_SQL``:
    the hash oracle attests store materialization + incremental upsert
    + PIT join compose to exactly the on-the-fly answer."""
    from datapipe_spark.plans.cdc_queries import _pit_status_rollup

    hist = scd2_read_history(spark, _cached_scd2_store(spark, sf_dir)).select(
        "id", "status", "valid_from", "valid_to"
    )
    return _pit_status_rollup(spark, sf_dir, hist)


def lineitem_pit_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-traveled PIT read path (r8 verdict ask #5): the training-
    reproducibility contract a feature store sells — "give me features
    exactly as the store stood at increment N", long after later
    increments rewrote it. Composes ``scd2_as_of`` (version travel on
    the materialized store) with the PIT join + rollup: serve the
    batch-1 store state (creates + updates committed, deletes still in
    the future) and roll lineitems up against it. Oracle: the same
    rollup SQL over SCD2 built from the changelog PREFIX
    (``LINEITEM_PIT_AS_OF_SQL``), so the hash attests time travel +
    PIT join compose exactly."""
    from datapipe_spark.plans.cdc_queries import _pit_status_rollup

    store = _cached_scd2_store(spark, sf_dir)
    hist = scd2_as_of(spark, store, batch_id=1).select(
        "id", "status", "valid_from", "valid_to"
    )
    return _pit_status_rollup(spark, sf_dir, hist)


def scd2_store_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form of store MAINTENANCE (r9): clone the cached
    store, run both layout rewrites — closed-history compaction
    (range-clustered on ``(cbucket, inc)``) and open-slice
    rebucketing (8 → 16 journaled whole-dir swap) — then read the full
    history back under the batch build's hash oracle. Attests the
    rewrites preserve every version exactly: the content-preservation
    contract ``lineitem_cluster_rewrite`` pins for source tables and
    ``dedup_cross_corpus_compacted`` pins for the band index, applied
    to the dimension store."""
    import shutil as _sh

    from datapipe_spark.util import fresh_dir

    src_store = _cached_scd2_store(spark, sf_dir)
    root = fresh_dir("scd2_maintained")
    dst = os.path.join(root, "store")
    _sh.copytree(src_store, dst)
    scd2_compact_closed(spark, dst)
    scd2_rebucket(spark, dst, 16)
    return scd2_read_history(spark, dst)


def scd2_dimension_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form (r7 verdict ask #8): build the materialized store
    from a realistic two-increment arrival — the initial load (every
    create op) then the CDC tail (updates + deletes), so EVERY tail row
    closes or tombstones a window the first increment opened — and read
    the full history back. Shares ``CDC_SCD2_HISTORY_SQL``: the hash
    oracle attests the incremental writer reproduces the one-shot batch
    build exactly (the content-preservation contract
    ``lineitem_cluster_rewrite`` pins for source tables, applied to the
    dimension store)."""
    from datapipe_spark.sources.cdc import synth_changelog
    from datapipe_spark.util import fresh_dir

    log = synth_changelog(spark, sf_dir)
    store = fresh_dir("scd2_store")
    scd2_init(spark, store)
    scd2_upsert(spark, store, log.filter(F.col("__op") == "c"), batch_id=0)
    scd2_upsert(spark, store, log.filter(F.col("__op") != "c"), batch_id=1)
    return scd2_read_history(spark, store)


@guards_writer
def scd2_migrate(
    spark: SparkSession, dim_dir: str, n_buckets: int = SCD2_DEFAULT_BUCKETS
) -> bool:
    """Migrate a pre-layout-2 store in place — the "migrate" arm of the
    layout gate's "rebuild or migrate" error (r9 advisory, low): a
    layout-less store (flat un-bucketed ``current/``, ``closed/inc=N``
    hive subdirs or flat closed files, possibly no ``_written_inc`` /
    ``cbucket`` lineage columns) is rewritten into the current layout
    and committed ATOMICALLY through the same journal as every other
    writer — a crash anywhere leaves either the intact legacy store
    (pre-journal) or a commit the next entry completes (post-journal);
    readers never see a half-migrated mix.

    Column back-fill: rows without ``_written_inc`` get 0 (every
    version treated as written by the first batch — pre-lineage stores
    never supported ``scd2_as_of``, so time travel over migrated
    history starts coarse and sharpens with post-migration increments);
    closed rows without ``inc`` get 0; ``cbucket`` is recomputed from
    the key (it is a pure function of ``id``). The migrated ``closed/``
    slice is range-clustered on ``(cbucket, inc)`` at write time, so
    the store comes out already compacted. The watermark
    (``last_batch_id``) is preserved — committed batches keep skipping.

    Returns True if a migration ran, False if the store was already on
    the current layout (then this is just a writer entry: it completes
    any pending commit and sweeps staging debris).
    """
    if os.path.exists(_p(dim_dir, _JOURNAL)):
        # the only journal a legacy-meta store can carry is a prior
        # crashed migration's own commit — complete it BEFORE the raw
        # meta read and the staging sweep (r12 review, high: sweeping
        # first destroys the pending journal's swap sources; a crash in
        # the window before this call's own journal overwrite would
        # then let replay treat each sourceless swap as already-done
        # and stamp layout 2 onto the UN-migrated legacy dirs — every
        # bucket filter null-drops and the store silently reads empty)
        _roll_forward(dim_dir)
    with open(_p(dim_dir, "meta.json")) as f:
        raw_meta = json.load(f)  # raw read: _meta would raise on legacy
    if int(raw_meta.get("layout", 0)) >= _LAYOUT:
        _recover(dim_dir, sweep=True)
        return False
    # legacy stores predate the journal: nothing to roll forward, and
    # any staging debris is from a crashed prior migration attempt
    journal.sweep(dim_dir)

    _token, stage = journal.new_stage(dim_dir)
    cur = spark.read.parquet(_p(dim_dir, "current"))
    if "_written_inc" not in cur.columns:
        cur = cur.withColumn("_written_inc", F.lit(0).cast("int"))
    (
        cur.select(*_STORE_COLS)
        .withColumn("bucket", _bucket_of(int(n_buckets)))
        .repartition(int(n_buckets), "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(stage, "current"))
    )
    if not any(
        n.startswith("bucket=") for n in os.listdir(os.path.join(stage, "current"))
    ):
        write_empty_parquet(os.path.join(stage, "current/bucket=0"), _STORE_SCHEMA)
    swaps = [[os.path.join(stage, "current"), _p(dim_dir, "current")]]

    closed_root = _p(dim_dir, "closed")
    has_any_closed = os.path.isdir(closed_root) and any(
        f.endswith(".parquet")
        for _r, _d, files in os.walk(closed_root)
        for f in files
    )
    if has_any_closed:
        # hive discovery surfaces legacy inc=N subdirs as an `inc`
        # partition column; flat legacy files carry it (or get 0)
        closed = spark.read.parquet(closed_root)
        if "inc" not in closed.columns:
            closed = closed.withColumn("inc", F.lit(0))
        if "_written_inc" not in closed.columns:
            closed = closed.withColumn("_written_inc", F.lit(0).cast("int"))
        closed = closed.select(
            *_STORE_COLS, F.col("inc").cast("int").alias("inc")
        ).withColumn("cbucket", _cbucket_of())
        (
            closed.repartitionByRange(
                max(1, spark.sparkContext.defaultParallelism // 4),
                "cbucket", "inc",
            )
            .sortWithinPartitions("cbucket", "inc")
            .write.mode("overwrite")
            .parquet(os.path.join(stage, "closed"))
        )
        swaps.append([os.path.join(stage, "closed"), closed_root])

    new_meta = {
        **raw_meta,
        "n_buckets": int(n_buckets),
        "layout": _LAYOUT,
        "last_batch_id": int(raw_meta.get("last_batch_id", -1)),
    }
    _write_journal(dim_dir, {"moves": [], "swaps": swaps, "meta": new_meta})
    _roll_forward(dim_dir, sweep=True)
    return True


def _write_legacy_store(spark: SparkSession, hist: DataFrame, dim_dir: str) -> None:
    """Synthesize the PRE-layout store format (flat un-bucketed
    ``current/``, hive ``closed/inc=N`` subdirs, layout-less meta.json,
    no lineage columns) from a computed SCD2 history — the fixture the
    migration path is attested against. Lives in prod code because the
    registry entry drives it; never used outside migration testing."""
    os.makedirs(dim_dir, exist_ok=True)
    hist.filter(F.col("is_current")).select(*_HISTORY_COLS).write.mode(
        "overwrite"
    ).parquet(_p(dim_dir, "current"))
    closed = hist.filter(~F.col("is_current")).select(*_HISTORY_COLS)
    # two inc partitions exercise hive partition-column discovery
    closed.withColumn("inc", F.pmod(F.col("id"), F.lit(2)).cast("int")).write.mode(
        "overwrite"
    ).partitionBy("inc").parquet(_p(dim_dir, "closed"))
    tmp = _p(dim_dir, f"meta.json.tmp-{os.getpid()}")
    with open(tmp, "w") as f:
        json.dump({"last_batch_id": 1}, f)  # deliberately layout-less
    os.replace(tmp, _p(dim_dir, "meta.json"))


def scd2_store_migrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form of the layout migration: synthesize the legacy
    pre-layout store from the batch SCD2 build, migrate it in place
    (journaled swap of both slices), and read the full history back
    under the batch build's hash oracle (``CDC_SCD2_HISTORY_SQL``) —
    attesting the migration preserves every version exactly, the same
    content-preservation contract the compaction and rebucket entries
    pin."""
    from datapipe_spark.plans.cdc_queries import cdc_scd2_history
    from datapipe_spark.util import fresh_dir

    root = fresh_dir("scd2_migrated")
    store = os.path.join(root, "store")
    _write_legacy_store(spark, cdc_scd2_history(spark, sf_dir), store)
    if not scd2_migrate(spark, store):
        raise RuntimeError("legacy fixture unexpectedly already migrated")
    return scd2_read_history(spark, store)


def _closed_files_touching(closed_root: str, cbs: list[int]) -> list[str]:
    """``closed/`` parquet files whose ``cbucket`` footer min/max range
    intersects any purged cbucket (``cbs`` sorted) — the file-level
    pruning the purge rewrite runs on. Driver cost is one footer read
    per file (no data read), the same metadata scan
    ``maintenance.file_column_ranges`` uses. A file lacking the column
    or usable stats is conservatively touched; a zero-row file is
    touched too (it is about to be rewritten away for free)."""
    import bisect

    import pyarrow.parquet as pq

    touched = []
    for name in sorted(os.listdir(closed_root)):
        if not name.endswith(".parquet"):
            continue
        fp = os.path.join(closed_root, name)
        md = pq.ParquetFile(fp).metadata
        names = md.schema.names
        if "cbucket" not in names:
            touched.append(fp)
            continue
        idx = names.index("cbucket")
        lo = hi = None
        usable = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                usable = False
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if not usable or lo is None:
            touched.append(fp)
            continue
        i = bisect.bisect_left(cbs, lo)
        if i < len(cbs) and cbs[i] <= hi:
            touched.append(fp)
    return touched


@guards_writer
def scd2_queue_purge(spark: SparkSession, dim_dir: str, keys: DataFrame) -> int:
    """Merge-on-read erasure queue (Iceberg's equality-delete pattern
    on our store): record the erasure obligation WITHOUT rewriting any
    data file. Queues ``(id, asof_inc)`` tombstones
    (``operators/tombstones.py``) — ``asof_inc`` is the store's
    watermark at queue time, so the tombstone hides exactly the
    versions that existed when the request arrived (``_queue_scope``);
    a later re-insert of the key opens fresh visible history,
    identical to physical-purge-then-reinsert. ``scd2_purge_keys`` and
    ``scd2_compact_closed`` fold the queue PHYSICALLY and clear it —
    so N small GDPR requests cost N tiny appends plus ONE batched
    rewrite at the next maintenance pass, instead of N slice rewrites.
    Returns the number of keys queued."""
    _recover(dim_dir, sweep=True)
    asof = F.lit(journal.watermark(dim_dir)).cast("int").alias("asof_inc")
    return tombstones.queue(dim_dir, keys.select("id", asof))


@guards_writer
def scd2_purge_keys(
    spark: SparkSession, dim_dir: str, keys: DataFrame | None = None
) -> None:
    """Compliance erasure (GDPR right-to-be-forgotten, applied to OUR
    lakehouse artifact — the reference's warehouse faces the same
    obligation on its Iceberg history tables): remove EVERY version of
    the given keys from the store, open and closed alike, in one
    journaled commit — readers see the store with the keys or without
    them, never a partial purge, and a crash anywhere is rolled
    forward by the next entry.

    Cost shape at 100 TB: the ``current/`` side rewrites ONLY the
    buckets the keys hash into (the upsert's touched-bucket posture);
    the ``closed/`` side rewrites ONLY the files whose ``cbucket``
    footer range intersects the purged keys' cbuckets (r10 verdict ask
    #1 — the ``purge_ivf_index`` partition-pruning posture applied to
    history): one footer scan picks the touched files, kept rows of
    JUST those files are rewritten re-clustered on ``(cbucket, inc)``,
    and the commit journals the new files in (``moves``) and the old
    touched files out (``deletes``) — untouched files are never read,
    never rewritten, byte-identical across the purge (pinned in
    tests). After ``scd2_compact_closed`` clusters history, a small
    backlog touches ~|cbuckets|/1024 of the files, so purge cost
    tracks the touched slice, not the history; a file without usable
    footer stats is conservatively treated as touched (legacy append
    files cover the full cbucket range and simply rewrite, exactly the
    pre-r11 behavior).

    ``keys`` must have an ``id`` column (or be None to fold ONLY the
    queued tombstones — the maintenance-pass form). The queued
    tombstone set (``scd2_queue_purge``) is always folded in and
    cleared in the same journaled commit: explicit keys erase every
    version; queued tombstones erase sequence-scoped (versions written
    at or before their queue point), so interleaved re-inserts
    survive exactly as the merge-on-read reader showed them. The
    watermark is untouched — purging is not an increment; subsequent
    increments keep applying. Re-inserting a purged key later re-opens
    fresh history (the store never remembers the erasure — by
    design)."""
    _recover(dim_dir, sweep=True)
    meta = _meta(dim_dir)
    n_buckets = int(meta["n_buckets"])
    # explicit keys erase every version (asof_inc = +∞), queued
    # tombstones their sequence-scoped slice: max asof_inc per key
    spec, tomb_files = tombstones.backlog(
        spark,
        dim_dir,
        None
        if keys is None
        else keys.select("id", F.lit(2**31 - 1).cast("int").alias("asof_inc")),
    )
    if spec is None:
        return
    kb = (
        spec.groupBy("id")
        .agg(F.max("asof_inc").alias("asof_inc"))
        .localCheckpoint(eager=True)
    )
    # one aggregation yields the touched-bucket set AND the broadcast
    # gate's key count (the upsert's probe posture: a snapshot-sized
    # erasure backlog must not force-broadcast every key)
    stats = kb.groupBy(_bucket_of(n_buckets).alias("b")).count().collect()
    tb = sorted(r["b"] for r in stats)
    if not tb:
        if tomb_files:  # queue held only never-seen keys: just clear it
            _write_journal(dim_dir, {"deletes": tomb_files})
            _roll_forward(dim_dir, sweep=True)
        return
    n_keys = sum(r["count"] for r in stats)
    gated = n_keys <= tombstones.BACKLOG_BROADCAST_MAX_ROWS

    def _minus_spec(df: DataFrame) -> DataFrame:
        t = F.broadcast(kb) if gated else kb
        return df.alias("h").join(
            t.alias("t"),
            (F.col("h.id") == F.col("t.id"))
            & (F.col("h._written_inc") <= F.col("t.asof_inc")),
            "left_anti",
        )

    token, stage = journal.new_stage(dim_dir)

    # current/: rewrite only the touched buckets, minus the spec
    def _w_current() -> None:
        cur = _read_current(spark, dim_dir, meta).filter(F.col("bucket").isin(tb))
        kept = _minus_spec(cur).select(*_store_cols(_extras(meta)))
        (
            kept.withColumn("bucket", _bucket_of(n_buckets))
            .repartition(len(tb), "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(stage, "current"))
        )

    # closed/: footer-prune the rewrite to the files whose cbucket
    # range intersects the purged keys' cbuckets (docstring cost shape)
    def _w_closed() -> tuple[list[list[str]], list[str]]:
        if not _has_closed(dim_dir):
            return [], []
        cbs = sorted(
            r[0]
            for r in kb.select(_cbucket_of().alias("cb"))
            .distinct()
            .collect()  # ≤ SCD2_CLOSED_KEY_BUCKETS rows by construction
        )
        touched_files = _closed_files_touching(_p(dim_dir, "closed"), cbs)
        if not touched_files:
            return [], []
        closed = spark.read.schema(
            _store_ddl(_extras(meta)) + ", inc int, cbucket int"
        ).parquet(*touched_files)
        kept_closed = _heal_cbucket(_minus_spec(closed))
        cols = ["cbucket", "inc"]
        (
            kept_closed.repartitionByRange(
                max(1, min(len(touched_files),
                           spark.sparkContext.defaultParallelism)),
                *cols,
            )
            .sortWithinPartitions(*cols)
            .write.mode("overwrite")
            .parquet(os.path.join(stage, "closed"))
        )
        return (
            journal.staged_moves(
                os.path.join(stage, "closed"), _p(dim_dir, "closed"), token
            ),
            list(touched_files),
        )

    # r14 (guide §2.6): the two slice rewrites touch disjoint outputs
    # and read disjoint store slices against the checkpointed key set —
    # run them concurrently; the journal still commits only after both.
    _, (moves, deletes) = run_concurrently(spark, _w_current, _w_closed)
    swaps = _bucket_swaps(
        spark, stage, dim_dir, tb, _store_ddl(_extras(meta))
    )
    deletes += tomb_files  # fold: the queue is cleared in this commit

    _write_journal(dim_dir, {"moves": moves, "swaps": swaps, "deletes": deletes})
    _roll_forward(dim_dir, sweep=True)


def scd2_store_purged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form of compliance erasure: clone the cached store,
    purge every key with ``id % 97 = 0`` (open and closed versions),
    and read the full history back. Oracle: the batch SCD2 build with
    those ids excluded (``CDC_SCD2_HISTORY_PURGED_SQL``) — hash
    equality attests the purge removed exactly the requested keys'
    versions and nothing else."""
    import shutil as _sh

    from datapipe_spark.util import fresh_dir

    src_store = _cached_scd2_store(spark, sf_dir)
    root = fresh_dir("scd2_purged")
    dst = os.path.join(root, "store")
    _sh.copytree(src_store, dst)
    hist = scd2_read_history(spark, dst)
    keys = hist.select("id").filter(F.col("id") % 97 == 0).distinct()
    scd2_purge_keys(spark, dst, keys)
    return scd2_read_history(spark, dst)


def scd2_store_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form of SCHEMA EVOLUTION (r10 verdict ask #3; the
    reference validates nullable column adds end-to-end,
    1-data-ingestion-pipeline/task9-validate-cdc.sh:296-320): build
    the store from the initial load under the BASE schema, then apply
    the CDC tail carrying a brand-new nullable ``channel`` column —
    the upsert evolves ``meta.json``, writes the column into the new
    files, and pre-evolution files back-fill null at read. Oracle
    (``CDC_SCD2_HISTORY_EVOLVED_SQL``): the batch SCD2 build over the
    concatenated changelog with the evolved schema — hash equality
    attests evolved values land on exactly the post-evolution
    versions, every pre-evolution version reads back null, and the
    effectivity chain is untouched by the column add."""
    from datapipe_spark.util import fresh_dir

    store = fresh_dir("scd2_evolved")
    _build_evolved_store(spark, sf_dir, store)
    return scd2_read_history(spark, store)


def scd2_keyed_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form of the key-pruned history read (r11 — the
    feature-serving PIT *source* path, previously plan-gated and
    equality-tested but never driver-attested): every version of just
    the ``id % 53 = 0`` keys from the cached store. The ``current/``
    scan partition-prunes to the keys' layout buckets, the ``closed/``
    scan filters on the fixed-modulus ``cbucket`` (footer-selective on
    the compacted cache), and the broadcast semi join trims to the
    exact key set. Oracle (``CDC_SCD2_HISTORY_KEYED_SQL``): the batch
    SCD2 build filtered to the same keys."""
    from datapipe_spark.sources.tables import load_table

    store = _cached_scd2_store(spark, sf_dir)
    keys = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("id"))
        .filter(F.col("id") % 53 == 0)
    )
    return scd2_history_for_keys(spark, store, keys)


def _build_evolved_store(spark: SparkSession, sf_dir: str, store: str) -> None:
    """The one evolution build recipe — shared by the writer-attesting
    rebuild entry (``scd2_store_evolved``) and the build-once cache
    (``_cached_evolved_store``), so the attested writer and the cached
    read-path fixture can never drift apart: base creates under the
    BASE schema, then the CDC tail carrying the new nullable
    ``channel`` column."""
    from datapipe_spark.sources.cdc import synth_changelog

    log = synth_changelog(spark, sf_dir)
    scd2_init(spark, store)
    scd2_upsert(spark, store, log.filter(F.col("__op") == "c"), batch_id=0)
    tail = log.filter(F.col("__op") != "c").withColumn(
        "channel",
        F.when(
            F.col("__op") == "u",
            F.concat(F.lit("ch-"), (F.col("id") % 5).cast("string")),
        ),
    )
    scd2_upsert(spark, store, tail, batch_id=1)


def _cached_evolved_store(spark: SparkSession, sf_dir: str) -> str:
    """Build-once cache of the schema-EVOLVED store
    (``util.build_once`` over ``_build_evolved_store``). The evolution
    WRITER is attested by ``scd2_store_evolved``'s deliberate
    from-scratch rebuild every call; entries that attest a READ path
    over an evolved store (``scd2_store_evolved_asof``) serve from
    this cache instead of paying a second identical rebuild per suite
    run (r11 verdict ask #8)."""
    from datapipe_spark.util import build_once

    return build_once(
        os.path.join(sf_dir, "orders.parquet"), "scd2evo1",
        "SPARK_GRAFT_SCD2_DIR", "/tmp/datapipe_spark_scd2",
        lambda tmp: _build_evolved_store(spark, sf_dir, tmp),
    )


def scd2_store_evolved_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution × time travel (r11): travel the EVOLVED store
    back to increment 0 — BEFORE the evolution. The reconstruction
    must read under the evolved schema (the column exists store-wide
    once meta records it) with ``channel`` null on every version:
    pre-evolution versions never carried it, and the versions the
    evolving increment closed re-open with their ORIGINAL
    (pre-evolution) attribute values. Attests the as-of READ path
    under evolution — the evolution writer itself is attested by
    ``scd2_store_evolved``'s rebuild, so this entry serves from the
    build-once cache (r11 verdict ask #8). Oracle
    (``CDC_SCD2_AS_OF_C_EVOLVED_SQL``): the creates-only SCD2 build
    with a typed null channel."""
    store = _cached_evolved_store(spark, sf_dir)
    return scd2_as_of(spark, store, batch_id=0)


def scd2_store_purge_queued(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form of MERGE-ON-READ erasure (r10 verdict ask #2):
    clone the cached store, QUEUE the purge of every ``id % 97 = 0``
    key — tombstone appends only, zero data files rewritten — and read
    the full history back through the tombstone-folding reader. Shares
    ``CDC_SCD2_HISTORY_PURGED_SQL`` with the physical-purge entry:
    hash equality attests the merge-on-read path hides exactly the
    purged keys' versions before any compaction folds them
    physically."""
    import shutil as _sh

    from datapipe_spark.util import fresh_dir

    src_store = _cached_scd2_store(spark, sf_dir)
    root = fresh_dir("scd2_purge_queued")
    dst = os.path.join(root, "store")
    _sh.copytree(src_store, dst)
    keys = (
        scd2_read_history(spark, dst)
        .select("id")
        .filter(F.col("id") % 97 == 0)
        .distinct()
    )
    scd2_queue_purge(spark, dst, keys)
    return scd2_read_history(spark, dst)


@guards_writer
def scd2_expire_closed(spark: SparkSession, dim_dir: str, cutoff) -> dict:
    """History retention — the ``expire_snapshots`` obligation applied
    to the dimension store (Iceberg retires data files older than the
    retention horizon; a 100 TB SCD2 store must retire closed versions
    the same way or its history grows without bound): remove every
    CLOSED version whose ``valid_to`` is strictly before ``cutoff``
    (a timestamp or ``'YYYY-MM-DD HH:MM:SS'`` string), in one
    journaled swap. The open slice is untouched by construction
    (``valid_to IS NULL``), the watermark is untouched (expiry is not
    an increment), and the surviving history comes out re-clustered on
    ``(cbucket, inc)`` so post-expiry reads prune like post-compaction
    reads.

    Retention bounds time travel exactly as it does in Iceberg:
    ``scd2_as_of(k)`` still reconstructs every RETAINED version's
    state at increment k, but versions expired out of ``closed/`` are
    gone from every reconstruction — the documented trade a
    deployment makes when it sets a horizon. Cost: one filter scan +
    clustered rewrite of ``closed/``, O(closed) — and unlike erasure
    this pass removes rows in bulk, so it IS the amortization point
    (one expiry retires every version past the horizon).

    Returns ``{"expired_versions": n}``.
    """
    _recover(dim_dir, sweep=True)
    meta = _meta(dim_dir)
    if not _has_closed(dim_dir):
        return {"expired_versions": 0}
    cut = F.lit(cutoff).cast("timestamp")
    closed = _read_closed(spark, dim_dir, meta)
    kept = _heal_cbucket(closed.filter(F.col("valid_to") >= cut))
    # ONE aggregation yields both sides of the stats delta — the
    # rewrite below is then the only other scan of closed/ (a separate
    # count-before + staged count-after would add a third full pass
    # over what is the store's LARGEST slice at 100 TB)
    row = closed.agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("valid_to") >= cut, 1)).alias("k"),
    ).collect()[0]
    n_expired = int(row["n"] - row["k"])
    if n_expired == 0:
        # nothing outside the horizon: skip the full rewrite of the
        # store's LARGEST slice (r12 review — callers wanting a
        # re-cluster already have scd2_compact_closed)
        return {"expired_versions": 0}
    _token, stage = journal.new_stage(dim_dir)
    cols = ["cbucket", "inc"]  # explicit schema: always present (healed)
    (
        kept.repartitionByRange(
            max(1, spark.sparkContext.defaultParallelism // 4), *cols
        )
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(os.path.join(stage, "closed"))
    )
    _write_journal(
        dim_dir,
        {"moves": [], "swaps": [[os.path.join(stage, "closed"), _p(dim_dir, "closed")]],
         "meta": meta},
    )
    _roll_forward(dim_dir, sweep=True)
    return {"expired_versions": n_expired}


# retention horizon for the registry entry: mid-range of the testdata
# order dates (1995 → 2001), splitting the closed slice nontrivially
# at both test scales; the oracle applies the same cutoff to valid_to
SCD2_EXPIRE_CUTOFF = "1998-07-01 00:00:00"


def scd2_store_expired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form of history retention: clone the cached store,
    expire every closed version that ended before
    ``SCD2_EXPIRE_CUTOFF``, and read the surviving history back.
    Oracle (``CDC_SCD2_HISTORY_EXPIRED_SQL``): the batch SCD2 build
    with the same ``valid_to`` horizon applied — hash equality attests
    expiry removed exactly the out-of-horizon versions (open rows and
    in-horizon closed rows bit-identical, nothing else gone)."""
    import shutil as _sh

    from datapipe_spark.util import fresh_dir

    src_store = _cached_scd2_store(spark, sf_dir)
    root = fresh_dir("scd2_expired")
    dst = os.path.join(root, "store")
    _sh.copytree(src_store, dst)
    scd2_expire_closed(spark, dst, SCD2_EXPIRE_CUTOFF)
    return scd2_read_history(spark, dst)
