"""Persisted MinHash/LSH band index — build-once / probe-many / append
cross-corpus near-dup dedup.

The inline ``dedup_cross_corpus_minhash`` recomputes the corpus-side
signatures every call; its docstring already names those frames "the
persisted-index role at 100 TB". This module IS that persistence (the
same build/probe/append split as ``similarity.build_ivf_index``, the
reference batch pipeline's incremental quality gate shape,
requirements.md): the corpus is collapsed/signed/banded ONCE and
written to the lakehouse; each incoming batch signs only itself and
equi-joins the index; verbatim-copy appends add membership rows but
zero band rows (the skew guard holds incrementally).

Layout under ``index_dir``::

    meta.json  {hash, n_docs, n_reps}     the index contract (JSON
                                          sidecar, refreshed on every
                                          append; a catalog row in
                                          production)
    mem/    (doc_id, ghash, rep_id)       verbatim-copy membership
    sigs/   (doc_id, sh, signature)       rep-level verification sets
    bands/  (doc_id, band_id, band_key)   flat band join surface (every
                                          probe touches all bands)

``hash="md5"`` stores portable string shingles/band keys (oracle-
checkable); ``hash="xxhash64"`` stores int64 verification sets and
8-byte band keys — 10-20× smaller index rows for the 100 TB path.

Probe output is proven equal to the inline union pipeline
(``tests/test_llm_ops.py::test_probe_index_equals_inline_cross_corpus``):
identical texts have identical signatures, so batch-local collapse +
index join generates exactly the candidates the union-level collapse +
reach filter does, and both verify the same exact jaccard.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipe_spark.operators import journal, tombstones
from datapipe_spark.operators.lease import guards_writer
from datapipe_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    _collapse_exact,
    _rep_docs,
    band_rows,
    minhash_signatures,
)


# bump on ANY on-disk layout change (partitioning, schema, hashing):
# it keys the /tmp build-once cache, so a stale pre-change index can
# never be probed by post-change code (a layout change without a bump
# produced silently-wrong appends once — mixed partitioned/flat bands)
_INDEX_FORMAT_VERSION = 3  # v3: meta.json sidecar replaced the meta/ parquet


def _p(index_dir: str, part: str) -> str:
    return index_dir.rstrip("/") + "/" + part


def _part_ddl(part: str, hash: str) -> str:
    """The declared schema of each part ``_write_parts`` writes: reads
    pass it instead of inferring it (a Spark job per read). Shingles
    and band keys are strings in md5 mode, int64 in xxhash64 mode."""
    key = "string" if hash == "md5" else "bigint"
    return {
        "mem": "doc_id bigint, ghash string, rep_id bigint",
        "sigs": f"doc_id bigint, sh array<{key}>, signature array<bigint>",
        "bands": f"doc_id bigint, band_id int, band_key {key}",
    }[part]


def _read_part(spark: SparkSession, index_dir: str, part: str, hash: str) -> DataFrame:
    return spark.read.schema(_part_ddl(part, hash)).parquet(_p(index_dir, part))


def _write_parts(
    mem: DataFrame, sigs: DataFrame, index_dir: str, mode: str
) -> None:
    # the three part writes are independent actions over persisted/
    # checkpointed inputs (both callers cache mem and sigs first) —
    # submit them concurrently so the driver's per-action planning and
    # commit overhead overlaps instead of serializing (guide §2.6; r14:
    # the append path's per-batch wall was dominated by sequential
    # sub-second jobs). Concurrent first-touch of a cached partition is
    # safe: the block manager computes it once and blocks other readers.
    from datapipe_spark.util import run_concurrently

    def _mem() -> None:
        mem.select("doc_id", "ghash", "rep_id").write.mode(mode).parquet(
            _p(index_dir, "mem")
        )

    def _sigs() -> None:
        sigs.select("doc_id", F.col("_sh").alias("sh"), "signature").write.mode(
            mode
        ).parquet(_p(index_dir, "sigs"))

    # flat layout: every probe touches all _BANDS bands, so partitioning
    # by band_id prunes nothing and multiplies files 8×; the 100 TB
    # layout win is bucketing by band_key (co-located probe join), which
    # a lakehouse table format would declare on this same column.
    # band_key keeps its mode-native type — string for md5, int64 for
    # xxhash64 (the 8-byte key IS that mode's size/shuffle win)
    def _bands() -> None:
        band_rows(sigs, hash=_meta_hash_of(sigs)).write.mode(mode).parquet(
            _p(index_dir, "bands")
        )

    run_concurrently(mem.sparkSession, _mem, _sigs, _bands)


def _prepare_commit(
    index_dir: str,
    mem: DataFrame,
    sigs: DataFrame,
    new_meta: dict,
    commit_barrier=None,
) -> str:
    """First half of the atomic append commit (the r7 advisory's torn-
    append fix; protocol in ``operators/journal.py``): write the
    batch's mem/sigs/bands delta files into a hidden staging dir, then
    journal the exact file moves plus the meta the commit must leave
    behind. Once the journal exists the commit WILL happen:
    ``_roll_forward`` (called by every append/probe entry) finishes it
    idempotently after any crash. Returns the journal path."""
    token, stage = journal.new_stage(index_dir)
    _write_parts(mem, sigs, stage, "overwrite")
    moves = [
        mv
        for part in ("mem", "sigs", "bands")
        for mv in journal.staged_moves(_p(stage, part), _p(index_dir, part), token)
    ]
    # r14 (guide §2.6): ``new_meta`` may be a zero-arg callable resolved
    # only here — AFTER the staged writes — so the caller can overlap
    # its meta-count jobs with the staging writes on a thread pool
    # instead of serializing two more driver actions in front of them.
    if callable(new_meta):
        new_meta = new_meta()
    # ``commit_barrier``: zero-arg callable invoked after the staged
    # delta writes and immediately before the commit journal. The
    # probe-then-append caller passes the probe sink-write future's
    # ``result`` here, so the sink write and the append's staging
    # overlap while the exactly-once ordering is preserved: the journal
    # (whose watermark implies "sink done" on replay) still cannot
    # exist until the sink write has completed, and a failure in the
    # sink aborts the append before its commit point (staging debris is
    # swept by the next entry's recovery, the batch replays wholesale).
    if commit_barrier is not None:
        commit_barrier()
    return _commit_journal(
        index_dir, {"stage": stage, "moves": moves, "meta": new_meta}
    )


# the commit point and its roll-forward (``operators/journal.py``):
# module names so tests can crash a commit at either half. A writer
# entry passes sweep=True; the probe (a reader) never sweeps.
_JOURNAL = journal.JOURNAL
_commit_journal = journal.commit
_roll_forward = journal.roll_forward


def _meta_hash_of(sigs: DataFrame) -> str:
    # xxhash64 verification sets are int64; md5 keeps raw shingle strings
    return "md5" if dict(sigs.dtypes)["_sh"] == "array<string>" else "xxhash64"


def build_minhash_index(
    spark: SparkSession, docs: DataFrame, index_dir: str, hash: str = "md5"
) -> dict:
    """Build the corpus band index from ``(doc_id, text)`` rows.

    One linear pass: verbatim-copy collapse (membership), sign the
    representatives, explode band keys. All three artifacts are
    map-side-combinable or per-row — no all-pairs work at build time,
    and the bands/ join surface is O(reps × _BANDS) rows regardless of
    copy skew. Returns ``{"n_docs", "n_reps", "index_dir"}``.

    Rebuild-in-place clears prior store state first (r12 review): a
    stale commit journal, staging debris, or tombstone queue from the
    OLD index must not roll forward into (or hide docs of) the fresh
    one — a stale journal would inject foreign delta files and
    resurrect the old batch-id watermark, silently skipping future
    appends.
    """
    journal.reset(index_dir)
    mem = _collapse_exact(docs.select("doc_id", "text")).persist()
    reps = _rep_docs(docs, mem)
    sigs = (
        minhash_signatures(reps, hash=hash)
        .select(
            "doc_id",
            (
                F.col("_sh")
                if hash == "md5"
                else F.expr("transform(_sh, s -> xxhash64(s))")
            ).alias("_sh"),
            "signature",
        )
        .persist()
    )
    _write_parts(mem, sigs, index_dir, "overwrite")
    n_docs, n_reps = mem.count(), sigs.count()
    _write_meta(index_dir, {"hash": hash, "n_docs": n_docs, "n_reps": n_reps})
    mem.unpersist()
    sigs.unpersist()
    return {"n_docs": n_docs, "n_reps": n_reps, "index_dir": index_dir}


def _write_meta(index_dir: str, meta: dict) -> None:
    # a JSON sidecar, not a Spark table: one-row driver-side metadata
    # costs a whole Spark job per write as parquet (~2 s measured on
    # the append hot path); in production this row lives in a catalog.
    # Fsynced atomic rename: meta.json carries the exactly-once
    # high-watermark, so a torn write must be impossible even across
    # power loss (r12 review)
    from datapipe_spark.util import atomic_write_json

    atomic_write_json(_p(index_dir, "meta.json"), meta)


def _meta(spark: SparkSession, index_dir: str) -> dict:
    import json

    with open(_p(index_dir, "meta.json")) as f:
        return json.load(f)


@guards_writer
def append_minhash_index(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    precollapsed: tuple[DataFrame, DataFrame] | None = None,
    batch_id: int | None = None,
    commit_barrier=None,
) -> bool:
    """Incremental add with the frozen index contract (faiss ``add()``
    posture, same as ``append_ivf_index``): rep identity is stable once
    assigned.

    New docs whose content hash already exists in ``mem/`` append ONLY
    a membership row under the existing rep — zero new signature or
    band rows, which is the skew guard working incrementally (a
    million-copy boilerplate burst adds a million mem rows and nothing
    to the band join surface). Genuinely new content appends its own
    rep's membership, signature, and band rows.
    Docs under 3 words carry no shingles and are not indexable —
    exactly the population the inline pipelines exclude (they belong
    to the exact content-hash index instead).

    ``precollapsed``: the ``(bmem, bsigs)`` a just-run ``_probe_plan``
    built for this same batch — passing them skips re-collapsing and
    re-signing the batch (probe-then-append does the dominant batch
    work once). The caller must have materialized the probe (its sink
    write / checkpoint) first and owns unpersisting the pair.

    ``commit_barrier``: optional zero-arg callable invoked after the
    staged delta writes, immediately before the commit journal (see
    ``_prepare_commit``) — lets a probe-then-append caller overlap its
    sink write with the append's staging while the journal still only
    lands once the sink completed.

    ``batch_id``: exactly-once guard for replayed micro-batches
    (reference T10's idempotent posture, data-ingestion design.md:54,
    extended to the index mutation). Monotonically increasing per
    caller stream: an append with ``batch_id`` ≤ the recorded
    high-watermark is a committed batch being replayed after a crash —
    it is skipped entirely (returns False). The append itself is a
    TWO-PHASE commit (r7 advisory fix — the previous sequential part
    appends left a mid-append crash window that replayed into
    duplicates): delta files are staged invisibly, then a commit
    journal (atomic rename) records the moves + the new meta including
    the advanced watermark, then roll-forward moves the files and
    rewrites meta. A crash before the journal leaves only invisible
    staging debris (cleaned on the next entry; the batch replays and
    appends once); a crash after the journal is completed idempotently
    by the recovery that runs at every append/probe entry, after which
    the replay hits the skip path. There is no interleaving in which a
    batch's rows land twice or the watermark claims rows not on disk.
    Returns True if the append was applied, False if skipped.
    """
    _roll_forward(index_dir, sweep=True)
    if batch_id is not None and journal.watermark(index_dir) >= batch_id:
        return False
    meta = _meta(spark, index_dir)
    h = meta["hash"]
    if precollapsed is None:
        bm = _collapse_exact(new_docs.select("doc_id", "text")).localCheckpoint(
            eager=True
        )
    else:
        bm = precollapsed[0]
    # existing-rep lookup: broadcast the BATCH ghash set into the index
    # scan so the index side is a map-only probe (never shuffled on
    # ghash — per-batch cost tracks the batch, not the corpus)
    existing = (
        _read_part(spark, index_dir, "mem", h)
        .join(F.broadcast(bm.select("ghash").distinct()), "ghash")
        .groupBy("ghash")
        .agg(F.min("rep_id").alias("_old_rep"))
    )
    # ONE eager checkpoint of the rep-resolution join: it is the only
    # plan that reads mem/, so materializing it up front (a) takes a
    # consistent index snapshot before any write — a lazy plan would be
    # invalidated/re-listed by the first append to mem/ (Spark recaches
    # by path on insert), silently dropping the new reps' sig/band
    # rows — and (b) lets mem/new_reps/sigs derive from it without
    # re-scanning the index
    batch_mem = bm.join(F.broadcast(existing), "ghash", "left").localCheckpoint(
        eager=True
    )
    mem = batch_mem.select(
        "doc_id", "ghash", F.coalesce("_old_rep", "rep_id").alias("rep_id")
    )
    # reps that are NEW content: batch rep rows whose ghash missed the index
    new_reps = batch_mem.filter(
        F.col("_old_rep").isNull() & (F.col("doc_id") == F.col("rep_id"))
    ).select("doc_id")
    if precollapsed is None:
        # standalone path signs ONLY the new-content docs
        rep_sigs = minhash_signatures(new_docs.join(new_reps, "doc_id"), hash=h).select(
            "doc_id",
            (
                F.col("_sh")
                if h == "md5"
                else F.expr("transform(_sh, s -> xxhash64(s))")
            ).alias("_sh"),
            "signature",
        )
    else:
        # probe-then-append path reuses the probe's already-signed reps
        rep_sigs = precollapsed[1].select(
            "doc_id", F.col("sh").alias("_sh"), "signature"
        ).join(F.broadcast(new_reps), "doc_id")
    sigs = rep_sigs.localCheckpoint(eager=True)
    # meta deltas are counted on the checkpointed frames — no table
    # rescan — BEFORE the commit point, so the journaled meta snapshot
    # is final. Spread over the EXISTING meta, so keys this append does
    # not own survive it.
    # r14 (guide §2.6): the two count jobs and the three staged part
    # writes are all independent actions over the two checkpoints —
    # run the counts on a helper pool so they overlap the staging
    # writes (the journal resolves the meta callable only after every
    # staged write has finished, keeping the commit-point semantics).
    # Each count is wrapped on this thread so its job keeps the
    # caller's job group (``util.run_concurrently``).
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as cpool:
        nd_f = cpool.submit(inheritable_thread_target(spark)(mem.count))
        nr_f = cpool.submit(inheritable_thread_target(spark)(sigs.count))

        def _new_meta() -> dict:
            nm = {
                **meta,
                "hash": h,
                "n_docs": meta["n_docs"] + nd_f.result(),
                "n_reps": meta["n_reps"] + nr_f.result(),
            }
            if batch_id is not None:
                nm["last_batch_id"] = batch_id
            return nm

        _prepare_commit(index_dir, mem, sigs, _new_meta, commit_barrier)
    _roll_forward(index_dir, sweep=True)
    return True


@guards_writer
def compact_minhash_index(
    spark: SparkSession,
    index_dir: str,
    target_bytes: int | None = None,
) -> dict:
    """Maintenance rewrite of an appended band index — the index-side
    analog of Iceberg's ``rewrite_data_files`` (reference table config
    task6-ecommerce-tables-config.yaml:51-61 auto-compaction posture,
    applied to OUR lakehouse artifact instead of a source table).

    Every ``append_minhash_index`` call adds one small file set per
    part; a long-running corpus gate (the streaming probe-then-append
    job) therefore grows mem/sigs/bands by O(files) per micro-batch,
    and probe cost picks up a per-file planning/footer tax that has
    nothing to do with data volume — the classic small-files failure
    mode. This rewrites each part back to ⌈bytes/target⌉ files:
    mem/ and sigs/ are plain compactions; bands/ is a RANGE-CLUSTER on
    ``band_key`` (one contiguous key slice per file, sorted within), so
    footer min/max stays selective for the band join surface — the
    plain-parquet spelling of the bucketed-by-band_key layout a
    lakehouse table format would declare (module docstring).

    Content-preserving by contract: row sets identical, ``meta.json``
    (counts + exactly-once watermark) untouched; all three part
    rewrites are staged under one staging dir and committed as a
    SINGLE journaled swaps entry (the scd2 r9 compaction advisory
    applied here too: a bare rename-pair swap could crash between
    renames and leave a part dir missing entirely), so a reader
    ENTERING the index sees the old index or the new one, never a mix
    — and a crash anywhere is healed by the next entry's roll-forward.
    Scope honestly (r12 review): a Spark scan already RUNNING when the
    swap lands read file paths that just moved and can fail mid-job —
    the inherent limit of directory-swap rewrites on a plain
    filesystem (Iceberg solves it with manifest indirection); such a
    probe retries against the committed index. Entry-time consistency
    is the guarantee, not scan-during-swap isolation.
    Probe-equality before/after is oracled by the
    ``dedup_cross_corpus_compacted`` registry entry and file counts are
    gated in tests. Returns per-part (files_before, files_after).
    """
    import json

    from datapipe_spark.operators.maintenance import (
        TARGET_FILE_BYTES,
        cluster_parquet_into,
        compact_parquet_into,
        parquet_file_count,
    )

    # finish any pending append commit BEFORE rewriting the part dirs
    # (r8 advisory): without this, a crash-after-journal leaves staged
    # delta files that a later roll-forward would inject into the
    # freshly clustered bands/ (breaking the range-cluster layout) and
    # meta.json would be rewound from the journal snapshot
    _roll_forward(index_dir, sweep=True)
    before: dict = {
        part: parquet_file_count(_p(index_dir, part))
        for part in ("mem", "sigs", "bands")
    }
    # fold the merge-on-read erasure queue first (the scd2_compact
    # posture): post-compaction probes drop the anti-join entirely.
    # Re-enters this writer's own lease.
    tb = target_bytes or TARGET_FILE_BYTES
    folded = False
    if tombstones.pending(index_dir):
        purge_minhash_index(spark, index_dir, None)
        folded = True
    # the fold already wrote bands/ range-clustered on band_key at the
    # default file target — re-clustering it here would run the most
    # expensive pass TWICE for nothing (r12 review). mem/sigs still
    # compact below (the purge rewrite sizes them by plan partitions,
    # not by bytes). A custom target_bytes re-clusters to honor it.
    skip_bands = folded and target_bytes is None
    _token, stage = journal.new_stage(index_dir)
    # r14 (guide §2.6): the three part rewrites read disjoint live dirs
    # and share no uncached subtree — run them concurrently so each
    # rewrite's planning + write overlaps the others instead of
    # serializing; the journal below still commits only after every
    # staged rewrite finished.
    from datapipe_spark.util import run_concurrently

    swaps = []
    jobs = []
    for part in ("mem", "sigs"):
        live = _p(index_dir, part)
        jobs.append(
            (
                lambda live=live, part=part: compact_parquet_into(
                    spark, live, os.path.join(stage, part), target_bytes=tb
                )
            )
        )
        swaps.append([os.path.join(stage, part), live])
    if not skip_bands:
        live = _p(index_dir, "bands")
        jobs.append(
            lambda live=live: cluster_parquet_into(
                spark, live, os.path.join(stage, "bands"), ["band_key"],
                target_bytes=tb,
            )
        )
        swaps.append([os.path.join(stage, "bands"), live])
    run_concurrently(spark, *jobs)
    with open(_p(index_dir, "meta.json")) as f:
        meta = json.load(f)
    _commit_journal(index_dir, {"moves": [], "swaps": swaps, "meta": meta})
    _roll_forward(index_dir, sweep=True)
    return {
        part: (before[part], parquet_file_count(_p(index_dir, part)))
        for part in ("mem", "sigs", "bands")
    }


def dedup_cross_corpus_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form of index compaction: clone the cached corpus index
    to scratch, rewrite it through ``compact_minhash_index``, then run
    the standard batch probe against the COMPACTED index. Shares the
    inline op's oracle (``DEDUP_CROSS_CORPUS_MINHASH_SQL``), so the
    driver's hash check attests the rewrite dropped, duplicated, and
    corrupted nothing — the same content-preservation contract
    ``lineitem_cluster_rewrite`` pins for source tables."""
    tagged, scratch = _clone_cached_index(spark, sf_dir, "minhash_index_compacted")
    compact_minhash_index(spark, scratch)
    return probe_minhash_index(
        spark, scratch, tagged.filter("is_new").select("doc_id", "text")
    )


def _clone_cached_index(spark: SparkSession, sf_dir: str, name: str):
    """Shared preamble of the mutate-then-probe registry entries (r12
    review — three verbatim copies): split the corpus/batch docs, make
    sure the build-once corpus index exists, and clone it into a fresh
    scratch dir the entry can mutate. ``_READY`` is excluded so a
    crashed clone can never be mistaken for a published cache. Returns
    ``(tagged, scratch)``."""
    import shutil as _sh

    from datapipe_spark.operators.dedup import _cross_tagged
    from datapipe_spark.util import fresh_dir

    tagged = _cross_tagged(spark, sf_dir)
    idx = _cached_corpus_index(
        spark, sf_dir, tagged.filter(~F.col("is_new")).select("doc_id", "text")
    )
    scratch = fresh_dir(name)
    _sh.rmtree(scratch, ignore_errors=True)
    _sh.copytree(idx, scratch, ignore=_sh.ignore_patterns("_READY"))
    return tagged, scratch


def probe_minhash_index(
    spark: SparkSession,
    index_dir: str,
    batch_docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Probe an incoming ``(doc_id, text)`` batch against the persisted
    corpus index → oriented ``(new_doc_id, corpus_doc_id, jaccard)``
    pairs at jaccard ≥ threshold.

    Per-batch work: collapse/sign the BATCH only, then three equi-joins
    against index tables — band join for candidates, sigs join for
    exact-jaccard verification, mem join for member expansion. The
    batch side is broadcast into every index join (plan-gated), so the
    index is only ever map-side probed; I/O is proportional to matched
    keys, never corpus size; nothing is retrained or re-signed. Batch
    doc_ids must be disjoint from corpus doc_ids (they are new
    arrivals by definition), and batches are micro-batch-sized by
    contract — bulk re-dedup belongs to the inline op.
    """
    out, bmem, bsigs = _probe_plan(spark, index_dir, batch_docs, threshold)
    from datapipe_spark.util import materialize_and_release

    return materialize_and_release(out, bmem, bsigs)


def _probe_plan(
    spark: SparkSession,
    index_dir: str,
    batch_docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
):
    """The probe's un-materialized plan + its two batch-side caches —
    split out so plan-shape tests can inspect the joins before the
    eager checkpoint hides them."""
    _roll_forward(index_dir)  # complete any crashed append first
    meta = _meta(spark, index_dir)
    h = meta["hash"]
    bmem = _collapse_exact(batch_docs.select("doc_id", "text")).persist()
    bsigs = (
        minhash_signatures(_rep_docs(batch_docs, bmem), hash=h)
        .select(
            "doc_id",
            (
                F.col("_sh")
                if h == "md5"
                else F.expr("transform(_sh, s -> xxhash64(s))")
            ).alias("sh"),
            "signature",
        )
        .persist()
    )
    bbands = band_rows(bsigs.select("doc_id", "signature"), hash=h)

    # batch side broadcast into EVERY index join: the index tables are
    # the big side by definition and must only ever be map-side probed —
    # no shuffle of bands/sigs/mem, per-probe cost ∝ batch + matches
    ibands = _read_part(spark, index_dir, "bands", h)
    cand = (
        F.broadcast(bbands)
        .join(
            ibands.select(
                "band_id",
                "band_key",
                F.col("doc_id").alias("corpus_rep"),
            ),
            ["band_id", "band_key"],
        )
        .select(F.col("doc_id").alias("batch_rep"), "corpus_rep")
        .dropDuplicates(["batch_rep", "corpus_rep"])
    )

    isigs = _read_part(spark, index_dir, "sigs", h).select(
        F.col("doc_id").alias("corpus_rep"), F.col("sh").alias("sh_c")
    )
    verified = (
        cand.join(
            F.broadcast(
                bsigs.select(
                    F.col("doc_id").alias("batch_rep"), F.col("sh").alias("sh_b")
                )
            ),
            "batch_rep",
        )
        .transform(lambda d: F.broadcast(d).join(isigs, "corpus_rep"))
    )
    inter = F.size(F.array_intersect("sh_b", "sh_c"))
    union = F.size("sh_b") + F.size("sh_c") - inter
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    rep_pairs = verified.select(
        "batch_rep", "corpus_rep", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)

    imem = _read_part(spark, index_dir, "mem", h).select(
        F.col("rep_id").alias("corpus_rep"), F.col("doc_id").alias("corpus_doc_id")
    )
    bmembers = bmem.select(
        F.col("rep_id").alias("batch_rep"), F.col("doc_id").alias("new_doc_id")
    )
    out = (
        rep_pairs.join(F.broadcast(bmembers), "batch_rep")
        .transform(lambda d: F.broadcast(d).join(imem, "corpus_rep"))
        .select("new_doc_id", "corpus_doc_id", "jaccard")
    )
    # merge-on-read erasure: pairs whose corpus member is queued are
    # hidden, output-identical to probing a physically purged index (a
    # fully-erased group's pairs all filter out; a rep-promoted group's
    # surviving members were already reached through mem/). Doc ids are
    # never reused, so the id alone is the obligation.
    out = tombstones.fold(spark, index_dir, out, ("corpus_doc_id", "doc_id"))
    return out, bmem, bsigs


def dedup_cross_corpus_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form of the probe: the deterministic corpus/batch split
    of ``dedup_cross_corpus_minhash``, but the corpus side served from
    a PERSISTED band index instead of inline recomputation.

    Semantics identical by construction to the inline op (same oracle,
    ``DEDUP_CROSS_CORPUS_MINHASH_SQL``) — what changes is the cost
    shape: the corpus is signed once per dataset (index cached under
    /tmp keyed by the documents parquet's identity, ``_READY``-marked
    like the streaming drops) and every probe touches the batch plus
    matched index keys only.
    """
    from datapipe_spark.operators.dedup import _cross_tagged

    tagged = _cross_tagged(spark, sf_dir)
    idx = _cached_corpus_index(
        spark, sf_dir, tagged.filter(~F.col("is_new")).select("doc_id", "text")
    )
    return probe_minhash_index(
        spark, idx, tagged.filter("is_new").select("doc_id", "text")
    )


def _cached_corpus_index(
    spark: SparkSession, sf_dir: str, corpus: DataFrame
) -> str:
    """Build-once cache of the corpus band index for a testdata dir
    (``util.build_once``): keyed by the documents parquet's identity
    so a driver regeneration invalidates it, published atomically so
    concurrent builders (a smoke sweep racing the test suite) never
    _READY-mark a mixed index."""
    from datapipe_spark.util import build_once

    return build_once(
        os.path.join(sf_dir, "documents.parquet"),
        f"v{_INDEX_FORMAT_VERSION}",
        "SPARK_GRAFT_INDEX_DIR", "/tmp/datapipe_spark_minhash_index",
        lambda tmp: build_minhash_index(spark, corpus, tmp),
    )


@guards_writer
def queue_purge_minhash_index(
    spark: SparkSession, index_dir: str, purge_ids: DataFrame
) -> int:
    """Merge-on-read erasure queue for the band index: queue the
    doc_ids (``operators/tombstones.py``) without rewriting
    mem/sigs/bands. Probes fold the queue at read;
    ``purge_minhash_index`` / ``compact_minhash_index`` fold it
    physically and clear it — N small requests cost N tiny appends
    plus one batched rewrite. Returns the number of ids queued."""
    _roll_forward(index_dir, sweep=True)
    return tombstones.queue(index_dir, purge_ids.select("doc_id"))


def _purge_rewrite_plans(
    spark: SparkSession,
    index_dir: str,
    probe: DataFrame,
    trans: DataFrame,
    gated: bool,
):
    """The purge's three part-rewrite plans (mem, sigs, bands before
    its range-cluster repartition) — split out so plan-shape tests can
    gate the join strategies (the ``_probe_plan`` posture): under the
    count gate every join against a full part is a broadcast
    (map-only pass, no shuffle of the index bulk); above the gate the
    same plans fall back to shuffle joins."""
    tb = F.broadcast(trans) if gated else trans
    h = _meta(spark, index_dir)["hash"]
    mem = _read_part(spark, index_dir, "mem", h)
    # mem/: drop purged rows, re-point affected groups at the new rep
    mem_out = (
        mem.join(probe, "doc_id", "left_anti")
        .join(tb.select("ghash", "new_rep"), "ghash", "left")
        .select(
            "doc_id", "ghash", F.coalesce("new_rep", "rep_id").alias("rep_id")
        )
    )

    # sigs/ + bands/: rows are keyed by the rep's doc_id — rename
    # promoted reps, drop erased groups, pass every other row through
    rmap = tb.select("old_rep", "new_rep")

    def _rekey(part: str, cols: list[str]) -> DataFrame:
        t = _read_part(spark, index_dir, part, h).join(
            rmap, F.col("doc_id") == F.col("old_rep"), "left"
        )
        return t.filter(
            F.col("old_rep").isNull() | F.col("new_rep").isNotNull()
        ).select(F.coalesce("new_rep", "doc_id").alias("doc_id"), *cols)

    return (
        mem_out,
        _rekey("sigs", ["sh", "signature"]),
        _rekey("bands", ["band_id", "band_key"]),
    )


@guards_writer
def purge_minhash_index(
    spark: SparkSession, index_dir: str, purge_ids: DataFrame | None = None
) -> dict:
    """Compliance erasure on the band index (GDPR right-to-be-forgotten
    propagated to DERIVED stores — ``scd2_purge_keys`` erases the
    dimension history; this erases the same obligation's trace from the
    dedup index): remove every membership, verification-set, and band
    row attributable to the purged doc_ids, in one journaled commit.

    Group semantics: a purged doc leaves its verbatim-copy group. If
    survivors remain and the purged doc WAS the group's representative,
    the smallest surviving member is promoted — its (identical) content
    already carries the rep's signature, so sigs/bands rows are renamed,
    not recomputed. A group purged entirely drops its signature and
    band rows with it: no candidate can ever surface the erased
    content. On a never-appended index this reproduces
    ``build_minhash_index`` over the surviving corpus EXACTLY (min-
    doc_id rep rule; pinned by test); on an appended index reps are
    frozen-by-arrival, so equality is per-part semantic (same groups,
    same signatures) rather than byte-level — probes are identical
    either way.

    Cost shape at 100 TB: ONE map-only pass over each part — the purged
    id set and the O(affected groups) rep-translation map are broadcast
    (count-gated at ``tombstones.BACKLOG_BROADCAST_MAX_ROWS``, shuffle
    fallback), so
    the index is never shuffled on its own bulk; only the affected-
    group slice (O(purged)) takes a tiny aggregation. The full-scan
    rewrite itself is inherent to erasure in immutable files — the same
    O(closed) argument as ``scd2_purge_keys`` — and deployments batch
    erasure requests to amortize it. bands/ comes out range-clustered
    on ``band_key`` again (the ``compact_minhash_index`` layout), so
    probe pruning survives the purge. The watermark and hash mode are
    untouched; purging is not an append.

    Returns ``{"purged_docs", "dropped_reps", "renamed_reps"}``.
    """
    import math

    from datapipe_spark.operators.maintenance import TARGET_FILE_BYTES, table_bytes

    _roll_forward(index_dir, sweep=True)
    meta = _meta(spark, index_dir)
    # fold the merge-on-read queue: queued ids join the explicit
    # backlog and are cleared in this same journaled commit
    # (``purge_ids=None`` is the maintenance-pass form — fold the queue
    # alone)
    spec, tomb_files = tombstones.backlog(
        spark, index_dir, None if purge_ids is None else purge_ids.select("doc_id")
    )
    if spec is None:
        return {"purged_docs": 0, "dropped_reps": 0, "renamed_reps": 0}
    kb = spec.distinct().localCheckpoint(eager=True)
    n_purge = kb.count()
    if n_purge == 0:
        return {"purged_docs": 0, "dropped_reps": 0, "renamed_reps": 0}
    gated = n_purge <= tombstones.BACKLOG_BROADCAST_MAX_ROWS
    probe = F.broadcast(kb) if gated else kb

    mem = _read_part(spark, index_dir, "mem", meta["hash"])
    # ONE index-scan probe join yields everything O(purged): the hit
    # rows (meta delta) and the affected groups (rep translation)
    hits = mem.join(probe, "doc_id").localCheckpoint(eager=True)
    n_found = hits.count()
    if n_found == 0:
        # backlog held only never-indexed ids: nothing to rewrite —
        # commit a queue-clear-only journal (the scd2_purge_keys /
        # purge_ivf_index never-seen-keys posture; r11 advisory, low —
        # a full mem/sigs/bands rewrite here would be a pointless
        # O(index) pass for a no-op erasure)
        if tomb_files:
            _commit_journal(index_dir, {"deletes": tomb_files})
            _roll_forward(index_dir, sweep=True)
        return {"purged_docs": 0, "dropped_reps": 0, "renamed_reps": 0}
    affected = hits.select("ghash", F.col("rep_id").alias("old_rep")).distinct()
    # new rep per affected group = min SURVIVING member (the build's
    # rep rule): aggregation over the affected slice only
    aff_g = F.broadcast(affected) if gated else affected
    newrep = (
        mem.join(aff_g.select("ghash"), "ghash")
        .join(probe, "doc_id", "left_anti")
        .groupBy("ghash")
        .agg(F.min("doc_id").alias("new_rep"))
    )
    # (ghash, old_rep, new_rep): NULL new_rep ⇒ group erased entirely.
    # ONE aggregation yields both stat deltas (dropped groups, promoted
    # reps) — trans can be O(backlog), so count, never collect
    trans = affected.join(newrep, "ghash", "left").localCheckpoint(eager=True)
    stat = trans.agg(
        F.count(F.when(F.col("new_rep").isNull(), 1)).alias("dropped"),
        F.count(
            F.when(
                F.col("new_rep").isNotNull()
                & (F.col("new_rep") != F.col("old_rep")),
                1,
            )
        ).alias("renamed"),
    ).collect()[0]
    dropped, renamed = int(stat["dropped"]), int(stat["renamed"])

    _token, stage = journal.new_stage(index_dir)
    mem_out, sigs_out, bands_out = _purge_rewrite_plans(
        spark, index_dir, probe, trans, gated
    )
    # preserve the compacted layout's band_key clustering (probe
    # pruning): same range-cluster shape as compact_minhash_index,
    # sized from the pre-purge bytes (erasure only shrinks the part)
    n_files = max(
        1, math.ceil(table_bytes(_p(index_dir, "bands")) / TARGET_FILE_BYTES)
    )
    # r14 (guide §2.6): the three staged rewrites read disjoint live
    # parts joined against checkpointed small frames (kb/trans) — no
    # shared uncached subtree — so they run concurrently; the journal
    # below still commits only after all three finished.
    from datapipe_spark.util import run_concurrently

    def _w_mem() -> None:
        mem_out.write.mode("overwrite").parquet(os.path.join(stage, "mem"))

    def _w_sigs() -> None:
        sigs_out.write.mode("overwrite").parquet(os.path.join(stage, "sigs"))

    def _w_bands() -> None:
        (
            bands_out.repartitionByRange(n_files, "band_key")
            .sortWithinPartitions("band_key")
            .write.mode("overwrite")
            .parquet(os.path.join(stage, "bands"))
        )

    run_concurrently(spark, _w_mem, _w_sigs, _w_bands)

    new_meta = dict(meta)
    new_meta["n_docs"] = int(meta["n_docs"]) - n_found
    new_meta["n_reps"] = int(meta["n_reps"]) - dropped
    swaps = [
        [os.path.join(stage, part), _p(index_dir, part)]
        for part in ("mem", "sigs", "bands")
    ]
    _commit_journal(
        index_dir,
        {"moves": [], "swaps": swaps, "deletes": tomb_files,
         "meta": new_meta},
    )
    _roll_forward(index_dir, sweep=True)
    return {
        "purged_docs": n_found,
        "dropped_reps": dropped,
        "renamed_reps": renamed,
    }


def dedup_cross_corpus_purged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form of index erasure: clone the cached corpus index,
    purge the deterministic backlog (``PURGED_DOCS_PRED`` over the
    corpus side) through ``purge_minhash_index``, then run the standard
    batch probe against the PURGED index. Oracle
    (``DEDUP_CROSS_CORPUS_PURGED_SQL``): the inline cross-corpus replay
    with the purged docs removed from the corpus — the driver's hash
    check attests erased docs surface in no pair, surviving groups
    (including rep-promoted ones) still match exactly, and nothing else
    moved."""
    from datapipe_spark.operators.dedup import PURGED_DOCS_PRED

    tagged, scratch = _clone_cached_index(spark, sf_dir, "minhash_index_purged")
    purge_minhash_index(
        spark,
        scratch,
        tagged.filter(~F.col("is_new")).filter(PURGED_DOCS_PRED).select("doc_id"),
    )
    return probe_minhash_index(
        spark, scratch, tagged.filter("is_new").select("doc_id", "text")
    )


def dedup_cross_corpus_purge_queued(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form of MERGE-ON-READ index erasure (r10 verdict ask
    #2): clone the cached corpus index, QUEUE the purge of the same
    deterministic backlog — tombstone appends only, mem/sigs/bands
    untouched — then probe. Shares ``DEDUP_CROSS_CORPUS_PURGED_SQL``
    with the physical-purge entry: hash equality attests the
    tombstone-folding probe surfaces exactly what a probe against the
    physically purged index would, before any compaction folds the
    queue."""
    from datapipe_spark.operators.dedup import PURGED_DOCS_PRED

    tagged, scratch = _clone_cached_index(
        spark, sf_dir, "minhash_index_purge_queued"
    )
    queue_purge_minhash_index(
        spark,
        scratch,
        tagged.filter(~F.col("is_new")).filter(PURGED_DOCS_PRED).select("doc_id"),
    )
    return probe_minhash_index(
        spark, scratch, tagged.filter("is_new").select("doc_id", "text")
    )
