"""Deduplication operators for training-data pipelines.

Four families over ``documents``: exact (hash-groupBy), n-gram Jaccard
(blocked all-pairs, the exactness anchor), MinHash+LSH (the 100 TB
scale path: shingle → minhash signature → banded bucket-join), and
SimHash (bitwise near-dup with banded Hamming search).

All of the shingle/signature/band computation is JVM-side array
expressions (``transform``/``aggregate``/``md5``) — no Python in
the per-document path.

Scale notes: exact + minhash + simhash are linear scans plus
equi-joins on bucket keys (shuffle on band key, never all-pairs);
the quadratic Jaccard verifier only ever runs on candidate pairs (or,
in the standalone oracle-checked query, inside length/lang blocks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datapipe_spark.sources.tables import load_table

# --- deterministic MinHash permutation family: h_i(x) = (a_i*x + b_i) mod P
_P = 2_147_483_647  # 2^31 - 1 (prime); inputs reduced mod P so a*x fits int64
_N_PERM = 32
_BANDS = 8  # 8 bands × 4 rows
_ROWS = _N_PERM // _BANDS
_A = [((1103515245 * (i + 1) + 12345) % _P) | 1 for i in range(_N_PERM)]
_B = [(69069 * (i + 7) + 1) % _P for i in range(_N_PERM)]

JACCARD_THRESHOLD = 0.8

# Observability: per-process counts of guard-ARM activations (the slow
# path actually running, not the probe), consumed by
# scripts/scale_smoke.py stress sweeps. Driver-side single-threaded
# increments; consumers snapshot-and-diff rather than reset.
GUARD_ACTIVATIONS: dict[str, int] = {"minhash_band_cap": 0, "simhash_band_cap": 0}


def _hash_expr(inner: str) -> str:
    """SQL fragment hashing ``inner`` — THE single definition of the
    shingle/token hash every near-dup operator uses: a 60-bit parse of
    the first 15 md5 digest hex chars, bit-identical in DuckDB
    (``('0x'||…)::BIGINT``), so every pipeline built on it is
    oracle-checkable."""
    return f"cast(conv(substring(md5({inner}), 1, 15), 16, 10) as bigint)"


def _shingles(text_col: str = "text", n: int = 3) -> F.Column:
    """Distinct word n-gram shingles, JVM-side.

    Built from ``zip_with`` over the word array and its shifts — the
    array operands are evaluated once per row, unlike a
    ``transform(sequence(...), i -> slice(words, ...))`` formulation
    whose lambda body would re-split the text per element (O(words²)
    per doc). Short docs (< n words) yield the empty set via zip-null
    padding + filter.
    """
    w = f"split({text_col}, ' ')"
    expr = w
    for k in range(1, n):
        shifted = f"slice({w}, {k + 1}, greatest(size({w}) - {k}, 0))"
        expr = f"zip_with({expr}, {shifted}, (x, y) -> concat(x, ' ', y))"
    return F.expr(f"array_distinct(filter({expr}, x -> x IS NOT NULL))")


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup decision per document: canonical = min doc_id within
    identical-content group (hash-groupBy semantics).

    Groups on the 128-bit md5 content hash, not the raw text: the
    shuffle key is 32 bytes instead of the whole document (at 100 TB
    the difference is shuffling hashes vs. shuffling the corpus).
    Group membership is identical — md5 collisions are negligible at
    any corpus size that fits a cluster. groupBy + join-back rather
    than a window over the hash (the SCALING.md skew swap): the
    aggregate is map-side combinable at any skew, and AQE's skew-join
    split can cut a 10⁸-copy boilerplate group across tasks where a
    window would land it in one.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("content_hash")
    )
    groups = d.groupBy("content_hash").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("group_size")
    )
    return d.join(groups, "content_hash").select(
        "doc_id",
        "content_hash",
        "canonical_id",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
        "group_size",
    )


EXACT_DEDUP_SQL = """
SELECT doc_id,
       md5(text) AS content_hash,
       MIN(doc_id) OVER (PARTITION BY text) AS canonical_id,
       doc_id <> MIN(doc_id) OVER (PARTITION BY text) AS is_duplicate,
       COUNT(*) OVER (PARTITION BY text) AS group_size
FROM documents
"""


def dedup_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication profile — the source-weighting signal a
    curation pipeline reads before mixing (a source whose duplicate
    ratio explodes gets down-weighted or re-crawled; pairs with
    ``corpus_mix_domains``).

    Two-level aggregate, both map-side combinable: (source, md5) copy
    counts, then per-source rollup of docs / distinct contents / dup
    ratio / widest verbatim group. Shuffles 32-byte hashes, never
    text; no windows — skew-immune at any copy count (same design as
    the r5 ``_collapse_exact`` swap).
    """
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.md5("text").alias("h")
    )
    per = d.groupBy("source", "h").agg(F.count("*").alias("copies"))
    return per.groupBy("source").agg(
        F.sum("copies").alias("n_docs"),
        F.count("*").alias("distinct_contents"),
        (F.sum("copies") - F.count("*")).alias("duplicate_docs"),
        F.round(
            (F.sum("copies") - F.count("*")).cast("double") / F.sum("copies"), 6
        ).alias("dup_ratio"),
        F.max("copies").alias("max_group_size"),
    )


DEDUP_STATS_BY_SOURCE_SQL = """
WITH g AS (
  SELECT source, md5(text) AS h, COUNT(*) AS copies
  FROM documents GROUP BY source, md5(text)
)
SELECT source,
       CAST(SUM(copies) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS distinct_contents,
       CAST(SUM(copies) - COUNT(*) AS BIGINT) AS duplicate_docs,
       ROUND(CAST(SUM(copies) - COUNT(*) AS DOUBLE) / SUM(copies), 6) AS dup_ratio,
       CAST(MAX(copies) AS BIGINT) AS max_group_size
FROM g GROUP BY source
"""


_LEN_BAND = 16  # near-dups differ by a few tokens, not rewrites: tight band


def _ppjoin_prefixes(
    d0: DataFrame, threshold: float, freq_order: bool = True
) -> DataFrame:
    """Exploded PPJoin prefix rows ``(doc_id, n_chars, tok)``.

    Prefix filtering is sound for ANY global total order over tokens:
    J(A,B) ≥ θ ⟹ |A∩B| ≥ θ·max(|A|,|B|) ⟹ the first
    ``|A|-⌈θ|A|⌉+1`` elements of A and ``|B|-⌈θ|B|⌉+1`` of B (in the
    shared order) intersect. ``freq_order=True`` uses the *canonical*
    PPJoin order — ascending global document frequency, hash as
    tie-break — so prefixes carry each document's RAREST shingles:
    candidate fan-out from boilerplate tokens (df in the thousands at
    100 TB) collapses, because hot tokens sort to the array tails and
    never enter a prefix. ``freq_order=False`` keeps the plain hash
    order (used by tests to measure the reduction).

    Cost of the ordering: one df aggregate over the (distinct) shingle
    table — map-side-combined, output is O(|vocabulary|) — plus a
    broadcast join-back and one per-doc ranking window (a shuffle of
    (doc, df, tok) triples; benched FASTER end-to-end than the
    shuffle-free hash order at sf0.1, because the candidate join it
    feeds is ~2× smaller). At 100 TB the df table is filtered to
    df ≥ 2 before broadcast (df-1 singletons coalesce to 1 on the null
    side, and singletons dominate real corpora); if the repeated-token
    table still exceeds the broadcast threshold, the same plan with a
    shuffle equi-join on ``tok`` is the drop-in fallback.

    ceil(θ·|A|) carries an epsilon guard: when θ·|A| is integral in
    exact arithmetic (e.g. 0.8×5), float error can push the product
    just above the integer and make ceil overshoot, shortening the
    prefix below the sound bound (missed true pairs).
    """
    if not freq_order:
        pfx_len = (
            F.size("sh")
            - F.ceil(F.lit(threshold) * F.size("sh") - F.lit(1e-9)).cast("int")
            + 1
        )
        return d0.select("doc_id", "n_chars", F.array_sort("_h").alias("sh")).select(
            "doc_id", "n_chars", F.explode(F.slice("sh", F.lit(1), pfx_len)).alias("tok")
        )
    occ = d0.select(
        "doc_id", "n_chars", F.size("_h").alias("sz"), F.explode("_h").alias("tok")
    )
    dfs = occ.groupBy("tok").agg(F.count("*").alias("df")).filter(F.col("df") >= 2)
    w = Window.partitionBy("doc_id").orderBy(F.coalesce("df", F.lit(1)), "tok")
    pfx_len = (
        F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9)).cast("int") + 1
    )
    return (
        occ.join(F.broadcast(dfs), "tok", "left")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= pfx_len)
        .select("doc_id", "n_chars", "tok")
    )


def _ppjoin_candidates(prefixes: DataFrame) -> DataFrame:
    """Candidate pairs from prefix rows: equi-join on prefix tokens +
    length-band filter. Output-identical to all-pairs-in-block but
    |candidates| ≈ |true near-dups| when prefixes are freq-ordered."""
    return (
        prefixes.alias("a")
        .join(
            prefixes.select(
                F.col("doc_id").alias("doc_b"), F.col("n_chars").alias("n_chars_b"), "tok"
            ),
            "tok",
        )
        .filter(
            (F.col("doc_id") < F.col("doc_b"))
            & (F.abs(F.col("n_chars") - F.col("n_chars_b")) <= _LEN_BAND)
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Near-dup pairs by exact 3-gram Jaccard within a ±16-char length
    band — the exactness anchor the probabilistic methods are tested
    against.

    Candidates come from *prefix filtering* (the PPJoin family) with
    canonical frequency-ascending token order (``_ppjoin_prefixes``):
    an equi-join on each doc's rarest shingle hashes, sound for J ≥ θ.
    At scale this is a shuffle join on shingle hashes whose fan-out is
    proportional to the number of *true* near-dup pairs, never an
    all-pairs nested loop; exact Jaccard runs only on surviving
    candidates, over the UNORDERED hashed sets (``array_intersect`` is
    order-independent), so the final output is invariant to the prefix
    ordering — the DuckDB oracle needs no df computation.
    """
    return ngram_jaccard_pairs_frame(
        load_table(spark, sf_dir, "documents"), threshold=threshold
    )


def ngram_jaccard_pairs_frame(
    docs: DataFrame, threshold: float = JACCARD_THRESHOLD, freq_order: bool = True
) -> DataFrame:
    """PPJoin n-gram Jaccard over any ``(doc_id, n_chars?, text)``
    frame — see ``ngram_jaccard_pairs`` for semantics and scale notes."""
    if "n_chars" not in docs.columns:
        docs = docs.withColumn("n_chars", F.length("text"))
    d0 = (
        docs.withColumn("_sh_str", _shingles())
        .select(
            "doc_id",
            "n_chars",
            # shingles hashed to int64: set-intersection on longs is
            # ~10× cheaper than on strings and jaccard *counts* are
            # unchanged (collision odds ~|corpus shingles|²/2⁶⁴ ≈ 0)
            F.expr("transform(_sh_str, s -> xxhash64(s))").alias("_h"),
        )
        .filter(F.size("_h") > 0)
        # consumed by the df pass, the prefix explode AND exact
        # verification: cache the hashed shingle sets once
        .persist()
    )
    candidates = _ppjoin_candidates(_ppjoin_prefixes(d0, threshold, freq_order))
    sets = d0.select("doc_id", F.col("_h").alias("sh"))
    verified = candidates.join(
        sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a"
    ).join(sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
    # |A∪B| = |A|+|B|-|A∩B| (shingle arrays are already distinct):
    # one set operation per pair instead of two
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    from datapipe_spark.util import materialize_and_release

    return materialize_and_release(
        verified.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold),
        d0,
    )


NGRAM_JACCARD_PAIRS_SQL = f"""
WITH t AS (
  SELECT doc_id, n_chars, CAST(FLOOR(n_chars / {_LEN_BAND}.0) AS INT) AS bucket,
    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
      list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)])
    ELSE [] END AS sh
  FROM (SELECT doc_id, n_chars, text, string_split(text, ' ') AS w
        FROM documents)
), probes AS (
  SELECT doc_id AS doc_b, n_chars AS n_chars_b, sh AS sh_b,
         unnest([bucket - 1, bucket, bucket + 1]) AS bucket
  FROM t
), pairs AS (
  SELECT a.doc_id AS doc_a, p.doc_b AS doc_b,
    CASE WHEN len(a.sh) + len(p.sh_b) - len(list_intersect(a.sh, p.sh_b)) > 0 THEN
      CAST(len(list_intersect(a.sh, p.sh_b)) AS DOUBLE)
        / (len(a.sh) + len(p.sh_b) - len(list_intersect(a.sh, p.sh_b)))
    ELSE 0.0 END AS jaccard
  FROM t a JOIN probes p
    ON a.bucket = p.bucket AND a.doc_id < p.doc_b
   AND abs(a.n_chars - p.n_chars_b) <= {_LEN_BAND}
)
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= {JACCARD_THRESHOLD}
"""


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """MinHash signatures (32 perms) from hashed shingles — pure array
    expressions, linear scan.

    The permutation family ``(a·h + b) mod p`` is plain arithmetic over
    the portable shingle hash (``_hash_expr``), so signatures are
    bit-identical in DuckDB, which makes the whole LSH pipeline
    oracle-checkable.
    """
    base = f"pmod({_hash_expr('s')}, {_P}L)"
    sig = F.array(
        *[
            F.expr(
                f"array_min(transform(_h, h -> pmod({_A[i]}L * h + {_B[i]}L, {_P}L)))"
            )
            for i in range(_N_PERM)
        ]
    )
    return (
        docs.withColumn("_sh", _shingles())
        .filter(F.size("_sh") > 0)
        .withColumn("_h", F.expr(f"transform(_sh, s -> {base})"))
        .withColumn("signature", sig)
        .drop("_h")
    )


def _collapse_exact(docs: DataFrame) -> DataFrame:
    """Verbatim-copy collapse — the LSH band-bucket skew guard.

    Membership table ``(doc_id, ghash, rep_id, gsz)`` over every doc
    with ≥ 1 shingle (≥ 3 words — the same population the signature
    pipelines keep): ``ghash`` is the md5 content hash, ``rep_id`` the
    min doc_id of the identical-content group, ``gsz`` its size.

    Why: band-bucket candidate generation is quadratic *within* a
    bucket, and at 100 TB a boilerplate mega-cluster (1M verbatim
    copies of a license header) puts one band key on every copy —
    ~10¹² candidate pairs from a single bucket. Identical texts have
    *identical* signatures, so running LSH on one representative per
    distinct content is output-equivalent: rep-pair candidates project
    exactly onto member-pair candidates, within-group pairs are known
    (similarity 1.0 / Hamming 0) without any bucket join, and a
    verbatim mega-cluster contributes exactly ONE row to the band
    join. One shuffle on the content hash (uniform by construction —
    md5 keys cannot skew).
    """
    base = docs.filter(F.size(F.split("text", " ")) >= 3).select(
        "doc_id", F.md5("text").alias("ghash")
    )
    # groupBy + join-back, NOT a window over ghash (the r4 SCALING.md
    # skew hazard): a window lands a 10⁸-copy boilerplate group in ONE
    # window task; the aggregate is map-side combinable at any skew and
    # AQE's skew-join split can cut the join-back's mega group across
    # tasks. Same output (equivalence-tested vs the window form); the
    # base frame is consumed twice (agg + probe) — two linear scans
    # instead of one single-task sort at the skew ceiling.
    groups = base.groupBy("ghash").agg(
        F.min("doc_id").alias("rep_id"), F.count("*").alias("gsz")
    )
    return base.join(groups, "ghash").select("doc_id", "ghash", "rep_id", "gsz")


def _rep_docs(docs, mem):
    """Filter ``docs`` to one representative row per distinct content
    (the min-id member of each verbatim-copy group in ``mem``)."""
    return docs.join(
        mem.filter(F.col("doc_id") == F.col("rep_id")).select("doc_id"), "doc_id"
    )


def _expand_rep_pairs(
    rep_pairs: DataFrame,
    mem: DataFrame,
    score_col: str,
    exact_score: F.Column,
    key_col: str = "ghash",
    within_sides: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Project verified representative-level pairs back onto members
    and add the known within-group pairs.

    Cross-group: every (member of rep_a's group) × (member of rep_b's
    group) pair carries the rep pair's score unchanged (identical
    texts ⟹ identical shingle sets / simhash). Within-group: all
    ``gsz·(gsz-1)/2`` ordered pairs at ``exact_score``. Both are
    output-sized joins — no candidate blow-up, no verification cost.
    ``key_col`` names the membership group key: ``ghash`` (md5 content
    hash) for text-copy groups, ``gkey`` (stringified fingerprint) for
    simhash fingerprint groups.

    ``within_sides=(left, right)`` restricts the within arm to
    left-member × right-member pairs of the same group (r12 review:
    the cross-corpus caller only keeps new×corpus pairs, and expanding
    a single-sided verbatim mega-cluster — 10^6 identical corpus
    docs — materialized ~5·10^11 rows that the orientation filter then
    dropped to zero; the two-sided join is output-sized by
    construction since groups lacking either side produce nothing).
    """
    ma = mem.select(F.col("rep_id").alias("rep_a"), F.col("doc_id").alias("_da"))
    mb = mem.select(F.col("rep_id").alias("rep_b"), F.col("doc_id").alias("_db"))
    cross = (
        rep_pairs.join(ma, "rep_a")
        .join(mb, "rep_b")
        .select(
            F.least("_da", "_db").alias("doc_a"),
            F.greatest("_da", "_db").alias("doc_b"),
            F.col(score_col),
        )
    )
    if within_sides is None:
        grp = mem.filter(F.col("gsz") > 1)
        g1 = grp.select(key_col, F.col("doc_id").alias("_da"))
        g2 = grp.select(key_col, F.col("doc_id").alias("_db"))
        within = (
            g1.join(g2, key_col)
            .filter(F.col("_da") < F.col("_db"))
            .select(
                F.col("_da").alias("doc_a"),
                F.col("_db").alias("doc_b"),
                exact_score.alias(score_col),
            )
        )
    else:
        g1 = within_sides[0].select(key_col, F.col("doc_id").alias("_da"))
        g2 = within_sides[1].select(key_col, F.col("doc_id").alias("_db"))
        # sides are disjoint doc sets: each mixed pair appears exactly
        # once, no self-pairs — (least, greatest) matches the default
        # arm's orientation
        within = g1.join(g2, key_col).select(
            F.least("_da", "_db").alias("doc_a"),
            F.greatest("_da", "_db").alias("doc_b"),
            exact_score.alias(score_col),
        )
    return cross.unionByName(within)


def band_rows(sigs: DataFrame) -> DataFrame:
    """Explode a signature frame into LSH band rows ``(doc_id, band_id,
    band_key)`` — the join surface of the band index. Rows carry ONLY
    the string band key: the ``_BANDS``× explode shuffles the key,
    never the shingle arrays."""
    band_exprs = [
        "concat_ws(','," + ", ".join(f"signature[{j * _ROWS + r}]" for r in range(_ROWS)) + ")"
        for j in range(_BANDS)
    ]
    return sigs.select(
        "doc_id",
        F.posexplode(F.array(*[F.expr(e) for e in band_exprs])).alias(
            "band_id", "band_key"
        ),
    )


MINHASH_BUCKET_CAP = 512  # band-bucket width guard threshold
# (oracle-scale max observed width over sf0.01/sf0.1 documents: ≤ 3 —
# the guard stays inactive there, so the DuckDB replay needs no guard
# arm; forced-activation recall is property-tested)


def banded_pair_candidates(
    bands: DataFrame, bucket_cap: int = MINHASH_BUCKET_CAP
) -> DataFrame:
    """Band-bucket self-join → candidate pairs ``(rep_a, rep_b)``,
    with a bucket-width guard (the r6 verdict's `dedup_pipeline`
    stage-2 nit, generalized to every minhash band self-join).

    Activation probe first (the simhash pattern): one map-side-combined
    aggregate computes the widest ``(band_id, band_key)`` bucket. At or
    under ``bucket_cap`` — the common case everywhere measured (max
    width ≤ 3 at sf0.1 vs cap 512) — the plain pairwise self-join runs
    and output is exactly the unguarded plan's. Above the cap, only
    possible under genuine density (band keys are 4-value md5
    compounds, so unlike simhash's 7-8 bit band keyspace there is no
    saturation hazard — a wide bucket means near-identical,
    non-verbatim content, the paraphrase-mill corpus), over-cap buckets
    degrade to STAR candidates: each member pairs with the bucket's
    min-id doc — O(width) instead of O(width²) rows — while ≤-cap
    buckets keep the full pairwise join. Downstream exact-jaccard
    verification is unchanged. Approximation under activation: a
    member-member pair inside an over-cap bucket surfaces only via
    its other bands or transitively through the star rep (documented;
    connectivity under forced activation is property-tested).
    """
    a, b = bands.alias("a"), bands.alias("b")
    pairwise_cond = (
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    # ONE aggregation serves both the activation probe and the
    # wide-bucket set (r7 advisory: the previous max-width probe plus
    # the activated arm's re-aggregation cost two passes over bands).
    # The set stays DISTRIBUTED (r12 review: a paraphrase-mill corpus
    # with millions of over-cap clusters collected O(clusters) Rows to
    # the driver — the simhash guard's broadcast-without-collect shape
    # applies here too); localCheckpoint materializes it once in the
    # block manager, so the count probe and the broadcast reuse it.
    wide = (
        bands.groupBy("band_id", "band_key")
        .agg(F.count("*").alias("_bc"), F.min("doc_id").alias("_star"))
        .filter(F.col("_bc") > bucket_cap)
        .select("band_id", "band_key", "_star")
        .localCheckpoint(eager=True)
    )
    n_wide = wide.count()
    if n_wide == 0:
        cand = a.join(b, pairwise_cond).select(
            F.col("a.doc_id").alias("rep_a"), F.col("b.doc_id").alias("rep_b")
        )
    else:
        GUARD_ACTIVATIONS["minhash_band_cap"] += 1
        # r7 advisory: surface the star-degrade loudly — if an oracled
        # form ever runs a corpus dense enough to activate, a hash
        # mismatch must be traceable to the guard, not a mystery
        # (tests additionally pin the oracled forms guard-inactive at
        # the driver's data scales)
        import warnings

        warnings.warn(
            f"minhash band-bucket guard ACTIVE: {n_wide} bucket(s) "
            f"over cap {bucket_cap} degrade to star candidates — output "
            "diverges from the unguarded/oracle pair set",
            RuntimeWarning,
            stacklevel=2,
        )
        # over-cap keys are rare relative to bands — broadcast them
        tagged = bands.join(F.broadcast(wide), ["band_id", "band_key"], "left")
        narrow = tagged.filter(F.col("_star").isNull()).drop("_star")
        na, nb = narrow.alias("a"), narrow.alias("b")
        pair_narrow = na.join(nb, pairwise_cond).select(
            F.col("a.doc_id").alias("rep_a"), F.col("b.doc_id").alias("rep_b")
        )
        star = (
            tagged.filter(F.col("_star").isNotNull() & (F.col("doc_id") != F.col("_star")))
            .select(F.col("_star").alias("rep_a"), F.col("doc_id").alias("rep_b"))
        )
        cand = pair_narrow.unionByName(star)
    return cand.dropDuplicates(["rep_a", "rep_b"])


def minhash_rep_candidates(
    docs: DataFrame, bucket_cap: int = MINHASH_BUCKET_CAP
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Collapse verbatim copies, sign the representatives, and band-join
    them into candidate pairs. Returns ``(mem, sigs, candidates)`` —
    ``candidates`` is rep-level ``(rep_a, rep_b)``; ``mem``/``sigs``
    are persisted (caller releases). Factored out so the skew guard is
    directly testable: a 10k-copy mega-cluster must contribute one row
    to the band join, keeping this frame small. The band self-join runs
    through ``banded_pair_candidates``' width guard — verbatim copies
    are collapsed before banding, and what the collapse cannot shrink
    (near-identical non-verbatim content) the bucket cap stars."""
    mem = _collapse_exact(docs).persist()
    reps = _rep_docs(docs, mem)
    # project the raw text OFF before caching (r12 review): the cache
    # holds the plan's full schema, and nothing downstream reads text —
    # at corpus scale the un-projected cache held every rep's document
    sigs = minhash_signatures(reps).select("doc_id", "_sh", "signature").persist()
    bands = band_rows(sigs)
    candidates = banded_pair_candidates(bands, bucket_cap=bucket_cap)
    return mem, sigs, candidates


def minhash_dedup(
    spark: SparkSession, sf_dir: str, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """MinHash+LSH near-dup detection — the scale path.

    verbatim-copy collapse (``_collapse_exact`` — the bucket-skew
    guard) → shingle → 32-perm minhash → 8 bands × 4 rows → band-key
    bucket join over *representatives* → candidate pairs → exact
    Jaccard verification on candidates only → member expansion. At
    100 TB this is a linear scan plus equi-joins (no all-pairs
    anywhere); banding parameters give ≈99 % recall at Jaccard ≥ 0.8
    (P(candidate) = 1-(1-s^4)^8), and a verbatim mega-cluster of any
    size occupies one band-join row instead of going quadratic.

    Portable signatures (see ``minhash_signatures``), string band keys,
    string-set verification — deterministic and DuckDB-oracled
    (``MINHASH_DEDUP_SQL`` replays the band join un-collapsed; output
    is provably identical because identical texts have identical
    signatures).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_dedup_frame(docs, threshold=threshold)


def _verify_rep_jaccard(
    sigs: DataFrame, candidates: DataFrame, threshold: float
) -> DataFrame:
    """Exact-jaccard verification of rep-level ``(rep_a, rep_b)``
    candidates on the raw shingle strings (byte-identical to the
    oracle). Returns verified pairs ≥ threshold."""
    sets = sigs.select("doc_id", F.col("_sh").alias("hs"))
    verified = candidates.join(
        sets.select(F.col("doc_id").alias("rep_a"), F.col("hs").alias("sh_a")), "rep_a"
    ).join(sets.select(F.col("doc_id").alias("rep_b"), F.col("hs").alias("sh_b")), "rep_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (
        verified.select("rep_a", "rep_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup_frame(
    docs: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """MinHash+LSH over any ``(doc_id, text)`` frame — see
    ``minhash_dedup`` for semantics and scale notes."""
    mem, sigs, candidates = minhash_rep_candidates(docs)
    rep_pairs = _verify_rep_jaccard(sigs, candidates, threshold)
    from datapipe_spark.util import materialize_and_release

    return materialize_and_release(
        _expand_rep_pairs(rep_pairs, mem, "jaccard", F.lit(1.0)), sigs, mem
    )


# Oracle replay of the portable (md5) MinHash+LSH pipeline: identical
# shingles, base hashes, permutations, band keys, and string-set
# verification. DuckDB's % equals Spark's pmod here (operands positive:
# base hashes are 60-bit parses reduced mod P).
_ORACLE_SIGS = ", ".join(
    f"list_min([({_A[i]} * h + {_B[i]}) % {_P} for h in hs])" for i in range(_N_PERM)
)
_ORACLE_BANDS = ", ".join(
    "concat_ws(','," + ", ".join(f"sig[{j * _ROWS + r + 1}]" for r in range(_ROWS)) + ")"
    for j in range(_BANDS)
)
MINHASH_DEDUP_SQL = f"""
WITH t AS (
  SELECT doc_id,
    CASE WHEN len(w) >= 3 THEN
      list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)])
    ELSE [] END AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
), nz AS (
  SELECT doc_id, sh,
         [CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) % {_P} for g in sh] AS hs
  FROM t WHERE len(sh) > 0
), sigs AS (
  SELECT doc_id, sh, [{_ORACLE_SIGS}] AS sig FROM nz
), bands AS (
  SELECT doc_id, r.j AS band_id, bkeys[r.j + 1] AS band_key
  FROM (SELECT doc_id, [{_ORACLE_BANDS}] AS bkeys FROM sigs), range({_BANDS}) r(j)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), verified AS (
  SELECT c.doc_a, c.doc_b,
    CASE WHEN len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) > 0 THEN
      CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
    ELSE 0.0 END AS jaccard
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.doc_a
  JOIN sigs sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
"""


# --- Cross-corpus (incremental) dedup ---------------------------------------
#
# The production shape for continuous ingestion (reference batch
# pipeline's incremental quality gate, requirements.md): an incoming
# batch is deduplicated AGAINST the already-curated corpus without
# reprocessing the corpus. The corpus-side artifacts — the content-hash
# index and the minhash band index over verbatim-collapsed
# representatives — are batch-invariant: at 100 TB they are persisted
# tables maintained incrementally, and each batch only hashes/signs ITS
# OWN documents and equi-joins the indexes. Here both sides derive from
# the same `documents` table via a deterministic source split so the
# whole decision is DuckDB-oracle-checkable end to end.

_CROSS_NEW_PRED = "CAST(substring(source, 4) AS INT) % 4 = 3"


def _cross_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents tagged with the deterministic batch split: sources
    src3, src7, src11, … are the incoming batch; the rest the corpus."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", F.expr(_CROSS_NEW_PRED).alias("is_new")
    )


def dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-corpus dedup: each incoming-batch doc probed against
    the corpus content-hash index.

    One equi-join on 32-byte md5 keys; the corpus side is the persisted
    index role (hash + min doc_id only — corpus *text* is never re-read
    at scale, and the index is itself the map-side-combinable
    groupBy-min). Output is O(batch), never O(corpus).
    """
    return cross_corpus_frame(_cross_tagged(spark, sf_dir))


def cross_corpus_frame(docs: DataFrame) -> DataFrame:
    """Exact cross-corpus dedup over any ``(doc_id, text, source,
    is_new)`` frame — see ``dedup_cross_corpus`` for semantics."""
    newb = docs.filter("is_new").select(
        "doc_id", "source", F.md5("text").alias("content_hash")
    )
    index = (
        docs.filter(~F.col("is_new"))
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("corpus_canonical"))
    )
    return newb.join(index, "content_hash", "left").select(
        "doc_id",
        "source",
        "content_hash",
        "corpus_canonical",
        F.col("corpus_canonical").isNotNull().alias("in_corpus"),
    )


DEDUP_CROSS_CORPUS_SQL = f"""
WITH tagged AS (
  SELECT doc_id, source, md5(text) AS content_hash,
         {_CROSS_NEW_PRED} AS is_new
  FROM documents
), idx AS (
  SELECT content_hash, MIN(doc_id) AS corpus_canonical
  FROM tagged WHERE NOT is_new GROUP BY 1
)
SELECT t.doc_id, t.source, t.content_hash, i.corpus_canonical,
       i.corpus_canonical IS NOT NULL AS in_corpus
FROM tagged t LEFT JOIN idx i USING (content_hash)
WHERE t.is_new
"""


def dedup_cross_corpus_minhash(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Near-dup probe of the incoming batch against the corpus
    MinHash/LSH index → oriented ``(new_doc_id, corpus_doc_id,
    jaccard)`` pairs at jaccard ≥ threshold.

    Pipeline: union-level verbatim collapse (cross-side verbatim copies
    share one group — the bucket-skew guard holds across corpora) →
    sign representatives → band join → *reach filter*: a rep candidate
    is verified only if one side's group contains a batch doc and the
    other's a corpus doc, so within-corpus and within-batch pairs never
    reach jaccard verification (within-batch dedup is a plain
    ``minhash_dedup`` over the batch) → member expansion → orient.
    The corpus side's membership/signature/band frames are
    batch-invariant — the persisted-index role at 100 TB; per batch the
    work is sign-the-batch plus equi-joins against the index.
    """
    return cross_corpus_minhash_frame(_cross_tagged(spark, sf_dir), threshold=threshold)


def cross_corpus_minhash_frame(
    docs: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Cross-corpus near-dup probe over any ``(doc_id, text, is_new)``
    frame — see ``dedup_cross_corpus_minhash`` for semantics."""
    tags = docs.select("doc_id", "is_new")
    mem, sigs, candidates = minhash_rep_candidates(docs.select("doc_id", "text"))
    reach = (
        mem.join(tags, "doc_id")
        .groupBy("rep_id")
        .agg(
            F.max("is_new").alias("has_new"),
            F.max(~F.col("is_new")).alias("has_corpus"),
        )
    )
    ra = reach.select(
        F.col("rep_id").alias("rep_a"),
        F.col("has_new").alias("_an"),
        F.col("has_corpus").alias("_ac"),
    )
    rb = reach.select(
        F.col("rep_id").alias("rep_b"),
        F.col("has_new").alias("_bn"),
        F.col("has_corpus").alias("_bc"),
    )
    cross_cand = (
        candidates.join(ra, "rep_a")
        .join(rb, "rep_b")
        .filter((F.col("_an") & F.col("_bc")) | (F.col("_ac") & F.col("_bn")))
        .select("rep_a", "rep_b")
    )
    rep_pairs = _verify_rep_jaccard(sigs, cross_cand, threshold)
    # within-group expansion restricted to new×corpus member pairs
    # (r12 review): a corpus-side-only verbatim mega-cluster previously
    # expanded quadratically only to be dropped by the orientation
    # filter below — the two-sided join is output-sized instead
    tagged_mem = mem.join(tags, "doc_id")
    pairs = _expand_rep_pairs(
        rep_pairs, mem, "jaccard", F.lit(1.0),
        within_sides=(
            tagged_mem.filter(F.col("is_new")),
            tagged_mem.filter(~F.col("is_new")),
        ),
    )
    ta = tags.select(F.col("doc_id").alias("doc_a"), F.col("is_new").alias("_ia"))
    tb = tags.select(F.col("doc_id").alias("doc_b"), F.col("is_new").alias("_ib"))
    oriented = (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(F.col("_ia") != F.col("_ib"))
        .select(
            F.when(F.col("_ia"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("new_doc_id"),
            F.when(F.col("_ia"), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("corpus_doc_id"),
            "jaccard",
        )
    )
    from datapipe_spark.util import materialize_and_release

    return materialize_and_release(oriented, sigs, mem)


# Oracle: un-collapsed replay (every doc signed) with the cross-side
# filter applied at the candidate stage. Output-equivalent to the
# collapsed+reach-filtered plan for the same reason MINHASH_DEDUP_SQL
# is: identical texts have identical signatures, so a member pair
# shares a band key iff its representative pair does, and expansion
# projects rep pairs exactly onto member pairs.
DEDUP_CROSS_CORPUS_MINHASH_SQL = f"""
WITH tag AS (
  SELECT doc_id, {_CROSS_NEW_PRED} AS is_new FROM documents
), t AS (
  SELECT doc_id,
    CASE WHEN len(w) >= 3 THEN
      list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)])
    ELSE [] END AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
), nz AS (
  SELECT doc_id, sh,
         [CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) % {_P} for g in sh] AS hs
  FROM t WHERE len(sh) > 0
), sigs AS (
  SELECT doc_id, sh, [{_ORACLE_SIGS}] AS sig FROM nz
), bands AS (
  SELECT doc_id, r.j AS band_id, bkeys[r.j + 1] AS band_key
  FROM (SELECT doc_id, [{_ORACLE_BANDS}] AS bkeys FROM sigs), range({_BANDS}) r(j)
), cand AS (
  SELECT DISTINCT
    CASE WHEN ta.is_new THEN a.doc_id ELSE b.doc_id END AS new_doc_id,
    CASE WHEN ta.is_new THEN b.doc_id ELSE a.doc_id END AS corpus_doc_id
  FROM bands a
  JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  JOIN tag ta ON ta.doc_id = a.doc_id
  JOIN tag tb ON tb.doc_id = b.doc_id
  WHERE ta.is_new <> tb.is_new
), verified AS (
  SELECT c.new_doc_id, c.corpus_doc_id,
    CASE WHEN len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) > 0 THEN
      CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
    ELSE 0.0 END AS jaccard
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.new_doc_id
  JOIN sigs sb ON sb.doc_id = c.corpus_doc_id
)
SELECT new_doc_id, corpus_doc_id, jaccard FROM verified
WHERE jaccard >= {JACCARD_THRESHOLD}
"""


# deterministic erasure backlog for the index-purge registry entry:
# corpus-side docs (NOT is_new) with doc_id ≡ 3 (mod 13) — hits a mix
# of non-rep members, promoted reps, and fully-erased groups at both
# test scales (dedup_index.purge_minhash_index consumes this; the
# oracle below removes the same docs from the corpus replay)
PURGED_DOCS_PRED = "doc_id % 13 = 3"

# Oracle for the PURGED-index probe: the same un-collapsed replay with
# the erased docs removed from the corpus side before anything is
# signed — if the purge left any trace (a band row of an erased group,
# a membership row of an erased doc) or broke a surviving group (a
# rep promotion dropping sigs it should have renamed), the pair set
# differs and the hash fails.
DEDUP_CROSS_CORPUS_PURGED_SQL = (
    f"WITH docs AS (SELECT * FROM documents"
    f" WHERE ({_CROSS_NEW_PRED}) OR NOT ({PURGED_DOCS_PRED}))"
    + DEDUP_CROSS_CORPUS_MINHASH_SQL.replace("FROM documents", "FROM docs").replace(
        "WITH tag AS", ", tag AS", 1
    )
)


# arrival batches for the streaming form of the cross-corpus probe:
# the incoming side is delivered as this many micro-batches, batch k
# holding the is_new docs with doc_id % CROSS_STREAM_BATCHES == k
CROSS_STREAM_BATCHES = 3


# Oracle for the STREAMING incremental probe: a pair is emitted iff
# jaccard ≥ threshold AND the matched doc arrived strictly earlier —
# corpus docs have arrival -1, batch docs their batch number. Same
# un-collapsed replay argument as DEDUP_CROSS_CORPUS_MINHASH_SQL; the
# growing index only changes WHICH side is visible at probe time, which
# the arrival ordering reproduces exactly.
DEDUP_CROSS_CORPUS_STREAM_SQL = f"""
WITH tag AS (
  SELECT doc_id,
         CASE WHEN {_CROSS_NEW_PRED} THEN doc_id % {CROSS_STREAM_BATCHES}
              ELSE -1 END AS arr
  FROM documents
), t AS (
  SELECT doc_id,
    CASE WHEN len(w) >= 3 THEN
      list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)])
    ELSE [] END AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
), nz AS (
  SELECT doc_id, sh,
         [CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) % {_P} for g in sh] AS hs
  FROM t WHERE len(sh) > 0
), sigs AS (
  SELECT doc_id, sh, [{_ORACLE_SIGS}] AS sig FROM nz
), bands AS (
  SELECT doc_id, r.j AS band_id, bkeys[r.j + 1] AS band_key
  FROM (SELECT doc_id, [{_ORACLE_BANDS}] AS bkeys FROM sigs), range({_BANDS}) r(j)
), cand AS (
  SELECT DISTINCT
    CASE WHEN ta.arr > tb.arr THEN a.doc_id ELSE b.doc_id END AS new_doc_id,
    CASE WHEN ta.arr > tb.arr THEN b.doc_id ELSE a.doc_id END AS matched_doc_id
  FROM bands a
  JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  JOIN tag ta ON ta.doc_id = a.doc_id
  JOIN tag tb ON tb.doc_id = b.doc_id
  WHERE ta.arr <> tb.arr
), verified AS (
  SELECT c.new_doc_id, c.matched_doc_id,
    CASE WHEN len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) > 0 THEN
      CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
    ELSE 0.0 END AS jaccard
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.new_doc_id
  JOIN sigs sb ON sb.doc_id = c.matched_doc_id
)
SELECT new_doc_id, matched_doc_id, jaccard FROM verified
WHERE jaccard >= {JACCARD_THRESHOLD}
"""


def dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged corpus dedup decision — the composition a curation run
    actually executes: (1) exact collapse on the content hash, then
    (2) MinHash/LSH near-dup pass over the exact survivors with the
    greedy min-id-wins policy (a doc is dropped iff it pairs with a
    lower-id survivor; the transitive-closure alternative is
    ``dedup_clusters``). One row per document: ``status`` ∈ kept /
    exact_dup / near_dup and the stage-level ``canonical_id`` (NULL
    for kept).

    Scale: stage 1 is the skew-safe groupBy-min + join-back on md5
    keys; stage 2 runs the banded LSH machinery on the (strictly
    smaller) survivor set — signatures and band keys are per-document,
    so survivor-set pairs equal full-corpus pairs restricted to
    survivors (the identity the DuckDB oracle replays; it also makes
    stage order safe to fuse). No all-pairs path anywhere.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup_pipeline_frame(docs)


def dedup_pipeline_frame(
    docs: DataFrame, bucket_cap: int = MINHASH_BUCKET_CAP
) -> DataFrame:
    """Staged dedup decision over any ``(doc_id, text)`` frame — see
    ``dedup_pipeline`` for semantics."""
    d = docs.select("doc_id", F.md5("text").alias("h"))
    g = d.groupBy("h").agg(F.min("doc_id").alias("ecanon"))
    e = d.join(g, "h").select("doc_id", "ecanon")
    surv = docs.join(
        e.filter(F.col("doc_id") == F.col("ecanon")).select("doc_id"), "doc_id"
    )
    # survivors are all-distinct in text by construction, so the LSH
    # stage skips minhash_dedup_frame's collapse/expansion (a full
    # extra md5 + shuffle that provably collapses nothing): sign, band,
    # guarded self-join (exact collapse kills verbatim skew, the
    # bucket cap stars what remains — the paraphrase-mill hazard the
    # r6 verdict flagged), verify — every group is a singleton
    sigs = minhash_signatures(surv).select(
        "doc_id", "_sh", "signature"
    ).persist()  # text projected off before caching (r12 review)
    cand = banded_pair_candidates(band_rows(sigs), bucket_cap=bucket_cap)
    pairs = _verify_rep_jaccard(sigs, cand, JACCARD_THRESHOLD)
    from datapipe_spark.util import materialize_and_release

    # the near-dup decision table is O(near dups) — checkpoint it and
    # release the signature cache before the corpus-sized final join
    near = materialize_and_release(
        pairs.groupBy(F.col("rep_b").alias("doc_id")).agg(
            F.min("rep_a").alias("ncanon")
        ),
        sigs,
    )
    return (
        e.join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("doc_id") != F.col("ecanon"), F.lit("exact_dup"))
            .when(F.col("ncanon").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.when(F.col("doc_id") != F.col("ecanon"), F.col("ecanon"))
            .otherwise(F.col("ncanon"))
            .alias("canonical_id"),
        )
    )


DEDUP_PIPELINE_SQL = f"""
WITH pairs AS ({MINHASH_DEDUP_SQL}),
exact AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS ecanon FROM documents
), surv AS (
  SELECT doc_id FROM exact WHERE doc_id = ecanon
), near AS (
  SELECT p.doc_b AS doc_id, MIN(p.doc_a) AS ncanon
  FROM pairs p
  JOIN surv sa ON sa.doc_id = p.doc_a
  JOIN surv sb ON sb.doc_id = p.doc_b
  GROUP BY p.doc_b
)
SELECT e.doc_id,
  CASE WHEN e.doc_id <> e.ecanon THEN 'exact_dup'
       WHEN n.doc_id IS NOT NULL THEN 'near_dup'
       ELSE 'kept' END AS status,
  CASE WHEN e.doc_id <> e.ecanon THEN e.ecanon ELSE n.ncanon END AS canonical_id
FROM exact e LEFT JOIN near n ON n.doc_id = e.doc_id
"""


def _band_layout(n_bits: int, n_bands: int = _BANDS) -> list[tuple[int, int]]:
    """(offset, width) per band: n_bits split into n_bands near-equal
    disjoint chunks — any such partition keeps the pigeonhole guarantee
    (Hamming ≤ n_bands-1 ⟹ some band untouched)."""
    widths = [n_bits // n_bands + (1 if r < n_bits % n_bands else 0) for r in range(n_bands)]
    offs = [sum(widths[:j]) for j in range(n_bands)]
    return list(zip(offs, widths))


def simhash_dedup(spark: SparkSession, sf_dir: str, max_hamming: int = 7) -> DataFrame:
    """SimHash near-dup detection: shingle-feature simhash, banded
    Hamming search (8 disjoint bands — a pair within Hamming ≤ 7 must
    agree exactly on ≥ 1 band, by pigeonhole).

    60-bit simhash from md5 hex parses — engine-portable bit votes, so
    the whole operator is DuckDB-oracled (``SIMHASH_DEDUP_SQL`` replays
    votes, packing, bands, and Hamming bit-for-bit).

    Features are word 3-gram shingles (not unigrams): on vocabulary-
    dense corpora unigram bags barely differ between unrelated
    documents, which collapses Hamming separation and explodes band
    collisions; shingles keep unrelated pairs near mid-range Hamming.

    Verbatim-copy collapse first (``_collapse_exact`` — the
    bucket-skew guard shared with minhash_dedup): banding runs over
    one representative per distinct content, within-group pairs are
    emitted directly at Hamming 0, and verified rep pairs expand back
    to members — output-identical (identical texts ⟹ identical
    simhash), but a boilerplate mega-cluster occupies one band-join
    row instead of going quadratic in a bucket.

    Linear scan → per-doc conditional bit sums (codegen'd) → band
    bucket join; no all-pairs. Known limitation (documented, tested):
    very short documents flip proportionally more bits per edited
    token, so recall degrades below ~15 tokens — minhash_dedup is the
    recall anchor there.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash_dedup_frame(d, max_hamming=max_hamming)


def _md5_fingerprints_arrow(reps: DataFrame) -> DataFrame:
    """(doc_id, simhash) for every representative doc, computed in one
    Arrow-batched map pass — see ``_rep_fingerprints`` for why this is
    bit-identical to (and replaces) the explode/aggregate expression
    form. Documents with no shingles (NULL text or < 3
    words) emit no row, exactly as the exploded form's empty groups.
    The vote matrix is chunked so a pathological million-shingle doc
    stays within a bounded numpy temp instead of an O(shingles × 60)
    allocation."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("simhash", T.LongType()),
        ]
    )

    def _fp_batches(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        shifts = np.arange(60, dtype=np.uint64)
        one = np.uint64(1)
        for pdf in batches:
            ids: list[int] = []
            fps: list[int] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                w = text.split(" ")
                if len(w) < 3:
                    continue
                sh = {
                    w[i] + " " + w[i + 1] + " " + w[i + 2]
                    for i in range(len(w) - 2)
                }
                n = len(sh)
                # first 15 hex chars of md5 == (first 8 digest bytes
                # big-endian) >> 4 — the exact conv(substring(md5, 1,
                # 15), 16, 10) parse of _hash_expr
                hv = np.fromiter(
                    (
                        int.from_bytes(
                            hashlib.md5(s.encode("utf-8")).digest()[:8], "big"
                        )
                        >> 4
                        for s in sh
                    ),
                    dtype=np.uint64,
                    count=n,
                )
                counts = np.zeros(60, dtype=np.int64)
                for lo in range(0, n, 1 << 16):
                    chunk = hv[lo : lo + (1 << 16)]
                    counts += ((chunk[:, None] >> shifts) & one).sum(
                        axis=0, dtype=np.int64
                    )
                fp = int(((counts * 2 > n).astype(np.uint64) << shifts).sum())
                ids.append(doc_id)
                fps.append(fp)
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(ids, dtype="int64"),
                    "simhash": np.asarray(fps, dtype="int64"),
                }
            )

    return reps.select("doc_id", "text").mapInPandas(_fp_batches, out_schema)


def _rep_fingerprints(d: DataFrame):
    """Verbatim-collapse + per-representative simhash fingerprints.
    Returns ``(mem, sh)``: ``mem`` the persisted text-copy membership
    (caller releases), ``sh`` the lazy (doc_id, simhash) frame over
    text representatives.

    Fingerprint math: ZERO-shuffle
    Arrow pass (r13, guide §2.4 + §4.2) — one ``mapInPandas`` over the
    text representatives computes shingling, md5, distinct-shingle bit
    votes and packing per document in vectorized numpy, emitting only
    (doc_id, simhash). The per-doc fingerprint depends on nothing
    outside the row, so the explode (≈|shingles| row blowup), the
    interpreted ``zip_with`` shingle lambdas, and the groupBy exchange
    of the previous expression form all disappear; text crosses the
    Python boundary once and nothing rides along back (the boundary
    tax that sank the minhash Arrow rewrite does not apply — minhash
    needed the shingle arrays downstream for verification, simhash
    verification is pure fingerprint Hamming). Bit-identical to the
    expression form: same ``split(' ')`` tokenization (empty tokens
    preserved), same null-padded trigram construction, distinct set,
    md5-of-UTF-8 first-15-hex-chars parse, and the same strict
    majority 2·count_i > n (ties pack 0) — equality locked by
    ``exceptAll`` in both directions over the full sf0.1 corpus when
    the swap landed, and by tests/test_llm_ops.py's oracle replay.
    """
    mem = _collapse_exact(d).persist()
    return mem, _md5_fingerprints_arrow(_rep_docs(d, mem))


def simhash_fingerprints_frame(d: DataFrame) -> DataFrame:
    """Per-document simhash fingerprint (doc_id, simhash) for any
    (doc_id, text) frame — the signature front half of
    ``simhash_dedup_frame`` projected back onto every member doc.
    Diagnostic/test surface for the density premise of the
    identical-fingerprint guard (near-verbatim clusters concentrate
    onto few distinct fingerprints)."""
    mem, sh = _rep_fingerprints(d)
    out = (
        mem.select("doc_id", "rep_id")
        .join(sh.withColumnRenamed("doc_id", "rep_id"), "rep_id")
        .select("doc_id", "simhash")
    )
    from datapipe_spark.util import materialize_and_release

    return materialize_and_release(out, mem)


SIMHASH_BUCKET_CAP = 256  # band-bucket width guard threshold
# (oracle-scale max observed width: 14 at sf0.01, 82 at sf0.1 — the
# guard stays inactive there, so the DuckDB replay needs no guard arm)


def simhash_dedup_frame(
    d: DataFrame, max_hamming: int = 7, bucket_cap: int = SIMHASH_BUCKET_CAP
) -> DataFrame:
    """SimHash near-dup pairs over any ``(doc_id, text)`` frame — see
    ``simhash_dedup`` for semantics and scale notes.

    **Band-bucket width guards**, two complementary levels:

    1. *Identical-fingerprint collapse*: documents whose fingerprints
       coincide exactly (distinct texts after normalization /
       templating whose edits never flip a vote majority) agree on
       every band, so no band-keyed split can separate them. The band
       join therefore runs over one representative per DISTINCT
       fingerprint; identical-fingerprint members expand back
       afterwards at Hamming 0. Output-identical (cross-pair Hamming
       depends only on the fingerprints) and a fingerprint-identical
       group of any size occupies one band-join row. (This alone does
       NOT bound near-verbatim clusters: a single-token edit flips
       ~1-3 low-margin bits even in long documents, so such clusters
       scatter across many distinct fingerprints — that case is #3's.)
    2. *Adjacent-band sub-split* (the keyspace-saturation hazard): 8
       bands over 60 bits leave only 7-8 bits per band — ~181/256
       buckets — so once the number of distinct fingerprints outgrows
       the keyspace, unrelated docs pile into every bucket (measured
       on a 10×-replicated sf0.1 pre-guard: ~55M candidate pairs,
       81 s; 30×: ~500M). Buckets wider than ``bucket_cap`` are split
       into ``ceil(width/cap)`` sub-buckets keyed by the ADJACENT
       band's value — unrelated docs vary there (that is what makes
       this hazard splittable, unlike #1), any pair agreeing on both
       bands stays together, and the split only drops pairs whose
       ONLY agreeing band is the over-cap one: under saturation those
       are overwhelmingly far pairs. The frequency pass is one
       map-side-combined aggregate over (band, key) rows; sub-bucket
       assignment is a broadcast join against the (rare) over-cap
       keys.

    3. *Star fallback* (the dense-scattered hazard): a cluster of
       DISTINCT fingerprints within small Hamming of one another
       (short-doc boilerplate: every edit flips a few bits) agrees on
       band AND adjacent band, so neither #1 nor #2 shrinks it — and
       its true pair list is itself quadratic, so no candidate scheme
       can bound the exact output. Sub-buckets still wider than the
       cap therefore degrade to star candidates (member vs min-id
       rep): O(width) candidates, true-Hamming verified, cluster
       connectivity preserved for CC consumers; member–member pairs
       surface only via other bands (documented approximation,
       connectivity property-tested under forced activation).

    No guard changes output at oracle scale (max observed bucket at
    sf0.1 is far below the cap — asserted in tests; the fingerprint
    collapse is output-identical at ANY scale), so the DuckDB replay
    needs no guard arm; recall under forced sub-split activation is
    property-tested.

    **Activation probe (r5)**: the guard stack (fingerprint collapse,
    over-cap broadcast join, dense aggregate, star arm, extra persist)
    costs real constant factor even when every guard is inactive —
    which is the common case (max observed band bucket at sf0.1: 82 vs
    cap 256). One cheap map-side-combined aggregate over the
    ``(band, key)`` rows of the text-representative fingerprints
    computes the max bucket width first; when it is ≤ ``bucket_cap``,
    guard levels 1–3 are provably no-ops — level 2/3 filters are empty
    by definition, and level 1 only re-groups rows that the ≤-cap
    band join already handles — so the simple pre-guard plan runs
    instead. Output is identical by construction (the fingerprint
    collapse never changes output; the sub-split/star only fire above
    the cap); equality is locked by the unchanged CORRECTNESS hash and
    the guard-inactive test.
    """
    mem, sh = _rep_fingerprints(d)
    # persisted: the activation probe consumes the fingerprints once,
    # and whichever plan wins consumes them again
    sh = sh.persist()
    band_arr = F.array(
        *[
            F.shiftright(F.col("simhash"), off).bitwiseAND(F.lit((1 << w) - 1))
            for off, w in _band_layout(60)
        ]
    )
    rep_bands = sh.select(
        "doc_id", "simhash", F.posexplode(band_arr).alias("band_id", "band_val")
    )
    from datapipe_spark.util import materialize_and_release

    max_width = (
        rep_bands.groupBy("band_id", "band_val")
        .agg(F.count("*").alias("_bc"))
        .agg(F.max("_bc"))
        .first()[0]
    )
    if max_width is None or max_width <= bucket_cap:
        # fast path: no bucket can exceed the cap, so band-join the
        # text representatives directly (the pre-guard plan)
        a = rep_bands.alias("a")
        b = rep_bands.alias("b")
        rep_pairs = (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_val") == F.col("b.band_val"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("rep_a"),
                F.col("b.doc_id").alias("rep_b"),
                F.bit_count(
                    F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
                ).alias("hamming"),
            )
            .dropDuplicates(["rep_a", "rep_b"])
            .filter(F.col("hamming") <= max_hamming)
        )
        return materialize_and_release(
            _expand_rep_pairs(rep_pairs, mem, "hamming", F.lit(0)), mem, sh
        )
    GUARD_ACTIVATIONS["simhash_band_cap"] += 1
    import warnings

    warnings.warn(
        f"simhash band guard ACTIVE: widest bucket {max_width} > cap "
        f"{bucket_cap} — guarded candidate generation engaged (r7 advisory: "
        "loud marker so an oracle mismatch is traceable to the guard)",
        RuntimeWarning,
        stacklevel=2,
    )
    # SECOND collapse level — identical FINGERPRINTS (the hole in a
    # purely band-keyed guard): a near-verbatim mega-cluster (1-2-token
    # edits, so NOT collapsed by _collapse_exact) agrees on the
    # adjacent band too, so the sub-split below cannot separate it —
    # but tiny edits almost never flip a vote majority, so such
    # clusters overwhelmingly share the EXACT simhash. Group by the
    # fingerprint value, band-join one representative per distinct
    # fingerprint, and expand members back at the end —
    # output-identical (identical simhash ⟹ Hamming 0 ⟹ always a
    # pair, and cross-pair Hamming depends only on the fingerprints),
    # while a fingerprint-identical cluster of any size occupies ONE
    # band-join row. The sub-split then only has to handle buckets
    # whose members' adjacent bands genuinely vary (keyspace
    # saturation by unrelated docs), which is what it can split.
    # groupBy + join-back, not a window over simhash (the SCALING.md
    # skew swap): sh is persisted, so both sides of the join re-read
    # the cached fingerprints, and AQE can split a mega-fingerprint
    # group that a window would land in one task.
    g2 = sh.groupBy("simhash").agg(F.min("doc_id").alias("rep2"))
    sh2 = sh.join(g2, "simhash").persist()
    sreps = sh2.filter(F.col("doc_id") == F.col("rep2")).select("doc_id", "simhash")
    # combined doc-level membership keyed by the fingerprint: text-copy
    # groups (mem) composed with fingerprint groups — same (doc_id,
    # key, rep_id, gsz) shape _expand_rep_pairs consumes, keyed by the
    # neutral name ``gkey`` (the stringified fingerprint — NOT the md5
    # content hash that ``ghash`` names elsewhere). Group sizes via
    # groupBy + join-back for the same skew reason as above.
    mem2_base = mem.join(
        sh2.select(F.col("doc_id").alias("rep_id"), "rep2", "simhash"), "rep_id"
    ).select(
        "doc_id",
        F.col("simhash").cast("string").alias("gkey"),
        F.col("rep2").alias("rep_id"),
    )
    gsizes = mem2_base.groupBy("gkey").agg(F.count("*").alias("gsz"))
    mem2 = mem2_base.join(gsizes, "gkey").persist()
    bands0 = (
        sreps.withColumn("_vals", band_arr)
        .select(
            "doc_id", "simhash", "_vals",
            F.posexplode("_vals").alias("band_id", "band_val"),
        )
        .withColumn("_adj", F.expr(f"_vals[pmod(band_id + 1, {_BANDS})]"))
        .drop("_vals")
    )
    over_cap = (
        bands0.groupBy("band_id", "band_val")
        .agg(F.count("*").alias("_bc"))
        .filter(F.col("_bc") > bucket_cap)
    )
    bands = (
        bands0.join(F.broadcast(over_cap), ["band_id", "band_val"], "left")
        .withColumn(
            "sub",
            F.when(
                F.col("_bc").isNotNull(),
                F.pmod(F.col("_adj"), F.ceil(F.col("_bc") / F.lit(bucket_cap))),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        # keep _bc: the dense aggregate below reuses it as the
        # "inside an over-cap bucket" marker instead of re-joining
        # over_cap a second time
        .drop("_adj")
    )
    # guard level 3 — sub-buckets STILL wider than the cap: a dense
    # scattered cluster (distinct fingerprints within small Hamming of
    # one another, e.g. short-doc boilerplate where each edit flips a
    # few bits) agrees on the band AND the adjacent band, so the
    # sub-split above leaves it whole. All-pairs there is quadratic,
    # and the TRUE pair list of such a cluster is itself quadratic —
    # no candidate scheme can bound it — so these buckets degrade to
    # STAR candidates (every member vs the sub-bucket's min-id rep):
    # O(width) candidates, true-Hamming verified, cluster
    # CONNECTIVITY preserved for CC consumers (member–member pairs
    # surface only via other bands — a documented approximation, like
    # the sub-split's own drop set). Empty at oracle scale: the
    # aggregate below runs over rows inside over-cap buckets only.
    dense = (
        bands.filter(F.col("_bc").isNotNull())  # only over-cap buckets
        .groupBy("band_id", "band_val", "sub")
        .agg(
            F.count("*").alias("_sw"),
            F.min("doc_id").alias("_srep"),
            F.min_by("simhash", "doc_id").alias("_ssim"),
        )
        .filter(F.col("_sw") > bucket_cap)
    )
    # persisted: BOTH sides of the candidate self-join plus the star
    # arm read this frame, and its plan embeds the two guard
    # aggregates (over_cap, dense) — uncached, each consumer would
    # recompute the whole band pipeline (measured +8s at sf0.1)
    marked = bands.join(
        F.broadcast(dense), ["band_id", "band_val", "sub"], "left"
    ).persist()
    sparse = marked.filter(F.col("_sw").isNull())
    star = (
        marked.filter(F.col("_sw").isNotNull() & (F.col("doc_id") != F.col("_srep")))
        .select(
            F.col("_srep").alias("rep_a"),  # _srep = sub-bucket min id
            F.col("doc_id").alias("rep_b"),
            F.bit_count(F.col("simhash").bitwiseXOR(F.col("_ssim"))).alias("hamming"),
        )
    )
    a = sparse.alias("a")
    b = sparse.alias("b")
    rep_pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("rep_a"),
            F.col("b.doc_id").alias("rep_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .unionByName(star)
        .dropDuplicates(["rep_a", "rep_b"])
        .filter(F.col("hamming") <= max_hamming)
    )
    return materialize_and_release(
        _expand_rep_pairs(rep_pairs, mem2, "hamming", F.lit(0), key_col="gkey"),
        mem, sh, sh2, mem2, marked,
    )


# Oracle replay of the portable (md5, 60-bit) simhash pipeline: same
# shingles, base-hash parses, bit votes, packing, band layout, and
# Hamming filter. Bit ops are on positive BIGINTs in both engines.
_SIMHASH_BANDS_SQL = ", ".join(
    f"(sim >> {off}) & {(1 << w) - 1}" for off, w in _band_layout(60)
)
SIMHASH_DEDUP_SQL = f"""
WITH t AS (
  SELECT doc_id,
    CASE WHEN len(w) >= 3 THEN
      list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)])
    ELSE [] END AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
), nz AS (
  SELECT doc_id,
         [CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) for g in sh] AS hs
  FROM t WHERE len(sh) > 0
), votes AS (
  SELECT doc_id,
    [list_sum([CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END for h in hs])
     for i in range(0, 60)] AS v
  FROM nz
), sims AS (
  SELECT doc_id,
    list_sum([CASE WHEN v[i+1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END
              for i in range(0, 60)]) AS sim
  FROM votes
), bands AS (
  SELECT doc_id, sim, r.j AS band_id, bkeys[r.j + 1] AS band_key
  FROM (SELECT doc_id, sim, [{_SIMHASH_BANDS_SQL}] AS bkeys FROM sims),
       range({_BANDS}) r(j)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_key = b.band_key
 AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= 7
"""


# union-find cutover: collecting PySpark Rows costs ~100+ bytes/edge
# (Row objects + the parent dict + the result list), so 500k edges ≈
# low hundreds of MB of transient driver memory — comfortably inside a
# default driver, an order of magnitude inside this repo's 12g one.
# Bigger graphs take the distributed min-label loop.
CC_DRIVER_MAX_EDGES = 500_000


def connected_components(
    pairs: DataFrame,
    max_iters: int = 20,
    driver_max_edges: int = CC_DRIVER_MAX_EDGES,
    stats: dict | None = None,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a
    near-dup pair graph by iterative min-label propagation (the
    standard large-graph approach — each round, every node adopts the
    smallest id in its neighborhood; converges in O(cluster diameter)
    rounds, and near-dup clusters are shallow).

    Input: (doc_a, doc_b) edges. Output: (doc_id, canonical_id) with
    canonical = min doc id of the component. Each round is one
    groupBy-min shuffle on ids — no driver-side graph. Iterative
    fixpoint loops are exactly what DataFrames + a Python driver loop
    express well; checkpointless because lineage stays k hops deep.

    Adaptive cutover ("measure, don't guess"): the edge count is
    measured anyway to size the loop's shuffles; when the pair graph
    fits comfortably on the driver (≤ ``driver_max_edges`` — near-dup
    graphs are output-sized, usually tiny next to the corpus), a
    single collect + union-find replaces the multi-job loop, saving
    O(diameter) Spark rounds of fixed overhead. Both paths are
    equivalence-tested; the distributed loop remains the path for
    billion-edge graphs.

    A distributed loop that still has label changes after
    ``max_iters`` RAISES instead of returning silently-wrong clusters
    (r11: a component deeper than max_iters hops — min-label travels
    one hop per round — would otherwise split into several clusters
    with no signal; callers with genuinely deep graphs pass a larger
    ``max_iters``). ``stats``, if given, receives
    ``{"edges", "rounds", "path"}`` for scale instrumentation.
    """
    # near-dup pair graphs are far smaller than the corpus (edges ≈
    # true duplicates); size the per-iteration shuffles to the actual
    # edge count — the count doubles as cache materialization, so it
    # costs no extra job.
    # NOTE: the direction-flip union reads the `pairs` plan twice, but
    # pre-persisting it was benched as a net LOSS at sf0.1 (+2-3s):
    # both branches share the pair pipeline's shuffle exchanges
    # (ReusedExchange), so the cache adds a materialization pass
    # without removing real work.
    undirected = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .persist()  # count + repartition below both read this once-built cache
    )
    n_edges = undirected.count()
    if stats is not None:
        stats["edges"] = n_edges
    if n_edges <= driver_max_edges:
        if stats is not None:
            stats["path"] = "driver"
            stats["rounds"] = 0
        rows = undirected.collect()
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.setdefault(root, root) != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            ra, rb = find(r["src"]), find(r["dst"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        spark = pairs.sparkSession
        out = spark.createDataFrame(
            sorted((node, find(node)) for node in parent),
            "doc_id long, canonical_id long",
        )
        undirected.unpersist()
        return out
    # ~1M edges per partition keeps loop tasks meaty without starving
    # parallelism on big graphs; floor of 4 avoids single-task loops.
    # Partitioning by dst pre-aligns the cached edges with the loop's
    # join key, so only the (smaller) labels side shuffles per round.
    n_parts = max(4, min(-(-n_edges // 1_000_000), 2048))
    edges = undirected.repartition(n_parts, "dst").persist()
    # each round references `labels` TWICE (neighbor-min join + the
    # step join), so building the next labels from the previous PLAN
    # doubles the logical tree every round — by ~9 rounds the plan
    # string alone OOMed the driver (r11, found by the deep-chain
    # stress). localCheckpoint(eager) truncates lineage each round:
    # the loop's plan stays constant-size at any depth, which is the
    # property that lets the O(diameter) path run 200+ rounds.
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint(eager=True)
    )
    changed = -1
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        # carry the did-anything-change flag in the same pass — the
        # convergence probe costs an aggregate, not an extra join
        stepped = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
                (F.col("nlabel") < F.col("label")).alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = stepped.agg(F.count(F.when(F.col("_chg"), 1))).first()[0]
        labels = stepped.drop("_chg")
        if changed == 0:
            break
    if changed != 0:
        edges.unpersist()
        undirected.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            f"rounds ({changed} labels still moving): the graph has a "
            "component deeper than max_iters hops — raise max_iters "
            "rather than accept silently split clusters."
        )
    if stats is not None:
        stats["path"] = "distributed"
        stats["rounds"] = rounds
    # sever the result (small — one row per node in the pair graph)
    # sever the result from the loop caches before releasing them
    # (checkpointed label blocks are reclaimed by GC once the handle
    # drops; the persisted edge caches are released explicitly)
    from datapipe_spark.util import materialize_and_release

    return materialize_and_release(
        labels.select(F.col("id").alias("doc_id"), F.col("label").alias("canonical_id")),
        edges,
        undirected,
    )


def dedup_clusters(spark: SparkSession, sf_dir: str, graph: str = "exact") -> DataFrame:
    """Near-dup *clusters* (not just pairs): near-dup pair graph →
    connected components → per-doc canonical assignment + cluster
    size. The keep-one-per-cluster decision every dedup pipeline ends
    with.

    ``graph="exact"`` (default) clusters the exact n-gram Jaccard pair
    graph — deterministic and engine-independent, so the whole operator
    is DuckDB-oracled end-to-end (``DEDUP_CLUSTERS_SQL``: same pair CTE
    + recursive-CTE reachability closure, ``canonical = min reachable
    id``). ``graph="minhash"`` clusters the MinHash-LSH approximation
    instead — the 100 TB path, where exact pair generation is the
    bottleneck; its engine-specific hashes keep it rows-only (cluster
    structure unit-tested on crafted graphs).

    NOTE: sharing the pair graph with dedup_minhash_lsh via a persisted
    session cache was tried and benched at a net LOSS (-1.5s here,
    -0.4s there at sf0.1): .persist() forces full-column
    materialization and blocks column pruning, costing more than the
    recompute saves. Rebuilding the lazy plan is the faster path."""
    if graph == "exact":
        pairs = ngram_jaccard_pairs(spark, sf_dir)
    elif graph == "minhash":
        pairs = minhash_dedup(spark, sf_dir)
    else:  # pragma: no cover
        raise ValueError(f"unknown pair graph {graph!r}")
    comp = connected_components(pairs)
    sizes = comp.groupBy("canonical_id").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "canonical_id")
        .select(
            "doc_id",
            "canonical_id",
            "cluster_size",
            (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
        )
    )


# Connected components as a recursive reachability closure: canonical =
# min id reachable from each node. Equivalent to the engine's iterative
# min-label propagation at fixpoint; closure size is bounded by
# Σ|component|² over the (small) near-dup pair graph — fine at oracle
# scale, while the engine side scales by O(diameter) label rounds.
DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS (
{NGRAM_JACCARD_PAIRS_SQL}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, rr.r FROM edges e JOIN reach rr ON e.dst = rr.id
), comp AS (
  SELECT id AS doc_id, MIN(r) AS canonical_id FROM reach GROUP BY id
), sizes AS (
  SELECT canonical_id, COUNT(*) AS cluster_size FROM comp GROUP BY canonical_id
)
SELECT c.doc_id, c.canonical_id, s.cluster_size,
       c.doc_id <> c.canonical_id AS is_duplicate
FROM comp c JOIN sizes s USING (canonical_id)
"""


def dedup_keep_best(
    spark: SparkSession, sf_dir: str, graph: str = "exact"
) -> DataFrame:
    """Quality-ranked representative selection — the decision rule a
    curation pipeline actually ships (RefinedWeb/FineWeb-style: keep
    the BEST document per near-dup cluster, not the smallest id):
    cluster the exact n-gram Jaccard pair graph, score every document
    with a deterministic integer quality — distinct-word count, the
    documented swap-in point for a model-based scorer — and keep
    exactly one document per cluster by (quality DESC, doc_id ASC).
    Documents in no near-dup pair are singletons and keep themselves.
    One row per corpus document: ``(doc_id, cluster_id, cluster_size,
    quality, keep)``.

    Scale: pair graph + components exactly as ``dedup_clusters``
    (banded candidates, O(diameter) label rounds); the winner pick is
    one ``row_number`` window keyed by cluster_id — cluster-sized
    partitions, never a global sort; the corpus join-back is an
    equi-join on doc_id. Fully DuckDB-oracled (``DEDUP_KEEP_BEST_SQL``
    replays the closure, the quality score, and the keep rule).

    ``graph`` selects the pair graph exactly as in ``dedup_clusters``:
    ``"exact"`` (default, oracle-checkable) or ``"minhash"`` — the
    100 TB path where exact pair generation is the bottleneck
    (engine-specific hashes ⟹ keep it out of the hash oracle; verdict
    structure is behavior-tested instead).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.array_distinct(F.split("text", " "))).cast("long").alias("quality"),
    )
    if graph == "exact":
        pairs = ngram_jaccard_pairs(spark, sf_dir)
    elif graph == "minhash":
        pairs = minhash_dedup(spark, sf_dir)
    else:  # pragma: no cover
        raise ValueError(f"unknown pair graph {graph!r}")
    comp = connected_components(pairs)
    full = docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("canonical_id", "doc_id").alias("cluster_id"),
        "quality",
    )
    sizes = full.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        full.join(sizes, "cluster_id")
        .withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "cluster_size", "quality", "keep")
    )


DEDUP_KEEP_BEST_SQL = f"""
WITH RECURSIVE pairs AS (
{NGRAM_JACCARD_PAIRS_SQL}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, rr.r FROM edges e JOIN reach rr ON e.dst = rr.id
), comp AS (
  SELECT id AS doc_id, MIN(r) AS canonical_id FROM reach GROUP BY id
), q AS (
  SELECT doc_id,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS quality
  FROM documents
), allq AS (
  SELECT q.doc_id, COALESCE(c.canonical_id, q.doc_id) AS cluster_id, q.quality
  FROM q LEFT JOIN comp c ON c.doc_id = q.doc_id
), sizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM allq GROUP BY cluster_id
)
SELECT a.doc_id, a.cluster_id, s.cluster_size, a.quality,
       (ROW_NUMBER() OVER (
          PARTITION BY a.cluster_id ORDER BY a.quality DESC, a.doc_id
        ) = 1) AS keep
FROM allq a JOIN sizes s USING (cluster_id)
"""


# ---------------------------------------------------------------------------
# Substring-level dedup (verbatim shared spans)
# ---------------------------------------------------------------------------

DUP_SPAN_K = 8  # minimum verbatim run, in tokens


def substring_dup_spans(spark: SparkSession, sf_dir: str, k: int = DUP_SPAN_K) -> DataFrame:
    """Verbatim substring dedup: maximal token spans that appear
    word-for-word in ≥ 2 documents (the substring-granular complement
    to the document-level dedups — boilerplate, license headers, and
    quoted passages duplicate at span level long before whole
    documents do).

    Suffix-array semantics approximated the Spark-native way:
    positional k-token grams (md5 — portable, so the whole operator is
    DuckDB-oracled) → gram-frequency filter (a gram kept iff it occurs
    in ≥ 2 distinct docs) → per-doc gap-and-island merge of surviving
    gram positions into maximal spans (adjacent/overlapping gram
    coverage fuses, same lag+running-sum shape as sessionize).

    Scale: the positional gram table is O(total tokens) — linear, the
    unavoidable term — shuffled once on the gram hash for the
    frequency filter (map-side partial agg), joined back on the same
    key, then one shuffle on doc_id for the island merge. No pairwise
    comparison anywhere: cost is independent of how many documents
    share a span. At 100 TB the frequency filter is the workhorse —
    unique grams drop out at the first aggregate and never reach the
    join.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return substring_dup_spans_frame(d, k)


def substring_dup_spans_frame(d: DataFrame, k: int = DUP_SPAN_K) -> DataFrame:
    """Span detection over any (doc_id, text) frame — see
    ``substring_dup_spans`` for semantics and scale notes."""
    # Positional k-gram strings via the zip-with-shifts chain (same
    # construction as ``_shingles`` but position-preserving: zip-null
    # padding puts the NULLs at the TAIL, so the filter keeps prefix
    # positions 1..n-k+1 intact). r5: the hash moved OUT of the array
    # lambda — higher-order functions execute interpreted, and
    # md5-per-element inside `transform` was ~2.6× slower than
    # exploding the gram strings and hashing them in whole-stage
    # codegen (measured 2.25 s → 0.85 s for the gram table at sf0.1);
    # still map-only, no new shuffle.
    # Digests parsed to 60-bit ints (the same portable parse as
    # minhash): the frequency filter and join shuffle 8-byte keys
    # instead of 32-char strings, and DuckDB reproduces the value
    # bit-for-bit.
    w_arr = "split(text, ' ')"
    chain = w_arr
    for j in range(1, k):
        shifted = f"slice({w_arr}, {j + 1}, greatest(size({w_arr}) - {j}, 0))"
        chain = f"zip_with({chain}, {shifted}, (x, y) -> concat(x, ' ', y))"
    gram_strings = F.expr(f"filter({chain}, x -> x IS NOT NULL)")
    occ = (
        d.filter(F.size(F.split("text", " ")) >= k)
        .select("doc_id", F.posexplode(gram_strings).alias("_p0", "_gs"))
        .select(
            "doc_id",
            (F.col("_p0") + 1).cast("long").alias("pos"),
            F.expr(_hash_expr("_gs")).alias("gram"),
        )
        # consumed by the frequency filter AND the join-back: cache the
        # positional gram table instead of hashing the corpus twice
        .persist()
    )
    dup_grams = (
        occ.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("gram")
    )
    hits = occ.join(dup_grams, "gram").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = hits.withColumn(
        "_new",
        F.when(F.col("pos") > F.lag("pos").over(w) + k, 1).otherwise(0),
    ).withColumn(
        "island", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    from datapipe_spark.util import materialize_and_release

    return materialize_and_release(
        flagged.groupBy("doc_id", "island")
        .agg(F.min("pos").alias("_lo"), F.max("pos").alias("_hi"), F.count("*").alias("n_grams"))
        .select(
            "doc_id",
            F.col("_lo").alias("span_start"),
            (F.col("_hi") + k - 1).alias("span_end"),
            (F.col("_hi") + k - F.col("_lo")).alias("span_tokens"),
            "n_grams",
        ),
        occ,
    )


_SPAN_GRAM = "CAST(('0x' || substring(md5(concat_ws(' ', " + ", ".join(
    f"w[i+{r}]" for r in range(DUP_SPAN_K)
) + ")), 1, 15)) AS BIGINT)"
SUBSTRING_DUP_SPANS_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), g AS (
  SELECT doc_id,
    [{_SPAN_GRAM} for i in range(1, len(w) - {DUP_SPAN_K} + 2)] AS grams
  FROM t WHERE len(w) >= {DUP_SPAN_K}
), occ AS (
  SELECT doc_id, unnest(grams) AS gram,
         unnest(range(1, len(grams) + 1)) AS pos
  FROM g
), dup AS (
  SELECT gram FROM occ GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
), hits AS (
  SELECT o.doc_id, o.pos FROM occ o JOIN dup d USING (gram)
), flagged AS (
  SELECT doc_id, pos,
    CASE WHEN pos > LAG(pos) OVER w + {DUP_SPAN_K} THEN 1 ELSE 0 END AS new_island
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), numbered AS (
  SELECT doc_id, pos,
    SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
)
SELECT doc_id, MIN(pos) AS span_start,
       MAX(pos) + {DUP_SPAN_K} - 1 AS span_end,
       MAX(pos) + {DUP_SPAN_K} - MIN(pos) AS span_tokens,
       COUNT(*) AS n_grams
FROM numbered GROUP BY doc_id, island
"""
