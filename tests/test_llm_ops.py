"""Training-data operators: oracle parity where SQL-expressible,
property tests for the probabilistic/engine-hash paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapipe_spark.operators import (
    decontam,
    dedup,
    journal,
    multimodal,
    scrub,
    similarity,
    textstats,
    tombstones,
)
from tests.oracle import compare_to_oracle

ORACLE_CASES = [
    (scrub.pii_scrub, scrub.PII_SCRUB_SQL),
    (scrub.repetition_stats, scrub.REPETITION_STATS_SQL),
    (dedup.exact_dedup, dedup.EXACT_DEDUP_SQL),
    (dedup.dedup_stats_by_source, dedup.DEDUP_STATS_BY_SOURCE_SQL),
    (dedup.ngram_jaccard_pairs, dedup.NGRAM_JACCARD_PAIRS_SQL),
    (dedup.dedup_cross_corpus, dedup.DEDUP_CROSS_CORPUS_SQL),
    (dedup.dedup_cross_corpus_minhash, dedup.DEDUP_CROSS_CORPUS_MINHASH_SQL),
    (dedup.dedup_pipeline, dedup.DEDUP_PIPELINE_SQL),
    (similarity.topk_bruteforce, similarity.TOPK_BRUTEFORCE_SQL),
    (similarity.embedding_near_dup, similarity.EMBEDDING_NEAR_DUP_SQL),
    (textstats.text_stats, textstats.TEXT_STATS_SQL),
    (textstats.unigram_logprob_score, textstats.UNIGRAM_LOGPROB_SCORE_SQL),
    (textstats.featurize_documents, textstats.FEATURIZE_DOCUMENTS_SQL),
    (textstats.gopher_quality_flags, textstats.GOPHER_QUALITY_FLAGS_SQL),
    (textstats.token_profile_by_lang, textstats.TOKEN_PROFILE_BY_LANG_SQL),
    (decontam.decontaminate, decontam.DECONTAMINATE_SQL),
    (decontam.corpus_sample_stratified, decontam.CORPUS_SAMPLE_STRATIFIED_SQL),
    (decontam.pack_token_budget, decontam.PACK_TOKEN_BUDGET_SQL),
    (decontam.corpus_mix_domains, decontam.CORPUS_MIX_DOMAINS_SQL),
    (decontam.curation_pipeline, decontam.CURATION_PIPELINE_SQL),
    (decontam.corpus_train_shards, decontam.CORPUS_TRAIN_SHARDS_SQL),
]


@pytest.mark.parametrize("fn,sql", ORACLE_CASES, ids=[c[0].__name__ for c in ORACLE_CASES])
def test_matches_oracle(spark, sf_dir, fn, sql):
    compare_to_oracle(spark, fn, sql, sf_dir)


def test_exact_dedup_finds_planted_duplicates(spark, sf_dir):
    """Union the corpus with relabeled copies → every copy must point
    at its original as canonical."""
    from datapipe_spark.sources.tables import load_table
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    dup = d.filter(F.col("doc_id") < 20).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = d.unionByName(dup)
    w = Window.partitionBy("text")
    decided = both.select(
        "doc_id",
        F.min("doc_id").over(w).alias("canonical_id"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_duplicate"),
    )
    dups = decided.filter("is_duplicate").collect()
    assert len(dups) == 20
    assert all(r["doc_id"] == r["canonical_id"] + 1_000_000 for r in dups)


def test_cross_corpus_exact_probe(spark):
    """Batch docs matching a corpus text exactly resolve to the min
    corpus doc_id; non-matching batch docs keep NULL / in_corpus=False;
    corpus rows never appear in the output."""
    rows = [
        (1, "alpha beta gamma", "src0", False),
        (2, "alpha beta gamma", "src1", False),   # same text, higher id
        (3, "delta epsilon zeta", "src2", False),
        (10, "alpha beta gamma", "src3", True),   # exact hit -> canonical 1
        (11, "eta theta iota", "src3", True),     # miss
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source", "is_new"])
    out = {r["doc_id"]: r for r in dedup.cross_corpus_frame(docs).collect()}
    assert set(out) == {10, 11}
    assert out[10]["in_corpus"] and out[10]["corpus_canonical"] == 1
    assert not out[11]["in_corpus"] and out[11]["corpus_canonical"] is None


def test_dedup_pipeline_stage_invariants(spark, sf_dir):
    """Staged decision invariants: one row per document; exact_dup
    canonicals are the md5-group minima; near_dup docs point at a
    lower-id EXACT SURVIVOR (under the greedy min-id rule a chain
    A~B~C without A~C legitimately makes B's own status near_dup, so
    "kept" is not required of a canonical — only survivor-hood);
    kept docs carry a NULL canonical. Together these pin the stage
    precedence (exact collapse decides first, LSH only sees
    survivors)."""
    from datapipe_spark.sources.tables import load_table

    out = {r["doc_id"]: r for r in dedup.dedup_pipeline(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    assert len(out) == docs.count()

    by_status: dict[str, set[int]] = {"kept": set(), "exact_dup": set(), "near_dup": set()}
    for r in out.values():
        by_status[r["status"]].add(r["doc_id"])
        if r["status"] == "kept":
            assert r["canonical_id"] is None
        else:
            assert r["canonical_id"] is not None and r["canonical_id"] < r["doc_id"]

    # exact_dup canonicals are md5-group minima, and every canonical is
    # itself NOT an exact_dup (it is the group min)
    groups = docs.select("doc_id", F.md5("text").alias("h")).groupBy("h").agg(
        F.collect_list("doc_id").alias("ids")
    ).collect()
    expected_exact = set()
    for g in groups:
        mn = min(g["ids"])
        for i in g["ids"]:
            if i != mn:
                expected_exact.add(i)
                assert out[i]["canonical_id"] == mn
    assert by_status["exact_dup"] == expected_exact
    for d in by_status["near_dup"]:
        canon = out[d]["canonical_id"]
        assert out[canon]["status"] != "exact_dup", (d, canon, out[canon]["status"])


def test_cross_corpus_minhash_flags_planted_batch_dups(spark):
    """An incoming batch holding a verbatim copy and a lightly-edited
    near-copy of corpus docs must match both back to the corpus doc;
    an unrelated batch doc must not match; within-corpus and
    within-batch near-pairs must never appear in the output."""
    base = "the quick brown fox jumps over the lazy dog while seventeen startled geese watch from the fence"
    rows = [
        (1, base, False),                       # corpus original
        (2, base.replace("seventeen", "nine"), False),  # within-corpus near-dup
        (3, "completely unrelated corpus text about submarine maintenance schedules and torque wrenches", False),
        (10, base, True),                       # batch: verbatim copy of 1
        (11, base + " tonight", True),          # batch: near-copy of 1
        (12, "equally unrelated batch text describing volcanic soil chemistry in great detail", True),
        (13, base + " tonight", True),          # batch: verbatim copy of 11 (within-batch)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "is_new"])
    out = {
        (r["new_doc_id"], r["corpus_doc_id"]): r["jaccard"]
        for r in dedup.cross_corpus_minhash_frame(docs).collect()
    }
    assert out[(10, 1)] == 1.0
    assert (11, 1) in out and out[(11, 1)] >= 0.8
    assert (13, 1) in out
    assert all(new in (10, 11, 13) and cor in (1, 2) for new, cor in out)
    assert not any(new == 12 for new, _ in out)


def test_minhash_recall_vs_exact_jaccard(spark, sf_dir):
    """LSH candidates must recover every true near-dup pair (banding
    gives ≈99% recall at j≥0.8; planted pairs are j≥0.95 → certain)."""
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    assert truth, "testdata should contain planted near-dup pairs"
    found = {
        (r["doc_a"], r["doc_b"]) for r in dedup.minhash_dedup(spark, sf_dir).collect()
    }
    assert truth <= found  # jaccard-verified candidates ⊇ exact pairs
    # and LSH must not hallucinate: every reported pair passed the
    # exact-jaccard verifier, so found == truth when blocking is loose
    assert found == truth


def test_simhash_finds_planted_near_dups(spark, sf_dir):
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    found = {
        (r["doc_a"], r["doc_b"]) for r in dedup.simhash_dedup(spark, sf_dir).collect()
    }
    # simhash recall degrades on very short docs (documented); require
    # >= 85% recall on the planted near-dup pairs (minhash is the
    # recall anchor at 100%), and high precision: every reported pair
    # must be a true near-dup under the exact-jaccard anchor or at
    # least share most shingles
    recall = len(truth & found) / len(truth)
    assert recall >= 0.85, (recall, truth - found)
    precision = len(truth & found) / max(len(found), 1)
    assert precision >= 0.8, (precision, found - truth)


def test_ivf_full_probe_equals_bruteforce(spark, sf_dir):
    """nprobe = nlist ⇒ IVF must equal brute force exactly (nlist
    pinned so the probe count provably covers every learned cell)."""
    nlist = 10
    bf = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.topk_bruteforce(spark, sf_dir).collect()
    }
    ivf = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.topk_ivf(spark, sf_dir, nprobe=nlist, nlist=nlist).collect()
    }
    assert bf == ivf


def test_ivf_partial_probe_subset(spark, sf_dir):
    """nprobe < nlist results are drawn from probed cells only and
    ranked identically where they overlap brute force."""
    bf = similarity.topk_bruteforce(spark, sf_dir).collect()
    ivf = similarity.topk_ivf(spark, sf_dir, nprobe=3).collect()
    assert len(ivf) > 0
    bf_pairs = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in bf}
    for r in ivf:
        key = (r["query_id"], r["neighbor_id"])
        if key in bf_pairs:
            assert abs(bf_pairs[key] - r["cosine"]) < 1e-9


def test_ivf_recall_floors(spark, sf_dir):
    """r6 gate (verdict ask #5): recall vs brute force must stay above
    pinned floors — a quantizer regression that silently halves recall
    fails HERE, not just in a bench-artifact diff. Also pins the
    nprobe trade: doubling probes (3→6) must reach the documented
    higher-accuracy operating point.

    Floors are scale-specific — measured r6 on the sf0.001 test
    corpus: nprobe=3 → 0.74, nprobe=6 → 0.86 (sf0.01: 0.86/0.92;
    bench.py gates the sf0.1 floors). Each floor sits just under its
    measured value so only a real regression trips it."""
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.topk_bruteforce(spark, sf_dir).collect()
    }
    for nprobe, floor in ((3, 0.70), (6, 0.82)):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.topk_ivf(spark, sf_dir, nprobe=nprobe).collect()
        }
        recall = len(bf & got) / len(bf)
        assert recall >= floor, f"ivf nprobe={nprobe} recall {recall:.3f} < {floor}"


def test_ivf_persisted_index_equals_inline(spark, sf_dir):
    """build_ivf_index / topk_ivf_index — the build-once/probe-many
    split: probing the persisted index must return exactly the inline
    topk_ivf result (same deterministic quantizer), and the probe scan
    must partition-prune to the probed qcell= directories."""
    import os

    from datapipe_spark.util import fresh_dir

    idx_dir = fresh_dir("test_ivf_index")
    meta = similarity.build_ivf_index(spark, sf_dir, idx_dir, nlist=10)
    assert meta["nlist"] == 10 and meta["n_vecs"] > 0
    cells = sorted(
        d for d in os.listdir(os.path.join(idx_dir, "cells")) if d.startswith("qcell=")
    )
    assert 1 < len(cells) <= 10

    out = similarity.topk_ivf_index(spark, sf_dir, idx_dir, nprobe=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "qcell" in plan.split("PartitionFilters")[1][:300]
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, similarity.topk_ivf(spark, sf_dir, nprobe=3, nlist=10).collect()))
    assert got == want

    # incremental add: a planted near-copy of query 0's vector goes to
    # its cell partition under the frozen quantizer and becomes the
    # top-1 neighbor — no retrain, no index rewrite
    v0 = (
        similarity.load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select(similarity._as_double("embedding").alias("v"))
        .first()["v"]
    )
    planted = spark.createDataFrame(
        [(10_000, [x * 1.0001 + 1e-7 for x in v0])], "vec_id long, v array<double>"
    )
    similarity.append_ivf_index(spark, idx_dir, planted)
    after = similarity.topk_ivf_index(spark, sf_dir, idx_dir, nprobe=3).filter(
        F.col("query_id") == 0
    )
    top = after.orderBy("rank").first()
    assert top["neighbor_id"] == 10_000 and top["cosine"] >= 0.9999


def test_compact_ivf_index_preserves_probe_and_layout(spark, sf_dir):
    """IVF index compaction after fragmenting appends must cut file
    counts, keep the qcell= hive layout (probe still partition-prunes),
    leave the frozen quantizer untouched, and return the byte-identical
    probe result."""
    import os

    from datapipe_spark.util import fresh_dir

    idx_dir = fresh_dir("test_ivf_index_compact")
    similarity.build_ivf_index(spark, sf_dir, idx_dir, nlist=10)
    # several 1-row appends fragment the touched cell partitions
    base = (
        similarity.load_table(spark, sf_dir, "embeddings")
        .limit(3)
        .select("vec_id", similarity._as_double("embedding").alias("v"))
        .collect()
    )
    for j, r in enumerate(base):
        similarity.append_ivf_index(
            spark,
            idx_dir,
            spark.createDataFrame(
                [(20_000 + j, [x * 1.0001 + 1e-7 for x in r["v"]])],
                "vec_id long, v array<double>",
            ),
        )
    cent_before = sorted(
        map(tuple, spark.read.parquet(idx_dir + "/centroids").collect())
    )
    probe_before = sorted(
        map(tuple, similarity.topk_ivf_index(spark, sf_dir, idx_dir, nprobe=3).collect())
    )
    from datapipe_spark.operators.maintenance import parquet_file_count

    before, after = similarity.compact_ivf_index(spark, idx_dir)
    assert parquet_file_count(idx_dir + "/cells") == after
    assert after < before
    # hive layout intact and probe still partition-prunes + matches
    assert any(d.startswith("qcell=") for d in os.listdir(idx_dir + "/cells"))
    out = similarity.topk_ivf_index(spark, sf_dir, idx_dir, nprobe=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "qcell" in plan.split("PartitionFilters")[1][:300]
    assert sorted(map(tuple, out.collect())) == probe_before
    assert (
        sorted(map(tuple, spark.read.parquet(idx_dir + "/centroids").collect()))
        == cent_before
    )


def test_lang_id_output_shape(spark, sf_dir):
    out = textstats.lang_id_ngram(spark, sf_dir)
    rows = out.collect()
    langs = {"en", "de", "fr", "es", "zh"}
    assert len(rows) == out.select("doc_id").distinct().count()
    assert all(r["predicted_lang"] in langs for r in rows)


def test_lang_id_separates_disjoint_vocabularies(spark):
    """The hashed-trigram centroid scorer must classify perfectly when
    languages share no character trigrams — the property that survives
    the vectorized (bincount + matmul) rewrite."""
    rows = []
    for i in range(40):
        rows.append((i, "aa", f"alpha bravo delta echo alpha bravo {i % 7} delta echo"))
        rows.append((100 + i, "zz", f"zulu xray quebec victor zulu xray {i % 7} quebec victor"))
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = textstats.lang_id_ngram_frame(d).collect()
    # digits appear in both vocabularies; everything else is disjoint
    assert all(r["lang_match"] for r in out), [
        (r["doc_id"], r["lang"], r["predicted_lang"]) for r in out if not r["lang_match"]
    ]


def test_winnow_fingerprints_detect_near_dups(spark, sf_dir):
    """Planted near-dup docs must share a large fraction of winnowing
    fingerprints."""
    truth = dedup.ngram_jaccard_pairs(spark, sf_dir).collect()
    fps = {
        r["doc_id"]: set(r["fingerprints"].split(","))
        for r in textstats.winnow_fingerprints(spark, sf_dir).collect()
    }
    for pair in truth:
        a, b = fps[pair["doc_a"]], fps[pair["doc_b"]]
        overlap = len(a & b) / max(len(a | b), 1)
        assert overlap > 0.5, (pair, overlap)


def test_multimodal_pipeline(spark, sf_dir):
    media = multimodal.with_binary_payload(spark, sf_dir)
    feats = multimodal.extract_features(media).collect()
    assert all(len(r["features"]) == multimodal.FEATURE_DIM for r in feats)
    assert all(r["byte_len"] > 0 for r in feats)
    chunks = multimodal.chunk_payloads(media, chunk_bytes=100)
    joined = (
        chunks.groupBy("doc_id").agg(F.sum("chunk_len").alias("total"))
        .join(media.select("doc_id", F.length("content").alias("blen")), "doc_id")
    )
    assert joined.filter("total != blen").count() == 0


def test_decode_media_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"xx", "image/png")


def test_connected_components_on_crafted_graph(spark):
    from datapipe_spark.operators.dedup import connected_components

    # two chains and one isolated pair: {1-2-3-4}, {10-11}, {20-21-22}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        "doc_a long, doc_b long",
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    got = {
        r["doc_id"]: r["canonical_id"] for r in connected_components(pairs).collect()
    }
    assert got == want
    # the distributed min-label loop (the big-graph path) must agree
    # with the driver union-find cutover exactly
    dist = {
        r["doc_id"]: r["canonical_id"]
        for r in connected_components(pairs, driver_max_edges=0).collect()
    }
    assert dist == want


def test_connected_components_distributed_rounds_gate_and_guard(spark):
    """r10 verdict ask #6: the distributed min-label loop's round
    count is gated at O(diameter) for a fixed-diameter graph (min
    label travels one hop per round, plus the confirmation round), and
    a graph DEEPER than max_iters raises instead of returning silently
    split clusters."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from datapipe_spark.operators.dedup import connected_components

    def chains(n_chains, depth):
        return (
            spark.range(n_chains)
            .select(
                F.explode(F.expr(f"sequence(0, {depth - 1})")).alias("pos"),
                "id",
            )
            .select(
                (F.col("id") * 1000 + F.col("pos")).alias("doc_a"),
                (F.col("id") * 1000 + F.col("pos") + 1).alias("doc_b"),
            )
        )

    stats: dict = {}
    out = connected_components(
        chains(20, 8), max_iters=20, driver_max_edges=0, stats=stats
    )
    assert out.filter("canonical_id % 1000 != 0").count() == 0
    assert stats["path"] == "distributed"
    # depth-8 chains: 8 propagation rounds + 1 confirmation, no more
    assert stats["rounds"] <= 9, stats

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chains(2, 30), max_iters=5, driver_max_edges=0)


def test_dedup_clusters_minhash_consistent_with_pairs(spark, sf_dir):
    """The minhash-graph clustering path (the 100 TB scale path; the
    registry's default exact-graph path is DuckDB-oracled)."""
    from datapipe_spark.operators.dedup import dedup_clusters, minhash_dedup

    clusters = dedup_clusters(spark, sf_dir, graph="minhash")
    rows = clusters.collect()
    by_id = {r["doc_id"]: r for r in rows}
    # every paired doc appears; canonical is the min id of its cluster
    for p in minhash_dedup(spark, sf_dir).collect():
        assert p["doc_a"] in by_id and p["doc_b"] in by_id
        assert by_id[p["doc_a"]]["canonical_id"] == by_id[p["doc_b"]]["canonical_id"]
    for r in rows:
        assert r["canonical_id"] <= r["doc_id"]
        assert r["is_duplicate"] == (r["doc_id"] != r["canonical_id"])


def test_dedup_clusters_exact_matches_oracle(spark, sf_dir):
    from datapipe_spark.operators.dedup import DEDUP_CLUSTERS_SQL, dedup_clusters

    compare_to_oracle(spark, dedup_clusters, DEDUP_CLUSTERS_SQL, sf_dir)


def test_knn_join_shape_and_ordering(spark, sf_dir):
    import pyspark.sql.functions as F

    from datapipe_spark.operators.similarity import KNN_JOIN_K, knn_join_ivf
    from datapipe_spark.sources.tables import load_table

    knn = knn_join_ivf(spark, sf_dir)
    per_q = knn.groupBy("vec_id").agg(
        F.count("*").alias("n"),
        F.max("rank").alias("max_rank"),
        F.count(F.when(F.col("neighbor_id") == F.col("vec_id"), 1)).alias("self_hits"),
    )
    bad = per_q.filter(
        (F.col("n") > KNN_JOIN_K) | (F.col("n") != F.col("max_rank")) | (F.col("self_hits") > 0)
    )
    assert bad.count() == 0
    # multi-probe (nprobe >= 2): EVERY vector reaches a non-self
    # neighbor (its second probed cell holds only non-self vectors)
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert knn.select("vec_id").distinct().count() == n_vecs
    # cell-local nprobe=1 covers a subset of the multi-probe queries
    from datapipe_spark.operators.similarity import knn_join_ivf as kj

    ids1 = {r["vec_id"] for r in kj(spark, sf_dir, nprobe=1).select("vec_id").distinct().collect()}
    ids2 = {r["vec_id"] for r in knn.select("vec_id").distinct().collect()}
    assert ids1 <= ids2
    # rank 1 has the max cosine per query
    r1 = knn.filter(F.col("rank") == 1).select("vec_id", F.col("cosine").alias("c1"))
    mx = knn.groupBy("vec_id").agg(F.max("cosine").alias("cm"))
    assert r1.join(mx, "vec_id").filter(F.col("c1") != F.col("cm")).count() == 0


def test_knn_join_block_split_equivalence(spark, sf_dir):
    """Forcing multi-block cells (tiny block cap) must reproduce the
    single-batch result exactly — the block-local top-k union provably
    contains the global top-k, and the final window re-ranks it."""
    from datapipe_spark.operators.similarity import knn_join_ivf

    whole = {tuple(r) for r in knn_join_ivf(spark, sf_dir).collect()}
    split = {tuple(r) for r in knn_join_ivf(spark, sf_dir, block_rows=37).collect()}
    assert split == whole


def test_corpus_mix_hits_exact_quotas(spark, sf_dir):
    """Every domain's kept count equals floor(w_s·T/W) with T the
    binding budget — the mixture is exact, not approximate — and the
    per-domain selection is the deterministic md5-order prefix."""
    from datapipe_spark.operators.decontam import (
        _MIX_DEFAULT_W,
        _MIX_WEIGHTS,
        corpus_mix_domains,
    )
    from datapipe_spark.sources.tables import load_table

    out = corpus_mix_domains(spark, sf_dir)
    kept = {
        (r["source"],): r["cnt"]
        for r in out.groupBy("source").agg(F.count("*").alias("cnt")).collect()
    }
    counts = {
        r["source"]: r["cnt"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    w = {s: _MIX_WEIGHTS.get(s, _MIX_DEFAULT_W) for s in counts}
    W = sum(w.values())
    T = min(n * W // w[s] for s, n in counts.items())
    for s, n in counts.items():
        want = w[s] * T // W
        assert kept.get((s,), 0) == want, (s, kept.get((s,)), want)
    # determinism: two runs select the same doc ids
    ids1 = {r["doc_id"] for r in out.collect()}
    ids2 = {r["doc_id"] for r in corpus_mix_domains(spark, sf_dir).collect()}
    assert ids1 == ids2


def test_pq_exact_when_codebook_covers_subvectors(spark, tmp_path):
    """PQ's correctness anchor: when every distinct subvector is its
    own centroid (ncodes ≥ distinct sample rows), reconstruction is
    lossless and the ADC top-k equals brute-force cosine top-k."""
    import numpy as np

    from datapipe_spark.operators.similarity import topk_bruteforce, topk_pq

    rng = [((i * 2654435761) % 2**32) / 2**32 for i in range(100 * 16)]
    rows = [
        (i, [float(rng[i * 16 + j] - 0.5) for j in range(16)], 0)
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    path = str(tmp_path / "emb")
    df.write.parquet(path + "/embeddings.parquet")

    bf = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in topk_bruteforce(spark, path, k=5, query_ids=(0, 1, 2)).collect()
    }
    pq = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in topk_pq(
            spark, path, k=5, query_ids=(0, 1, 2), m=4, ncodes=128
        ).collect()
    }
    # neighbor SETS per query must match (ranks may swap only on exact
    # fp ties, which the random corpus doesn't produce)
    for q in (0, 1, 2):
        assert {v for (qq, _), v in bf.items() if qq == q} == {
            v for (qq, _), v in pq.items() if qq == q
        }


def test_pq_recall_and_code_shape(spark, sf_dir):
    """8-byte codes must recover most of the exact top-k on the real
    corpus (64-dim near-uniform data, m=8×8 bits), and the code arrays
    carry exactly m entries in [0, ncodes)."""
    from datapipe_spark.operators.similarity import (
        DEFAULT_QUERY_IDS,
        PQ_M,
        PQ_NCODES,
        topk_bruteforce,
        topk_pq,
    )

    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_bruteforce(spark, sf_dir).collect()
    }
    pq_df = topk_pq(spark, sf_dir)
    pq = {(r["query_id"], r["neighbor_id"]) for r in pq_df.collect()}
    recall = len(bf & pq) / len(bf)
    assert recall >= 0.9, f"PQ recall {recall:.2f}"
    per_q = pq_df.groupBy("query_id").count().collect()
    assert {r["query_id"] for r in per_q} == set(DEFAULT_QUERY_IDS)


def test_knn_join_ivfpq_tracks_raw_vector_join(spark, sf_dir):
    """The PQ-compressed join shares knn_join_ivf's probe structure,
    so the pair-set delta at equal nprobe isolates ADC shortlist loss
    — must stay ≥95% (measured 98.2%) — and the exact refine means
    every returned cosine equals the raw-vector join's where pairs
    coincide. Structure: ≤k per query, no self-pairs, dense ranks."""
    from datapipe_spark.operators.similarity import (
        KNN_JOIN_K,
        knn_join_ivf,
        knn_join_ivfpq,
    )

    ivf = {
        (r["vec_id"], r["neighbor_id"]): r["cosine"]
        for r in knn_join_ivf(spark, sf_dir).collect()
    }
    pq_df = knn_join_ivfpq(spark, sf_dir)
    pq = {(r["vec_id"], r["neighbor_id"]): r["cosine"] for r in pq_df.collect()}
    overlap = len(ivf.keys() & pq.keys()) / len(ivf)
    assert overlap >= 0.95, f"PQ-vs-raw pair agreement {overlap:.3f}"
    # the two paths compute cosine differently (BLAS matmul on
    # pre-normalized rows vs Spark's sequential fold on raw vectors)
    # and each rounds to 6 decimals independently — a true value near
    # a 0.5e-6 rounding midpoint can legitimately land one quantum
    # apart, so compare at the rounding quantum, not exact equality
    for key in ivf.keys() & pq.keys():
        assert abs(ivf[key] - pq[key]) <= 1.000001e-6
    per_q = pq_df.groupBy("vec_id").agg(
        F.count("*").alias("n"),
        F.max("rank").alias("mr"),
        F.count(F.when(F.col("neighbor_id") == F.col("vec_id"), 1)).alias("self"),
    )
    bad = per_q.filter(
        (F.col("n") > KNN_JOIN_K) | (F.col("n") != F.col("mr")) | (F.col("self") > 0)
    )
    assert bad.count() == 0


def test_semantic_dedup_clusters_match_oracle(spark, sf_dir):
    from datapipe_spark.operators.similarity import (
        SEMANTIC_DEDUP_CLUSTERS_SQL,
        semantic_dedup_clusters,
    )

    compare_to_oracle(
        spark, semantic_dedup_clusters, SEMANTIC_DEDUP_CLUSTERS_SQL, sf_dir
    )


def test_semantic_dedup_covers_every_vector(spark, sf_dir):
    """One row per corpus vector; paired vectors share canonicals;
    singletons are their own canonical."""
    from datapipe_spark.operators.similarity import (
        embedding_near_dup,
        semantic_dedup_clusters,
    )
    from datapipe_spark.sources.tables import load_table

    out = semantic_dedup_clusters(spark, sf_dir)
    rows = {r["vec_id"]: r for r in out.collect()}
    assert len(rows) == load_table(spark, sf_dir, "embeddings").count()
    for p in embedding_near_dup(spark, sf_dir).collect():
        assert rows[p["vec_a"]]["canonical_id"] == rows[p["vec_b"]]["canonical_id"]
    for r in rows.values():
        assert (r["cluster_size"] == 1) == (
            r["canonical_id"] == r["vec_id"] and not r["is_duplicate"]
            and sum(
                1 for x in rows.values() if x["canonical_id"] == r["canonical_id"]
            ) == 1
        )


def test_semantic_dedup_ann_refines_exact_clusters(spark, sf_dir):
    """The ANN (SemDeDup-style) variant's edges are kNN pairs with
    EXACT cosine ≥ threshold, i.e. a subset of the exact variant's
    pair set — so its clustering must be a refinement of the exact
    clustering: every ANN cluster sits inside one exact cluster, every
    ANN-flagged duplicate is an exact-flagged duplicate, and (since
    near-dup groups are edge-dense, truncation to top-k rarely cuts
    connectivity) it must recover most exact duplicates."""
    from datapipe_spark.operators.similarity import (
        semantic_dedup_clusters,
        semantic_dedup_clusters_ann,
    )

    exact = {r["vec_id"]: r for r in semantic_dedup_clusters(spark, sf_dir).collect()}
    ann_df = semantic_dedup_clusters_ann(spark, sf_dir)
    ann = {r["vec_id"]: r for r in ann_df.collect()}
    assert set(ann) == set(exact)  # one row per corpus vector
    for v, r in ann.items():
        assert r["canonical_id"] <= v  # min-label canonical
        # refinement: an ANN cluster never spans two exact clusters
        assert (
            exact[r["canonical_id"]]["canonical_id"] == exact[v]["canonical_id"]
        ), f"ANN cluster of {v} bridges exact clusters"
        if r["is_duplicate"]:
            assert exact[v]["is_duplicate"]
    exact_dups = sum(1 for r in exact.values() if r["is_duplicate"])
    ann_dups = sum(1 for r in ann.values() if r["is_duplicate"])
    assert ann_dups >= 0.75 * exact_dups, f"{ann_dups}/{exact_dups} duplicates recovered"


def test_knn_join_multiprobe_recall(spark, sf_dir):
    """Two recall properties of the learned-quantizer multi-probe IVF:
    (1) strong pairs — the exact embedding_near_dup truth (cos ≥ 0.4;
    the testdata has NO tighter pairs, so these weakly-correlated
    points in d=64 noise are the hardest realistic target) must be
    recovered as kNN neighbors in ≥75% of cases at the default
    nprobe=4 — far above the ~33% random-coverage baseline
    (1-(1-npx/nlist)² with npx=4, nlist=22 at sf0.01), i.e. the
    learned cells genuinely concentrate similar vectors; (2)
    multi-probe weakly dominates cell-local on exact brute-force
    top-k over sampled queries."""
    from datapipe_spark.operators.similarity import (
        KNN_JOIN_K,
        embedding_near_dup,
        knn_join_ivf,
        topk_bruteforce,
    )

    knn2 = knn_join_ivf(spark, sf_dir)  # default nprobe
    got2 = {(r["vec_id"], r["neighbor_id"]) for r in knn2.collect()}
    strong = [
        (r["vec_a"], r["vec_b"]) for r in embedding_near_dup(spark, sf_dir).collect()
    ]
    assert strong
    hit = sum(1 for a, b in strong if (a, b) in got2 or (b, a) in got2)
    assert hit / len(strong) >= 0.75, f"strong-pair recall {hit}/{len(strong)}"

    qids = tuple(range(10))
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_bruteforce(spark, sf_dir, k=KNN_JOIN_K, query_ids=qids).collect()
    }
    got1 = {(r["vec_id"], r["neighbor_id"]) for r in knn_join_ivf(spark, sf_dir, nprobe=1).collect()}
    r1 = len(bf & got1) / len(bf)
    r2 = len(bf & got2) / len(bf)
    assert r2 >= r1, (r1, r2)


def test_corpus_quality_filter_reasons(spark, sf_dir):
    import pyspark.sql.functions as F

    from datapipe_spark.operators.textstats import corpus_quality_filter

    qf = corpus_quality_filter(spark, sf_dir)
    reasons = {r["filter_reason"] for r in qf.select("filter_reason").distinct().collect()}
    assert "kept" in reasons
    assert qf.filter(F.col("keep") & (F.col("filter_reason") != "kept")).count() == 0


def test_decontaminate_flags_planted_overlap(spark, sf_dir):
    """A training doc whose text IS a benchmark doc's text must be
    flagged; a doc with a private vocabulary must not be."""
    out = decontam.decontaminate(spark, sf_dir)
    from datapipe_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    bench_texts = {
        r["text"] for r in d.filter(F.col("doc_id") % 50 == 0).select("text").collect()
    }
    verbatim = {
        r["doc_id"]
        for r in d.filter((F.col("doc_id") % 50 != 0)).select("doc_id", "text").collect()
        if r["text"] in bench_texts
    }
    flagged = {r["doc_id"] for r in out.filter("is_contaminated").collect()}
    assert verbatim <= flagged  # every verbatim copy of a benchmark doc is caught
    # benchmark docs themselves are excluded from the training output
    assert out.filter(F.col("doc_id") % 50 == 0).count() == 0


def test_stratified_sample_rates(spark, sf_dir):
    """Per-stratum inclusion must track the quota: kept docs are
    exactly those with doc_id % 100 below their language's rate."""
    out = decontam.corpus_sample_stratified(spark, sf_dir)
    bad = out.filter(~(F.col("doc_id") % 100 < F.col("stratum_rate"))).count()
    assert bad == 0
    # deterministic: two runs produce identical id sets
    a = {r["doc_id"] for r in out.select("doc_id").collect()}
    b = {r["doc_id"] for r in decontam.corpus_sample_stratified(spark, sf_dir).select("doc_id").collect()}
    assert a == b


def test_pack_token_budget_invariants(spark, sf_dir):
    """Packs fill contiguously: within a shard, pack ids are
    non-decreasing in doc_id order and every pack's preceding-cumsum
    span is under one budget width."""
    out = decontam.pack_token_budget(spark, sf_dir).collect()
    by_shard = {}
    for r in sorted(out, key=lambda r: (r["shard"], r["doc_id"])):
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rows in by_shard.items():
        cum = 0
        for r in rows:
            assert r["pack_id"] == cum // 512, (shard, r)
            cum += r["n_tokens"]
        assert [r["pack_id"] for r in rows] == sorted(r["pack_id"] for r in rows)


def test_sample_frames_deterministic_and_complete(spark, sf_dir):
    """Every 4th frame of each payload is emitted, frame indices are
    the sampled arithmetic sequence, and checksums are stable across
    runs (no RNG, no partitioning dependence)."""
    import zlib

    media = multimodal.with_binary_payload(spark, sf_dir)
    out = multimodal.sample_frames(media, frame_bytes=64, every=4)
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    payloads = {r["doc_id"]: bytes(r["content"]) for r in media.collect()}
    assert set(by_doc) == set(payloads)
    for doc_id, frames in by_doc.items():
        b = payloads[doc_id]
        n_frames = -(-len(b) // 64)
        want_idx = list(range(0, n_frames, 4))
        got = sorted(frames, key=lambda r: r["frame_idx"])
        assert [r["frame_idx"] for r in got] == want_idx
        for r in got:
            frame = b[r["frame_idx"] * 64 : (r["frame_idx"] + 1) * 64]
            assert r["frame_len"] == len(frame)
            assert r["frame_crc"] == zlib.crc32(frame)
    rerun = {tuple(r) for r in multimodal.sample_frames(media, 64, 4).collect()}
    assert rerun == {tuple(r) for r in rows}


def test_pii_scrub_redacts_planted_pii(spark, sf_dir):
    """The planted slice (doc_id % 7 == 0) must have exactly one of
    each PII type counted and none surviving in the redacted text;
    the clean slice must pass through byte-identical."""
    from datapipe_spark.sources.tables import load_table

    out = scrub.pii_scrub(spark, sf_dir)
    planted = out.filter(F.col("doc_id") % 7 == 0)
    clean = out.filter(F.col("doc_id") % 7 != 0)
    assert planted.count() > 0
    bad = planted.filter(
        (F.col("n_emails") != 1) | (F.col("n_phones") != 1) | (F.col("n_ips") != 1)
        | F.col("is_clean")
        | ~F.col("text_redacted").contains("<EMAIL>")
        | ~F.col("text_redacted").contains("<PHONE>")
        | ~F.col("text_redacted").contains("<IP>")
        | F.col("text_redacted").rlike(r"@|\d{3}-\d{3}-\d{4}|\d+\.\d+\.\d+\.\d+")
    )
    assert bad.count() == 0
    orig = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    changed = (
        clean.join(orig, "doc_id")
        .filter((F.col("text_redacted") != F.col("text")) | ~F.col("is_clean"))
    )
    assert changed.count() == 0


def test_repetition_stats_flags_repetitive_docs(spark, sf_dir):
    """Word-soup docs repeat heavily: dup_word_ratio must be high and
    internally consistent with the count columns."""
    rows = scrub.repetition_stats(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_distinct_words"] <= r["n_words"]
        assert 1 <= r["top_word_count"] <= r["n_words"]
        assert abs(r["dup_word_ratio"] - (1 - r["n_distinct_words"] / r["n_words"])) < 1e-12
        assert abs(r["top_word_frac"] - r["top_word_count"] / r["n_words"]) < 1e-12


def test_substring_dup_spans_crafted(spark):
    """Two docs sharing one verbatim 12-token run (k=8) must each get
    exactly one span covering those 12 tokens; unique text gets none."""
    from datapipe_spark.operators.dedup import substring_dup_spans_frame

    shared = " ".join(f"s{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"{shared} epsilon zeta eta theta iota kappa lam mu"),
            (3, "totally different words " + " ".join(f"u{i}" for i in range(20))),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in substring_dup_spans_frame(docs, k=8).collect()}
    assert set(rows) == {1, 2}
    # doc 1: shared run occupies token positions 3..14 (1-based)
    assert (rows[1]["span_start"], rows[1]["span_end"], rows[1]["span_tokens"]) == (3, 14, 12)
    # doc 2: run starts the document, positions 1..12
    assert (rows[2]["span_start"], rows[2]["span_end"], rows[2]["span_tokens"]) == (1, 12, 12)
    # 12-token run with k=8 → 5 grams
    assert rows[1]["n_grams"] == rows[2]["n_grams"] == 5


def test_substring_dup_spans_matches_oracle(spark, sf_dir):
    from datapipe_spark.operators.dedup import (
        SUBSTRING_DUP_SPANS_SQL,
        substring_dup_spans,
    )

    compare_to_oracle(spark, substring_dup_spans, SUBSTRING_DUP_SPANS_SQL, sf_dir)


def test_dedup_simhash_matches_oracle(spark, sf_dir):
    from datapipe_spark.operators.dedup import SIMHASH_DEDUP_SQL, simhash_dedup

    compare_to_oracle(spark, simhash_dedup, SIMHASH_DEDUP_SQL, sf_dir)


def test_vocab_top_tokens_matches_oracle(spark, sf_dir):
    from datapipe_spark.operators.textstats import (
        VOCAB_TOP_TOKENS_SQL,
        vocab_top_tokens,
    )

    compare_to_oracle(spark, vocab_top_tokens, VOCAB_TOP_TOKENS_SQL, sf_dir)


def test_vocab_coverage_monotone(spark, sf_dir):
    from datapipe_spark.operators.textstats import vocab_top_tokens

    rows = vocab_top_tokens(spark, sf_dir, k=50).orderBy("rank").collect()
    # tiny-SF vocab can be smaller than k
    assert 0 < len(rows) <= 50
    assert all(a["cum_coverage"] <= b["cum_coverage"] for a, b in zip(rows, rows[1:]))
    assert all(a["n"] >= b["n"] for a, b in zip(rows, rows[1:]))
    assert 0 < rows[-1]["cum_coverage"] <= 1.0


def test_multimodal_features_matches_oracle(spark, sf_dir):
    """The oracle replays fake_features' byte arithmetic on ASCII text;
    assert the ASCII precondition so a future non-ASCII testdata regen
    fails loudly here instead of as a silent value drift."""
    from datapipe_spark.operators.multimodal import (
        MULTIMODAL_FEATURES_SQL,
        multimodal_features,
    )
    from datapipe_spark.sources.tables import load_table

    non_ascii = (
        load_table(spark, sf_dir, "documents")
        .filter(F.octet_length("text") != F.length("text"))
        .count()
    )
    assert non_ascii == 0, "oracle assumes ASCII text (byte == codepoint)"
    compare_to_oracle(spark, multimodal_features, MULTIMODAL_FEATURES_SQL, sf_dir)


def _crafted_corpus(spark, n_copies: int):
    """n_copies verbatim copies of one boilerplate doc + 50 distinct docs."""
    boiler = "all work and no play makes jack a dull boy " * 4
    mega = spark.range(n_copies).select(
        F.col("id").alias("doc_id"), F.lit(boiler.strip()).alias("text")
    )
    uniq = spark.range(50).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("unique"),
            F.col("id").cast("string"),
            F.lit("document"),
            (F.col("id") * 7919 % 997).cast("string"),
            F.lit("with"),
            (F.col("id") * 104729 % 991).cast("string"),
            F.lit("own words"),
        ).alias("text"),
    )
    return mega.unionByName(uniq)


def test_lsh_megacluster_bounded_candidates(spark):
    """The band-bucket skew guard: 10k verbatim copies of one document
    must contribute exactly ONE representative row to the band join, so
    candidate generation is bounded by the number of DISTINCT contents
    (51 here), never by raw doc count — the quadratic-bucket hazard a
    boilerplate mega-cluster poses at 100 TB."""
    from datapipe_spark.operators.dedup import minhash_rep_candidates

    docs = _crafted_corpus(spark, 10_000)
    mem, sigs, cands = minhash_rep_candidates(docs)
    try:
        assert sigs.count() == 51  # one signature per distinct content
        assert cands.count() <= 51 * 50 // 2  # rep-level, not 10k²-level
    finally:
        sigs.unpersist()
        mem.unpersist()


def test_simhash_bucket_guard_subset_and_recall(spark, sf_dir):
    """The band-bucket width guard can only REMOVE candidate pairs
    (splits partition buckets), never invent them — and under forced
    activation (cap=8 splits even sf0.01's widest 14-doc buckets) it
    must keep ≥95% of the unguarded pairs: a near-dup pair agrees on
    several bands, so losing one split band rarely loses the pair."""
    from datapipe_spark.operators.dedup import simhash_dedup_frame
    from datapipe_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    unguarded = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_dedup_frame(d, bucket_cap=10**9).collect()
    }
    forced = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_dedup_frame(d, bucket_cap=8).collect()
    }
    assert forced <= unguarded
    assert len(forced) / len(unguarded) >= 0.95, (len(forced), len(unguarded))


def test_simhash_star_fallback_bounds_dense_scattered_cluster(spark):
    """Guard #3: a near-verbatim mega-cluster of DISTINCT fingerprints
    (every doc a distinct one-token edit of one short boilerplate —
    each edit flips a few low-margin bits) agrees on band AND adjacent
    band, so neither the fingerprint collapse nor the adjacent-band
    sub-split shrinks it. Sub-buckets still over the cap must degrade
    to star candidates: output stays a SUBSET of the true pair set
    (star pairs are true-Hamming verified) and cluster connectivity
    survives (multi-band stars give every member several chances to
    attach) — measured 84% of the rep's unguarded component on this
    adversarial corpus, asserted ≥70%."""
    from datapipe_spark.operators.dedup import (
        simhash_dedup_frame,
        simhash_fingerprints_frame,
    )

    n = 1200
    boiler = ("all work and no play makes jack a dull boy " * 4).strip()
    L = len(boiler.split(" "))
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.expr(
            f"concat_ws(' ', transform(split('{boiler}', ' '), "
            f"(w, i) -> IF(i = pmod(id, {L}), concat('edit', id), w)))"
        ).alias("text"),
    )
    # premise check: this cluster really is the SCATTERED case (each
    # edit flips a few low-margin bits of the short doc's fingerprint),
    # so the identical-fingerprint collapse (guard #1) cannot shrink it
    # and the star fallback is what carries the bound here
    n_fp = simhash_fingerprints_frame(docs).select("simhash").distinct().count()
    assert n_fp > n // 2, f"expected scattered fingerprints, got {n_fp} distinct"
    ung = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_dedup_frame(docs, bucket_cap=10**9).collect()
    }
    forced = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_dedup_frame(docs, bucket_cap=8).collect()
    }
    assert forced <= ung  # star pairs are verified true pairs

    def component_of_zero(pairs):
        parent = {x: x for x in range(n)}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        root = find(0)
        return {x for x in range(n) if find(x) == root}

    cu, cf = component_of_zero(ung), component_of_zero(forced)
    assert cf <= cu
    assert len(cf) >= 0.7 * len(cu), (len(cf), len(cu))


def test_simhash_guard_inactive_at_oracle_scale(spark, sf_dir):
    """The default cap must not alter oracled output: sf0.01's widest
    band bucket (14 docs) sits far below SIMHASH_BUCKET_CAP, so the
    guarded and unguarded pair sets are identical."""
    from datapipe_spark.operators.dedup import simhash_dedup_frame
    from datapipe_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    default = {
        tuple(r) for r in simhash_dedup_frame(d).collect()
    }
    unguarded = {
        tuple(r) for r in simhash_dedup_frame(d, bucket_cap=10**9).collect()
    }
    assert default == unguarded


def test_collapse_exact_equals_window_form(spark, sf_dir):
    """The r5 skew swap (groupBy-min/size + join-back) must reproduce
    the window-over-ghash form row for row — same membership, same
    representatives, same group sizes — including on a corpus with a
    planted mega-group (the skew case the swap exists for)."""
    from pyspark.sql import Window

    from datapipe_spark.operators.dedup import _collapse_exact
    from datapipe_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # plant a verbatim mega-group on top of the natural corpus
    boiler = spark.range(2000).select(
        (F.col("id") + 10**6).alias("doc_id"),
        F.lit("all rights reserved by the license header corp").alias("text"),
    )
    d = d.unionByName(boiler)
    w = Window.partitionBy("ghash")
    window_form = (
        d.filter(F.size(F.split("text", " ")) >= 3)
        .select("doc_id", F.md5("text").alias("ghash"))
        .withColumn("rep_id", F.min("doc_id").over(w))
        .withColumn("gsz", F.count("*").over(w))
    )
    got = {tuple(r) for r in _collapse_exact(d).collect()}
    want = {
        tuple(r)
        for r in window_form.select("doc_id", "ghash", "rep_id", "gsz").collect()
    }
    assert got == want


def test_simhash_guard_rep2_groupby_equals_window_form(spark):
    """The guard path's fingerprint-collapse (rep2) swap: groupBy-min +
    join-back over simhash must equal the window-over-simhash form on
    a corpus that activates the guard (forced tiny cap)."""
    from pyspark.sql import Window

    from datapipe_spark.operators.dedup import _rep_fingerprints

    rows = [(i, f"common boilerplate sentence shared by every doc {i % 3}")
            for i in range(60)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    mem, sh = _rep_fingerprints(d)
    sh = sh.persist()
    g2 = sh.groupBy("simhash").agg(F.min("doc_id").alias("rep2"))
    swapped = {tuple(r) for r in sh.join(g2, "simhash")
               .select("doc_id", "simhash", "rep2").collect()}
    wsim = Window.partitionBy("simhash")
    window_form = {
        tuple(r)
        for r in sh.withColumn("rep2", F.min("doc_id").over(wsim))
        .select("doc_id", "simhash", "rep2")
        .collect()
    }
    assert swapped == window_form
    sh.unpersist()
    mem.unpersist()


def test_simhash_arrow_fingerprints_equal_jvm_expression_form(spark):
    """The r13 Arrow fingerprint pass (``_md5_fingerprints_arrow``)
    must be bit-identical to the retired JVM explode/aggregate
    expression form it replaced — same tokenization (empty tokens from
    consecutive/leading/trailing spaces preserved), same null-padded
    trigram set, md5-of-UTF-8 first-15-hex parse, strict 2·count > n
    majority — and docs with no shingles (NULL text, < 3 words) must
    be ABSENT, exactly like the exploded form's empty groups. The
    expression twin is kept here verbatim as the semantics pin."""
    from datapipe_spark.operators.dedup import (
        _hash_expr,
        _md5_fingerprints_arrow,
        _shingles,
    )

    def jvm_expr_fingerprints(reps):
        n_bits = 60
        toks = (
            reps.withColumn("_sh", _shingles())
            .select("doc_id", F.explode("_sh").alias("tok"))
            .select("doc_id", F.expr(_hash_expr("tok")).alias("h"))
        )
        lane = 20
        groups = [
            list(range(g, min(g + 3, n_bits))) for g in range(0, n_bits, 3)
        ]

        def packed(bits):
            col = F.lit(0).cast("long")
            for ln, i in enumerate(bits):
                col = col + F.shiftleft(
                    F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)).cast("long"),
                    ln * lane,
                )
            return F.sum(col)

        sums = toks.groupBy("doc_id").agg(
            F.count("*").alias("_n"),
            *[packed(b).alias(f"g{gi}") for gi, b in enumerate(groups)],
        )

        def count(i):
            gi, ln = i // 3, i % 3
            return F.shiftright(F.col(f"g{gi}"), ln * lane).bitwiseAND(
                F.lit((1 << lane) - 1)
            )

        halfw = n_bits // 2
        half = lambda lo: sum(  # noqa: E731
            (
                F.when(count(i) * 2 > F.col("_n"), F.lit(1 << (i - lo))).otherwise(
                    F.lit(0)
                )
                for i in range(lo, lo + halfw)
            ),
            start=F.lit(0),
        )
        return sums.select(
            "doc_id",
            F.shiftleft(half(halfw).cast("long"), halfw)
            .bitwiseOR(half(0).cast("long"))
            .alias("simhash"),
        )

    rows = [
        (1, "plain three word shingle document here"),
        (2, None),                       # NULL text: absent from output
        (3, "two words"),                # < 3 words: absent
        (4, ""),                         # empty: absent
        (5, "a  b c d"),                 # consecutive spaces → empty token
        (6, " leading and trailing spaces "),
        (7, "naïve café déjà vu — unicode UTF-8 bytes"),
        (8, "rep rep rep rep rep rep"),  # heavy duplicate shingles
        (9, "x y z"),                    # exactly one shingle
        (10, " ".join(f"w{i % 37}" for i in range(400))),  # long, repeats
    ]
    reps = spark.createDataFrame(rows, "doc_id long, text string")
    got = {tuple(r) for r in _md5_fingerprints_arrow(reps).collect()}
    want = {tuple(r) for r in jvm_expr_fingerprints(reps).collect()}
    assert got == want
    assert {r[0] for r in got} == {1, 5, 6, 7, 8, 9, 10}


def test_ppjoin_freq_order_prunes_boilerplate_candidates(spark):
    """Canonical PPJoin token order (global df asc) must shrink the
    candidate set on a boilerplate-heavy corpus — hot shingles sort to
    the array tails and never enter a prefix — while leaving the final
    verified output bit-identical (any global total order is sound).

    Corpus: 120 same-length docs sharing a 13-word boilerplate header
    (pairwise J ≈ 0.45, below threshold) + one planted true near-dup
    pair. Hash-ordered prefixes admit the shared boilerplate shingles
    → ~C(120,2) candidates; df-ordered prefixes carry each doc's
    unique tail shingles → candidates collapse to ~the true pair."""
    from datapipe_spark.operators.dedup import (
        _ppjoin_candidates,
        _ppjoin_prefixes,
        _shingles,
        ngram_jaccard_pairs_frame,
    )

    base = spark.range(120).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the quick brown fox jumps over the lazy dog again and again then "),
            F.format_string(
                "w%03d x%03d y%03d z%03d",
                F.col("id"), F.col("id") * 7 % 997, F.col("id") * 31 % 991, F.col("id"),
            ),
        ).alias("text"),
    )
    long_words = " ".join(f"tok{i:02d}" for i in range(30))
    planted = spark.createDataFrame(
        [(500, long_words), (501, long_words.rsplit(" ", 1)[0] + " edited")],
        "doc_id long, text string",
    )
    docs = base.unionByName(planted)
    d0 = (
        docs.withColumn("n_chars", F.length("text"))
        .withColumn("_sh_str", _shingles())
        .select(
            "doc_id", "n_chars",
            F.expr("transform(_sh_str, s -> xxhash64(s))").alias("_h"),
        )
        .filter(F.size("_h") > 0)
    )
    n_hash = _ppjoin_candidates(_ppjoin_prefixes(d0, 0.8, freq_order=False)).count()
    n_freq = _ppjoin_candidates(_ppjoin_prefixes(d0, 0.8, freq_order=True)).count()
    assert n_hash > 1000, "hash-ordered prefixes should admit boilerplate fan-out"
    assert n_freq < n_hash / 10, f"df order must prune candidates ({n_freq} vs {n_hash})"
    pairs_freq = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_pairs_frame(docs, freq_order=True).collect()
    }
    pairs_hash = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_pairs_frame(docs, freq_order=False).collect()
    }
    assert pairs_freq == pairs_hash
    assert (500, 501) in {(a, b) for a, b, _ in pairs_freq}


def test_lsh_megacluster_full_output_preserved(spark):
    """The guard must not change WHAT is reported: with 1k verbatim
    copies the full (output-sized) pair list still comes back — all
    C(1000,2) within-group pairs at jaccard 1.0 / hamming 0."""
    from datapipe_spark.operators.dedup import (
        minhash_dedup_frame,
        simhash_dedup_frame,
    )

    docs = _crafted_corpus(spark, 1_000)
    want = 1_000 * 999 // 2
    mh = minhash_dedup_frame(docs)
    assert mh.filter((F.col("doc_a") < 1_000) & (F.col("jaccard") > 0.999)).count() == want
    sh = simhash_dedup_frame(docs)
    assert sh.filter((F.col("doc_a") < 1_000) & (F.col("hamming") == 0)).count() == want


def test_tokenize_with_vocab_matches_oracle(spark, sf_dir):
    from datapipe_spark.operators.textstats import (
        TOKENIZE_WITH_VOCAB_SQL,
        tokenize_with_vocab,
    )

    compare_to_oracle(spark, tokenize_with_vocab, TOKENIZE_WITH_VOCAB_SQL, sf_dir)


def test_tokenize_roundtrips_in_vocab_tokens(spark, sf_dir):
    """Documents made ENTIRELY of vocabulary tokens must encode with
    zero OOV, and id sequences must be positionally faithful (the id
    at position p decodes back to the token at position p)."""
    from datapipe_spark.operators.textstats import (
        tokenize_with_vocab,
        vocab_top_tokens,
    )
    from datapipe_spark.sources.tables import load_table

    vocab = {r["rank"]: r["token"] for r in vocab_top_tokens(spark, sf_dir).collect()}
    enc = {r["doc_id"]: r for r in tokenize_with_vocab(spark, sf_dir).collect()}
    docs = {
        r["doc_id"]: [w for w in r["text"].split(" ") if w]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    checked = 0
    for doc_id, words in docs.items():
        r = enc[doc_id]
        assert r["n_tokens"] == len(words)
        ids = [int(x) for x in r["token_ids"].split(",")]
        assert len(ids) == len(words)
        for w, i in zip(words, ids):
            if i != 0:
                assert vocab[i] == w
                checked += 1
        assert r["n_unk"] == sum(1 for i in ids if i == 0)
    assert checked > 1000  # the corpus head-vocab must cover real mass


def test_featurize_documents_norm_and_dup_invariance(spark, sf_dir):
    """Signed feature hashing invariants: every vector is unit-L2
    (within 6-dp rounding) and verbatim duplicates map to identical
    vectors."""
    feats = textstats.featurize_documents(spark, sf_dir).collect()
    by_doc: dict[int, dict[int, float]] = {}
    for r in feats:
        by_doc.setdefault(r["doc_id"], {})[r["dim"]] = r["weight"]
    assert by_doc
    for v in by_doc.values():
        assert abs(sum(w * w for w in v.values()) - 1.0) < 1e-4
    # identical token bags ⟹ identical vectors: the planted near-dup
    # pairs (high jaccard) must land close in hashed-feature cosine
    truth = dedup.ngram_jaccard_pairs(spark, sf_dir).collect()
    assert truth
    for pair in truth:
        a, b = by_doc[pair["doc_a"]], by_doc[pair["doc_b"]]
        cos = sum(a[d] * b.get(d, 0.0) for d in a)
        assert cos > 0.7, (pair, cos)


def test_multimodal_frame_sample_oracle_and_consistency(spark, sf_dir):
    """The oracled frame manifest must agree with the crc-based
    sample_frames plumbing on (doc_id, frame_idx, frame_len)."""
    from tests.oracle import compare_to_oracle

    compare_to_oracle(
        spark,
        multimodal.multimodal_frame_sample,
        multimodal.MULTIMODAL_FRAME_SAMPLE_SQL,
        sf_dir,
    )
    media = multimodal.with_binary_payload(spark, sf_dir).select("doc_id", "content")
    a = {
        (r.doc_id, r.frame_idx, r.frame_len)
        for r in multimodal.multimodal_frame_sample(spark, sf_dir).collect()
    }
    b = {
        (r.doc_id, r.frame_idx, r.frame_len)
        for r in multimodal.sample_frames(
            media, multimodal.FRAME_BYTES, multimodal.FRAME_EVERY
        ).collect()
    }
    assert a == b


def test_probe_index_equals_inline_cross_corpus(spark, sf_dir, tmp_path):
    """The persisted band index is output-equivalent to the inline
    union pipeline on the same corpus/batch split: build the index from
    the corpus side, probe the batch side, compare pair-for-pair
    (including jaccard values) with cross_corpus_minhash_frame."""
    from datapipe_spark.operators import dedup_index
    from datapipe_spark.operators.dedup import _cross_tagged, cross_corpus_minhash_frame

    tagged = _cross_tagged(spark, sf_dir)
    idx = str(tmp_path / "mh_index")
    stats = dedup_index.build_minhash_index(
        spark, tagged.filter(~F.col("is_new")).select("doc_id", "text"), idx
    )
    assert stats["n_reps"] <= stats["n_docs"]
    probed = {
        (r["new_doc_id"], r["corpus_doc_id"]): r["jaccard"]
        for r in dedup_index.probe_minhash_index(
            spark, idx, tagged.filter("is_new").select("doc_id", "text")
        ).collect()
    }
    inline = {
        (r["new_doc_id"], r["corpus_doc_id"]): r["jaccard"]
        for r in cross_corpus_minhash_frame(tagged).collect()
    }
    assert set(probed) == set(inline)
    for k in probed:
        assert abs(probed[k] - inline[k]) < 1e-12


def test_append_minhash_index_skew_guard_and_probe(spark, tmp_path):
    """Appends honor the frozen-index contract: a verbatim copy of an
    indexed doc adds membership but ZERO band/sig rows (the skew guard
    incrementally); genuinely new content becomes probeable, and
    probing after an append finds near-dups of the appended doc."""
    from datapipe_spark.operators import dedup_index

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
        ],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "mh_index")
    dedup_index.build_minhash_index(spark, corpus, idx)
    bands0 = spark.read.parquet(idx + "/bands").count()
    sigs0 = spark.read.parquet(idx + "/sigs").count()

    # append: one verbatim copy (doc 10) + one new doc (doc 11)
    dedup_index.append_minhash_index(
        spark,
        idx,
        spark.createDataFrame(
            [
                (10, "the quick brown fox jumps over the lazy dog"),
                (11, "sphinx of black quartz judge my vow tonight"),
            ],
            ["doc_id", "text"],
        ),
    )
    assert spark.read.parquet(idx + "/bands").count() == bands0 + 8  # _BANDS
    assert spark.read.parquet(idx + "/sigs").count() == sigs0 + 1
    mem = {r["doc_id"]: r["rep_id"] for r in spark.read.parquet(idx + "/mem").collect()}
    assert mem[10] == 1 and mem[11] == 11  # copy joins doc 1's group
    meta = dedup_index._meta(spark, idx)
    assert (meta["n_docs"], meta["n_reps"]) == (4, 3)  # contract stays current

    # probe: a batch doc verbatim-equal to the APPENDED copy's text must
    # match both corpus members of that group at jaccard 1.0
    out = dedup_index.probe_minhash_index(
        spark,
        idx,
        spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog")],
            ["doc_id", "text"],
        ),
    ).collect()
    got = {(r["new_doc_id"], r["corpus_doc_id"]) for r in out}
    assert got == {(100, 1), (100, 10)}
    assert all(r["jaccard"] == 1.0 for r in out)


def test_corpus_train_shards_loader_contract(spark, sf_dir):
    """The shard manifest must satisfy what a resumable loader assumes:
    every doc appears exactly once; per shard, pos is contiguous from 1
    and token_offset is the exact running sum of token_count in pos
    order; and the assignment is invariant to input partitioning."""
    from datapipe_spark.operators.decontam import corpus_train_shards

    rows = corpus_train_shards(spark, sf_dir).collect()
    assert len({r["doc_id"] for r in rows}) == len(rows)
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard_id"], []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["pos"])
        assert [r["pos"] for r in rs] == list(range(1, len(rs) + 1))
        run = 0
        for r in rs:
            assert r["token_offset"] == run
            run += r["token_count"]

    # partitioning invariance: same manifest from a repartitioned input
    again = {
        (r["doc_id"], r["shard_id"], r["pos"], r["token_offset"])
        for r in corpus_train_shards(spark, sf_dir).repartition(7).collect()
    }
    assert again == {
        (r["doc_id"], r["shard_id"], r["pos"], r["token_offset"]) for r in rows
    }


def test_epoch_reshuffle_permutes_and_is_stable(spark, sf_dir):
    """Multi-epoch training reshuffle: a nonzero epoch yields an
    INDEPENDENT deterministic permutation (most docs move shard or pos
    vs epoch 0) while preserving the loader contract per shard
    (contiguous pos, exact running token_offset) and byte-stability
    within an epoch."""
    from datapipe_spark.operators.decontam import corpus_train_shards

    key = lambda r: (r["doc_id"], r["shard_id"], r["pos"], r["token_offset"])  # noqa: E731
    e0 = {r["doc_id"]: r for r in corpus_train_shards(spark, sf_dir).collect()}
    e1 = {r["doc_id"]: r for r in corpus_train_shards(spark, sf_dir, epoch=1).collect()}
    e2 = {r["doc_id"]: r for r in corpus_train_shards(spark, sf_dir, epoch=2).collect()}
    assert set(e0) == set(e1) == set(e2)  # same corpus, reordered only
    for d in e0:  # token_count is epoch-invariant (reshuffle ≠ re-tokenize)
        assert e0[d]["token_count"] == e1[d]["token_count"]
    # genuinely different permutations: an 8-shard uniform rehash keeps a
    # doc's (shard,pos) only by coincidence — require most to move, and
    # epochs 1 and 2 to also disagree with each other
    moved01 = sum(1 for d in e0 if key(e0[d]) != key(e1[d]))
    moved12 = sum(1 for d in e0 if key(e1[d]) != key(e2[d]))
    assert moved01 > 0.5 * len(e0) and moved12 > 0.5 * len(e0)
    # per-shard loader contract holds at every epoch
    for ep in (e1, e2):
        by_shard: dict[int, list] = {}
        for r in ep.values():
            by_shard.setdefault(r["shard_id"], []).append(r)
        for rs in by_shard.values():
            rs.sort(key=lambda r: r["pos"])
            assert [r["pos"] for r in rs] == list(range(1, len(rs) + 1))
            run = 0
            for r in rs:
                assert r["token_offset"] == run
                run += r["token_count"]
    # byte-stable within an epoch
    again = {key(r) for r in corpus_train_shards(spark, sf_dir, epoch=1).collect()}
    assert again == {key(r) for r in e1.values()}


def test_compact_minhash_index_preserves_probe_and_shrinks_files(spark, tmp_path):
    """Index compaction is pure layout maintenance: after several
    appends fragment the parts, compacting must (a) cut file counts,
    (b) leave every part's row set, meta counts, and the exactly-once
    watermark untouched, and (c) return the byte-identical probe
    result."""
    from datapipe_spark.operators import dedup_index
    from datapipe_spark.operators.maintenance import parquet_file_count

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "pack my box with five dozen liquor jugs right now"),
        ],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "mh_index")
    dedup_index.build_minhash_index(spark, corpus, idx)
    # three appends (one per micro-batch, watermarked) fragment each part
    for i, (did, text) in enumerate(
        [
            (11, "sphinx of black quartz judge my vow tonight friends"),
            (12, "how vexingly quick daft zebras jump around the park"),
            (13, "the quick brown fox jumps over the lazy dog today"),  # copy
        ]
    ):
        assert dedup_index.append_minhash_index(
            spark,
            idx,
            spark.createDataFrame([(did, text)], ["doc_id", "text"]),
            batch_id=i,
        )
    batch = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    )
    before_rows = {
        p: sorted(map(repr, spark.read.parquet(idx + "/" + p).collect()))
        for p in ("mem", "sigs", "bands")
    }
    before_files = {p: parquet_file_count(idx + "/" + p) for p in ("mem", "sigs", "bands")}
    probe_before = sorted(
        map(repr, dedup_index.probe_minhash_index(spark, idx, batch).collect())
    )
    meta_before = dedup_index._meta(spark, idx)

    stats = dedup_index.compact_minhash_index(spark, idx)
    for p in ("mem", "sigs", "bands"):
        b, a = stats[p]
        assert b == before_files[p] and a <= b
        assert a < b or b == 1  # genuinely compacted unless already minimal
        assert sorted(
            map(repr, spark.read.parquet(idx + "/" + p).collect())
        ) == before_rows[p]
    assert dedup_index._meta(spark, idx) == meta_before  # counts + watermark
    assert journal.watermark(idx) == 2
    probe_after = sorted(
        map(repr, dedup_index.probe_minhash_index(spark, idx, batch).collect())
    )
    assert probe_after == probe_before
    # replayed batch still skips after compaction (exactly-once intact)
    assert not dedup_index.append_minhash_index(
        spark, idx, spark.createDataFrame([(13, "x y z")], ["doc_id", "text"]), batch_id=2
    )


def test_bpe_train_merges_matches_pure_python_reference(spark, sf_dir):
    """The distributed merge loop must reproduce, rank for rank, what a
    textbook single-machine BPE trainer produces on the same corpus:
    same pairs, same merge order (ties lexical), same weighted
    frequencies — the rows-only entry's stand-in for a SQL oracle."""
    from collections import Counter

    from datapipe_spark.operators.textstats import BPE_EOW, BPE_MERGES, bpe_train_merges
    from datapipe_spark.sources.tables import load_table

    freqs = Counter(
        w
        for r in load_table(spark, sf_dir, "documents").select("text").collect()
        for w in r["text"].split(" ")
        if w
    )
    types: dict[tuple, int] = {}
    for w, f in freqs.items():
        t = tuple(list(w) + [BPE_EOW])
        types[t] = types.get(t, 0) + f
    ref = []
    for rank in range(1, BPE_MERGES + 1):
        counts: Counter = Counter()
        for syms, f in types.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += f
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        ref.append((rank, a, b, a + b, n))
        nxt: dict[tuple, int] = {}
        for syms, f in types.items():
            out: list = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            t = tuple(out)
            nxt[t] = nxt.get(t, 0) + f
        types = nxt
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["freq"])
        for r in bpe_train_merges(spark, sf_dir).orderBy("rank").collect()
    ]
    assert got == ref


def test_bpe_tokenize_matches_pure_python_application(spark, sf_dir):
    """Applying the merge table corpus-wide (one fused map pass) must
    equal a pure-Python tokenizer replaying the same merges per word —
    and training words must re-tokenize to their final training
    symbols (BPE's self-consistency property)."""
    from datapipe_spark.operators.textstats import (
        BPE_EOW,
        bpe_tokenize,
        bpe_train_merges,
    )
    from datapipe_spark.sources.tables import load_table

    merges = [
        (r["left"], r["right"]) for r in bpe_train_merges(spark, sf_dir).orderBy("rank").collect()
    ]

    def tok(word: str) -> list:
        out = list(word) + [BPE_EOW]
        for a, b in merges:
            nxt: list = []
            for x in out:
                if nxt and nxt[-1] == a and x == b:
                    nxt[-1] = a + b
                else:
                    nxt.append(x)
            out = nxt
        return out

    got = {
        r["doc_id"]: (r["n_tokens"], r["tokens"])
        for r in bpe_tokenize(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    assert set(got) == {r["doc_id"] for r in docs}
    for r in docs:
        ref = [t for w in r["text"].split(" ") if w for t in tok(w)]
        assert got[r["doc_id"]] == (len(ref), " ".join(ref)), r["doc_id"]


def test_quantizer_models_persist_no_retrain(spark, sf_dir, tmp_path, monkeypatch):
    """r7 verdict ask #3: PQ codebooks and the IVF coarse quantizer
    persist as npz models keyed by the embeddings table's identity —
    a second call (and a second SESSION: the store is on disk, not in
    process memory) must never re-run sampling or k-means. Stronger
    than a timing gate: after the first calls, training entry points
    are booby-trapped and the ops must still produce identical output."""
    from datapipe_spark.operators import similarity as sim

    monkeypatch.setenv("SPARK_GRAFT_QUANTIZER_DIR", str(tmp_path / "qmodels"))
    first_pq = sorted(map(tuple, sim.topk_pq(spark, sf_dir).collect()))
    first_knn = sorted(map(tuple, sim.knn_join_ivfpq(spark, sf_dir).collect()))
    assert first_pq and first_knn

    def boom(*_a, **_k):
        raise AssertionError("quantizer retrained despite persisted model")

    monkeypatch.setattr(sim, "_lloyd", boom)
    monkeypatch.setattr(sim, "_sample_normalized", boom)
    assert sorted(map(tuple, sim.topk_pq(spark, sf_dir).collect())) == first_pq
    assert sorted(map(tuple, sim.knn_join_ivfpq(spark, sf_dir).collect())) == first_knn
    # and the store is real files a fresh process would reload
    import os

    assert [f for f in os.listdir(tmp_path / "qmodels") if f.endswith(".npz")]


def test_bpe_merge_model_persists_no_retrain(spark, sf_dir, tmp_path, monkeypatch):
    """The trained merge table is a model file: a fresh session (process
    memo cleared) must reload it from the disk sidecar, never retrain —
    same contract as the persisted PQ/IVF quantizers."""
    from datapipe_spark.operators import textstats as ts

    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path / "bpe_models"))
    ts._BPE_MERGE_CACHE.clear()
    first = sorted(map(tuple, ts.bpe_tokenize(spark, sf_dir).collect()))
    ts._BPE_MERGE_CACHE.clear()  # simulate a fresh session

    def boom(*_a, **_k):
        raise AssertionError("BPE retrained despite persisted merge model")

    monkeypatch.setattr(ts, "bpe_train_merges", boom)
    assert sorted(map(tuple, ts.bpe_tokenize(spark, sf_dir).collect())) == first


def test_bpe_driver_trainer_equals_distributed_loop(spark, sf_dir):
    """The hybrid trainer's dispatch boundary (r7 verdict ask #2):
    strategy='driver' (one corpus→types reduction + driver merge loop)
    must reproduce strategy='loop' (per-round distributed argmax)
    rank for rank — same pairs, same order, same weighted freqs."""
    from datapipe_spark.operators.textstats import bpe_train_merges

    loop = [tuple(r) for r in bpe_train_merges(spark, sf_dir, strategy="loop").collect()]
    drv = [tuple(r) for r in bpe_train_merges(spark, sf_dir, strategy="driver").collect()]
    assert drv == loop and len(loop) > 0


def _bpe_synth_corpus(spark, tmp_path, n_vocab: int = 300, n_docs: int = 40) -> str:
    """A deterministic corpus with a vocabulary wide enough that >1024
    merges exist (the 31-word testdata vocab exhausts in a few dozen) —
    documents.parquet in the testdata layout."""
    import itertools
    import os

    from pyspark.sql import functions as F

    vocab = [
        "".join(p) for p in itertools.islice(itertools.product("abcdefg", repeat=4), n_vocab)
    ]
    rows = [
        (i, " ".join(vocab[(i * 7 + j * 13) % n_vocab] for j in range(30)))
        for i in range(n_docs)
    ]
    d = str(tmp_path / "bigvocab")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "n_chars", F.length("text")
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    return d


def test_bpe_tokenize_real_vocab_matches_reference(spark, tmp_path):
    """r7 verdict ask #2 'Done' gate: ``bpe_tokenize(n_merges=1024)``
    completes (arrow merge-replay path — the nested fold would need a
    1024-deep Catalyst expression tree) and matches a pure-Python
    tokenizer replaying the same merges per word."""
    from datapipe_spark.operators import textstats as ts

    d = _bpe_synth_corpus(spark, tmp_path)
    merges = [
        (r["left"], r["right"])
        for r in ts.bpe_train_merges(spark, d, n_merges=1024).orderBy("rank").collect()
    ]
    assert len(merges) > ts._BPE_FOLD_MAX, "corpus must force the arrow path"

    def tok(word: str) -> list:
        out = list(word) + [ts.BPE_EOW]
        for a, b in merges:
            nxt: list = []
            for x in out:
                if nxt and nxt[-1] == a and x == b:
                    nxt[-1] = a + b
                else:
                    nxt.append(x)
            out = nxt
        return out

    got = {
        r["doc_id"]: (r["n_tokens"], r["tokens"])
        for r in ts.bpe_tokenize(spark, d, n_merges=1024).collect()
    }
    from datapipe_spark.sources.tables import load_table

    docs = load_table(spark, d, "documents").select("doc_id", "text").collect()
    assert set(got) == {r["doc_id"] for r in docs}
    for r in docs:
        ref = [t for w in r["text"].split(" ") if w for t in tok(w)]
        assert got[r["doc_id"]] == (len(ref), " ".join(ref)), r["doc_id"]


def test_bpe_arrow_path_equals_fold_path_at_boundary(spark, tmp_path):
    """Byte-identical semantics between the default arrow merge-replay
    and the independent nested-fold reference projection at the fold
    path's k ceiling (r10: arrow is the default at every k; the fold
    path survives as the pure-JVM reference implementation)."""
    from datapipe_spark.operators import textstats as ts

    d = _bpe_synth_corpus(spark, tmp_path)
    k = ts._BPE_FOLD_MAX
    fold = {
        tuple(r) for r in ts.bpe_tokenize(spark, d, n_merges=k, path="fold").collect()
    }
    arrow = {
        tuple(r) for r in ts.bpe_tokenize(spark, d, n_merges=k, path="arrow").collect()
    }
    assert arrow == fold and len(fold) > 0

    with pytest.raises(ValueError, match="fold path caps"):
        ts.bpe_tokenize(spark, d, n_merges=k + 1, path="fold")


def test_embedding_quantize_int8_roundtrip_properties(spark, sf_dir):
    """Codes are genuine int8 (every value in [-128, 127], extremes
    attained per the affine range), and reconstruction error is
    bounded by half a quantization step per dimension."""
    from datapipe_spark.operators.similarity import embedding_quantize_int8
    from datapipe_spark.sources.tables import load_table

    rows = embedding_quantize_int8(spark, sf_dir).collect()
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) == n_vecs
    all_codes = [int(c) for r in rows for c in r["codes"].split(",")]
    assert min(all_codes) >= -128 and max(all_codes) <= 127
    assert min(all_codes) == -128 and max(all_codes) == 127  # affine extremes
    # per-dim |error| ≤ step/2 + float slop ⇒ mse ≤ (max_span/255/2)^2
    import math

    emb = load_table(spark, sf_dir, "embeddings").select("embedding").collect()
    dims = len(emb[0]["embedding"])
    mx_span = max(
        max(e["embedding"][d] for e in emb) - min(e["embedding"][d] for e in emb)
        for d in range(dims)
    )
    bound = (mx_span / 255 / 2) ** 2 * 1.01
    assert all(r["mse"] <= bound for r in rows), max(r["mse"] for r in rows)
    assert all(r["mse"] >= 0 for r in rows)
    assert math.isfinite(sum(r["mse"] for r in rows))


def test_minhash_index_empty_and_subshingle_batches(spark, tmp_path):
    """Streaming edges: a batch that is empty, or whose docs all fall
    under the 3-word shingle floor, must probe to zero pairs and append
    as a no-op (no band/sig growth, meta unchanged) without erroring —
    the micro-batch path cannot assume well-formed drops."""
    from datapipe_spark.operators import dedup_index

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    idx = str(tmp_path / "mh_index")
    dedup_index.build_minhash_index(spark, corpus, idx)
    meta0 = dedup_index._meta(spark, idx)
    bands0 = spark.read.parquet(idx + "/bands").count()

    empty = spark.createDataFrame([], "doc_id long, text string")
    tiny = spark.createDataFrame([(50, "two words"), (51, "")], ["doc_id", "text"])
    for batch in (empty, tiny):
        assert dedup_index.probe_minhash_index(spark, idx, batch).count() == 0
        dedup_index.append_minhash_index(spark, idx, batch)
    assert spark.read.parquet(idx + "/bands").count() == bands0
    assert dedup_index._meta(spark, idx) == meta0


def test_minhash_bucket_guard_forced_activation(spark):
    """r6 verdict nit #1, closed: a paraphrase-mill corpus —
    near-identical, NON-verbatim boilerplate that the exact collapse
    cannot shrink — must degrade over-cap minhash band buckets to star
    candidates instead of going quadratic, and the staged pipeline's
    DECISION must be unchanged by the guard (every mill doc still
    near_dup of the mill minimum, verified at exact jaccard)."""
    from datapipe_spark.operators.dedup import (
        band_rows,
        banded_pair_candidates,
        dedup_pipeline_frame,
        minhash_signatures,
    )

    base = (
        "the quarterly compliance boilerplate paragraph required by the "
        "department of records must be included verbatim in every filing "
        "along with the standard disclosure annex and signature block"
    )
    n = 40
    docs = spark.createDataFrame(
        [(i, f"{base} closing remark number {i}") for i in range(n)],
        "doc_id long, text string",
    )
    import pytest

    sigs = minhash_signatures(docs)
    bands = band_rows(sigs)
    unguarded = banded_pair_candidates(bands, bucket_cap=10**9).count()
    # r7 advisory: activation must be a loud, distinguishable marker
    with pytest.warns(RuntimeWarning, match="band-bucket guard ACTIVE"):
        forced = banded_pair_candidates(bands, bucket_cap=4).count()
    # the mill is one wide bucket in (nearly) every band: the star arm
    # emits O(n) candidates where the pairwise join emits O(n^2)
    assert unguarded >= n * (n - 1) // 2  # genuinely quadratic without guard
    assert forced < unguarded / 3
    assert forced <= 8 * (n - 1)  # ≤ one star row per (band, member)

    decided = lambda cap: {  # noqa: E731
        (r["doc_id"], r["status"], r["canonical_id"])
        for r in dedup_pipeline_frame(docs, bucket_cap=cap).collect()
    }
    assert decided(4) == decided(10**9)


def test_minhash_bucket_guard_inactive_at_oracle_scale(spark, sf_dir):
    """The default cap must not alter oracled output: the widest
    documents band bucket at oracle scale sits far below
    MINHASH_BUCKET_CAP, so guarded and unguarded decisions are
    identical (the CORRECTNESS hash for dedup_pipeline is unchanged).
    r7 advisory extension: the oracled minhash registry forms are
    additionally pinned guard-INACTIVE via the activation counters —
    if the driver's corpus ever densifies enough to trip a guard, this
    fails first with the cause named, instead of a mystery hash
    mismatch in the sweep."""
    from datapipe_spark.operators.dedup import (
        GUARD_ACTIVATIONS,
        dedup_cross_corpus_minhash,
        dedup_pipeline_frame,
        minhash_dedup,
        simhash_dedup,
    )
    from datapipe_spark.sources.tables import load_table

    before = dict(GUARD_ACTIVATIONS)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    default = {tuple(r) for r in dedup_pipeline_frame(d).collect()}
    unguarded = {tuple(r) for r in dedup_pipeline_frame(d, bucket_cap=10**9).collect()}
    assert default == unguarded
    assert minhash_dedup(spark, sf_dir).count() > 0
    assert dedup_cross_corpus_minhash(spark, sf_dir).count() > 0
    assert simhash_dedup(spark, sf_dir).count() > 0
    assert GUARD_ACTIVATIONS == before, (
        "an oracled form tripped a band guard at oracle scale — its "
        "output now diverges from the committed DuckDB oracle"
    )


def test_bpe_train_merges_degenerate_corpora(spark):
    """Single-char words exhaust merges (char+EOW pair only) and the
    loop must stop early instead of erroring; n_merges=0 returns an
    empty, correctly-typed table."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from datapipe_spark.operators import textstats as ts

    docs = spark.createDataFrame([(1, "a a b")], ["doc_id", "text"])

    with tempfile.TemporaryDirectory() as d:
        docs.withColumn("lang", F.lit("en")).withColumn(
            "source", F.lit("s")
        ).withColumn("n_chars", F.length("text")).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = ts.bpe_train_merges(spark, d, n_merges=10).collect()
        # 'a'+EOW and 'b'+EOW are the only possible merges; loop stops
        assert [(r["rank"], r["merged"]) for r in out] == [
            (1, f"a{ts.BPE_EOW}"),
            (2, f"b{ts.BPE_EOW}"),
        ]
        assert ts.bpe_train_merges(spark, d, n_merges=0).count() == 0


def test_quantize_int8_single_vector_all_constant(spark):
    """One vector ⇒ every dimension constant ⇒ all codes -128 and
    exact reconstruction (mse 0)."""
    from datapipe_spark.operators.similarity import quantize_int8_frame

    e = spark.createDataFrame([(7, [1.5, -2.0, 0.0])], "vec_id long, v array<double>")
    rows = quantize_int8_frame(spark, e).collect()
    assert len(rows) == 1
    assert rows[0]["codes"] == "-128,-128,-128"
    assert rows[0]["mse"] == 0.0


def test_compact_minhash_index_never_appended_is_noop_safe(spark, tmp_path):
    """Compacting a freshly built (never appended) index must succeed,
    stay content-identical, and leave the meta contract untouched."""
    from datapipe_spark.operators import dedup_index

    idx = str(tmp_path / "mh_fresh")
    dedup_index.build_minhash_index(
        spark,
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog today")],
            ["doc_id", "text"],
        ),
        idx,
    )
    meta = dedup_index._meta(spark, idx)
    rows = {
        p: sorted(map(repr, spark.read.parquet(f"{idx}/{p}").collect()))
        for p in ("mem", "sigs", "bands")
    }
    dedup_index.compact_minhash_index(spark, idx)
    assert dedup_index._meta(spark, idx) == meta
    for p in ("mem", "sigs", "bands"):
        assert sorted(map(repr, spark.read.parquet(f"{idx}/{p}").collect())) == rows[p]


def test_compact_minhash_index_completes_pending_commit_first(
    spark, tmp_path, monkeypatch
):
    """r8 advisory: compaction entered with a pending commit journal
    (crash after journal write, before roll-forward) must complete the
    commit BEFORE rewriting parts — otherwise the later roll-forward
    injects pre-compaction delta files into the clustered layout and
    rewinds meta from the journal snapshot. Compare against a twin
    that never crashed."""
    import json
    import os

    from datapipe_spark.operators import dedup_index as di

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    corpus = mk(
        [
            (i, f"corpus document number {i} holding plenty of distinct "
                f"shingle words alpha beta gamma {i * 7} delta")
            for i in range(4)
        ]
    )
    batch = mk(
        [(50, "an entirely fresh appended document with novel words "
              "epsilon zeta eta theta iota kappa lambda")]
    )
    idx_clean, idx_torn = str(tmp_path / "cc_clean"), str(tmp_path / "cc_torn")
    for idx in (idx_clean, idx_torn):
        di.build_minhash_index(spark, corpus, idx)
    assert di.append_minhash_index(spark, idx_clean, batch, batch_id=0) is True
    di.compact_minhash_index(spark, idx_clean)

    real_rf = di._roll_forward

    def crash_mid_commit(index_dir, sweep=False):
        jp = di._p(index_dir, di._JOURNAL)
        if not os.path.exists(jp):
            return real_rf(index_dir, sweep=sweep)
        with open(jp) as f:
            j = json.load(f)
        src, dst = j["moves"][0]
        os.replace(src, dst)  # one delta file lands, journal stays pending
        raise RuntimeError("simulated crash mid-commit")

    monkeypatch.setattr(di, "_roll_forward", crash_mid_commit)
    with pytest.raises(RuntimeError, match="mid-commit"):
        di.append_minhash_index(spark, idx_torn, batch, batch_id=0)
    monkeypatch.undo()
    assert os.path.exists(di._p(idx_torn, di._JOURNAL))

    # compaction entered in the torn state: must roll the commit
    # forward first, then rewrite — never the other way around
    di.compact_minhash_index(spark, idx_torn)
    assert not os.path.exists(di._p(idx_torn, di._JOURNAL))
    assert not [n for n in os.listdir(idx_torn) if n.startswith(".staging-")]
    assert journal.watermark(idx_torn) == 0
    for part in ("mem", "sigs", "bands"):
        clean = sorted(map(tuple, spark.read.parquet(di._p(idx_clean, part)).collect()))
        torn = sorted(map(tuple, spark.read.parquet(di._p(idx_torn, part)).collect()))
        assert torn == clean, f"{part} diverged from the never-crashed twin"


def test_bpe_driver_trainer_cap_raises_clearly(spark, sf_dir, monkeypatch):
    """The hybrid trainer's type-table collect cap must refuse loudly
    (with remediation named) instead of OOMing the driver."""
    import pytest

    from datapipe_spark.operators import textstats as ts

    monkeypatch.setattr(ts, "_BPE_TYPES_COLLECT_CAP", 5)
    with pytest.raises(ValueError, match="driver.*cap|cap.*driver"):
        ts.bpe_train_merges(spark, sf_dir, n_merges=100, strategy="driver")


def test_bpe_incremental_trainer_equals_recount_reference(spark, sf_dir):
    """r8 verdict ask #4: the incremental pair-count trainer must be
    rank-for-rank identical (rank, left, right, merged, freq) to the
    full-recount reference at a deep merge budget (k=1024) over the
    real documents type table."""
    from datapipe_spark.operators.textstats import (
        BPE_EOW,
        _bpe_train_driver,
        _bpe_train_driver_recount,
    )
    from datapipe_spark.sources.tables import load_table

    word_types = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .count()
        .collect()
    )
    tt: dict = {}
    for r in word_types:
        t = tuple([*r["word"], BPE_EOW])
        tt[t] = tt.get(t, 0) + int(r["count"])
    assert _bpe_train_driver(dict(tt), 1024) == _bpe_train_driver_recount(
        dict(tt), 1024
    )


def test_ann_recall_floors_with_fresh_models(spark, sf_dir, monkeypatch, tmp_path):
    """r8 verdict ask #7: the persisted npz models make the other
    recall gates cache reads after the first run — this gate retrains
    every quantizer from scratch (empty model dir) and re-asserts the
    floors, so a TRAINER regression (not just a stale-model one)
    fails in CI. Floors are the sf0.001-scale analogs of the bench
    gates (measured r6-r8: ivf .74+, pq .90+, ivfpq .79+)."""
    monkeypatch.setenv("SPARK_GRAFT_QUANTIZER_DIR", str(tmp_path / "fresh_models"))

    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.topk_bruteforce(spark, sf_dir).collect()
    }
    for fn, floor, label in (
        (similarity.topk_ivf, 0.70, "ivf"),
        (similarity.topk_pq, 0.83, "pq"),
    ):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in fn(spark, sf_dir).collect()
        }
        recall = len(bf & got) / len(bf)
        assert recall >= floor, f"fresh-model {label} recall {recall:.3f} < {floor}"

    qids = tuple(range(50))
    bfj = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.topk_bruteforce(
            spark, sf_dir, k=similarity.KNN_JOIN_K, query_ids=qids
        ).collect()
    }
    got = {
        (r["vec_id"], r["neighbor_id"])
        for r in similarity.knn_join_ivfpq(spark, sf_dir)
        .filter(F.col("vec_id").isin(list(qids)))
        .collect()
    }
    recall = len(bfj & got) / len(bfj)
    # sf0.001 measures .688 (deterministic trainer: fresh == cached —
    # the tiny corpus trains noisier codebooks than the .76+ sf0.1
    # point bench.py gates); floor just under the measured value
    assert recall >= 0.65, f"fresh-model ivfpq join recall {recall:.3f} < 0.65"


def test_compact_minhash_index_torn_swap_recovers(spark, tmp_path, monkeypatch):
    """The scd2 r9 compaction advisory applied to the band index: a
    crash between compaction's journal write and its part swaps must
    leave all three live part dirs readable, and the next entry must
    complete the swap to exactly the pre-compaction content — never a
    missing part dir."""
    import os as _os

    from datapipe_spark.operators import dedup_index as di

    idx = str(tmp_path / "mh_ctorn")
    di.build_minhash_index(
        spark,
        spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog today"),
                (2, "pack my box with five dozen liquor jugs tonight ok"),
            ],
            ["doc_id", "text"],
        ),
        idx,
    )
    rows = {
        p: sorted(map(repr, spark.read.parquet(f"{idx}/{p}").collect()))
        for p in ("mem", "sigs", "bands")
    }
    meta = di._meta(spark, idx)

    def crash(index_dir, sweep=False):
        raise RuntimeError("simulated crash post-journal")

    real_rf = di._roll_forward
    monkeypatch.setattr(di, "_roll_forward", crash)
    # entry recovery inside compact is the patched name too — but no
    # journal exists yet, so stub only the COMMIT-time call by letting
    # the first (journal-less) invocation through
    calls = {"n": 0}

    def crash_second(index_dir, sweep=False):
        calls["n"] += 1
        if calls["n"] == 1:
            return real_rf(index_dir, sweep=sweep)
        raise RuntimeError("simulated crash post-journal")

    monkeypatch.setattr(di, "_roll_forward", crash_second)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="post-journal"):
        di.compact_minhash_index(spark, idx)
    monkeypatch.undo()

    assert _os.path.exists(di._p(idx, di._JOURNAL))
    for p in ("mem", "sigs", "bands"):  # live dirs never vanished
        assert _os.path.isdir(f"{idx}/{p}"), f"{p}/ vanished mid-compaction"

    # reader entry (probe) completes the journaled swap
    batch = spark.createDataFrame(
        [(9, "a totally unrelated probe document with novel words here")],
        ["doc_id", "text"],
    )
    di.probe_minhash_index(spark, idx, batch)
    assert not _os.path.exists(di._p(idx, di._JOURNAL))
    for p in ("mem", "sigs", "bands"):
        assert sorted(map(repr, spark.read.parquet(f"{idx}/{p}").collect())) == rows[p]
    assert di._meta(spark, idx) == meta


def test_probe_never_sweeps_live_staging(spark, tmp_path):
    """r9 advisory (medium #2) applied to the index journal: the probe
    is a READER — it must not delete .staging-* dirs that may belong
    to a live in-flight append. Only writer entries sweep."""
    import os as _os

    from datapipe_spark.operators import dedup_index as di

    idx = str(tmp_path / "mh_nosweep")
    di.build_minhash_index(
        spark,
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog today")],
            ["doc_id", "text"],
        ),
        idx,
    )
    live = _os.path.join(idx, ".staging-inflight")
    _os.makedirs(_os.path.join(live, "mem"))
    open(_os.path.join(live, "mem", "part-0.parquet"), "w").close()

    batch = spark.createDataFrame(
        [(9, "a totally unrelated probe document with novel words here")],
        ["doc_id", "text"],
    )
    di.probe_minhash_index(spark, idx, batch)
    assert _os.path.isdir(live), "the probe swept a live writer's staging"

    # writer entry sweeps the (now provably debris) dir
    assert di.append_minhash_index(spark, idx, batch, batch_id=0) is True
    assert not _os.path.isdir(live)


def test_index_roll_forward_raises_on_lost_staging(spark, tmp_path):
    """Symmetric to the scd2 gate: a journaled move whose source AND
    destination are both missing means the staged append was destroyed
    post-commit-point — the index must refuse to advance the watermark
    past the lost batch instead of silently dropping it."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from datapipe_spark.operators import dedup_index as di

    idx = str(tmp_path / "mh_lost")
    di.build_minhash_index(
        spark,
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog today")],
            ["doc_id", "text"],
        ),
        idx,
    )
    meta = di._meta(spark, idx)
    journal = {
        "stage": di._p(idx, ".staging-gone"),
        "moves": [[di._p(idx, ".staging-gone/mem/part-0.parquet"),
                   di._p(idx, "mem/gone-part-0.parquet")]],
        "meta": {**meta, "last_batch_id": 99},
    }
    with open(di._p(idx, di._JOURNAL), "w") as f:
        _json.dump(journal, f)
    batch = spark.createDataFrame(
        [(9, "a totally unrelated probe document with novel words here")],
        ["doc_id", "text"],
    )
    with _pytest.raises(RuntimeError, match="both missing"):
        di.probe_minhash_index(spark, idx, batch)
    assert di._meta(spark, idx).get("last_batch_id") != 99
    _os.remove(di._p(idx, di._JOURNAL))
    # legal replay state (src gone, dst present) completes silently
    _os.makedirs(di._p(idx, ".okdst"), exist_ok=True)
    journal["moves"] = [[di._p(idx, ".staging-gone/x"), di._p(idx, ".okdst")]]
    with open(di._p(idx, di._JOURNAL), "w") as f:
        _json.dump(journal, f)
    di.probe_minhash_index(spark, idx, batch)
    assert not _os.path.exists(di._p(idx, di._JOURNAL))
    assert di._meta(spark, idx)["last_batch_id"] == 99


def _purge_corpus(spark):
    """Crafted groups for purge semantics: A = 3 verbatim copies (rep 1;
    purging 1 must promote 2), B = 2 copies (purging both erases the
    group), C = untouched unique, D = purged singleton."""
    txt_a = "alpha beta gamma delta epsilon zeta eta theta common group text"
    txt_b = "one two three four five six seven eight nine boilerplate footer"
    txt_c = "a wholly different document about completely other topics here"
    txt_d = "the final lonely document speaks its own words quietly tonight"
    return spark.createDataFrame(
        [(1, txt_a), (2, txt_a), (3, txt_a), (4, txt_b), (5, txt_b),
         (6, txt_c), (7, txt_d)],
        "doc_id long, text string",
    )


def _index_rows(spark, idx):
    return {
        p: sorted(map(repr, spark.read.parquet(f"{idx}/{p}").collect()))
        for p in ("mem", "sigs", "bands")
    }


def test_purge_minhash_index_rebuild_equality_and_semantics(spark, tmp_path):
    """Never-appended index: purge(build(corpus), ids) must equal
    build(corpus \\ ids) part-for-part (the min-doc_id rep rule makes
    rep promotion deterministic), the returned stats must attribute
    every path (member drop, rep promotion, group erasure, unknown id),
    and meta must track the rebuilt counts."""
    from datapipe_spark.operators import dedup_index as di

    idx, ref = str(tmp_path / "purged"), str(tmp_path / "ref")
    corpus = _purge_corpus(spark)
    di.build_minhash_index(spark, corpus, idx)
    stats = di.purge_minhash_index(
        spark,
        idx,
        spark.createDataFrame([(1,), (4,), (5,), (7,), (999,)], "doc_id long"),
    )
    assert stats == {"purged_docs": 4, "dropped_reps": 2, "renamed_reps": 1}
    di.build_minhash_index(
        spark, corpus.filter("doc_id not in (1, 4, 5, 7)"), ref
    )
    assert _index_rows(spark, idx) == _index_rows(spark, ref)
    ma, mb = di._meta(spark, idx), di._meta(spark, ref)
    assert (ma["n_docs"], ma["n_reps"]) == (mb["n_docs"], mb["n_reps"])

    # idempotent + unknown-only backlogs are no-ops
    stats2 = di.purge_minhash_index(
        spark, idx, spark.createDataFrame([(1,), (999,)], "doc_id long")
    )
    assert stats2 == {"purged_docs": 0, "dropped_reps": 0, "renamed_reps": 0}
    assert _index_rows(spark, idx) == _index_rows(spark, ref)


def _queued(store_dir):
    """Rows in a store's erasure queue, from the parquet footers."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in tombstones.pending(store_dir))


def test_append_preserves_tombstone_queue(spark, tmp_path):
    """r12 review: an append must leave the queued erasure backlog in
    place — losing it made readers skip the tombstone anti-join
    (erased docs resurfacing in probes) and made purge/compaction
    never fold the queue (the erasure obligation silently lost)."""
    from datapipe_spark.operators import dedup_index as di

    idx = str(tmp_path / "appq")
    corpus = _purge_corpus(spark)
    di.build_minhash_index(spark, corpus, idx)
    # queue the erasure of the 3-copy group's rep, then APPEND
    assert di.queue_purge_minhash_index(
        spark, idx, spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    ) == 3
    batch = spark.createDataFrame(
        [(50, "a new appended document with some fresh wording inside it")],
        "doc_id long, text string",
    )
    assert di.append_minhash_index(spark, idx, batch, batch_id=0) is True
    assert _queued(idx) == 3, "append must not drop the queued erasure"
    # the merge-on-read reader still hides the erased group
    probe = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta common group text")],
        "doc_id long, text string",
    )
    hits = {
        r["corpus_doc_id"]
        for r in di.probe_minhash_index(spark, idx, probe).collect()
    }
    assert not hits & {1, 2, 3}, "erased docs must stay hidden after append"
    # ...and compaction still folds the queue physically
    di.compact_minhash_index(spark, idx)
    assert not tombstones.pending(idx)
    mem_ids = {
        r["doc_id"] for r in spark.read.parquet(f"{idx}/mem").collect()
    }
    assert not mem_ids & {1, 2, 3}


def test_build_in_place_clears_stale_store_state(spark, tmp_path):
    """r12 review: rebuilding an index in place must clear a stale
    commit journal, staging debris, and the old tombstone queue — a
    stale journal would roll the OLD index's delta files and batch-id
    watermark into the fresh build (future appends silently skipped)."""
    import json as _json

    from datapipe_spark.operators import dedup_index as di

    idx = str(tmp_path / "rebuild")
    corpus = _purge_corpus(spark)
    di.build_minhash_index(spark, corpus, idx)
    di.append_minhash_index(
        spark, idx,
        spark.createDataFrame(
            [(60, "stale generation document with words nobody else uses")],
            "doc_id long, text string",
        ),
        batch_id=7,
    )
    di.queue_purge_minhash_index(
        spark, idx, spark.createDataFrame([(7,)], "doc_id long")
    )
    # manufacture the pre-rebuild debris: a fake pending journal that
    # would resurrect the old watermark, plus staging leftovers
    with open(di._p(idx, di._JOURNAL), "w") as f:
        _json.dump({"moves": [], "swaps": [], "meta": {"last_batch_id": 7}}, f)
    import os as _os
    _os.makedirs(di._p(idx, ".staging-stale/mem"), exist_ok=True)

    di.build_minhash_index(spark, corpus, idx)
    assert not _os.path.exists(di._p(idx, di._JOURNAL))
    assert not [n for n in _os.listdir(idx) if n.startswith(".staging-")]
    assert not tombstones.pending(idx)
    assert di._meta(spark, idx).get("last_batch_id") is None
    # the fresh index accepts batch 0 (the stale watermark is gone)
    assert journal.watermark(idx) == -1
    assert di.append_minhash_index(
        spark, idx,
        spark.createDataFrame(
            [(61, "new generation document with its own novel vocabulary")],
            "doc_id long, text string",
        ),
        batch_id=0,
    ) is True


def test_purge_minhash_never_seen_queue_clears_without_rewrite(
    spark, tmp_path
):
    """r11 advisory (low): a tombstone queue holding only never-indexed
    ids must fold as a queue-clear-only commit — the mem/sigs/bands
    parts stay byte-identical on disk (same inodes, no rewrite), the
    tombstone files are deleted, and nothing stays queued."""
    import os as _os

    from datapipe_spark.operators import dedup_index as di

    idx = str(tmp_path / "noop_fold")
    di.build_minhash_index(spark, _purge_corpus(spark), idx)

    def inodes():
        return {
            p: sorted(
                (n, _os.stat(f"{idx}/{p}/{n}").st_ino)
                for n in _os.listdir(f"{idx}/{p}")
                if n.endswith(".parquet")
            )
            for p in ("mem", "sigs", "bands")
        }

    before = inodes()
    backlog = spark.createDataFrame([(888,), (999,)], "doc_id long")
    assert di.queue_purge_minhash_index(spark, idx, backlog) == 2
    stats = di.purge_minhash_index(spark, idx, None)
    assert stats == {"purged_docs": 0, "dropped_reps": 0, "renamed_reps": 0}
    assert inodes() == before, "a no-op fold must not rewrite any part"
    assert not tombstones.pending(idx)


def test_queue_purge_minhash_equals_physical_purge(spark, tmp_path):
    """r10 verdict ask #2 on the band index: queued tombstones probe
    identically to the physical purge (rep promotion, group erasure,
    member drop all covered by the _purge_corpus groups); compaction
    folds the queue — afterwards the index equals the physically
    purged one part-for-part and the tombstone set is gone."""
    from datapipe_spark.operators import dedup_index as di

    idx_q, idx_p = str(tmp_path / "mor"), str(tmp_path / "phys")
    corpus = _purge_corpus(spark)
    di.build_minhash_index(spark, corpus, idx_q)
    di.build_minhash_index(spark, corpus, idx_p)
    backlog = spark.createDataFrame([(1,), (4,), (5,), (7,)], "doc_id long")
    assert di.queue_purge_minhash_index(spark, idx_q, backlog) == 4
    di.purge_minhash_index(spark, idx_p, backlog)

    # near-dup batch: hits group A (rep promoted) and B (erased)
    batch = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta common group text"),
         (101, "one two three four five six seven eight nine boilerplate footer")],
        "doc_id long, text string",
    )

    def pairs(idx):
        return sorted(
            (r["new_doc_id"], r["corpus_doc_id"])
            for r in di.probe_minhash_index(spark, idx, batch).collect()
        )

    assert pairs(idx_q) == pairs(idx_p)
    assert pairs(idx_q), "probe must still hit the surviving group"
    assert _queued(idx_q) == 4

    # compaction folds the queue physically: parts equal, queue gone
    di.compact_minhash_index(spark, idx_q)
    assert not tombstones.pending(idx_q)
    mq, mp = di._meta(spark, idx_q), di._meta(spark, idx_p)
    assert (mq["n_docs"], mq["n_reps"]) == (mp["n_docs"], mp["n_reps"])
    for part in ("mem", "sigs", "bands"):
        assert sorted(
            map(repr, spark.read.parquet(f"{idx_q}/{part}").collect())
        ) == sorted(map(repr, spark.read.parquet(f"{idx_p}/{part}").collect()))
    assert pairs(idx_q) == pairs(idx_p)


def test_purge_minhash_index_above_broadcast_gate_still_exact(
    spark, tmp_path, monkeypatch
):
    """A purge backlog past the broadcast gate must fall back to
    shuffle joins and still produce the exact rebuilt index."""
    from datapipe_spark.operators import dedup_index as di

    monkeypatch.setattr(tombstones, "BACKLOG_BROADCAST_MAX_ROWS", 0)
    idx, ref = str(tmp_path / "gated"), str(tmp_path / "gref")
    corpus = _purge_corpus(spark)
    di.build_minhash_index(spark, corpus, idx)
    stats = di.purge_minhash_index(
        spark, idx, spark.createDataFrame([(1,), (4,), (5,), (7,)], "doc_id long")
    )
    assert stats["purged_docs"] == 4
    di.build_minhash_index(
        spark, corpus.filter("doc_id not in (1, 4, 5, 7)"), ref
    )
    assert _index_rows(spark, idx) == _index_rows(spark, ref)


def test_purge_minhash_index_torn_swap_recovers(spark, tmp_path, monkeypatch):
    """A crash between the purge's journal write and its part swaps
    must leave every live part dir readable, and the next (reader)
    entry must complete the purge exactly — the compact-torn-swap
    contract applied to erasure."""
    import os as _os

    import pytest as _pytest

    from datapipe_spark.operators import dedup_index as di

    corpus = _purge_corpus(spark)
    backlog = [(1,), (4,), (5,), (7,)]
    idx, twin = str(tmp_path / "torn"), str(tmp_path / "twin")
    for d in (idx, twin):
        di.build_minhash_index(spark, corpus, d)
    di.purge_minhash_index(
        spark, twin, spark.createDataFrame(backlog, "doc_id long")
    )

    real_rf = di._roll_forward
    calls = {"n": 0}

    def crash_at_commit(index_dir, sweep=False):
        calls["n"] += 1
        if calls["n"] == 1:  # the entry-time sweep, pre-journal
            return real_rf(index_dir, sweep=sweep)
        raise RuntimeError("simulated crash post-journal")

    monkeypatch.setattr(di, "_roll_forward", crash_at_commit)
    with _pytest.raises(RuntimeError, match="post-journal"):
        di.purge_minhash_index(
            spark, idx, spark.createDataFrame(backlog, "doc_id long")
        )
    monkeypatch.undo()

    assert _os.path.exists(di._p(idx, di._JOURNAL))
    for p in ("mem", "sigs", "bands"):
        assert _os.path.isdir(f"{idx}/{p}"), f"{p}/ vanished mid-purge"

    # reader entry completes the journaled swap; index equals the twin
    probe = spark.createDataFrame(
        [(100, "a totally unrelated probe document with novel words here")],
        ["doc_id", "text"],
    )
    di.probe_minhash_index(spark, idx, probe).collect()
    assert not _os.path.exists(di._p(idx, di._JOURNAL))
    assert _index_rows(spark, idx) == _index_rows(spark, twin)
    assert di._meta(spark, idx) == di._meta(spark, twin)


def test_purge_ivf_index_frozen_quantizer_equality(spark, sf_dir, tmp_path):
    """Purging vectors from the persisted IVF index must (a) equal a
    fresh add() of the surviving corpus under the SAME frozen
    quantizer, probe-for-probe, (b) surface no purged id in any
    result, and (c) rewrite only the touched qcell partitions —
    untouched cell files stay byte-identical."""
    import os as _os

    from datapipe_spark.operators import similarity as sim
    from datapipe_spark.sources.tables import load_table

    idx = str(tmp_path / "ivf_purged")
    sim.build_ivf_index(spark, sf_dir, idx, nlist=10)

    # snapshot per-cell file identities before the purge
    def cell_files(d):
        out = {}
        cells = f"{d}/cells"
        for name in sorted(_os.listdir(cells)):
            if name.startswith("qcell="):
                p = _os.path.join(cells, name)
                out[name] = sorted(
                    (f, _os.path.getsize(_os.path.join(p, f)))
                    for f in _os.listdir(p)
                    if f.endswith(".parquet")
                )
        return out

    before = cell_files(idx)
    purge = (
        load_table(spark, sf_dir, "embeddings")
        .filter(sim.IVF_PURGED_PRED)
        .select("vec_id")
    )
    n_purged = purge.count()
    assert n_purged > 0
    stats = sim.purge_ivf_index(spark, idx, purge)
    assert stats["purged_vecs"] == n_purged
    assert 0 < stats["touched_cells"] <= 10

    # (c) untouched partitions byte-identical (same files, same sizes)
    after = cell_files(idx)
    survivors_rows = spark.read.parquet(f"{idx}/cells")
    touched_names = set(after) - {
        k for k in before if before.get(k) == after.get(k)
    }
    assert len(touched_names) == stats["touched_cells"]

    # (b) purged ids gone from the index and from probe results
    purged_ids = {r["vec_id"] for r in purge.collect()}
    assert not purged_ids & {r["vec_id"] for r in survivors_rows.collect()}
    out = sim.topk_ivf_index(spark, sf_dir, idx, nprobe=3)
    assert not purged_ids & {r["neighbor_id"] for r in out.collect()}

    # (a) equality with a frozen-quantizer rebuild over survivors:
    # rebuild = assign surviving vectors with the SAME centroids
    ref = str(tmp_path / "ivf_ref")
    _os.makedirs(ref, exist_ok=True)
    import shutil as _sh

    _sh.copytree(f"{idx}/centroids", f"{ref}/centroids")
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(f"NOT ({sim.IVF_PURGED_PRED})")
        .select("vec_id", sim._as_double("embedding").alias("v"))
    )
    sim._cell_assignments(e, sim._load_centroids(spark, idx)).write.mode(
        "overwrite"
    ).partitionBy("qcell").parquet(f"{ref}/cells")
    got = sorted(map(tuple, out.collect()))
    want = sorted(
        map(tuple, sim.topk_ivf_index(spark, sf_dir, ref, nprobe=3).collect())
    )
    assert got == want

    # idempotent: re-purging the same backlog is a no-op
    assert sim.purge_ivf_index(spark, idx, purge) == {
        "purged_vecs": 0,
        "touched_cells": 0,
    }


def test_queue_purge_ivf_equals_physical_purge(spark, sf_dir, tmp_path):
    """r11 (completing the merge-on-read pattern across all three
    persisted stores): a queued IVF erasure backlog probes identically
    to the physical purge — erased ids in no result, survivors filling
    the ranks — and compaction folds the queue: afterwards the cells
    tables are row-identical and the tombstone set is gone."""
    from datapipe_spark.operators import similarity as sim
    from datapipe_spark.sources.tables import load_table

    idx_q, idx_p = str(tmp_path / "mor"), str(tmp_path / "phys")
    sim.build_ivf_index(spark, sf_dir, idx_q, nlist=10)
    sim.build_ivf_index(spark, sf_dir, idx_p, nlist=10)
    purge = (
        load_table(spark, sf_dir, "embeddings")
        .filter(sim.IVF_PURGED_PRED)
        .select("vec_id")
    )
    assert sim.queue_purge_ivf_index(spark, idx_q, purge) > 0
    sim.purge_ivf_index(spark, idx_p, purge)

    def topk(idx):
        return sorted(
            map(tuple, sim.topk_ivf_index(spark, sf_dir, idx).collect())
        )

    got, want = topk(idx_q), topk(idx_p)
    assert got == want and got, "MOR probe must equal the physical purge"
    purged_ids = {r["vec_id"] for r in purge.collect()}
    assert not purged_ids & {t[1] for t in got}, "erased ids surfaced"

    # compaction folds the queue physically and clears it
    sim.compact_ivf_index(spark, idx_q)
    assert not tombstones.pending(idx_q)
    cq = sorted(map(repr, spark.read.parquet(f"{idx_q}/cells").collect()))
    cp = sorted(map(repr, spark.read.parquet(f"{idx_p}/cells").collect()))
    assert cq == cp
    assert topk(idx_q) == want


def test_purge_ivf_index_torn_commit_recovers(spark, sf_dir, tmp_path, monkeypatch):
    """A crash between the purge's journal write and its partition
    swaps must be completed by the next reader entry — the journaled
    erasure contract shared with the band index and the SCD2 store."""
    import os as _os

    import pytest as _pytest

    from datapipe_spark.operators import similarity as sim
    from datapipe_spark.sources.tables import load_table

    idx, twin = str(tmp_path / "torn"), str(tmp_path / "twin")
    sim.build_ivf_index(spark, sf_dir, idx, nlist=10)
    sim.build_ivf_index(spark, sf_dir, twin, nlist=10)
    purge = (
        load_table(spark, sf_dir, "embeddings")
        .filter(sim.IVF_PURGED_PRED)
        .select("vec_id")
    )
    sim.purge_ivf_index(spark, twin, purge)

    real_rf = sim._ivf_roll_forward
    calls = {"n": 0}

    def crash_at_commit(index_dir, sweep=False):
        calls["n"] += 1
        if calls["n"] == 1:  # entry-time sweep, pre-journal
            return real_rf(index_dir, sweep=sweep)
        raise RuntimeError("simulated crash post-journal")

    monkeypatch.setattr(sim, "_ivf_roll_forward", crash_at_commit)
    with _pytest.raises(RuntimeError, match="post-journal"):
        sim.purge_ivf_index(spark, idx, purge)
    monkeypatch.undo()

    assert _os.path.exists(f"{idx}/{sim._IVF_JOURNAL}")
    # reader entry completes the commit; probe equals the twin's
    got = sorted(map(tuple, sim.topk_ivf_index(spark, sf_dir, idx).collect()))
    assert not _os.path.exists(f"{idx}/{sim._IVF_JOURNAL}")
    want = sorted(map(tuple, sim.topk_ivf_index(spark, sf_dir, twin).collect()))
    assert got == want


def test_dedup_keep_best_selects_max_quality_per_cluster(spark, sf_dir):
    """Exactly one keeper per cluster; the keeper has the cluster's
    max quality (ties → smallest doc_id); singletons keep themselves;
    every corpus doc is covered exactly once."""
    from collections import defaultdict

    from datapipe_spark.operators.dedup import dedup_keep_best
    from datapipe_spark.sources.tables import load_table

    rows = dedup_keep_best(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    assert len({r["doc_id"] for r in rows}) == n_docs

    clusters = defaultdict(list)
    for r in rows:
        clusters[r["cluster_id"]].append(r)
    assert sum(len(v) > 1 for v in clusters.values()) > 0  # real clusters
    for cid, members in clusters.items():
        keepers = [m for m in members if m["keep"]]
        assert len(keepers) == 1, cid
        k = keepers[0]
        best = max(members, key=lambda m: (m["quality"], -m["doc_id"]))
        assert (k["quality"], k["doc_id"]) == (best["quality"], best["doc_id"])
        assert all(m["cluster_size"] == len(members) for m in members)
        if len(members) == 1:
            assert k["doc_id"] == cid


def test_purge_ivf_index_empties_whole_cell(spark, tmp_path):
    """The emptied-partition arm: purging every vector of one qcell
    swaps in an empty (schema-bearing) partition — subsequent index
    reads and probes keep working, untouched cells keep their rows."""
    import os as _os

    from pyspark.sql import functions as F

    from datapipe_spark.operators import similarity as sim

    sf = str(tmp_path / "sf")
    _os.makedirs(sf, exist_ok=True)
    spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 8), "
            "i -> cast(pmod(hash(id, i), 100) as double) / 100)"
        ).alias("embedding"),
    ).write.parquet(_os.path.join(sf, "embeddings.parquet"))
    idx = str(tmp_path / "ivf")
    sim.build_ivf_index(spark, sf, idx, nlist=5)
    cells = spark.read.parquet(f"{idx}/cells")
    victim = cells.groupBy("qcell").count().orderBy("count", "qcell").first()
    ids = [
        (int(r["vec_id"]),)
        for r in cells.filter(F.col("qcell") == victim["qcell"]).collect()
    ]
    stats = sim.purge_ivf_index(
        spark, idx, spark.createDataFrame(ids, "vec_id long")
    )
    assert stats == {"purged_vecs": len(ids), "touched_cells": 1}
    left = spark.read.parquet(f"{idx}/cells")
    assert left.filter(F.col("qcell") == victim["qcell"]).count() == 0
    assert left.count() == 40 - len(ids)
    assert sim.topk_ivf_index(spark, sf, idx, query_ids=(0,)).count() > 0


def test_dedup_keep_best_minhash_graph_structure(spark, sf_dir):
    """The 100 TB pair-graph variant: one keeper per cluster, keeper
    is max quality with the deterministic tie-break, full corpus
    coverage — same structural contract as the exact graph (which the
    hash oracle pins); LSH candidate recall is covered by the
    dedup_minhash_lsh property tests."""
    from collections import defaultdict

    from datapipe_spark.operators.dedup import dedup_keep_best
    from datapipe_spark.sources.tables import load_table

    rows = dedup_keep_best(spark, sf_dir, graph="minhash").collect()
    assert len(rows) == load_table(spark, sf_dir, "documents").count()
    clusters = defaultdict(list)
    for r in rows:
        clusters[r["cluster_id"]].append(r)
    for cid, members in clusters.items():
        keepers = [m for m in members if m["keep"]]
        assert len(keepers) == 1, cid
        best = max(members, key=lambda m: (m["quality"], -m["doc_id"]))
        assert keepers[0]["doc_id"] == best["doc_id"]


def test_purge_minhash_on_appended_index_promotes_appended_member(spark, tmp_path):
    """The appended-index arm of the purge contract: appends keep the
    FROZEN rep even when the appended member has a smaller doc_id, so
    purging that rep must promote the smallest SURVIVOR (here the
    appended doc) — sigs/bands renamed, probe still matching — and a
    follow-up compaction composes cleanly with the purged layout."""
    from datapipe_spark.operators import dedup_index as di

    t_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    t_b = "one two three four five six seven eight nine ten eleven twelve"
    idx = str(tmp_path / "app_purge")
    di.build_minhash_index(
        spark,
        spark.createDataFrame([(10, t_a), (11, t_b)], "doc_id long, text string"),
        idx,
    )
    # appended verbatim copy with a SMALLER id than the frozen rep
    assert di.append_minhash_index(
        spark,
        idx,
        spark.createDataFrame([(5, t_a)], "doc_id long, text string"),
        batch_id=0,
    )
    mem = {
        (r["doc_id"], r["rep_id"])
        for r in spark.read.parquet(f"{idx}/mem").collect()
    }
    assert (5, 10) in mem  # frozen-rep contract: 5 joined rep 10

    stats = di.purge_minhash_index(
        spark, idx, spark.createDataFrame([(10,)], "doc_id long")
    )
    assert stats == {"purged_docs": 1, "dropped_reps": 0, "renamed_reps": 1}
    mem2 = {
        (r["doc_id"], r["rep_id"])
        for r in spark.read.parquet(f"{idx}/mem").collect()
    }
    assert mem2 == {(5, 5), (11, 11)}
    sig_ids = {r["doc_id"] for r in spark.read.parquet(f"{idx}/sigs").collect()}
    assert sig_ids == {5, 11}
    # watermark preserved; probe of near-identical content matches 5
    assert journal.watermark(idx) == 0
    hits = di.probe_minhash_index(
        spark,
        idx,
        spark.createDataFrame([(100, t_a)], "doc_id long, text string"),
    ).collect()
    assert {(r["new_doc_id"], r["corpus_doc_id"]) for r in hits} == {(100, 5)}

    # compaction after a purge: content-preserving on the purged layout
    before = _index_rows(spark, idx)
    di.compact_minhash_index(spark, idx)
    assert _index_rows(spark, idx) == before
    hits2 = di.probe_minhash_index(
        spark,
        idx,
        spark.createDataFrame([(101, t_a)], "doc_id long, text string"),
    ).collect()
    assert {(r["new_doc_id"], r["corpus_doc_id"]) for r in hits2} == {(101, 5)}


def test_purge_ivf_after_compaction_composes(spark, sf_dir, tmp_path):
    """Lifecycle composition on the ANN index: compact (bare-swap
    machinery) then purge (journaled swaps) then compact again — each
    maintenance pass must preserve the other's layout contract and
    probe output must stay fixed throughout."""
    from datapipe_spark.operators import similarity as sim
    from datapipe_spark.sources.tables import load_table

    idx = str(tmp_path / "ivf_lifecycle")
    sim.build_ivf_index(spark, sf_dir, idx, nlist=10)
    sim.compact_ivf_index(spark, idx)
    purge = (
        load_table(spark, sf_dir, "embeddings")
        .filter(sim.IVF_PURGED_PRED)
        .select("vec_id")
    )
    want_after_purge = sorted(
        map(tuple, sim.topk_ivf_index(spark, sf_dir, idx, nprobe=3).collect())
    )
    stats = sim.purge_ivf_index(spark, idx, purge)
    assert stats["purged_vecs"] == purge.count()
    got = sorted(
        map(tuple, sim.topk_ivf_index(spark, sf_dir, idx, nprobe=3).collect())
    )
    purged_ids = {r["vec_id"] for r in purge.collect()}
    assert not purged_ids & {t[1] for t in got}
    assert got != want_after_purge or not (
        purged_ids & {t[1] for t in want_after_purge}
    )
    sim.compact_ivf_index(spark, idx)
    assert (
        sorted(map(tuple, sim.topk_ivf_index(spark, sf_dir, idx, nprobe=3).collect()))
        == got
    )


def _arrow_rows(path):
    """Row multiset of a parquet dir (hive partitions included), read
    without Spark."""
    import pyarrow.parquet as pq

    return sorted(map(repr, pq.read_table(path).to_pylist()))


def _band_index_append_case(spark, tmp_path):
    """A built band index, and an append of one new document plus one
    verbatim copy of a corpus document (a membership-only row)."""
    from datapipe_spark.operators import dedup_index as di

    text = (
        "corpus document number {} holding plenty of distinct shingle "
        "words alpha beta gamma {} delta"
    )
    corpus = spark.createDataFrame(
        [(i, text.format(i, i * 7)) for i in range(4)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (50, "an entirely fresh appended document with novel words "
                 "epsilon zeta eta theta iota kappa lambda"),
            (51, text.format(1, 7)),
        ],
        "doc_id long, text string",
    )
    template = str(tmp_path / "tmpl")
    di.build_minhash_index(spark, corpus, template)

    def op(d):
        di.append_minhash_index(spark, d, batch, batch_id=0)

    def state(d):
        parts = {p: _arrow_rows(f"{d}/{p}") for p in ("mem", "sigs", "bands")}
        return parts, di._meta(spark, d)

    return template, op, state


def _queue_rows(d):
    """Row multiset of a store's erasure queue, read without Spark."""
    import pyarrow.parquet as pq

    return sorted(
        repr(r) for f in tombstones.pending(d) for r in pq.read_table(f).to_pylist()
    )


def _band_index_queue_case(spark, tmp_path):
    """A built band index with one queued doc_id, and a queue request
    naming it again plus two more: a moves-only commit that adds only
    the two new ids."""
    from datapipe_spark.operators import dedup_index as di

    template, _op, _state = _band_index_append_case(spark, tmp_path)
    di.queue_purge_minhash_index(
        spark, template, spark.createDataFrame([(0,)], "doc_id long")
    )
    ids = spark.createDataFrame([(0,), (2,), (3,)], "doc_id long")

    def op(d):
        di.queue_purge_minhash_index(spark, d, ids)

    def state(d):
        return _queue_rows(d), di._meta(spark, d)

    return template, op, state


def _scd2_queue_case(spark, tmp_path):
    """An SCD2 store holding one increment and one queued key, and a
    queue request naming it again plus two more keys."""
    import datetime as dt

    from datapipe_spark.operators import scd2

    t = dt.datetime(2024, 1, 1)
    template = str(tmp_path / "tmpl")
    scd2.scd2_init(spark, template, n_buckets=2)
    scd2.scd2_upsert(
        spark,
        template,
        spark.createDataFrame(
            [(i, i, "A", "1.00", t, "c", t, i) for i in range(1, 6)],
            "id long, user_id long, status string, total_amount string, "
            "created_at timestamp, __op string, __ts_ms timestamp, "
            "__source_lsn long",
        ),
        batch_id=0,
    )
    scd2.scd2_queue_purge(spark, template, spark.createDataFrame([(1,)], "id long"))
    keys = spark.createDataFrame([(1,), (2,), (3,)], "id long")

    def op(d):
        scd2.scd2_queue_purge(spark, d, keys)

    def state(d):
        return _queue_rows(d), scd2._meta(d)

    return template, op, state


def _ivf_template(spark, tmp_path):
    """A built 40-vector IVF index with one queued vec_id."""
    import os as _os

    from datapipe_spark.operators import similarity as sim

    sf = str(tmp_path / "sf")
    spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 8), "
            "i -> cast(pmod(hash(id, i), 100) as double) / 100)"
        ).alias("embedding"),
    ).write.parquet(_os.path.join(sf, "embeddings.parquet"))
    template = str(tmp_path / "tmpl")
    sim.build_ivf_index(spark, sf, template, nlist=5)
    sim.queue_purge_ivf_index(
        spark, template, spark.createDataFrame([(3,)], "vec_id long")
    )
    return template


def _ivf_purge_case(spark, tmp_path):
    """A built IVF index with one queued tombstone, and a purge of two
    more ids: the commit swaps the touched cells and deletes the
    folded tombstone files."""
    from datapipe_spark.operators import similarity as sim

    template = _ivf_template(spark, tmp_path)
    purge = spark.createDataFrame([(7,), (11,)], "vec_id long")

    def op(d):
        sim.purge_ivf_index(spark, d, purge)

    def state(d):
        return _arrow_rows(f"{d}/cells"), bool(tombstones.pending(d))

    return template, op, state


def _ivf_queue_case(spark, tmp_path):
    """A built IVF index with one queued vec_id, and a queue request
    naming it again plus two more."""
    from datapipe_spark.operators import similarity as sim

    template = _ivf_template(spark, tmp_path)
    ids = spark.createDataFrame([(3,), (7,), (11,)], "vec_id long")

    def op(d):
        sim.queue_purge_ivf_index(spark, d, ids)

    def state(d):
        return _queue_rows(d), _arrow_rows(f"{d}/cells")

    return template, op, state


@pytest.mark.parametrize(
    "case",
    [
        _band_index_append_case,
        _ivf_purge_case,
        _band_index_queue_case,
        _scd2_queue_case,
        _ivf_queue_case,
    ],
    ids=[
        "band_index_append",
        "ivf_purge",
        "band_index_queue",
        "scd2_queue",
        "ivf_queue",
    ],
)
def test_store_crash_sweep_every_fs_step(spark, tmp_path, crash_gate, case):
    """Crash a journaled store commit after every filesystem step in the
    store dir in turn. Re-entering the same operation (a replayed batch
    or request) must converge to the crash-free twin, leaving no
    journal and no staging dir behind."""
    import os as _os
    import shutil as _shutil

    from datapipe_spark.operators import journal

    template, op, state = case(spark, tmp_path)
    twin = str(tmp_path / "twin")
    _shutil.copytree(template, twin)
    op(twin)
    want = state(twin)

    completed_without_crash = False
    for k in range(80):
        d = str(tmp_path / f"sweep_{k:02d}")
        _shutil.copytree(template, d)
        crash_gate.arm(d, k)
        crashed = False
        try:
            op(d)
        except RuntimeError as e:
            assert "crash-inject" in str(e)
            crashed = True
        crash_gate.disarm()
        op(d)  # the replayed batch or request: the next writer entry
        assert state(d) == want, f"diverged after crash at fs-op {k}"
        assert not _os.path.exists(_os.path.join(d, journal.JOURNAL))
        assert not [n for n in _os.listdir(d) if n.startswith(".staging-")]
        if not crashed:
            completed_without_crash = True
            break
    assert completed_without_crash, "sweep never reached the clean-run budget"


def test_probe_plan_build_submits_no_spark_job(spark, tmp_path):
    """Building the band-index probe plan reads mem/sigs/bands under
    their declared schemas: no schema-inference job runs before the
    caller's action."""
    import uuid

    from datapipe_spark.operators import dedup_index as di

    template, _op, _state = _band_index_append_case(spark, tmp_path)
    batch = spark.createDataFrame(
        [(90, "a probe document with plenty of distinct shingle words")],
        "doc_id long, text string",
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        _out, bmem, bsigs = di._probe_plan(spark, template, batch)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    bmem.unpersist()
    bsigs.unpersist()
    assert tracker.getJobIdsForGroup(group) == []


def test_ivf_index_reads_submit_no_schema_inference_job(spark, tmp_path):
    """The IVF index reads centroids/ and cells/ under their declared
    schemas: building the purge's survivor plan submits no Spark job,
    and loading the quantizer runs only its own bounded collect."""
    import os as _os
    import uuid

    from datapipe_spark.operators import similarity as sim

    sf = str(tmp_path / "sf")
    _os.makedirs(sf, exist_ok=True)
    spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 8), "
            "i -> cast(pmod(hash(id, i), 100) as double) / 100)"
        ).alias("embedding"),
    ).write.parquet(_os.path.join(sf, "embeddings.parquet"))
    idx = str(tmp_path / "ivf")
    sim.build_ivf_index(spark, sf, idx, nlist=5)
    kb = spark.createDataFrame([(3,)], "vec_id long").localCheckpoint(eager=True)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_of(fn):
        group = f"test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(tracker.getJobIdsForGroup(group))

    kept, n_jobs = jobs_of(
        lambda: sim._ivf_purge_kept_plan(
            spark, f"{idx}/cells", [0, 1], F.broadcast(kb)
        )
    )
    assert n_jobs == 0
    assert kept.schema.simpleString() == (
        "struct<vec_id:bigint,v:array<double>,qcell:int>"
    )
    cmat, n_jobs = jobs_of(lambda: sim._load_centroids(spark, idx))
    assert n_jobs == 1 and cmat.shape == (5, 8)


def test_compact_minhash_index_pooled_jobs_keep_job_group(spark, tmp_path):
    """The compaction's staged rewrites run on a thread pool; every job
    they submit must carry the caller's job group, so no job of the
    call lands outside it."""
    import uuid

    template, _op, _state = _band_index_append_case(spark, tmp_path)
    from datapipe_spark.operators import dedup_index as di

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        di.compact_minhash_index(spark, template)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
    # mem/ and sigs/ compactions and the bands/ cluster each submit jobs
    assert len(tracker.getJobIdsForGroup(group)) >= 3
