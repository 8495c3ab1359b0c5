"""Corpus-statistics auto-sizing (operators/sizing.py): the three
sf10-measured scale knobs — LSH planes, SemDeDup k, and the
duplication-aware hot-gram df-cap — pinned at three corpus sizes, plus
the operator-level `auto` paths and the no-silent-caps drop counter."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.dedup import (
    doc_shingles,
    exact_jaccard_pairs,
    hot_gram_drop_stats,
)
from ds_caselaw_ingester_spark.operators.sizing import (
    duplication_scaled_df_cap,
    gram_df_stats,
    lsh_num_planes,
    semdedup_num_clusters,
)


# ---------------------------------------------------------------------------
# pure sizing rules, pinned at the three measured corpus sizes
# (2.2k = sf0.01, 22k = sf1, 220k = sf10 vector counts)
# ---------------------------------------------------------------------------


def test_lsh_planes_pinned_at_three_corpus_sizes():
    # sf0.01: 2.2k vectors -> 6 planes (64 buckets, occupancy ~34)
    assert lsh_num_planes(2_200) == 6
    # sf1: 22k vectors -> 9 planes (512 buckets, occupancy ~43)
    assert lsh_num_planes(22_000) == 9
    # sf10: 220k vectors -> 12 planes — the value the manual sf10 rerun
    # needed after the 8-plane registered config aborted (BENCH_SF1.md)
    assert lsh_num_planes(220_000) == 12


def test_lsh_planes_grow_one_per_doubling_and_clamp():
    assert lsh_num_planes(220_000 * 2) == 13
    assert lsh_num_planes(0) == 4 and lsh_num_planes(10) == 4  # floor
    assert lsh_num_planes(10**12) == 24  # ceiling
    # monotone in n
    planes = [lsh_num_planes(n) for n in (10**3, 10**4, 10**5, 10**6, 10**7)]
    assert planes == sorted(planes)


def test_semdedup_k_pinned_at_three_corpus_sizes():
    assert semdedup_num_clusters(2_200) == 4  # floor: tiny corpora
    assert semdedup_num_clusters(22_000) == 22
    # sf10: 220 cells of ~1000 — same order as the manually-validated
    # k=256 run (cell ~860); the registered k=16 would be ~15k/cell
    assert semdedup_num_clusters(220_000) == 220


def test_df_cap_scales_with_duplication():
    assert duplication_scaled_df_cap(typical_df=1) == 50  # dup-free: unchanged
    assert duplication_scaled_df_cap(typical_df=0) == 50  # degenerate guard
    # ×100 copy corpus: median gram df ~100 -> cap 5000 keeps
    # within-family grams (the sf10 silent-zero fix)
    assert duplication_scaled_df_cap(typical_df=100) == 5000


# ---------------------------------------------------------------------------
# operator-level auto paths
# ---------------------------------------------------------------------------


def _dup_corpus(spark, n_copies: int):
    """20 base documents, each replicated n_copies times with a unique
    marker token appended — every base 3-gram then has df == n_copies."""
    rows = []
    for b in range(20):
        text = f"base{b}a base{b}b base{b}c base{b}d base{b}e base{b}f"
        for c in range(n_copies):
            rows.append((b * 1000 + c, f"{text} copy{b}x{c}"))
    return spark.createDataFrame(rows, schema="doc_id long, text string")


def test_auto_df_cap_finds_pairs_where_fixed_cap_finds_zero(spark):
    """The sf10 failure in miniature: with 60 copies per document a
    fixed cap of 50 drops EVERY pair-generating gram and returns zero
    rows; max_doc_freq='auto' measures median df ~60 and keeps the
    within-family grams."""
    shingles = doc_shingles(_dup_corpus(spark, 60), "doc_id", "text", n=3)
    fixed = exact_jaccard_pairs(shingles, "doc_id", threshold=0.5, max_doc_freq=50)
    assert fixed.count() == 0  # the silent-zero the cap used to produce
    auto = exact_jaccard_pairs(shingles, "doc_id", threshold=0.5, max_doc_freq="auto")
    # every within-family pair shares 4 of its ~6 grams -> jaccard ~0.5
    assert auto.count() > 0


def test_auto_df_cap_matches_fixed_on_dup_free_corpus(spark):
    """On a duplication-free corpus median df = 1, so 'auto' resolves to
    exactly the dup-free RARE_DF_CAP and the result is unchanged."""
    docs = spark.createDataFrame(
        [(i, f"w{i}a w{i}b shared tail w{i}c") for i in range(30)],
        schema="doc_id long, text string",
    )
    shingles = doc_shingles(docs, "doc_id", "text", n=3)
    auto = exact_jaccard_pairs(shingles, "doc_id", threshold=0.01, max_doc_freq="auto")
    fixed = exact_jaccard_pairs(shingles, "doc_id", threshold=0.01, max_doc_freq=50)
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, fixed.collect()))


def test_hot_gram_drop_stats_counts_planted_hot_shingle(spark):
    """No-silent-caps: the drop counter reports exactly the planted hot
    grams a literal cap excludes (VERDICT r6 #2 done-criterion)."""
    rows = [
        (i, f"u{i}a u{i}b the court finds u{i}c") for i in range(40)
    ] + [(100, "alpha beta gamma delta"), (101, "alpha beta gamma epsilon")]
    docs = spark.createDataFrame(rows, schema="doc_id long, text string")
    shingles = doc_shingles(docs, "doc_id", "text", n=3)
    stats = hot_gram_drop_stats(shingles, "doc_id", max_doc_freq=10)
    # exactly one gram ('the court finds') exceeds df=10; the two
    # alpha-beta-gamma docs contribute the surviving pairable grams
    assert stats["n_hot_dropped"] == 1
    assert stats["max_df"] == 40
    assert stats["n_pairable"] >= 1
    # and when the cap kills EVERYTHING, the stats say so loudly
    all_dropped = hot_gram_drop_stats(
        doc_shingles(_dup_corpus(spark, 30), "doc_id", "text", n=3),
        "doc_id",
        max_doc_freq=10,
    )
    assert all_dropped["n_pairable"] == 0 and all_dropped["n_hot_dropped"] > 0


def test_gram_df_stats_measures_duplication(spark):
    shingles = doc_shingles(_dup_corpus(spark, 25), "doc_id", "text", n=3)
    stats = gram_df_stats(shingles, "doc_id")
    # base grams dominate the vocabulary: median df == copy count
    assert stats["median_df"] == 25
    assert stats["max_df"] == 25


def test_lsh_neardup_pairs_auto_finds_planted_dups(spark, sf_dir):
    """The operator form of embedding_neardup at num_planes='auto':
    planted 0.99-cosine near-dups must still pair with their source."""
    from ds_caselaw_ingester_spark.operators.similarity import lsh_neardup_pairs
    from ds_caselaw_ingester_spark.sources.catalog import table

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    planted = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.lit(0.0)), F.slice(F.col("v"), 2, F.size(F.col("v")) - 1)
        ).alias("v"),
    )
    n_planted = planted.count()
    corpus = emb.unionAll(planted)
    pairs = lsh_neardup_pairs(corpus, "v", "vec_id", threshold=0.9, num_planes="auto")
    found = pairs.where(F.col("vec_id_b") == F.col("vec_id_a") + 100000).count()
    assert found >= int(n_planted * 0.9), (found, n_planted)


def test_semantic_dedup_auto_keeps_one_exemplar_per_family(spark, sf_dir):
    """semantic_dedup_auto on the planted corpus: auto-sized quantizer,
    every planted duplicate lands in a component with its source and
    exactly one exemplar per component survives."""
    from ds_caselaw_ingester_spark.operators.semdedup import semantic_dedup_auto
    from ds_caselaw_ingester_spark.sources.catalog import table

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    planted = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.lit(0.0)), F.slice(F.col("v"), 2, F.size(F.col("v")) - 1)
        ).alias("v"),
    )
    corpus = emb.unionAll(planted)
    out = semantic_dedup_auto(corpus, "v", "vec_id", threshold=0.95)
    rows = out.collect()
    assert len(rows) == corpus.count()
    by_comp: dict = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    for comp_rows in by_comp.values():
        keeps = [r for r in comp_rows if not r["is_duplicate"]]
        assert len(keeps) == 1
        assert keeps[0]["vec_id"] == keeps[0]["keep_id"]


def test_bucket_occupancy_stats_exact_candidate_bound(spark):
    """The post-hash validator: candidate_bound must equal the exact
    sum of C(occ, 2) over buckets — the number of pairs the in-bucket
    self-join will generate."""
    from ds_caselaw_ingester_spark.operators.sizing import bucket_occupancy_stats

    keys = spark.createDataFrame(
        [(i, "b0") for i in range(5)]      # C(5,2) = 10
        + [(i, "b1") for i in range(3)]    # C(3,2) = 3
        + [(99, "b2")],                    # singleton: 0
        schema="vec_id long, bucket string",
    )
    stats = bucket_occupancy_stats(keys)
    assert stats["n_buckets"] == 3
    assert stats["max_occupancy"] == 5
    assert stats["candidate_bound"] == 13
    assert abs(stats["mean_occupancy"] - 3.0) < 1e-9


def test_lsh_neardup_pairs_bucket_stats_logged(spark, sf_dir, caplog):
    """log_bucket_stats surfaces the measured occupancy + candidate
    bound (the no-silent-saturation analog of the df-cap counter)."""
    import logging

    from ds_caselaw_ingester_spark.operators.similarity import lsh_neardup_pairs
    from ds_caselaw_ingester_spark.sources.catalog import table

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    with caplog.at_level(logging.INFO, logger="ds_caselaw_ingester_spark.operators.similarity"):
        lsh_neardup_pairs(
            emb, "v", "vec_id", num_planes=4, log_bucket_stats=True
        ).count()
    assert any("candidate bound" in r.message for r in caplog.records)


def test_semantic_dedup_warns_on_skewed_cells(spark, caplog):
    """An 8-centroid quantizer where 7 cells are dead (everything lands
    in one cell) does 8x the balanced pair work; the histogram check
    must WARN about the quadratic hazard. (The metric is pair work vs
    the balanced-k baseline — a mean-occupancy test can never flag the
    all-in-one-cell worst case, since there max == mean.)"""
    import logging

    from ds_caselaw_ingester_spark.operators.semdedup import semantic_dedup

    # 60 near-identical vectors along e1 (tiny jitter in dim 2) -> all
    # cosine ~1 to centroid 0; the 7 dead centroids point the other way
    vecs = [(i, [1.0, 0.001 * i] + [0.0] * 62) for i in range(60)]
    df = spark.createDataFrame(vecs, schema="vec_id long, v array<double>")
    cents = [{"centroid_id": 0, "cvec": [1.0] + [0.0] * 63}] + [
        {"centroid_id": c, "cvec": [-1.0] + [0.0] * 63} for c in range(1, 8)
    ]
    with caplog.at_level(logging.WARNING, logger="ds_caselaw_ingester_spark.operators.semdedup"):
        semantic_dedup(
            df, "v", "vec_id", cents, threshold=0.99, log_cell_stats=True
        ).count()
    assert any("SKEWED" in r.message for r in caplog.records)


def test_bucket_occupancy_stats_empty_frame_reports_zeros(spark):
    """Review regression: an empty keyed frame (a filter matched
    nothing) must report zero buckets, not crash on int(None)."""
    from ds_caselaw_ingester_spark.operators.sizing import bucket_occupancy_stats

    empty = spark.createDataFrame([], schema="vec_id long, bucket string")
    stats = bucket_occupancy_stats(empty)
    assert stats == {
        "n_buckets": 0,
        "n_rows": 0,
        "max_occupancy": 0,
        "mean_occupancy": 0.0,
        "candidate_bound": 0,
    }


def test_max_doc_freq_typo_raises_at_call_site(spark):
    """Review regression: a string other than exactly 'auto' must raise
    ValueError immediately — passed through, it would die deep inside
    the job as an ANSI cast error on the Column comparison."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], schema="doc_id long, text string"
    )
    shingles = doc_shingles(docs, "doc_id", "text", n=3)
    with pytest.raises(ValueError, match="auto"):
        exact_jaccard_pairs(shingles, "doc_id", 0.5, max_doc_freq="Auto")


def test_semdedup_auto_sample_grows_with_k(spark):
    """Review regression: with a fixed sample cap, k = ceil(n/cell) can
    exceed the training sample and kmeans_fit's init raises. The sample
    target must grow with k (TRAIN_ROWS_PER_CENTROID * k), so a tiny
    max_train_rows with a small cell size still trains and dedups."""
    from ds_caselaw_ingester_spark.operators.semdedup import semantic_dedup_auto

    vecs = [
        (i, [float((i * 7 + d * 3) % 11) for d in range(8)]) for i in range(100)
    ]
    df = spark.createDataFrame(vecs, schema="vec_id long, v array<double>")
    out = semantic_dedup_auto(
        df, "v", "vec_id",
        threshold=0.999,
        target_cell_size=5,   # k = 20 > the 10-row fixed cap below
        max_train_rows=10,
        kmeans_iters=1,
    )
    assert out.count() == 100


def test_semdedup_auto_tiny_corpus_does_not_crash(spark):
    """ADVICE r7: for n below the sizing rule's clamp floor (e.g. 2
    vectors) the ratio==1 branch never re-clamped k, so kmeans_fit
    raised. k must clamp to the corpus size up front."""
    from ds_caselaw_ingester_spark.operators.semdedup import semantic_dedup_auto

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, v array<double>"
    )
    out = semantic_dedup_auto(df, "v", "vec_id", kmeans_iters=1)
    assert out.count() == 2
    assert out.where("is_duplicate").count() == 0


def test_occupancy_guard_warns_on_skew_and_passes_healthy(spark, caplog):
    """occupancy_guard: a hot bucket (everything colliding) must WARN
    before the quadratic in-bucket join; a layout at/below the target
    occupancy must stay silent. Wired into lsh_candidate_pairs /
    lsh_neardup_pairs behind their guard flags."""
    import logging

    from ds_caselaw_ingester_spark.operators import sizing as sizing_mod
    from ds_caselaw_ingester_spark.operators.sizing import (
        bucket_occupancy_stats,
        occupancy_guard,
    )

    # 2000 rows in ONE bucket: candidate bound ~2M >> 4 x (2000 x 64/2)
    hot = spark.range(2000).select(F.lit("b0").alias("bucket"))
    stats = bucket_occupancy_stats(hot)
    with caplog.at_level(logging.WARNING, logger=sizing_mod.__name__):
        ok = occupancy_guard(stats, what="test-hot")
    assert not ok
    assert any("skewed" in r.message for r in caplog.records)

    caplog.clear()
    # 2000 rows spread 8 per bucket: well under target occupancy 64
    spread = spark.range(2000).select(
        F.concat(F.lit("b"), (F.col("id") % 250).cast("string")).alias("bucket")
    )
    with caplog.at_level(logging.WARNING, logger=sizing_mod.__name__):
        ok = occupancy_guard(bucket_occupancy_stats(spread), what="test-ok")
    assert ok
    assert not caplog.records


def test_lsh_candidate_pairs_guard_fires_on_hot_band(spark, caplog):
    """End-to-end wiring: identical documents share every band, so the
    guarded lsh_candidate_pairs must WARN (df-cap can't help — the heat
    is in the BANDS, not any one shingle)."""
    import logging

    from ds_caselaw_ingester_spark.operators import sizing as sizing_mod
    from ds_caselaw_ingester_spark.operators.dedup import (
        doc_shingles,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.range(600).select(
        F.col("id").alias("doc_id"),
        F.lit("the same exact text repeated for every document here").alias("text"),
    )
    sh = doc_shingles(docs, "doc_id", "text", n=3)
    bands = lsh_bands(minhash_signatures(sh, "doc_id", 16), "doc_id", 4)
    with caplog.at_level(logging.WARNING, logger=sizing_mod.__name__):
        lsh_candidate_pairs(bands, "doc_id", guard_occupancy=True)
    assert any("skewed" in r.message for r in caplog.records)


def test_lsh_neardup_auto_guard_warns_on_skewed_corpus(spark, caplog):
    """r8 verdict item: production callers using num_planes='auto' get
    the occupancy-skew WARN WITHOUT env plumbing. A corpus of (near-)
    identical vectors defeats plane auto-sizing — every row hashes to
    one bucket per table and the in-bucket join is quadratic — so the
    guard must fire by default on the auto path, stay silent when
    explicitly disabled, and stay off for pinned plane counts (the
    oracle/bench configs)."""
    import logging

    from ds_caselaw_ingester_spark.operators.similarity import lsh_neardup_pairs

    skewed = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0] ) for i in range(600)],
        "vec_id long, v array<double>",
    )
    logger = "ds_caselaw_ingester_spark.operators.sizing"
    with caplog.at_level(logging.WARNING, logger=logger):
        lsh_neardup_pairs(skewed, "v", "vec_id", num_planes="auto").limit(1).collect()
    assert any("skewed" in r.message for r in caplog.records), caplog.records
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=logger):
        lsh_neardup_pairs(
            skewed, "v", "vec_id", num_planes="auto", guard_occupancy=False
        ).limit(1).collect()
        lsh_neardup_pairs(skewed, "v", "vec_id", num_planes=4).limit(1).collect()
    assert not any("skewed" in r.message for r in caplog.records), caplog.records


def test_curation_n_buckets_block_rule():
    """The block-sized rule: buckets track projected index bytes, are
    clamped sane, and a 100B-doc corpus gets a bucket count that keeps
    both the probe read (batch keys x ~256 MB) and the file count
    manageable."""
    from ds_caselaw_ingester_spark.operators.sizing import (
        CURATION_BAND_ROW_BYTES,
        curation_n_buckets,
    )

    assert curation_n_buckets(0) == 8
    assert curation_n_buckets(1000) == 8  # tiny corpora floor, compress well
    b = curation_n_buckets(100_000_000_000)  # 100B docs
    # 100B x 4 bands x row_bytes / 256MB, clamped to max
    import math

    want = min(
        1 << 20,
        math.ceil(100_000_000_000 * 4 * CURATION_BAND_ROW_BYTES / (256 << 20)),
    )
    assert b == want and 8 <= b <= 1 << 20
    # monotone in corpus size
    assert curation_n_buckets(10**7) <= curation_n_buckets(10**9)
