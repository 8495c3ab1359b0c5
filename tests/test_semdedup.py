"""Operator-level SemDeDup checks (the replay-parity + planted-recall
gate lives in tests/test_oracle_parity.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.semdedup import semantic_dedup
from ds_caselaw_ingester_spark.session import ensure_oracle_safe
from ds_caselaw_ingester_spark.sources.catalog import table


def _corpus(spark, sf_dir):
    return table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def _centroids(corpus):
    return [
        {"centroid_id": i, "cvec": [float(x) for x in r["v"]]}
        for i, r in enumerate(
            corpus.where(F.col("vec_id") % 7 == 3).orderBy("vec_id").limit(8).collect()
        )
    ]


def test_impossible_threshold_yields_all_singletons(spark, sf_dir):
    """threshold > 1 can never pair: every vector is its own component,
    its own keep_id, and not a duplicate (the unpaired-majority path a
    real corpus exercises for ~99% of rows)."""
    ensure_oracle_safe(spark)
    corpus = _corpus(spark, sf_dir)
    out = semantic_dedup(
        corpus, "v", "vec_id", _centroids(corpus), threshold=1.01
    ).collect()
    assert out
    for r in out:
        assert r["component"] == r["vec_id"]
        assert r["keep_id"] == r["vec_id"]
        assert not r["is_duplicate"]


def test_exact_copies_collapse_to_one_keeper(spark, sf_dir):
    """Exact copies (cosine 1.0) always share a cell and a component;
    exactly one member of each copy-group is kept, and the keeper is the
    lowest id (identical centroid_cos -> id tie-break)."""
    ensure_oracle_safe(spark)
    base = _corpus(spark, sf_dir).where(F.col("vec_id") < 20)
    copies = base.select((F.col("vec_id") + 1000).alias("vec_id"), "v")
    corpus = base.unionAll(copies)
    rows = {
        r["vec_id"]: r
        for r in semantic_dedup(
            corpus, "v", "vec_id", _centroids(base), threshold=0.999
        ).collect()
    }
    for v in range(20):
        a, b = rows[v], rows[v + 1000]
        assert a["component"] == b["component"]
        group = [r for r in rows.values() if r["component"] == a["component"]]
        keepers = [r for r in group if not r["is_duplicate"]]
        assert len(keepers) == 1
        # ids only break ties among IDENTICAL centroid_cos members — the
        # exact copy pair always ranks the lower id first
        if a["centroid_cos"] == b["centroid_cos"]:
            assert not a["is_duplicate"] or any(
                m["centroid_cos"] < a["centroid_cos"] for m in group
            )


def test_incremental_matches_full_recompute_restricted_to_new(spark, sf_dir):
    """Equivalence contract of semantic_dedup_incremental: its pair set
    equals the full in-cell recompute over surviving-old + new vectors,
    restricted to pairs touching a new id — including REPLACE semantics
    for a re-ingested id whose embedding changed."""
    from pyspark.sql import functions as F

    from ds_caselaw_ingester_spark.operators.semdedup import (
        semantic_dedup_incremental,
        semdedup_build_index,
    )
    from ds_caselaw_ingester_spark.operators.similarity import (
        dot_product,
        kmeans_fit,
        l2_norm,
    )
    from ds_caselaw_ingester_spark.sources.catalog import table

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = kmeans_fit(
        emb.where(F.col("vec_id") % 4 == 0), "v", "vec_id", k=8, max_iter=2
    )
    old = emb.where(F.col("vec_id") % 5 != 0)
    # increment: planted near-dups (first component zeroed) of bases
    # that ARE in the index (% 5 == 1), PLUS vec_id 1 re-ingested with
    # a completely different embedding (reverse of vec 3's) -> replace
    fresh = emb.where(F.col("vec_id") % 5 == 1).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(F.array(F.lit(0.0)), F.slice(F.col("v"), 2, F.size(F.col("v")) - 1)).alias("v"),
    )
    reingest = emb.where(F.col("vec_id") == 3).select(
        F.lit(1).cast("long").alias("vec_id"), F.reverse(F.col("v")).alias("v")
    )
    new = fresh.unionByName(reingest)

    index = semdedup_build_index(old, "v", "vec_id", cents)
    pairs, updated = semantic_dedup_incremental(
        index, new, "v", "vec_id", cents, threshold=0.9
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}

    # reference: full in-cell pair listing over surviving-old + new
    new_ids = {r["vec_id"] for r in new.select("vec_id").distinct().collect()}
    survived = old.where(~F.col("vec_id").isin([1]))
    full = semdedup_build_index(survived.unionByName(new), "v", "vec_id", cents)
    s1 = full.select(
        F.col("vec_id").alias("a"), "centroid_id",
        F.col("v").alias("va"), l2_norm(F.col("v")).alias("na"),
    )
    s2 = full.select(
        F.col("vec_id").alias("b"), "centroid_id",
        F.col("v").alias("vb"), l2_norm(F.col("v")).alias("nb"),
    )
    ref_pairs = (
        s1.join(s2, "centroid_id")
        .where(F.col("a") < F.col("b"))
        .select(
            "a", "b",
            F.round(dot_product(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4).alias("cos"),
        )
        .where(F.col("cos") >= 0.9)
        .collect()
    )
    want = {
        (r["a"], r["b"])
        for r in ref_pairs
        if r["a"] in new_ids or r["b"] in new_ids
    }
    assert got == want and got  # non-trivial: planted dups must appear

    # updated index: one row per id, new ids present, replaced id fresh
    upd = {r["vec_id"]: r for r in updated.collect()}
    assert len(upd) == updated.count()
    assert set(upd) == {r["vec_id"] for r in survived.collect()} | new_ids


def test_kmeans_driver_and_loop_paths_agree(spark, sf_dir):
    """Optimization round 14: bounded training sets run the whole Lloyd
    loop driver-side from one bounded fetch (similarity.KMEANS_DRIVER_ROWS_MAX)
    — 1 job instead of 1 + max_iter, identical centroids. Pins driver ==
    loop on the real embeddings, on random data (clean, ANSI session),
    and — under a non-ANSI conf, where division by zero yields NULL
    instead of raising — on adversarial inputs: zero-norm init centroid,
    zero-norm vector, null vector, null element, duplicate vectors."""
    import random

    from ds_caselaw_ingester_spark.operators.similarity import kmeans_fit

    corpus = _corpus(spark, sf_dir)
    a = kmeans_fit(corpus, "v", "vec_id", k=6, max_iter=3, tol=0.0,
                   round_centroids=6)
    b = kmeans_fit(corpus, "v", "vec_id", k=6, max_iter=3, tol=0.0,
                   round_centroids=6, driver_threshold=0)
    assert a == b

    rng = random.Random(7)
    dim = 8
    rows = [(i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)])
            for i in range(200)]
    clean = spark.createDataFrame(rows, "id long, v array<double>")
    assert kmeans_fit(clean, "v", "id", k=5, max_iter=3, tol=0.0,
                      round_centroids=6) == kmeans_fit(
        clean, "v", "id", k=5, max_iter=3, tol=0.0, round_centroids=6,
        driver_threshold=0)
    # string ids: init order must match Spark's orderBy
    sclean = spark.createDataFrame(
        [(f"id-{i:04d}", v) for i, v in rows], "id string, v array<double>")
    assert kmeans_fit(sclean, "v", "id", k=5, max_iter=2, tol=0.0,
                      round_centroids=6) == kmeans_fit(
        sclean, "v", "id", k=5, max_iter=2, tol=0.0, round_centroids=6,
        driver_threshold=0)

    adv = list(rows)
    adv[0] = (0, [0.0] * dim)        # zero INIT centroid -> null scores
    adv[150] = (150, [0.0] * dim)    # zero-norm vector
    adv[151] = (151, rows[152][1])   # exact duplicate
    adv[100] = (100, None)           # null vector
    adv[101] = (101, [None if j == 3 else x
                      for j, x in enumerate(rows[101][1])])  # null element
    advdf = spark.createDataFrame(adv, "id long, v array<double>")
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        assert kmeans_fit(advdf, "v", "id", k=5, max_iter=3, tol=0.0,
                          round_centroids=6) == kmeans_fit(
            advdf, "v", "id", k=5, max_iter=3, tol=0.0, round_centroids=6,
            driver_threshold=0)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    # under ANSI the zero denominators must RAISE on both paths (the
    # driver path delegates so the error surfaces exactly as Spark's)
    if str(old).lower() == "true":
        import pytest as _pytest

        zdf = spark.createDataFrame(
            [(i, [0.0] * dim if i == 0 else v) for i, v in rows],
            "id long, v array<double>")
        with _pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            kmeans_fit(zdf, "v", "id", k=5, max_iter=1, tol=0.0,
                       round_centroids=6)
        with _pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            kmeans_fit(zdf, "v", "id", k=5, max_iter=1, tol=0.0,
                       round_centroids=6, driver_threshold=0)
