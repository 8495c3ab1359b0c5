"""Retrieval QUALITY of the approximate similarity operators, measured
against exact brute-force cosine — correctness-vs-oracle only proves the
bucketing is implemented as specified, not that it finds neighbors.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators import similarity
from ds_caselaw_ingester_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
)
from ds_caselaw_ingester_spark.sources.catalog import table

K = 10


@pytest.fixture(scope="module")
def frames(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    cs = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("cv"))
    cents = emb.where((F.col("vec_id") >= 8) & (F.col("vec_id") < 24)).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    return qs, cs, cents


def _topsets(df) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(r.q_id, set()).add(r.c_id)
    return out


def _mean_recall(exact: dict, approx: dict) -> float:
    vals = [len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact]
    return sum(vals) / len(vals)


def test_ivf_nprobe_trades_recall(frames):
    """IVF: probing more coarse cells must never reduce recall, and the
    registered nprobe=2 must beat nprobe=1."""
    qs, cs, cents = frames
    exact = _topsets(cosine_topk(qs, cs, k=K))
    r1 = _mean_recall(exact, _topsets(ivf_topk(qs, cs, cents, k=K, nprobe=1)))
    r2 = _mean_recall(exact, _topsets(ivf_topk(qs, cs, cents, k=K, nprobe=2)))
    r4 = _mean_recall(exact, _topsets(ivf_topk(qs, cs, cents, k=K, nprobe=4)))
    assert r2 >= r1 and r4 >= r2, (r1, r2, r4)


def test_embedding_neardup_finds_planted_pairs(spark, sf_correctness_dir):
    """The near-dup detector's whole job is finding planted ~0.99-cosine
    duplicates. At sf0.01 there are 50 (all with true cosine >= 0.9,
    verified by brute force); the old single-table configuration found
    39. The 4x8 multi-table query has per-pair miss probability
    ~0.31^4 ≈ 1%, so demand at least 48 of 50."""
    from ds_caselaw_ingester_spark.plans.registry import all_specs
    from ds_caselaw_ingester_spark.sources.catalog import table as cat_table

    n_planted = (
        cat_table(spark, sf_correctness_dir, "embeddings")
        .where(F.col("vec_id") % 10 == 0)
        .count()
    )
    assert n_planted == 50, n_planted
    rows = all_specs()["embedding_neardup"].fn(spark, sf_correctness_dir).collect()
    planted = {r.vec_a for r in rows if r.vec_b == r.vec_a + 1000000000}
    assert len(planted) >= n_planted - 2, (len(planted), n_planted)


def test_kmeans_trained_quantizer_beats_arbitrary_centroids(spark, frames):
    """IVF with a trained coarse quantizer vs the same index built on
    arbitrary data rows as centroids: measured 0.275 -> 0.787 mean
    recall@10 at nprobe=2. Demand a wide, stable margin."""
    from ds_caselaw_ingester_spark.operators.similarity import kmeans_fit
    from ds_caselaw_ingester_spark.sources.catalog import table as cat_table

    qs, cs, naive_cents = frames
    vecs = cat_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    trained = kmeans_fit(vecs, "v", "vec_id", k=16, max_iter=10)
    assert len(trained) == 16 and len(trained[0]["cvec"]) == 64

    exact = _topsets(cosine_topk(qs, cs, k=K))
    r_naive = _mean_recall(exact, _topsets(ivf_topk(qs, cs, naive_cents, k=K, nprobe=2)))
    r_trained = _mean_recall(exact, _topsets(ivf_topk(qs, cs, trained, k=K, nprobe=2)))
    assert r_trained >= r_naive + 0.2, (r_naive, r_trained)


def test_lit_double_array_nonfinite_elements(spark):
    """SQL-literal arrays must keep F.lit's NaN/Infinity semantics: a NaN
    that leaks into k-means centroids (or user-supplied IVF centroids)
    must not become a 'nanD' parse error (ADVICE r5)."""
    import math

    from ds_caselaw_ingester_spark.operators.similarity import _lit_double_array

    vals = [1.5, float("nan"), float("inf"), float("-inf"), -0.0]
    got = spark.range(1).select(_lit_double_array(vals).alias("a")).collect()[0].a
    assert got[0] == 1.5 and math.isnan(got[1])
    assert got[2] == float("inf") and got[3] == float("-inf")
    assert got[4] == 0.0 and math.copysign(1.0, got[4]) == -1.0


def test_ivf_assign_matmul_equals_literal_path(spark, monkeypatch):
    """The Arrow-matmul assignment (the large-k path the literal
    plan-fold cannot reach — BENCH_SF1.md r8) must agree with the
    literal path assignment-for-assignment at a k both can run:
    same centroid_id (incl. the ascending-id tie-break) and the same
    rounded cosine. The matmul side is forced by lowering the literal
    path's k ceiling."""
    from pyspark.sql import functions as F

    from ds_caselaw_ingester_spark.operators.similarity import (
        ivf_assign,
        kmeans_fit,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cents = kmeans_fit(
        emb.where(F.col("vec_id") % 3 == 0), "v", "vec_id", k=8, max_iter=2
    )
    def assign(**kw):
        return ivf_assign(emb, "v", "vec_id", cents, **kw).collect()

    lit = {
        r["vec_id"]: (r["centroid_id"], r["centroid_cos"])
        for r in assign(keep_score=True)
    }
    # nprobe > 1: same (id, centroid) multiset
    lit2 = {(r["vec_id"], r["centroid_id"]) for r in assign(nprobe=2)}
    monkeypatch.setattr(similarity, "IVF_LITERAL_MAX_K", 0)
    mm = {
        r["vec_id"]: (r["centroid_id"], r["centroid_cos"])
        for r in assign(keep_score=True)
    }
    assert lit == mm and len(lit) == emb.count()
    mm2 = {(r["vec_id"], r["centroid_id"]) for r in assign(nprobe=2)}
    assert lit2 == mm2


def test_ivf_assign_matmul_nprobe1_argmax_matches_argsort(spark, monkeypatch):
    """Optimization round 14: the matmul path's nprobe=1 pick is a
    NaN-safe argmax (O(k)) instead of a stable argsort head
    (O(k log k)). Pins, against a reference stable argsort computed on
    the same rounded score matrix, that the pick is identical on every
    shape the scorer can produce: exact rounded-score ties (lowest
    centroid_id wins), a zero-norm CENTROID column (scores become
    ±inf/NaN for that column only), and a zero-norm VECTOR (whole row
    NaN — both orderings fall back to column 0)."""
    import numpy as np

    from ds_caselaw_ingester_spark.operators.similarity import ivf_assign

    rng = np.random.default_rng(7)
    dim = 8
    cvecs = rng.normal(size=(6, dim)).round(3)
    cvecs[2] = 0.0  # zero-norm centroid: its score column is ±inf/NaN
    cvecs[4] = cvecs[1] * 2.0  # colinear with c1: exact rounded ties
    cents = [
        {"centroid_id": i, "cvec": [float(x) for x in cvecs[i]]}
        for i in range(len(cvecs))
    ]
    vecs = rng.normal(size=(40, dim)).round(3)
    vecs[5] = 0.0  # zero-norm vector: all-NaN score row
    vecs[9] = cvecs[1]  # exact hit on the tied pair
    vecs[17] = -cvecs[1]
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")

    monkeypatch.setattr(similarity, "IVF_LITERAL_MAX_K", 0)  # matmul path
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign(df, "v", "vec_id", cents, nprobe=1).collect()
    }

    # reference: the pre-change semantics, stable argsort on -s
    m = cvecs.astype(np.float64)
    cn = np.sqrt((m * m).sum(axis=1))
    v = vecs.astype(np.float64)
    vn = np.sqrt((v * v).sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        s = np.round((v @ m.T) / (vn[:, None] * cn[None, :]), 4)
    want = np.argsort(-s, axis=1, kind="stable")[:, 0]
    assert got == {i: int(want[i]) for i in range(len(vecs))}
