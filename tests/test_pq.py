"""Product quantization: bit-exact pure-Python replay of encode + ADC
(the determinism contract every quantizer in this repo carries), the
measured shortlist+rerank recall, and the storage win."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators import similarity
from ds_caselaw_ingester_spark.operators.pq import (
    _exact_rerank,
    pq_encode,
    pq_fit,
    pq_topk,
)
from ds_caselaw_ingester_spark.session import ensure_oracle_safe
from ds_caselaw_ingester_spark.sources.catalog import spread, table


def _flat_rerank(queries, encoded, vectors, codebook, k, shortlist):
    """Flat PQ search: an ADC shortlist of `shortlist` candidates per
    query, then the exact cosine re-rank of only those rows (the tail
    ivfadc_topk runs after its cell filter)."""
    sl = pq_topk(queries, encoded, codebook, k=shortlist).select("q_id", "c_id")
    return _exact_rerank(sl, queries, vectors, k, 4)


def _rnd(x: float, n: int = 4) -> float:
    """Spark's ROUND on doubles: shortest-repr decimal, HALF_UP."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-n), rounding=ROUND_HALF_UP))


@pytest.fixture(scope="module")
def pq_ctx(spark, sf_dir):
    ensure_oracle_safe(spark)
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cb = pq_fit(
        spread(emb.where(F.col("vec_id") % 4 == 0), "vec_id"),
        "v",
        "vec_id",
        m=16,
        k=16,
    )
    enc = pq_encode(
        emb.select(F.col("vec_id").alias("c_id"), "v"), "v", "c_id", cb
    ).cache()
    enc.count()
    yield emb, cb, enc
    enc.unpersist()


def _py_encode(v, cb):
    m, k, sd = cb["m"], cb["k"], cb["subdim"]
    codes = []
    for s in range(m):
        sub = v[s * sd : (s + 1) * sd]
        sn = math.sqrt(sum(x * x for x in sub)) or 1e-300
        best = None
        for c in range(k):
            cw = cb["books"][s][c]
            cn = math.sqrt(sum(float(x) * float(x) for x in cw))
            dot = 0.0
            for d in range(sd):
                dot += sub[d] * float(cw[d])
            sc = _rnd(dot / (sn * cn))
            if best is None or (-sc, c) < best:
                best = (-sc, c)
        codes.append(best[1])
    return codes


def test_encode_is_bit_exact_with_python_replay(pq_ctx):
    """Same rounded-cosine argmax, same tie-break: every code byte the
    cluster produces is reproducible from the codebook alone — the
    property that lets an index built last year be probed today."""
    emb, cb, enc = pq_ctx
    vecs = {r["vec_id"]: [float(x) for x in r["v"]] for r in emb.collect()}
    for r in enc.collect():
        assert list(r["codes"]) == _py_encode(vecs[r["c_id"]], cb), r["c_id"]
        # recon_norm: same subspace-order sum of the codeword sq-norms
        want = math.sqrt(
            sum(
                sum(float(x) ** 2 for x in cb["books"][s][r["codes"][s]])
                for s in range(cb["m"])
            )
        )
        assert abs(r["recon_norm"] - want) < 1e-9


def test_adc_scores_match_python_lut_replay(spark, pq_ctx):
    emb, cb, enc = pq_ctx
    m, k, sd = cb["m"], cb["k"], cb["subdim"]
    qs = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    got = pq_topk(qs, enc, cb, k=5).collect()
    vecs = {r["vec_id"]: [float(x) for x in r["v"]] for r in emb.collect()}
    codes = {r["c_id"]: list(r["codes"]) for r in enc.collect()}
    norms = {r["c_id"]: r["recon_norm"] for r in enc.collect()}
    for r in got:
        q = vecs[r["q_id"]]
        qn = math.sqrt(sum(x * x for x in q))
        adc = 0.0
        for s in range(m):
            cw = cb["books"][s][codes[r["c_id"]][s]]
            adc += sum(q[s * sd + d] * float(cw[d]) for d in range(sd))
        assert r["cosine_adc"] == pytest.approx(
            _rnd(adc / (qn * norms[r["c_id"]])), abs=1e-9
        ), r


def test_shortlist_rerank_recall(spark, pq_ctx):
    """ADC alone is a coarse filter (0.20 recall@10 measured at m=16);
    the production shape — shortlist@100 then exact re-rank of only
    those rows — recovers >=0.9, touching the float tier 100 times per
    query regardless of corpus size."""
    from ds_caselaw_ingester_spark.operators.similarity import cosine_topk

    emb, cb, enc = pq_ctx
    qs = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    cand = spread(
        emb.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv")), "c_id"
    )
    exact: dict = {}
    for r in cosine_topk(qs, cand, k=10).collect():
        exact.setdefault(r["q_id"], set()).add(r["c_id"])
    got: dict = {}
    reranked = _flat_rerank(qs, enc, cand, cb, k=10, shortlist=100)
    for r in reranked.collect():
        got.setdefault(r["q_id"], set()).add(r["c_id"])
    recalls = [len(exact[q] & got.get(q, set())) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_pq_storage_is_smaller_on_disk(spark, pq_ctx, tmp_path):
    """m tinyints + one norm vs 64 floats: the parquet files the codes
    tier actually writes are a fraction of the float tier's, even at
    toy scale where per-file overhead flatters the wide table."""
    emb, cb, enc = pq_ctx
    raw_dir, pq_dir = str(tmp_path / "raw"), str(tmp_path / "pq")
    emb.select("vec_id", "v").coalesce(1).write.parquet(raw_dir)
    enc.coalesce(1).write.parquet(pq_dir)
    import os

    def size(d):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    assert size(raw_dir) > 3 * size(pq_dir), (size(raw_dir), size(pq_dir))


def test_ivfadc_recall_and_cell_restriction(spark, pq_ctx):
    """The composed IVF+PQ+rerank stack: recall@10 close to the flat
    ADC-rerank path (the IVF tier only loses neighbors whose cell was
    not probed), and every scored candidate verifiably came from a
    probed cell."""
    from ds_caselaw_ingester_spark.operators.pq import ivfadc_topk
    from ds_caselaw_ingester_spark.operators.similarity import (
        cosine_topk,
        ivf_assign,
        kmeans_fit,
    )
    from ds_caselaw_ingester_spark.sources.catalog import spread

    emb, cb, enc = pq_ctx
    qs = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    cand = spread(
        emb.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv")), "c_id"
    )
    coarse = kmeans_fit(
        spread(emb.where(F.col("vec_id") % 4 == 0), "vec_id"), "v", "vec_id",
        k=8, max_iter=3, tol=0.0, round_centroids=6,
    )
    # nprobe=5 of 8 cells: the synthetic embeddings are near-uniform,
    # so coarse cells capture little neighborhood structure and recall
    # tracks the probed fraction (measured 3/8 -> 0.56, 4/8 -> 0.71,
    # 5/8 -> 0.80); real embedding corpora cluster, letting production
    # probe a far smaller fraction at the same recall.
    got = ivfadc_topk(qs, enc, cand, coarse, cb, k=10, nprobe=5, shortlist=100)
    rows = got.collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["q_id"], set()).add(r["c_id"])

    exact: dict = {}
    for r in cosine_topk(qs, cand, k=10).collect():
        exact.setdefault(r["q_id"], set()).add(r["c_id"])
    recalls = [len(exact[q] & by_q.get(q, set())) / len(exact[q]) for q in exact]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.75, recalls

    # every returned candidate's cell is one of its query's probed cells
    cand_cell = {
        r["c_id"]: r["centroid_id"]
        for r in ivf_assign(cand, "cv", "c_id", coarse, nprobe=1).collect()
    }
    probed: dict = {}
    for r in ivf_assign(qs, "qv", "q_id", coarse, nprobe=5).collect():
        probed.setdefault(r["q_id"], set()).add(r["centroid_id"])
    for q, cids in by_q.items():
        for c in cids:
            assert cand_cell[c] in probed[q], (q, c)


def test_index_roundtrip_is_bit_identical(spark, pq_ctx, tmp_path):
    """save_index/load_index: a reloaded codebook encodes every vector
    to the same bytes and scores every ADC pair to the same double —
    JSON's repr round-trip preserves the IEEE values exactly."""
    from ds_caselaw_ingester_spark.operators.pq import (
        load_index,
        pq_encode,
        pq_topk,
        save_index,
    )

    emb, cb, enc = pq_ctx
    save_index(str(tmp_path / "idx"), cb, coarse_centroids=[{"centroid_id": 0, "cvec": [1.0] * 64}])
    cb2, coarse2 = load_index(str(tmp_path / "idx"))
    assert cb2["books"] == cb["books"]
    assert coarse2 is not None and coarse2[0]["cvec"] == [1.0] * 64
    sample = emb.where(F.col("vec_id") < 40).select(F.col("vec_id").alias("c_id"), "v")
    a = {r["c_id"]: (list(r["codes"]), r["recon_norm"]) for r in pq_encode(sample, "v", "c_id", cb).collect()}
    b = {r["c_id"]: (list(r["codes"]), r["recon_norm"]) for r in pq_encode(sample, "v", "c_id", cb2).collect()}
    assert a == b
    qs = emb.where(F.col("vec_id") < 2).select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
    s1 = sorted(map(tuple, pq_topk(qs, enc, cb, k=5).collect()))
    s2 = sorted(map(tuple, pq_topk(qs, enc, cb2, k=5).collect()))
    assert s1 == s2


def test_ivfadc_with_pca_codebook_projects_coarse_tier(spark, pq_ctx):
    """A codebook carrying a PCA model projects the COARSE tier too
    (ADVICE r10): with reduced-space coarse centroids and every cell
    probed, ivfadc_topk equals the flat ADC shortlist + re-rank on the same
    codebook — cell filtering is vacuous at nprobe=n_cells, so any
    divergence would be a projection bug in the assign tier. A
    raw-space quantizer against the same codebook raises ivf_assign's
    dimension guard instead of null-padding into empty results."""
    from ds_caselaw_ingester_spark.operators.pca import pca_fit, pca_project
    from ds_caselaw_ingester_spark.operators.pq import (
        ivfadc_topk,
        pq_encode,
        pq_fit,
    )
    from ds_caselaw_ingester_spark.operators.similarity import kmeans_fit

    emb, _, _ = pq_ctx
    vecs = emb.where(F.col("vec_id") < 300).select("vec_id", "v")
    m = pca_fit(vecs, "v", 64, k=32)
    cb = pq_fit(vecs, "v", "vec_id", m=8, k=16, pca_model=m)
    enc = pq_encode(
        vecs.select(F.col("vec_id").alias("c_id"), "v"), "v", "c_id", cb
    ).localCheckpoint(eager=True)
    cand = vecs.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    qs = vecs.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    proj = pca_project(vecs, "v", m, out_col="p").select(
        "vec_id", F.col("p").alias("v")
    )
    coarse = kmeans_fit(
        spread(proj.where(F.col("vec_id") % 3 == 0), "vec_id"), "v", "vec_id",
        k=4, max_iter=2, tol=0.0, round_centroids=6,
    )
    got = {
        (r["q_id"], r["c_id"], r["cosine"])
        for r in ivfadc_topk(
            qs, enc, cand, coarse, cb, k=5, nprobe=4, shortlist=400
        ).collect()
    }
    want = {
        (r["q_id"], r["c_id"], r["cosine"])
        for r in _flat_rerank(qs, enc, cand, cb, k=5, shortlist=400).collect()
    }
    assert got == want and got

    # raw-space quantizer + PCA codebook: the guard names the mix
    coarse_raw = kmeans_fit(
        spread(vecs.where(F.col("vec_id") % 3 == 0), "vec_id"), "v", "vec_id",
        k=4, max_iter=1, tol=0.0, round_centroids=6,
    )
    with pytest.raises(Exception, match="space mix"):
        ivfadc_topk(
            qs, enc, cand, coarse_raw, cb, k=5, nprobe=2, shortlist=50
        ).collect()


def test_ivf_assign_dim_guard_both_paths(spark, pq_ctx, monkeypatch):
    """ivf_assign raises (naming the space mix) on a vector/centroid
    dimension mismatch in BOTH the literal and matmul paths, instead of
    element_at null-padding into silently wrong cosines. The matmul
    path is forced by lowering the literal path's k ceiling."""
    from ds_caselaw_ingester_spark.operators.similarity import ivf_assign

    emb, _, _ = pq_ctx
    vecs = emb.where(F.col("vec_id") < 20).select("vec_id", "v")
    bad_cents = [{"centroid_id": 0, "cvec": [1.0] * 32}, {"centroid_id": 1, "cvec": [0.5] * 32}]
    for max_k in (similarity.IVF_LITERAL_MAX_K, 0):
        monkeypatch.setattr(similarity, "IVF_LITERAL_MAX_K", max_k)
        with pytest.raises(Exception, match="space mix"):
            ivf_assign(vecs, "v", "vec_id", bad_cents, nprobe=1).collect()


@pytest.mark.parametrize("method", ["literal", "matmul"])
def test_ivf_assign_null_vector_flows_as_null_row(spark, pq_ctx, method, monkeypatch):
    """A NULL embedding row (upstream encoder failure) must NOT abort a
    corpus-wide assignment — on EITHER dispatch path (matmul is the
    auto-selected large-corpus one). It flows through as exactly ONE
    row with null centroid_id AND null centroid_cos, even at nprobe>1:
    a failed embedding is not a member of any cell, so downstream
    equi-joins (probe, semdedup pair generation) drop it naturally
    instead of clustering all failures into the lowest-id cell.
    Genuinely mis-sized vectors still raise (test above)."""
    from ds_caselaw_ingester_spark.operators.similarity import ivf_assign

    if method == "matmul":
        monkeypatch.setattr(similarity, "IVF_LITERAL_MAX_K", 0)

    emb, _, _ = pq_ctx
    good = emb.where(F.col("vec_id") < 5).select("vec_id", "v")
    nulled = good.withColumn(
        "v", F.when(F.col("vec_id") == 0, F.lit(None)).otherwise(F.col("v"))
    )
    rows = ivf_assign(
        nulled, "v", "vec_id", keep_score=True, nprobe=2,
        centroids=[
            {"centroid_id": 0, "cvec": [1.0] * 64},
            {"centroid_id": 1, "cvec": [-1.0] * 64},
        ],
    ).collect()
    by_vid = {}
    for r in rows:
        by_vid.setdefault(r["vec_id"], []).append(r)
    assert len(by_vid[0]) == 1  # one null row, not nprobe copies
    assert by_vid[0][0]["centroid_id"] is None
    assert by_vid[0][0]["centroid_cos"] is None
    for vid in (1, 2, 3, 4):
        assert len(by_vid[vid]) == 2  # nprobe survivors untouched
        for r in by_vid[vid]:
            assert r["centroid_id"] is not None
            assert r["centroid_cos"] is not None


def test_pq_driver_and_loop_paths_agree(spark, pq_ctx):
    """Optimization round 14: bounded (projected) samples train all m
    codebooks driver-side from one bounded fetch — the kmeans driver fast
    path's sibling. Pins driver == loop codebooks on the real sample,
    on clean random data, and (non-ANSI conf) on adversarial inputs;
    anomalous rows (null vector/element) must delegate to the loop and
    still agree."""
    import random

    from ds_caselaw_ingester_spark.operators.pq import pq_fit

    rng = random.Random(11)
    dim = 8
    rows = [(i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)])
            for i in range(200)]
    clean = spark.createDataFrame(rows, "id long, v array<double>")
    assert pq_fit(clean, "v", "id", m=4, k=5, max_iter=3,
                  round_centroids=6) == pq_fit(
        clean, "v", "id", m=4, k=5, max_iter=3, round_centroids=6,
        driver_threshold=0)

    adv = list(rows)
    adv[0] = (0, [0.0] * dim)        # zero init codeword -> null scores
    adv[150] = (150, [0.0] * dim)
    adv[100] = (100, None)           # null vector -> delegates to loop
    adv[101] = (101, [None if j == 3 else x
                      for j, x in enumerate(rows[101][1])])
    advdf = spark.createDataFrame(adv, "id long, v array<double>")
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        assert pq_fit(advdf, "v", "id", m=4, k=5, max_iter=2,
                      round_centroids=6) == pq_fit(
            advdf, "v", "id", m=4, k=5, max_iter=2, round_centroids=6,
            driver_threshold=0)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_array_min_matches_sort_head(spark):
    """Optimization round 14: ivf_assign's nprobe=1 argmax uses
    array_min (O(k)) instead of element_at(array_sort, 1) (O(k log k)).
    Pins that array_min's struct comparator IS the sort's on every
    entry shape the scorer can produce: null neg_score first (non-ANSI
    zero denominator), NaN last, +/-0.0 equal, score ties broken by
    ascending centroid_id — plus randomized arrays."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(3)
    rows = [
        ([(-0.5, 1), (-0.9, 2), (-0.9, 0)],),
        ([(None, 1), (-0.9, 2)],),
        ([(None, 2), (None, 1), (-0.9, 3)],),
        ([(float("nan"), 1), (-0.9, 2)],),
        ([(float("nan"), 1), (None, 2)],),
        ([(float("nan"), 2), (float("nan"), 1)],),
        ([(0.0, 3), (-0.0, 1)],),
        ([(-0.0, 3), (0.0, 1)],),
    ] + [
        (
            [
                (round(rng.uniform(-1, 1), 4), c)
                for c in rng.sample(range(64), rng.randint(1, 16))
            ],
        )
        for _ in range(200)
    ]
    df = spark.createDataFrame(
        rows, "arr array<struct<neg_score:double, centroid_id:int>>"
    )
    out = df.select(
        F.element_at(F.array_sort("arr"), 1).alias("via_sort"),
        F.array_min("arr").alias("via_min"),
    )
    def key(row):
        # NaN != NaN in Python; repr-compare so identical rows match
        return (repr(row["neg_score"]), row["centroid_id"])

    for r in out.collect():
        assert key(r["via_sort"]) == key(r["via_min"]), (
            r["via_sort"],
            r["via_min"],
        )


def test_round_like_spark_vec_bit_exact():
    """Optimization round 14: the driver replays' per-(row, centroid)
    HALF_UP rounding is vectorized (_round_like_spark_vec). Pins bit
    equality (struct-packed doubles, so -0.0 and NaN payloads count)
    with the scalar Decimal path over every 4-digit half-integer
    boundary neighborhood, non-finite/huge/subnormal values, and random
    draws at several magnitudes and digit settings."""
    import math
    import random
    import struct

    import numpy as np

    from ds_caselaw_ingester_spark.operators.similarity import (
        _round_like_spark,
        _round_like_spark_vec,
    )

    vals = [
        0.0, -0.0, 1.0, -1.0, 0.00005, -0.00005, 0.00015, -0.00015,
        0.99995, -0.99995, 1.00005, 123456.00005, 123.45675, -123.45675,
        float("nan"), float("inf"), float("-inf"), 5e-324, -5e-324,
        1e-300, -1e-300, 2.0**52, 2.0**52 + 1, 2.0**53, 1e18, -1e18,
        math.pi, -math.pi, 1 / 3, -1 / 3, 0.1, 0.7,
    ]
    for i in range(200):  # every half boundary k+0.5 (scaled), +/- 1 ulp
        t = (i + 0.5) / 1e4
        for v in (t, math.nextafter(t, math.inf), math.nextafter(t, -math.inf)):
            vals += [v, -v]
    rng = random.Random(42)
    vals += [rng.uniform(-2, 2) for _ in range(20000)]
    vals += [rng.uniform(-1e6, 1e6) for _ in range(5000)]
    vals += [rng.uniform(-1e-4, 1e-4) for _ in range(5000)]

    def bits(x: float) -> bytes:
        return struct.pack("<d", x)

    for digits in (4, 6, 0, 2):
        got = _round_like_spark_vec(np.array(vals), digits)
        for v, g in zip(vals, got):
            e = _round_like_spark(v, digits)
            assert bits(e) == bits(float(g)) or (
                math.isnan(e) and math.isnan(g)
            ), (digits, repr(v), repr(e), repr(float(g)))

    # ADVICE r14: digits outside [0, 22] (float(10**digits) no longer an
    # exact double) must route through the scalar path — the known
    # mismatch value at digits=23, plus negatives and a boundary sweep.
    # values kept small enough that the scalar's 28-digit Decimal context
    # can represent the quantized result (bigger combos raise
    # InvalidOperation on BOTH paths — pre-existing scalar behavior)
    adversarial = [5.997973399330609e-16, -5.997973399330609e-16, 0.15,
                   1.5, -1.5, 12.345, 0.0, -0.0, float("nan")]
    adversarial += [rng.uniform(-1e-15, 1e-15) for _ in range(2000)]
    for digits in (23, 25, -1, -3):
        got = _round_like_spark_vec(np.array(adversarial), digits)
        for v, g in zip(adversarial, got):
            e = _round_like_spark(v, digits)
            assert bits(e) == bits(float(g)) or (
                math.isnan(e) and math.isnan(g)
            ), (digits, repr(v), repr(e), repr(float(g)))


def test_float32_vectors_take_arrow_path_and_match_loop(spark, monkeypatch):
    """array<float> vectors (the embeddings table's type) widen exactly
    to float64 in the bounded Arrow fetch, so kmeans_fit and pq_fit
    build the driver replay's matrix — spied here — and return exactly
    the distributed loop's model (driver_threshold=0), with long AND
    string ids."""
    import random

    import numpy as np

    from ds_caselaw_ingester_spark.operators import similarity as sim
    from ds_caselaw_ingester_spark.operators.pq import pq_fit

    built = []
    real = sim._arrow_clean_matrix

    def _spy(*a, **kw):
        V = real(*a, **kw)
        built.append(isinstance(V, np.ndarray))
        return V

    monkeypatch.setattr(sim, "_arrow_clean_matrix", _spy)

    rng = random.Random(17)
    dim = 8
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(150)]
    df_l = spark.createDataFrame(rows, "id long, v array<float>")
    df_s = spark.createDataFrame(
        [(f"id-{i:04d}", v) for i, v in rows], "id string, v array<float>"
    )
    for df in (df_l, df_s):
        built.clear()
        kw = dict(m=4, k=5, max_iter=3, round_centroids=6)
        assert pq_fit(df, "v", "id", **kw) == pq_fit(
            df, "v", "id", driver_threshold=0, **kw
        )
        kw = dict(k=5, max_iter=3, round_centroids=6)
        assert sim.kmeans_fit(df, "v", "id", **kw) == sim.kmeans_fit(
            df, "v", "id", driver_threshold=0, **kw
        )
        assert built == [True, True]


def test_nul_string_ids_decline_arrow_probe(spark):
    """Review-found hazard: a trailing-NUL id would flip the Arrow
    probe's init order (numpy '<U' compares "a\\x00" == "a"). Pins that
    NUL-bearing ids take the distributed loop under the default
    threshold, so the result equals the loop's for both pq and kmeans."""
    import random

    from ds_caselaw_ingester_spark.operators.pq import pq_fit
    from ds_caselaw_ingester_spark.operators.similarity import kmeans_fit

    rng = random.Random(23)
    dim = 8
    # full-precision coordinates: low-precision values make small-cell
    # means land exactly on round_centroids boundaries, where the
    # rounded-mean convention (kmeans_fit docstring) deliberately does
    # NOT promise engine-identical last digits
    rows = [(f"id-{i:03d}" + ("\x00" if i % 7 == 0 else ""),
             [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(60)]
    df = spark.createDataFrame(rows, "id string, v array<double>")
    kw = dict(m=4, k=5, max_iter=2, round_centroids=6)
    assert pq_fit(df, "v", "id", driver_threshold=1000, **kw) == pq_fit(
        df, "v", "id", driver_threshold=0, **kw
    )
    kw = dict(k=5, max_iter=2, round_centroids=6)
    assert kmeans_fit(df, "v", "id", driver_threshold=1000, **kw) == kmeans_fit(
        df, "v", "id", driver_threshold=0, **kw
    )
