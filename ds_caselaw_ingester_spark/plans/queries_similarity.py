"""Similarity-search + multimodal queries (SURVEY.md §2.9) over the
`embeddings` and `documents` tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.plans.registry import register
from ds_caselaw_ingester_spark.session import ensure_oracle_safe
from ds_caselaw_ingester_spark.sources.catalog import spread, table

# The local embeddings.parquet ships as 1-2 row groups, so the per-row
# projection folds (lsh_bucket: planes x dims lambda steps; ivf_assign:
# centroids x dims) run on 1-2 cores however many byte-range splits
# Spark cuts. Every candidate/corpus side below spreads the narrow
# (id, vector) rows first — one tiny shuffle buys full parallelism for
# the fold-heavy map work; multi-split production inputs don't need it.

# ---------------------------------------------------------------------------
# ann_ivf_trained_topk — IVF ANN over a TRAINED (Lloyd's k-means) quantizer
# ---------------------------------------------------------------------------

_KMEANS_ITERS = 3
_KMEANS_K = 16
_EMB_DIM = 64


_COSINE_SQL = (
    "round(list_dot_product({v}, {c}) / "
    "(sqrt(list_dot_product({v}, {v})) * sqrt(list_dot_product({c}, {c}))), 4)"
)


def _kmeans_train_ctes() -> "tuple[str, str]":
    """(ctes, final_cte): DuckDB replay of kmeans_fit(k=16, max_iter=3,
    tol=0, round_centroids=6) as a CTE chain plus the name of the final
    centroid CTE — shared by ann_ivf_trained_topk's probe oracle and
    semantic_dedup's. Training runs on the deterministic 1/4 sample
    (vec_id % 4 = 0 — the production IVF pattern: quantizers train on a
    corpus sample, then index everything); init = the k lowest-vec_id
    TRAINING vectors; each Lloyd round assigns every training vector to
    its nearest centroid by ROUNDED(4) cosine (centroid_id tie-break) and
    recomputes per-dimension means rounded to 6 digits (the rounding that
    makes Spark's partial-agg mean and DuckDB's sequential mean
    bit-identical); empty cells keep their centroid."""
    cosine = _COSINE_SQL
    iters = []
    prev = "init"
    for n in range(1, _KMEANS_ITERS + 1):
        score = cosine.format(v="b.v", c="c.cvec")
        iters.append(
            f"""a{n} AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT b.vec_id, b.v, c.centroid_id,
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY {score} DESC, c.centroid_id ASC) AS rn
    FROM train b CROSS JOIN {prev} c
  ) WHERE rn = 1
),
u{n} AS (
  SELECT centroid_id, d.i, round(avg(list_extract(v, d.i)), 6) AS m
  FROM a{n} CROSS JOIN dims d GROUP BY centroid_id, d.i
),
c{n} AS (
  SELECT c.centroid_id, COALESCE(u.cvec, c.cvec) AS cvec
  FROM {prev} c LEFT JOIN (
    SELECT centroid_id, list(m ORDER BY i) AS cvec FROM u{n} GROUP BY centroid_id
  ) u USING (centroid_id)
)"""
        )
        prev = f"c{n}"
    ctes = f"""base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
train AS (SELECT vec_id, v FROM base WHERE vec_id % 4 = 0),
dims AS (SELECT unnest(generate_series(1, {_EMB_DIM})) AS i),
init AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, v AS cvec
  FROM (SELECT vec_id, v FROM train ORDER BY vec_id LIMIT {_KMEANS_K})
),
{",".join(iters)}"""
    return ctes, prev


def _kmeans_oracle() -> str:
    """The trained-quantizer IVF probe: _kmeans_train_ctes + the same
    index/probe tail as ANN_IVF_ORACLE. The final index + probe covers
    the FULL corpus."""
    cosine = _COSINE_SQL
    ctes, prev = _kmeans_train_ctes()
    qc = cosine.format(v="q.v", c="c.cvec")
    cc = cosine.format(v="b.v", c="c.cvec")
    pair = cosine.format(v="qa.qv", c="ca.cv")
    return f"""
WITH {ctes},
cand_assign AS (
  SELECT vec_id AS c_id, v AS cv, centroid_id FROM (
    SELECT b.vec_id, b.v, c.centroid_id,
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY {cc} DESC, c.centroid_id ASC) AS rn
    FROM base b CROSS JOIN {prev} c
  ) WHERE rn <= 1
),
q_assign AS (
  SELECT q_id, qv, centroid_id FROM (
    SELECT q.vec_id AS q_id, q.v AS qv, c.centroid_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {qc} DESC, c.centroid_id ASC) AS rn
    FROM (SELECT vec_id, v FROM base WHERE vec_id < 8) q
    CROSS JOIN {prev} c
  ) WHERE rn <= 2
),
scored AS (
  SELECT q_id, c_id, {pair} AS cosine
  FROM cand_assign ca JOIN q_assign qa USING (centroid_id)
  WHERE q_id <> c_id
)
SELECT * FROM (
  SELECT q_id, c_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""


ANN_IVF_TRAINED_ORACLE = _kmeans_oracle()


@register(
    "ann_ivf_trained_topk",
    ANN_IVF_TRAINED_ORACLE,
    doc="IVF ANN over a quantizer TRAINED in Spark with Lloyd's k-means "
    "(k=16, 3 fixed rounds, deterministic lowest-id init, centroid means "
    "rounded to 6 digits for engine portability): cells align with data "
    "density instead of slicing it arbitrarily — measured 0.275 -> 0.787 "
    "recall@10 vs naive data-row centroids (tests/test_ann_recall.py). "
    "Training runs on the deterministic 1/4 sample (vec_id % 4 = 0), the "
    "production IVF pattern — the quantizer sees a sample, the index "
    "covers everything. Training cost per round: one map-side argmax "
    "assignment + one k-row groupBy; only k x dim doubles reach the "
    "driver.",
    survey_ops=("ext:ann-ivf", "ext:kmeans-train"),
)
def q_ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_caselaw_ingester_spark.operators.similarity import ivf_topk, kmeans_fit

    ensure_oracle_safe(spark)
    emb = table(spark, sf_dir, "embeddings")
    vecs = spread(
        emb.where(F.col("vec_id") % 4 == 0).select(
            "vec_id", F.col("embedding").alias("v")
        ),
        "vec_id",
    )
    cents = kmeans_fit(
        vecs,
        "v",
        "vec_id",
        k=_KMEANS_K,
        max_iter=_KMEANS_ITERS,
        tol=0.0,
        round_centroids=6,
    )
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    candidates = spread(
        emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("cv")), "c_id"
    )
    return ivf_topk(queries, candidates, cents, k=10, nprobe=2)


# ---------------------------------------------------------------------------
# embedding_neardup — embedding-cosine near-duplicate pairs (LSH-bucketed)
# ---------------------------------------------------------------------------

# Multi-table (4 × 8 planes): a 0.99-cosine planted duplicate has ~31%
# probability of a sign flip somewhere in one 8-plane table — measured
# 39/55 planted pairs found single-table. Four independent tables drop
# the miss probability to ~(0.31)^4: all 55 found (pinned by
# tests/test_ann_recall.py). Table t = planes [8t, 8t+8).
EMB_NEARDUP_ORACLE = """
WITH corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000000 AS vec_id,
         [0.0] || list_slice(embedding::DOUBLE[], 2, len(embedding)) AS v
  FROM embeddings WHERE vec_id % 10 = 0
),
planes AS (SELECT unnest(generate_series(0, 31)) AS p),
dims AS (SELECT unnest(generate_series(1, 64)) AS i),
proj AS (
  SELECT b.vec_id, pl.p,
         sum(list_extract(b.v, d.i)
             * (CASE WHEN substr(md5(CAST(pl.p AS VARCHAR) || '_' || CAST(d.i AS VARCHAR)), 1, 1)
                      IN ('8','9','a','b','c','d','e','f') THEN 1.0 ELSE -1.0 END)) AS s
  FROM corpus b CROSS JOIN planes pl CROSS JOIN dims d
  GROUP BY b.vec_id, pl.p
),
buckets AS (
  SELECT vec_id, CAST(p // 8 AS INTEGER) AS tbl,
         string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
  FROM proj GROUP BY vec_id, CAST(p // 8 AS INTEGER)
),
withv AS (SELECT b.vec_id, b.tbl, b.bucket, c.v FROM buckets b JOIN corpus c USING (vec_id)),
pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, x.vec_id AS vec_b,
         round(list_dot_product(a.v, x.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(x.v, x.v))),
               4) AS cosine
  FROM withv a
  JOIN withv x ON a.tbl = x.tbl AND a.bucket = x.bucket AND a.vec_id < x.vec_id
)
SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= 0.9
"""


@register(
    "embedding_neardup",
    EMB_NEARDUP_ORACLE,
    doc="Embedding-cosine near-dup detection, LSH-bucketed: planted "
    "near-duplicates (first "
    "component zeroed, cosine ~0.99) must pair with their source inside "
    "a shared hyperplane bucket; in-bucket pairs below the 0.9 cosine "
    "threshold are dropped. At 100 TB the bucket equi-join bounds pair "
    "work to O(sum bucket^2) instead of O(n^2) brute force. The 8-plane "
    "config is sized for the oracle-checked sf0.01-sf1 range: planes "
    "must grow ~log2(n) to keep occupancy bounded (measured at x100: "
    "8 planes saturate 1022 buckets with a 923M candidate bound, 12 "
    "planes complete — BENCH_SF1.md sf10 section), and the dedup "
    "DECISION should flow through neardup_clusters' linear component "
    "output, since pairs are quadratic in duplicate-family size.",
    survey_ops=("ext:dedup-embedding",),
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_caselaw_ingester_spark.operators.similarity import lsh_neardup_pairs

    ensure_oracle_safe(spark)
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    planted = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000000).alias("vec_id"),
        F.concat(F.array(F.lit(0.0)), F.slice(F.col("v"), 2, F.size(F.col("v")) - 1)).alias("v"),
    )
    corpus = spread(emb.unionAll(planted), "vec_id")
    # The operator carries the tuned plan shape (slim-key candidate
    # join, pair dedup BEFORE scoring, keyed vector re-attach — see
    # lsh_neardup_pairs). Planes are PINNED at the oracle's 4×8 config;
    # production callers use num_planes="auto", which at the measured
    # 220k-vector scale picks 12 and avoids the 8-plane saturation
    # abort (BENCH_SF1.md sf10).
    # No occupancy guard HERE: this row pins literal planes, so the
    # bench/oracle path pays nothing; the production num_planes="auto"
    # path runs the guard by default (lsh_neardup_pairs
    # guard_occupancy=None semantics).
    pairs = lsh_neardup_pairs(
        corpus, "v", "vec_id", threshold=0.9, num_planes=8, num_tables=4,
    )
    return pairs.select(
        F.col("vec_id_a").alias("vec_a"),
        F.col("vec_id_b").alias("vec_b"),
        "cosine",
    )


# ---------------------------------------------------------------------------
# semantic_dedup — SemDeDup: cluster-bounded embedding dedup, keep-one
# ---------------------------------------------------------------------------

# Same planted-near-dup corpus as embedding_neardup. The quantizer is
# TRAINED (the shared _kmeans_train_ctes replay): naive data-row
# centroids co-located only 40/50 planted pairs (boundary misses —
# SemDeDup's known hazard); the trained cells co-locate 48/50 (measured
# at sf0.001, pinned below the 0.9 bar in tests/test_oracle_parity.py).
def semantic_dedup_oracle() -> str:
    ctes, prev = _kmeans_train_ctes()
    asg = _COSINE_SQL.format(v="b.v", c="ct.cvec")
    pair = _COSINE_SQL.format(v="a.v", c="b.v")
    return f"""
WITH RECURSIVE {ctes},
corpus AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 1000000000 AS vec_id, [0.0] || list_slice(v, 2, len(v)) AS v
  FROM base WHERE vec_id % 10 = 0
),
assign AS (
  SELECT vec_id, v, centroid_id, cc_ AS centroid_cos FROM (
    SELECT b.vec_id, b.v, ct.centroid_id, {asg} AS cc_,
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY {asg} DESC, ct.centroid_id ASC) AS rn
    FROM corpus b CROSS JOIN {prev} ct
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS ida, b.vec_id AS idb
  FROM assign a JOIN assign b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE {pair} >= 0.95
),
sym AS (
  SELECT ida AS src, idb AS dst FROM pairs
  UNION ALL
  SELECT idb AS src, ida AS dst FROM pairs
),
reach(node, comp) AS (
  SELECT vec_id, vec_id FROM corpus
  UNION
  SELECT s.src, r.comp FROM sym s JOIN reach r ON r.node = s.dst
),
comps AS (SELECT node AS vec_id, min(comp) AS component FROM reach GROUP BY node),
exemplar AS (
  SELECT component, vec_id AS keep_id FROM (
    SELECT c.component, c.vec_id,
           row_number() OVER (PARTITION BY c.component
                              ORDER BY a.centroid_cos ASC, c.vec_id ASC) AS rn
    FROM comps c JOIN assign a USING (vec_id)
  ) WHERE rn = 1
)
SELECT a.vec_id, a.centroid_id, a.centroid_cos, c.component, e.keep_id,
       a.vec_id <> e.keep_id AS is_duplicate
FROM assign a
JOIN comps c USING (vec_id)
JOIN exemplar e USING (component)
"""


SEMANTIC_DEDUP_ORACLE = semantic_dedup_oracle()


@register(
    "semantic_dedup",
    SEMANTIC_DEDUP_ORACLE,
    doc="SemDeDup (arXiv:2303.09540): trained-quantizer cells bound the "
    "pair search, connected components group duplicates, and the "
    "exemplar kept per group is the member LEAST similar to its "
    "centroid (the paper's keep rule, id tie-break). The oracle replays "
    "Lloyd's training, cell assignment, in-cell pairing, recursive-CTE "
    "components, and the exemplar pick end to end.",
    survey_ops=("ext:dedup-semantic", "ext:dedup-embedding"),
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540) over the planted-near-dup corpus:
    cluster-bounded pair search -> connected components -> keep the
    member LEAST similar to its centroid (the paper's §3.2 exemplar
    choice). See operators/semdedup.py for the scale notes."""
    from ds_caselaw_ingester_spark.operators.semdedup import semantic_dedup

    ensure_oracle_safe(spark)
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    planted = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000000).alias("vec_id"),
        F.concat(
            F.array(F.lit(0.0)), F.slice(F.col("v"), 2, F.size(F.col("v")) - 1)
        ).alias("v"),
    )
    corpus = spread(emb.unionAll(planted), "vec_id")
    from ds_caselaw_ingester_spark.operators.similarity import kmeans_fit

    centroids = kmeans_fit(
        spread(emb.where(F.col("vec_id") % 4 == 0), "vec_id"),
        "v",
        "vec_id",
        k=_KMEANS_K,
        max_iter=_KMEANS_ITERS,
        tol=0.0,
        round_centroids=6,
    )
    return semantic_dedup(corpus, "v", "vec_id", centroids, threshold=0.95)


# ---------------------------------------------------------------------------
# frame_sample — multimodal frame sampling fan-out (1 row per frame)
# ---------------------------------------------------------------------------

FRAME_SAMPLE_ORACLE = """
SELECT doc_id,
       CAST(i AS INTEGER) AS frame_idx,
       CAST(i * 256 AS INTEGER) AS frame_offset,
       CAST(ascii(substr(text, CAST(i * 256 + 1 AS INTEGER), 1)) AS INTEGER) AS frame_byte,
       CAST((ascii(substr(text, CAST(i * 256 + 1 AS INTEGER), 1)) * 7) % 256 AS INTEGER) AS fake_luma
FROM documents,
     unnest(generate_series(0, CAST((octet_length(encode(text)) - 1) // 256 AS BIGINT))) AS t(i)
WHERE octet_length(encode(text)) > 0
"""


@register(
    "frame_sample",
    FRAME_SAMPLE_ORACLE,
    doc="Multimodal frame-sampling fan-out: each opaque 'video' binary "
    "yields one row per 256-byte-stride frame via Arrow-batched "
    "mapInPandas (decoder stubbed to first-byte-of-chunk; batch fan-out "
    "shape is what a real ffmpeg grab produces). Documents' text bytes "
    "stand in for the video column.",
    survey_ops=("ext:multimodal", "ext:frame-sample"),
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_caselaw_ingester_spark.operators.multimodal import sample_frames

    ensure_oracle_safe(spark)
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("content")
    )
    return sample_frames(d, "doc_id", "content", stride=256)


# ---------------------------------------------------------------------------
# pq_adc_topk — product quantization: trained codebooks, ADC top-k
# ---------------------------------------------------------------------------

_PQ_M = 8        # subspaces (64-dim embeddings -> subdim 8)
_PQ_K = 16       # codewords per subspace
_PQ_ITERS = 2    # Lloyd rounds (fixed, tol-free, oracle-replayed)
_PQ_SUBDIM = _EMB_DIM // _PQ_M


def _pq_oracle() -> str:
    """DuckDB replay of pq_fit(m=8, k=16, max_iter=2, round_centroids=6,
    round_digits=4) + pq_encode + pq_topk(k=10) — operators/pq.py
    semantics exactly: per-(vector, subspace) assignment by rounded(4)
    cosine with code-ASC tie-break and the 1e-300 subnorm guard on the
    VECTOR side only; per-dimension codeword means rounded to 6; empty
    cells keep their codeword; recon_norm from the trained codeword
    norms; ADC = sum over subspaces of dot(query-sub, codeword(code));
    final score round(adc / (qv_norm * recon_norm), 4)."""
    score = (
        "round(list_dot_product(b.sub, c.cw) / "
        "(greatest(sqrt(list_dot_product(b.sub, b.sub)), 1e-300) "
        "* sqrt(list_dot_product(c.cw, c.cw))), 4)"
    )
    iters = []
    prev = "init"
    for n in range(1, _PQ_ITERS + 1):
        iters.append(
            f"""a{n} AS (
  SELECT vec_id, s, sub, code FROM (
    SELECT b.vec_id, b.s, b.sub, c.code,
           row_number() OVER (PARTITION BY b.vec_id, b.s
                              ORDER BY {score} DESC, c.code ASC) AS rn
    FROM subs b JOIN {prev} c ON b.s = c.s
  ) WHERE rn = 1
),
u{n} AS (
  SELECT s, code, d.i, round(avg(list_extract(sub, d.i)), 6) AS mval
  FROM a{n} CROSS JOIN sdims d GROUP BY s, code, d.i
),
c{n} AS (
  SELECT c.s, c.code, COALESCE(u.cw, c.cw) AS cw
  FROM {prev} c LEFT JOIN (
    SELECT s, code, list(mval ORDER BY i) AS cw FROM u{n} GROUP BY s, code
  ) u ON c.s = u.s AND c.code = u.code
)"""
        )
        prev = f"c{n}"
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
train AS (SELECT vec_id, v FROM base WHERE vec_id % 4 = 0),
sgrid AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s),
sdims AS (SELECT unnest(generate_series(1, {_PQ_SUBDIM})) AS i),
subs AS (
  SELECT t.vec_id, g.s,
         list_slice(t.v, g.s * {_PQ_SUBDIM} + 1, (g.s + 1) * {_PQ_SUBDIM}) AS sub
  FROM train t CROSS JOIN sgrid g
),
init AS (
  SELECT s, rn - 1 AS code, sub AS cw FROM (
    SELECT s, sub, row_number() OVER (PARTITION BY s ORDER BY vec_id) AS rn
    FROM subs
  ) WHERE rn <= {_PQ_K}
),
{",".join(iters)},
allsubs AS (
  SELECT b.vec_id, g.s,
         list_slice(b.v, g.s * {_PQ_SUBDIM} + 1, (g.s + 1) * {_PQ_SUBDIM}) AS sub
  FROM base b CROSS JOIN sgrid g
),
enc AS (
  SELECT vec_id, s, code FROM (
    SELECT b.vec_id, b.s, c.code,
           row_number() OVER (PARTITION BY b.vec_id, b.s
                              ORDER BY {score} DESC, c.code ASC) AS rn
    FROM allsubs b JOIN {prev} c ON b.s = c.s
  ) WHERE rn = 1
),
recon AS (
  SELECT e.vec_id, sqrt(sum(list_dot_product(c.cw, c.cw))) AS recon_norm
  FROM enc e JOIN {prev} c ON e.s = c.s AND e.code = c.code
  GROUP BY e.vec_id
),
q AS (SELECT vec_id AS q_id, v AS qv FROM base WHERE vec_id < 8),
qsubs AS (
  SELECT q.q_id, g.s,
         list_slice(q.qv, g.s * {_PQ_SUBDIM} + 1, (g.s + 1) * {_PQ_SUBDIM}) AS qsub
  FROM q CROSS JOIN sgrid g
),
adc AS (
  SELECT qs.q_id, e.vec_id AS c_id,
         sum(list_dot_product(qs.qsub, c.cw)) AS num
  FROM enc e
  JOIN {prev} c ON e.s = c.s AND e.code = c.code
  JOIN qsubs qs ON qs.s = e.s
  GROUP BY qs.q_id, e.vec_id
),
scored AS (
  SELECT a.q_id, a.c_id,
         round(a.num / (sqrt(list_dot_product(q.qv, q.qv)) * r.recon_norm), 4)
           AS cosine_adc
  FROM adc a
  JOIN q ON a.q_id = q.q_id
  JOIN recon r ON a.c_id = r.vec_id
  WHERE a.q_id <> a.c_id AND r.recon_norm > 0
)
SELECT q_id, c_id, cosine_adc, rank FROM (
  SELECT q_id, c_id, cosine_adc,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cosine_adc DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""


PQ_ADC_ORACLE = _pq_oracle()


@register(
    "pq_adc_topk",
    PQ_ADC_ORACLE,
    doc="Product quantization ANN (Jégou et al. 2011, TPAMI — published "
    "method, no implementation consulted): codebooks train JOINTLY "
    "across the m subspaces on the deterministic 1/4 sample (one "
    "exploded (id, subspace, subvector) frame, each Lloyd round = one "
    "assignment scan + one (s, code, pos) mean agg for ALL m books), "
    "the full corpus encodes map-side (codewords ride as plan "
    "literals — encoding 100 TB is one scan producing m tinyints + one "
    "double per vector, a ~32x storage cut at 64-dim), and ADC top-k "
    "scores each candidate with m LUT lookups instead of a 64-dim dot "
    "product. Replay-exact: fit, encode, and scoring all reproduce in "
    "DuckDB under the repo's rounding conventions (round 4 argmax, "
    "round 6 centroid means).",
    survey_ops=("ext:ann-pq", "ext:kmeans-train"),
)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_caselaw_ingester_spark.operators.pq import pq_encode, pq_fit, pq_topk

    ensure_oracle_safe(spark)
    emb = table(spark, sf_dir, "embeddings")
    train = spread(
        emb.where(F.col("vec_id") % 4 == 0).select(
            "vec_id", F.col("embedding").alias("v")
        ),
        "vec_id",
    )
    codebook = pq_fit(train, "v", "vec_id", m=_PQ_M, k=_PQ_K, max_iter=_PQ_ITERS)
    # Checkpoint the encoded index before querying it — the production
    # contract anyway (encode once, store the m-tinyint codes, query
    # many). Without the checkpoint, CollapseProject inlines the
    # ~1k-node per-row `codes` argmax tree into each of its ~16
    # downstream references (recon_norm guard + m ADC lookups), and the
    # combined plan spends 8x the query's runtime in optimizer/codegen
    # (measured 8.1 s -> 1.1 s at sf0.1 on identical results). LAZY
    # (optimization round 14): the plan is truncated at construction
    # either way, and the single consuming action materializes the
    # pinned rows — eager only added a dedicated scheduling round-trip
    # per invocation (the deterministic single-consumer shape of the
    # round's dl-checkpoint change; the multi-consumer eager
    # checkpoints elsewhere stay eager).
    encoded = pq_encode(
        spread(
            emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("cv")),
            "c_id",
        ),
        "cv",
        "c_id",
        codebook,
    ).localCheckpoint(eager=False)
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    return pq_topk(queries, encoded, codebook, k=10)
