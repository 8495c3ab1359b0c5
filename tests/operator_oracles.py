"""Operators that no registered query runs at these configs, each paired
with the DuckDB SQL that defines its result over the same parquet
tables.

The registry holds the 50 queries checked against DuckDB; these call
the operators directly so the fixed-centroid IVF probe, the brute-force
cosine baseline, the single-query BM25 + dense RRF fusion, the maximal
duplicated spans, the corpus mixture and the relational repetition
profile stay pinned to their definitions (tests/test_oracle_parity.py,
tests/test_plan_shapes.py). Each ``*_frame`` has the (spark, sf_dir)
signature ``check_query`` takes."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.search import bm25_oracle_sql
from ds_caselaw_ingester_spark.plans.queries_dedup import CORPUS_SQL, _corpus
from ds_caselaw_ingester_spark.plans.queries_text import _BM25_K, _BM25_TERMS
from ds_caselaw_ingester_spark.session import ensure_oracle_safe
from ds_caselaw_ingester_spark.sources.catalog import spread, table


def _vectors(spark: SparkSession, sf_dir: str, n_queries: int = 8):
    """(queries, candidates): the first `n_queries` embeddings as
    (q_id, qv) and every embedding, spread, as (c_id, cv)."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    candidates = spread(
        emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("cv")), "c_id"
    )
    return queries, candidates


# ---------------------------------------------------------------------------
# cosine_topk — brute-force exact top-10 per query
# ---------------------------------------------------------------------------

COSINE_TOPK_ORACLE = """
WITH q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8
),
c AS (
  SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM embeddings
),
scored AS (
  SELECT q_id, c_id,
         round(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
               4) AS cosine
  FROM c CROSS JOIN q
  WHERE q_id <> c_id
)
SELECT * FROM (
  SELECT q_id, c_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""


def cosine_topk_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_caselaw_ingester_spark.operators.similarity import cosine_topk

    ensure_oracle_safe(spark)
    return cosine_topk(*_vectors(spark, sf_dir), k=10, round_digits=4)


# ---------------------------------------------------------------------------
# ivf_topk — IVF probe over FIXED centroids (embeddings 8-23), nprobe=2
# ---------------------------------------------------------------------------

ANN_IVF_ORACLE = """
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
  FROM embeddings WHERE vec_id >= 8 AND vec_id < 24
),
c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM embeddings),
q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8),
cand_assign AS (
  SELECT c_id, cv, centroid_id FROM (
    SELECT c_id, cv, centroid_id,
           row_number() OVER (
             PARTITION BY c_id
             ORDER BY round(list_dot_product(cv, cvec)
                            / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(cvec, cvec))), 4) DESC,
                      centroid_id ASC) AS crn
    FROM c CROSS JOIN cent
  ) WHERE crn <= 1
),
q_assign AS (
  SELECT q_id, qv, centroid_id FROM (
    SELECT q_id, qv, centroid_id,
           row_number() OVER (
             PARTITION BY q_id
             ORDER BY round(list_dot_product(qv, cvec)
                            / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cvec, cvec))), 4) DESC,
                      centroid_id ASC) AS crn
    FROM q CROSS JOIN cent
  ) WHERE crn <= 2
),
scored AS (
  SELECT q_id, c_id,
         round(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS cosine
  FROM cand_assign ca JOIN q_assign qa USING (centroid_id)
  WHERE q_id <> c_id
)
SELECT * FROM (
  SELECT q_id, c_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""


def ivf_topk_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_caselaw_ingester_spark.operators.similarity import ivf_topk

    ensure_oracle_safe(spark)
    centroids = (
        table(spark, sf_dir, "embeddings")
        .where((F.col("vec_id") >= 8) & (F.col("vec_id") < 24))
        .select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec"))
    )
    return ivf_topk(*_vectors(spark, sf_dir), centroids, k=10, nprobe=2)


# ---------------------------------------------------------------------------
# duplicate_spans — maximal duplicated 8-token ranges, planted-dup corpus
# ---------------------------------------------------------------------------

_SPAN_N = 8

DUPLICATE_SPANS_ORACLE = f"""
WITH {{corpus}},
tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM corpus
),
pos AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks) - {_SPAN_N - 2}, 1))) AS i
  FROM tok
),
ex AS (
  SELECT doc_id, i,
         md5(array_to_string(list_slice(toks, i, i + {_SPAN_N - 1}), ' ')) AS g
  FROM pos
),
totals AS (SELECT g, count(*) AS total FROM ex GROUP BY g),
dup AS (
  SELECT doc_id, i FROM ex JOIN totals USING (g) WHERE total >= 2
),
isl AS (
  SELECT doc_id, i,
         sum(CASE WHEN prev IS NULL OR i - prev > {_SPAN_N} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING)
           AS island
  FROM (
    SELECT doc_id, i,
           lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
    FROM dup
  )
)
SELECT doc_id,
       min(i) AS span_start,
       max(i) + {_SPAN_N - 1} AS span_end,
       max(i) + {_SPAN_N - 1} - min(i) + 1 AS span_tokens
FROM isl
GROUP BY doc_id, island
""".format(corpus=CORPUS_SQL)


def duplicate_spans_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_caselaw_ingester_spark.operators.dedup import duplicate_spans

    ensure_oracle_safe(spark)
    return duplicate_spans(_corpus(spark, sf_dir), "doc_id", "text", n=_SPAN_N)


# ---------------------------------------------------------------------------
# single-query hybrid search — BM25 + dense shortlists fused by rrf_fuse
# (query_col=None, so its duplicate-rank validation is active)
# ---------------------------------------------------------------------------

_DENSE_QUERY_ID = 0  # the first embedding (_vectors with n_queries=1)
_DENSE_K = 25
_HYBRID_K = 15
_RRF_K = 60


def hybrid_search_oracle() -> str:
    bm25 = bm25_oracle_sql(_BM25_TERMS, _BM25_K)
    return f"""
WITH lex AS (SELECT doc_id, rank FROM ({bm25}) lex_inner),
qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {_DENSE_QUERY_ID}),
dense AS (
  SELECT c_id AS doc_id, rank FROM (
    SELECT c.vec_id AS c_id,
           row_number() OVER (
             ORDER BY round(list_dot_product(q.qv, c.cv)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))),
               4) DESC, c.vec_id ASC) AS rank
    FROM (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
          WHERE vec_id <> {_DENSE_QUERY_ID}) c
    CROSS JOIN qv q
  ) WHERE rank <= {_DENSE_K}
),
unioned AS (
  SELECT doc_id, rank FROM lex UNION ALL SELECT doc_id, rank FROM dense
),
fused AS (
  SELECT doc_id,
         sum(CAST(round((1.0 / ({_RRF_K}.0 + rank)) * 1000000.0, 0) AS BIGINT))
           / 1000000.0 AS rrf_score
  FROM unioned GROUP BY doc_id
)
SELECT doc_id, rrf_score,
       row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS rank
FROM fused
ORDER BY rrf_score DESC, doc_id ASC
LIMIT {_HYBRID_K}
"""


def hybrid_search_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_caselaw_ingester_spark.operators.search import bm25_topk, rrf_fuse
    from ds_caselaw_ingester_spark.operators.similarity import cosine_topk

    ensure_oracle_safe(spark)
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    lex = bm25_topk(d, "doc_id", "text", _BM25_TERMS, _BM25_K).select("doc_id", "rank")
    q, c = _vectors(spark, sf_dir, n_queries=1)  # the one query: vec_id 0
    dense = cosine_topk(q, c, k=_DENSE_K, round_digits=4).select(
        F.col("c_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([lex, dense], id_col="doc_id", k=_HYBRID_K, rrf_k=_RRF_K)


# ---------------------------------------------------------------------------
# mix_corpus — weighted 3-source blend at a fixed char budget
# ---------------------------------------------------------------------------

MIX_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
_MIX_BUDGET = 30000


def corpus_mixture_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_caselaw_ingester_spark.operators.mixture import mix_corpus

    ensure_oracle_safe(spark)
    d = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return mix_corpus(
        d, "doc_id", "source", "n_chars", MIX_WEIGHTS, _MIX_BUDGET
    ).select("doc_id", "source", "epoch")


def corpus_mixture_oracle() -> str:
    # Normalized weights are Python-computed literals (full repr
    # precision) so the SQL rate arithmetic replays the operator's
    # driver-side float sequence op-for-op: (budget * nw) / total.
    wsum = sum(MIX_WEIGHTS.values())
    vals = ", ".join(
        f"('{s}', {w / wsum!r})" for s, w in MIX_WEIGHTS.items()
    )
    srcs = ", ".join(f"'{s}'" for s in MIX_WEIGHTS)
    return f"""
WITH totals AS (
  SELECT source, sum(n_chars) AS tok FROM documents
  WHERE source IN ({srcs}) GROUP BY source
),
rates AS (
  SELECT source, ({_MIX_BUDGET} * nw) / tok AS rate
  FROM totals JOIN (VALUES {vals}) AS w(source, nw) USING (source)
),
ex AS (
  -- bounded cross join instead of lateral unnest (DuckDB 1.x binder
  -- bug with unnest aliases referenced downstream); 102 covers the
  -- operator's max_rate=100 cap plus the fractional epoch
  SELECT d.doc_id, d.source, rate, t.epoch
  FROM documents d JOIN rates USING (source)
  CROSS JOIN range(0, 102) AS t(epoch)
  WHERE t.epoch <= CAST(floor(rate) AS BIGINT)
)
SELECT doc_id, source, epoch FROM ex
WHERE epoch < CAST(floor(rate) AS BIGINT)
   OR ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR)), 1, 13))::BIGINT
      / 16.0^13 < rate - floor(rate)
"""


# ---------------------------------------------------------------------------
# repetition_profile — the relational explode/groupBy/window form, checked
# against the registered repetition_profile oracle
# ---------------------------------------------------------------------------


def relational_repetition_profile_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_caselaw_ingester_spark.operators.repetition import repetition_profile

    ensure_oracle_safe(spark)
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    return repetition_profile(d)
