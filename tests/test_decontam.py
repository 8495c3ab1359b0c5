"""Benchmark decontamination: the n-gram overlap flag must match a
DuckDB replay (oracle-style check, same rigor as the registry gate) and
a pure-Python set reimplementation, and the plan must broadcast the
benchmark side — the corpus must never shuffle for the probe."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.decontam import decontaminate
from ds_caselaw_ingester_spark.plans.queries_text import (
    _DECONTAM_N as N,
    DECONTAM_ORACLE as DECONTAM_SQL,
)
from ds_caselaw_ingester_spark.sources.catalog import table

SF = "/root/testdata/sf0.001"


def _spark_result(spark):
    docs = table(spark, SF, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 50 == 0).select("text")
    return decontaminate(docs, bench, "doc_id", "text", n=N)


def test_decontaminate_matches_duckdb_oracle(spark):
    got = {
        (r.doc_id, r.n_contaminated_grams, r.is_contaminated)
        for r in _spark_result(spark).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    want = {tuple(row) for row in con.execute(DECONTAM_SQL).fetchall()}
    assert got == want
    # planted property: every benchmark-member doc with >= N tokens is
    # contaminated by its own grams (self-overlap), so the flag fires
    assert any(flag for (_, _, flag) in got)


def test_decontaminate_counts_multiset_occurrences(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h tail a b c d e f g h"),  # same bench gram twice
            (2, "x y z"),  # too short for any 8-gram
            (3, "q w e r t y u i o p"),  # grams, but none in bench
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("a b c d e f g h",)], "text string"
    )
    got = {
        r.doc_id: (r.n_contaminated_grams, r.is_contaminated)
        for r in decontaminate(docs, bench, "doc_id", "text", n=8).collect()
    }
    assert got == {1: (2, True), 2: (0, False), 3: (0, False)}


def test_decontaminate_broadcasts_benchmark_side(spark):
    df = _spark_result(spark)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "BroadcastHashJoin" in plan, plan
    # the corpus-side gram probe must not introduce a corpus shuffle:
    # the only hashpartitioning exchanges are the bounded hit aggregation
    # and the final id join
    assert "CartesianProduct" not in plan, plan


# ---------------------------------------------------------------------------
# semantic_decontam
# ---------------------------------------------------------------------------

def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_semantic_decontam_matches_duckdb_oracle(spark, sf_dir):
    """Pairs path vs a DuckDB cross-join replay: same list_dot_product
    fold, same rounded-cosine struct argmax, same threshold."""
    from ds_caselaw_ingester_spark.operators.decontam import semantic_decontam

    emb = _emb(spark, sf_dir)
    bench = emb.where(F.col("vec_id") < 6)
    got = {
        r["vec_id"]: (r["nearest_bench_id"], r["max_cos"], r["contaminated"])
        for r in semantic_decontam(
            emb, bench, threshold=0.9, method="pairs"
        ).collect()
    }
    sql = f"""
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS cv
           FROM read_parquet('{sf_dir}/embeddings.parquet')),
b AS (SELECT vec_id AS bid, embedding::DOUBLE[] AS bv
      FROM read_parquet('{sf_dir}/embeddings.parquet') WHERE vec_id < 6),
scored AS (
  SELECT c.vec_id, b.bid,
         round(list_dot_product(c.cv, b.bv)
               / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(b.bv, b.bv))),
               6) AS cos
  FROM c CROSS JOIN b
),
best AS (
  SELECT vec_id, bid, cos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, bid ASC) AS rn
  FROM scored
)
SELECT vec_id, bid, cos, cos >= 0.9 FROM best WHERE rn = 1
"""
    want = {r[0]: (r[1], r[2], r[3]) for r in duckdb.sql(sql).fetchall()}
    assert got == want
    # the benchmark members themselves are exact self-matches
    assert all(got[i][2] for i in range(6))


def test_semantic_decontam_matmul_equals_pairs(spark, sf_dir):
    """The BLAS scale path must reproduce the JVM pairs path row-for-row
    (same rounding, same tie-break)."""
    from ds_caselaw_ingester_spark.operators.decontam import semantic_decontam

    emb = _emb(spark, sf_dir).where(F.col("vec_id") < 120)
    bench = _emb(spark, sf_dir).where(F.col("vec_id").isin([3, 17, 44, 90]))
    a = semantic_decontam(emb, bench, threshold=0.8, method="pairs")
    b = semantic_decontam(emb, bench, threshold=0.8, method="matmul")
    ra = {r["vec_id"]: tuple(r)[1:] for r in a.collect()}
    rb = {r["vec_id"]: tuple(r)[1:] for r in b.collect()}
    assert ra == rb


def test_semantic_decontam_validation_and_auto(spark, sf_dir):
    import pytest as _pytest

    from ds_caselaw_ingester_spark.operators.decontam import semantic_decontam

    emb = _emb(spark, sf_dir).limit(10)
    with _pytest.raises(ValueError):
        semantic_decontam(emb, emb, method="bogus")
    with _pytest.raises(ValueError):
        semantic_decontam(emb, emb.where(F.lit(False)), method="matmul")
    # auto on a small bench picks the pairs plan (broadcast join visible)
    plan = semantic_decontam(
        emb, emb.limit(3), method="auto"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


def test_semantic_decontam_zero_norm_and_string_ids(spark):
    """The review-found crashes: a zero-norm embedding must not abort
    the run (ANSI DIVIDE_BY_ZERO) or flag contaminated (Spark orders
    NaN above every double, so NaN >= threshold was TRUE); string bench
    ids must survive the matmul path (the old int() coercion crashed
    the moment auto tipped past 256 bench rows)."""
    from ds_caselaw_ingester_spark.operators.decontam import semantic_decontam

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.8, 0.6])],
        "vec_id long, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [("bA", [1.0, 0.0]), ("bZ", [0.0, 0.0])],
        "vec_id string, embedding array<double>",
    )
    for method in ("pairs", "matmul"):
        got = {
            r["vec_id"]: (r["nearest_bench_id"], r["max_cos"], r["contaminated"])
            for r in semantic_decontam(
                corpus, bench, threshold=0.95, method=method
            ).collect()
        }
        assert got[1] == ("bA", 1.0, True), method
        # zero-norm doc: NULL-scored, NEVER flagged
        assert got[2] == (None, None, False), method
        assert got[3] == ("bA", 0.8, False), method

    # an all-zero benchmark defines no cosine for anyone
    zb = bench.where("vec_id = 'bZ'")
    for method in ("pairs", "matmul"):
        rows = semantic_decontam(corpus, zb, threshold=0.5, method=method).collect()
        assert {r["vec_id"] for r in rows} == {1, 2, 3}, method
        assert all(
            r["max_cos"] is None and not r["contaminated"] for r in rows
        ), method


def test_semantic_decontam_null_embedding_both_paths(spark):
    """A NULL embedding row must come back (NULL, NULL, false) on BOTH
    paths — the matmul path used to crash in np.stack (review-found),
    diverging from pairs the moment auto crossed 256 bench rows."""
    from ds_caselaw_ingester_spark.operators.decontam import semantic_decontam

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [(9, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    for method in ("pairs", "matmul"):
        got = {
            r["vec_id"]: (r["nearest_bench_id"], r["max_cos"], r["contaminated"])
            for r in semantic_decontam(
                corpus, bench, threshold=0.9, method=method
            ).collect()
        }
        assert got[2] == (None, None, False), method
        assert got[1] == (9, 1.0, True), method
    # all-null batch edge on the matmul path
    all_null = spark.createDataFrame(
        [(7, None)], "vec_id long, embedding array<double>"
    )
    rows = semantic_decontam(all_null, bench, threshold=0.5, method="matmul").collect()
    assert [tuple(r) for r in rows] == [(7, None, None, False)]
