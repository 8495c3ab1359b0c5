"""Empty-input totality for the round-6 operators: a pipeline stage fed
zero rows (an empty increment, a filtered-out partition, a quiet day)
must return an empty, correctly-shaped result — not raise."""

from __future__ import annotations


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def test_semantic_dedup_empty_corpus(spark):
    from ds_caselaw_ingester_spark.operators.semdedup import semantic_dedup

    empty = spark.createDataFrame([], "vec_id long, v array<double>")
    cents = [{"centroid_id": 0, "cvec": [1.0] * 4}]
    assert semantic_dedup(empty, "v", "vec_id", cents).count() == 0


def test_export_more_shards_than_rows(spark, tmp_path):
    from ds_caselaw_ingester_spark.operators.export import export_shuffled

    df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    out = str(tmp_path / "s")
    export_shuffled(df, "doc_id", out, 8)
    assert spark.read.parquet(out).count() == 2


def test_pq_encode_empty_frame(spark):
    from ds_caselaw_ingester_spark.operators.pq import pq_encode

    cb = {
        "m": 2,
        "k": 2,
        "subdim": 2,
        "books": [[[1.0, 0.0], [0.0, 1.0]], [[1.0, 1.0], [0.5, 0.5]]],
    }
    empty = spark.createDataFrame([], "c_id long, v array<double>")
    out = pq_encode(empty, "v", "c_id", cb)
    assert out.count() == 0
    assert set(out.columns) == {"c_id", "codes", "recon_norm"}


def test_curation_empty_corpus_with_embeddings(spark):
    from ds_caselaw_ingester_spark.operators.curation import curate_corpus

    emb = spark.createDataFrame([], "doc_id long, embedding array<double>")
    out = curate_corpus(_empty_docs(spark), embeddings=emb)
    assert out.count() == 0
