"""Deterministic sampling: DuckDB-oracle replay of the hash decision,
statistical sanity of the rate, and rerun/partitioning invariance."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.sampling import hash_sample
from ds_caselaw_ingester_spark.sources.catalog import table

SF = "/root/testdata/sf0.001"


def test_hash_sample_matches_duckdb_oracle(spark):
    docs = table(spark, SF, "documents").select("doc_id")
    got = {r.doc_id for r in hash_sample(docs, "doc_id", 0.25).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    want = {
        row[0]
        for row in con.execute(
            "SELECT doc_id FROM documents "
            "WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT"
            " / 16.0^13 < 0.25"
        ).fetchall()
    }
    assert got == want
    n_total = docs.count()
    # md5 is uniform: the realized rate lands near p
    assert 0.15 * n_total < len(got) < 0.35 * n_total


def test_hash_sample_is_partitioning_invariant(spark):
    docs = table(spark, SF, "documents").select("doc_id")
    a = {r.doc_id for r in hash_sample(docs, "doc_id", 0.5).collect()}
    b = {
        r.doc_id
        for r in hash_sample(docs.repartition(17, "doc_id"), "doc_id", 0.5).collect()
    }
    assert a == b  # df.sample() cannot promise this; the hash gate must
