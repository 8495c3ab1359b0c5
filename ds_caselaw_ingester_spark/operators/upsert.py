"""Upsert (MERGE) semantics over plain parquet tables — the sink layer
standing in for MarkLogic document upserts (SURVEY.md §2.6 K1-K5, K11;
§2.5 C3).

No Delta/Iceberg jars in this image, so MERGE INTO is emulated with the
classic full-outer-join pattern:

    merged = target FULL OUTER JOIN updates ON key
    matched      -> updated row (+ version bump)
    not-matched  -> inserted row
    target-only  -> unchanged row

Idempotency: applying the same batch twice yields the same table — this
is what makes streaming replay (§2.7 at-least-once redelivery) safe, the
Spark analog of the reference re-running a whole ingest against the same
uri on SQS redelivery.

Scale: the join shuffles on `uri` only, and the sink reads and rewrites
only the key-hash buckets a batch touches (upsert_parquet_table_bucketed).
The error branch (C3: exists & error_on_existing_document) is carried as a
routing column and split out BEFORE the merge, preserving per-record
containment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.compaction import merge_touched_buckets


def merge_documents(target: DataFrame, updates: DataFrame, key: str = "uri") -> DataFrame:
    """MERGE updates into target on `key`.

    target:  key + payload columns (+ version_n)
    updates: key + same payload columns
    Returns the post-merge table with an `op` column in
    {inserted, updated, unchanged} and version_n incremented on update
    (VersionAnnotation semantics, ingester.py:231-238: every insert/update
    carries a version entry).
    """
    t = target.select(
        F.col(key).alias("t_key"),
        *[F.col(c).alias(f"t_{c}") for c in target.columns if c != key],
    )
    u = updates.select(
        F.col(key).alias("u_key"),
        *[F.col(c).alias(f"u_{c}") for c in updates.columns if c != key],
    )
    payload_cols = [c for c in updates.columns if c != key]
    version_in_target = "version_n" in [c for c in target.columns]

    joined = t.join(u, t["t_key"] == u["u_key"], "full_outer")
    matched = F.col("t_key").isNotNull() & F.col("u_key").isNotNull()
    insert_only = F.col("t_key").isNull()

    out_cols = [F.coalesce(F.col("u_key"), F.col("t_key")).alias(key)]
    for c in payload_cols:
        out_cols.append(F.coalesce(F.col(f"u_{c}"), F.col(f"t_{c}")).alias(c))
    if version_in_target:
        out_cols.append(
            F.when(matched, F.col("t_version_n") + 1)
            .when(insert_only, F.lit(1))
            .otherwise(F.col("t_version_n"))
            .alias("version_n")
        )
    out_cols.append(
        F.when(matched, F.lit("updated"))
        .when(insert_only, F.lit("inserted"))
        .otherwise(F.lit("unchanged"))
        .alias("op")
    )
    return joined.select(*out_cols)


def upsert_parquet_table_bucketed(
    spark_df: DataFrame, path: str, key: str = "uri", n_buckets: int = 64
) -> None:
    """The documents sink (K1/K2): MERGE `spark_df` into the table at
    `path` with merge_documents, through the touched-bucket protocol
    (operators/compaction.py merge_touched_buckets). The table is laid
    out as ``kb=<pmod(xxhash64(key), n_buckets)>`` partitions, and a
    batch only reads, merges and swaps the buckets its keys touch: cost
    O(touched buckets) ≈ O(batch × table/n_buckets). Pick n_buckets so
    a bucket fits an executor's memory at the target table size. The
    crash recovery, the concurrent-writer check and the layout guard
    are the protocol's.

    One row per `key`, on the first write and on every merge: when a
    batch holds several rows for one key (two messages resolving to one
    uri), the greatest row wins, compared column by column in the
    frame's column order (xml first for the documents frame), so a
    replay writes the same table. The table keeps one row per uri, and
    the next batch's J5 state join cannot fan out. (A Delta/Iceberg
    MERGE is the production substitute — docs/TABLE_FORMATS.md.)
    """

    def merge(current: "DataFrame | None", updates: DataFrame) -> DataFrame:
        if current is None:
            return updates
        return merge_documents(current, updates, key=key).drop("op")

    merge_touched_buckets(spark_df, path, key, n_buckets, merge)
