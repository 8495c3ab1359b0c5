"""Training-data export: deterministic global shuffle into balanced,
reproducible parquet shards.

A training run wants its corpus in (a) random order — adjacent documents
must not correlate, or batches see topic runs — and (b) a FIXED random
order: re-exporting the same corpus must produce the same shards so
runs are reproducible and resumable. `df.orderBy(rand())` fails (b) and
`repartition(n)` fails both (round-robin from whatever order the scan
produced).

The Spark-first answer is the same hash-gate trick the sampling
operators use: shuffle key = md5(id). It is uniform (so hash shards are
balanced), deterministic (same corpus -> same shard membership and
same within-shard order, on any cluster, from any input partitioning),
and data-independent (no correlation with any real attribute — exactly
what "random order" means operationally).

Shard identity is derived from the KEY ITSELF (a fixed prefix of the
md5, mod num_shards) — NOT from repartitionByRange, whose cut points
come from sampling the actual input partitioning and therefore move
between clusters/runs (review finding: range bounds are only
order-stable, not boundary-stable). A row's shard is a pure function
of its id; the export is byte-stable per shard.

Plan shape: one projection + one hash exchange on the shard id +
within-partition sort — one pass over the corpus, shard count chosen
for the trainer (~dataset_bytes / shard_size), not inherited from
upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.compaction import local_path, write_json_atomic


def shuffled_shards(df: DataFrame, id_col: str, num_shards: int) -> DataFrame:
    """The exported frame: `_shuffle_key` = md5 of the id, `_shard` =
    first 15 hex digits of the key mod num_shards (a pure function of
    the id), hash-partitioned by shard and sorted within. Exposed
    separately from the write so tests (and resumable exporters) can
    reason about the frame."""
    if num_shards <= 0:
        raise ValueError(f"num_shards must be positive, got {num_shards}")
    key = F.md5(F.col(id_col).cast("string"))
    shard = F.pmod(
        F.conv(F.substring(key, 1, 15), 16, 10).cast("long"), F.lit(num_shards)
    ).cast("int")
    # repartitionByRange, NOT hash repartition, on _shard: hashing the
    # num_shards distinct shard ids into num_shards partitions is
    # balls-in-bins — ~1/e of tasks end up EMPTY while the worst task
    # carries 4-5 whole shards and becomes the export straggler. Range
    # partitioning the already-uniform shard id gives one shard per
    # task. Physical distribution only: shard membership and
    # within-shard order are pure functions of the id either way.
    return (
        df.withColumn("_shuffle_key", key)
        .withColumn("_shard", shard)
        .repartitionByRange(num_shards, "_shard")
        .sortWithinPartitions("_shard", "_shuffle_key")
    )


def export_shuffled(
    df: DataFrame, id_col: str, out_dir: str, num_shards: int
) -> None:
    """Write the shuffled corpus as one directory per shard
    (`_shard=i/`), each holding that shard's rows sorted by the shuffle
    key. The key column is kept in the output: it is the resume cursor
    (a restarted consumer seeks to the last (shard, key) it saw) and
    the proof-of-order for audits."""
    shuffled_shards(df, id_col, num_shards).write.mode("overwrite").partitionBy(
        "_shard"
    ).parquet(out_dir)


def shard_manifest(spark, out_dir: str) -> "list[dict]":
    """Per-shard audit rows for an `export_shuffled` directory:
    [{shard, rows, min_key, max_key, checksum, content_checksum}]
    ordered by shard.

    checksum is the bit-XOR of each row's 52-bit shuffle-key prefix
    (('0x' || substr(key, 1, 13))::BIGINT in DuckDB — the repo's
    13-hex convention): order-independent, overflow-free, and
    recomputable on any engine. It detects row loss/duplication and
    key tampering — but NOT a payload rewrite that preserves the keys,
    which is why content_checksum exists: the same XOR over
    md5(to_json(struct(all columns, name-sorted))), covering every
    byte of every row. content_checksum is Spark-replayable (producer
    and verify_export both compute it here); JSON rendering differs
    across engines, so only the key checksum is claimed engine-
    portable."""
    df = spark.read.parquet(out_dir)
    payload = F.to_json(F.struct(*[F.col(c) for c in sorted(df.columns)]))
    rows = (
        df.groupBy("_shard")
        .agg(
            F.count("*").alias("rows"),
            F.min("_shuffle_key").alias("min_key"),
            F.max("_shuffle_key").alias("max_key"),
            F.bit_xor(
                F.conv(F.substring("_shuffle_key", 1, 13), 16, 10).cast("long")
            ).alias("checksum"),
            F.bit_xor(
                F.conv(F.substring(F.md5(payload), 1, 13), 16, 10).cast("long")
            ).alias("content_checksum"),
        )
        .orderBy("_shard")
        .collect()
    )
    return [
        {
            "shard": int(r["_shard"]),
            "rows": int(r["rows"]),
            "min_key": r["min_key"],
            "max_key": r["max_key"],
            "checksum": int(r["checksum"]),
            "content_checksum": int(r["content_checksum"]),
        }
        for r in rows
    ]


def write_manifest(spark, out_dir: str) -> dict:
    """Compute and persist `_manifest.json` beside the shards (the
    underscore prefix keeps parquet readers away from it). Returns the
    manifest dict: {num_shards, total_rows, shards: [...]}."""
    import os

    shards = shard_manifest(spark, out_dir)
    manifest = {
        "num_shards": len(shards),
        "total_rows": sum(s["rows"] for s in shards),
        "shards": shards,
    }
    write_json_atomic(
        os.path.join(local_path(out_dir), "_manifest.json"),
        manifest, indent=1, sort_keys=True,
    )
    return manifest


def verify_export(spark, out_dir: str) -> dict:
    """Recompute the per-shard stats and compare against the stored
    `_manifest.json` — the consumer-side integrity check (a truncated
    copy changes rows/key-XOR; bit rot or a payload rewrite that
    preserves the keys changes content_checksum). Raises ValueError
    naming every mismatching shard; returns
    the verified manifest on success."""
    import json
    import os

    local = local_path(out_dir)
    path = os.path.join(local, "_manifest.json")
    if not os.path.exists(path):
        raise ValueError(f"no _manifest.json under {out_dir}")
    with open(path) as fh:
        manifest = json.load(fh)
    want = {s["shard"]: s for s in manifest["shards"]}
    got = {s["shard"]: s for s in shard_manifest(spark, out_dir)}
    bad = sorted(
        shard
        for shard in set(want) | set(got)
        if want.get(shard) != got.get(shard)
    )
    if bad:
        raise ValueError(
            f"export verification failed for shard(s) {bad} under {out_dir}"
        )
    return manifest
