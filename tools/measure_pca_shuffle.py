"""Measure the SemDeDup stage's shuffle volume with and without a PCA
reduction in front of it (r9 verdict queue #3's 'done' criterion).

Runs the exact stage curate_corpus executes — kmeans_fit quantizer
training + semantic_dedup pair search — over the sf embeddings table,
once on the raw 64-dim vectors and once PCA-projected to k dims, and
reports each run's shuffle-write bytes from Spark's status store
(perfbench.measure.jobs_after; every shuffled byte is read back once, so
the write total is the shuffle volume).

Usage: python tools/measure_pca_shuffle.py [sf_dir] [k] [replicate]
`replicate` unions that many deterministically-perturbed copies of the
embeddings table first (the repo's ×N stress convention — sf0.1 holds
only 2,000 vectors, where scheduler overhead drowns the shuffle
signal). Prints one JSON line; paste the numbers into docs/SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from ds_caselaw_ingester_spark.operators.pca import pca_fit, pca_project
    from ds_caselaw_ingester_spark.operators.semdedup import semantic_dedup
    from ds_caselaw_ingester_spark.operators.similarity import kmeans_fit
    from ds_caselaw_ingester_spark.session import get_spark
    from perfbench.measure import jobs_after, last_job_id

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k_dims = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    replicate = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    spark = get_spark("measure_pca_shuffle")
    base = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("_v")
    )
    if replicate > 1:
        # deterministic per-copy perturbation (scale by 1 + i/1000) so
        # the replicated corpus is not degenerate for kmeans
        copies = [
            base.select(
                (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                F.transform(
                    F.col("_v"), lambda c: c * F.lit(1.0 + i / 1000.0)
                ).alias("_v"),
            )
            for i in range(replicate)
        ]
        from functools import reduce

        base = reduce(lambda a, b: a.unionByName(b), copies)
    width = spark.sparkContext.defaultParallelism
    emb = base.repartition(width).localCheckpoint(eager=True)
    n = emb.count()
    dim = len(emb.first()["_v"])
    model = pca_fit(emb, "_v", dim, k=k_dims)

    kq = max(4, int(n ** 0.5) // 8)
    out = {"sf_dir": sf_dir, "n_vectors": n, "dim": dim, "pca_k": k_dims, "kmeans_k": kq}

    def shuffle_write(vecs) -> int:
        floor = last_job_id(spark)
        cents = kmeans_fit(vecs, "_v", "vec_id", k=kq, max_iter=3, round_centroids=6)
        sem = semantic_dedup(vecs, "_v", "vec_id", cents, threshold=0.95)
        sem.write.mode("overwrite").format("noop").save()
        return sum(j.shuffle_write_bytes for j in jobs_after(spark, floor))

    raw_w = shuffle_write(emb)
    out["raw_shuffle_write_mb"] = round(raw_w / 1e6, 2)
    proj = pca_project(emb, "_v", model, out_col="_p").select(
        "vec_id", F.col("_p").alias("_v")
    )
    p_w = shuffle_write(proj)
    out["pca_shuffle_write_mb"] = round(p_w / 1e6, 2)
    out["write_ratio"] = round(raw_w / p_w, 2) if p_w else None
    print(json.dumps(out))


if __name__ == "__main__":
    main()
