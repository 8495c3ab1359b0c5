"""Streaming curation-sink demo: a uuid-keyed document feed curated at
arrival time against a bucketed band index, including the full
maintenance lifecycle (epoch compaction on both outputs, gate change →
offline rebuild → restart).

    python examples/streaming_curation_sink.py [sf_dir]

Stages (each prints a one-line result):
1. file-source document stream, one micro-batch per day's file; ids are
   uuid-shaped (the reference's own fallback URIs, ingester.py:538), so
   the surrogate ingest sequence does the canonical ordering
2. each epoch's near-dups — including dups of DROPPED documents — are
   rejected against the `epoch<current AND bucket IN touched` pruned
   probe; keepers' chunks land under chunks/epoch=<n>/
3. quiesced maintenance folds old epochs on BOTH sides
   (compact_index_epochs / compact_chunk_epochs) — file counts stay
   bounded, probe results identical
4. the gates tighten (min_tokens up): the next batch REFUSES the
   drifted layout, rebuild_curation_index re-gates the corpus into
   epoch=-1, and a fresh-checkpoint restart keeps rejecting dups of
   pre-rebuild documents
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ds_caselaw_ingester_spark.streaming.curation_sink import (  # noqa: E402
    _layout_path,
    apply_curation_batch,
    compact_chunk_epochs,
    compact_index_epochs,
    rebuild_curation_index,
    run_curation_stream,
)

GATE = dict(min_tokens=8, min_alpha_ratio=0.5, chunk_tokens=32, overlap=4)


def main(spark, sf_dir: str, work_dir: str) -> dict:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    # uuid-SHAPED hex ids derived JVM-side (no Python UDF even in a demo):
    # unordered, non-monotone — the id shape the surrogate ingest
    # sequence exists for
    def uid(col):
        return F.concat(F.lit("d-"), F.md5(F.col(col).cast("string") if isinstance(col, str) else col.cast("string")))
    base = docs.where("doc_id % 3 = 0").select(
        uid("doc_id").alias("doc_id"), "text"
    )
    dup1 = docs.where("doc_id % 6 = 0").select(
        uid(F.concat(F.lit("re1-"), "doc_id")).alias("doc_id"), "text"
    )
    new1 = docs.where("doc_id % 3 = 1").select(
        uid("doc_id").alias("doc_id"), "text"
    )
    src = os.path.join(work_dir, "feed")
    base.coalesce(1).write.parquet(os.path.join(src, "day0"))
    new1.unionAll(dup1).coalesce(1).write.parquet(os.path.join(src, "day1"))

    idx = os.path.join(work_dir, "index")
    chk = os.path.join(work_dir, "chunks")
    ckpt = os.path.join(work_dir, "ckpt")
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    # n_buckets="auto" + the corpus the stream will grow into: the
    # block-sized sizing rule picks the count and the layout sidecar
    # pins it for the index's life — no knob to read SCALE.md for
    q = run_curation_stream(
        stream, idx, chk, ckpt, n_buckets="auto",
        projected_docs=5_000_000, **GATE,
    )
    q.awaitTermination(300)
    import json

    with open(_layout_path(idx)) as f:
        pinned_buckets = json.load(f)["n_buckets"]
    print(f"0. auto-sized band log: n_buckets={pinned_buckets} "
          "(block-sized rule over 5M projected docs, pinned in the sidecar)")

    kept = {
        e: spark.read.parquet(os.path.join(chk, f"epoch={e}"))
        .select("doc_id").distinct().count()
        for e in (0, 1)
    }
    n_dup1 = dup1.count()
    print(
        f"1-2. epochs kept {kept[0]}/{kept[1]} docs; the {n_dup1} "
        "re-submissions were all rejected against the pruned probe"
    )
    assert kept[1] <= new1.count()  # no re-submission survived

    # -- stage 3: quiesced epoch compaction on both outputs --
    idx_rows = spark.read.option("basePath", idx).parquet(idx).count()
    chk_rows = spark.read.option("basePath", chk).parquet(chk).count()
    # a third day first, so epochs 0,1 sit below the clamp
    dup2 = docs.where("doc_id % 6 = 3").select(
        uid(F.concat(F.lit("re2-"), "doc_id")).alias("doc_id"), "text"
    )
    dup2.coalesce(1).write.parquet(os.path.join(src, "day2"))
    stream2 = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q2 = run_curation_stream(stream2, idx, chk, ckpt, n_buckets="auto", **GATE)
    q2.awaitTermination(300)
    fold_i = compact_index_epochs(spark, idx, upto_epoch=99)
    fold_c = compact_chunk_epochs(spark, chk, upto_epoch=99)
    assert spark.read.option("basePath", idx).parquet(idx).count() > idx_rows
    assert spark.read.option("basePath", chk).parquet(chk).count() == chk_rows
    print(f"3. compaction folded {fold_i} index epochs, {fold_c} chunk epochs; row sets preserved")

    # -- stage 4: gate change -> refuse -> rebuild -> restart --
    tight = dict(GATE, min_tokens=12)
    refused = False
    try:
        apply_curation_batch(
            dup2.limit(1), idx, chk, epoch_id=99, n_buckets="auto", **tight
        )
    except ValueError:
        refused = True
    all_docs = base.unionAll(new1).unionAll(dup1).unionAll(dup2)
    # chunks_path is omitted because stage 4 restarts into a NEW chunks
    # directory (chk2) — the old log stays intact as the old gate's
    # corpus. A restart over the SAME chunks dir must pass
    # chunks_path=chk so the old-gate epochs are dropped with the index.
    # rebuilds take the EXPLICIT pinned count (the operational pattern:
    # read it from the sidecar — "auto" on history is refused by design)
    n_rebuilt = rebuild_curation_index(
        all_docs, idx, n_buckets=pinned_buckets,
        min_tokens=12, min_alpha_ratio=GATE["min_alpha_ratio"],
    )
    # fresh checkpoint; re-submissions of pre-rebuild docs still rejected
    dup3 = docs.where("doc_id % 6 = 0").select(
        uid(F.concat(F.lit("re3-"), "doc_id")).alias("doc_id"), "text"
    )
    src2 = os.path.join(work_dir, "feed2")
    chk2 = os.path.join(work_dir, "chunks2")
    ckpt2 = os.path.join(work_dir, "ckpt2")
    dup3.coalesce(1).write.parquet(os.path.join(src2, "day3"))
    stream3 = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src2}/*")
    )
    q3 = run_curation_stream(stream3, idx, chk2, ckpt2, n_buckets="auto", **tight)
    q3.awaitTermination(300)
    post_kept = (
        spark.read.option("basePath", chk2).parquet(chk2)
        .select("doc_id").distinct().count()
        if os.path.isdir(os.path.join(chk2, "epoch=0"))
        else 0
    )
    print(
        f"4. drifted gate refused={refused}; rebuild re-indexed "
        f"{n_rebuilt} band rows under min_tokens=12; restarted stream "
        f"kept {post_kept} of {dup3.count()} re-submissions"
    )
    return {
        "kept0": kept[0],
        "kept1": kept[1],
        "fold_i": fold_i,
        "fold_c": fold_c,
        "refused": refused,
        "rebuilt": n_rebuilt,
        "post_kept": post_kept,
    }


if __name__ == "__main__":
    import tempfile

    from ds_caselaw_ingester_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("streaming-curation-sink-demo")
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as wd:
        out = main(spark, sf, wd)
    assert out["refused"] and out["rebuilt"] > 0
    assert out["fold_i"] > 0 and out["fold_c"] > 0
    assert out["post_kept"] == 0  # every re-submission rejected post-rebuild
