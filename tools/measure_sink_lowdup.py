"""Streaming curation sink measured on the LOW-DUPLICATION corpus
shape (VERDICT r13 queue #1, second half): the r9 probe-pruning
numbers (22.8% read at n_buckets=1024, docs/SCALE.md round-9) were
measured only on the legacy every-copy-is-a-near-dup corpus. A real
crawl is ~2% near-dup (tools/gen_scale.py --dup-rate 0.02); this
harness pins the sink's per-batch probe read fraction, match profile,
and the backfill/compaction interplay on that shape.

Protocol: bulk-index the corpus as epoch 0 (n_buckets=1024, seq
mode), then run two 64-doc micro-batches as epochs 1-2, measuring for
each: wall, touched buckets (the epoch's own bucket dirs — exactly
the sink's probe filter), probe bytes (file bytes under PRIOR epochs'
touched-bucket dirs — what the pruned probe may read) vs total prior
index bytes. Then compact epochs <= 2 and check that the sidecar's
max ingest sequence survived the fold. One JSON line per measurement.

Usage: python tools/measure_sink_lowdup.py [corpus_dir] [bulk_docs]
(default /tmp/sf10_lowdup, all docs minus the 128 held out for the
micro-batches)
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ds_caselaw_ingester_spark.session import get_spark  # noqa: E402

N_BUCKETS = 1024
MICRO = 64
GATES = dict(min_tokens=8, min_alpha_ratio=0.5, chunk_tokens=64, overlap=8)


def _dir_bytes(root: str, epochs: "list[int]", buckets: "set[int] | None"):
    total = 0
    for e in epochs:
        ed = os.path.join(root, f"epoch={e}")
        if not os.path.isdir(ed):
            continue
        for b in os.listdir(ed):
            if not b.startswith("bucket="):
                continue
            if buckets is not None and int(b.split("=")[1]) not in buckets:
                continue
            bd = os.path.join(ed, b)
            total += sum(
                os.path.getsize(os.path.join(bd, f))
                for f in os.listdir(bd)
                if f.endswith(".parquet")
            )
    return total


def main() -> None:
    corpus = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10_lowdup"
    spark = get_spark("sink-lowdup")
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    from ds_caselaw_ingester_spark.streaming.curation_sink import (
        apply_curation_batch,
        compact_index_epochs,
    )

    docs = (
        spark.read.parquet(f"{corpus}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
    )
    n = docs.count()
    bulk_n = int(sys.argv[2]) if len(sys.argv) > 2 else n - 2 * MICRO
    # deterministic split by id rank: bulk first, then two micro-batches
    ranked = docs.limit(bulk_n + 2 * MICRO)
    bulk = ranked.limit(bulk_n)
    rest = [
        r
        for r in ranked.subtract(bulk).orderBy("doc_id").collect()
    ]
    micro1 = spark.createDataFrame(rest[:MICRO], ranked.schema)
    micro2 = spark.createDataFrame(rest[MICRO : 2 * MICRO], ranked.schema)

    import tempfile

    work = tempfile.mkdtemp(prefix="sink_lowdup_")
    idx = os.path.join(work, "idx")
    chk = os.path.join(work, "chunks")

    t0 = time.time()
    apply_curation_batch(
        bulk, idx, chk, epoch_id=0, n_buckets=N_BUCKETS, **GATES
    )
    print(json.dumps({
        "stage": "bulk_epoch0", "docs": bulk_n,
        "wall_s": round(time.time() - t0, 1),
        "index_bytes": _dir_bytes(idx, [0], None),
    }))

    for eid, mb in ((1, micro1), (2, micro2)):
        t0 = time.time()
        apply_curation_batch(
            mb, idx, chk, epoch_id=eid, n_buckets=N_BUCKETS, **GATES
        )
        wall = time.time() - t0
        ed = os.path.join(idx, f"epoch={eid}")
        touched = {
            int(b.split("=")[1])
            for b in os.listdir(ed)
            if b.startswith("bucket=")
        }
        prior = list(range(eid))
        probe = _dir_bytes(idx, prior, touched)
        total = _dir_bytes(idx, prior, None)
        kept = spark.read.parquet(
            os.path.join(chk, f"epoch={eid}")
        ).select("doc_id").distinct().count()
        print(json.dumps({
            "stage": f"micro_epoch{eid}", "docs": MICRO,
            "wall_s": round(wall, 1),
            "touched_buckets": len(touched), "n_buckets": N_BUCKETS,
            "probe_bytes": probe, "index_bytes": total,
            "read_frac": round(probe / total, 3) if total else None,
            "kept_docs": kept,
        }))

    with open(idx + ".seqmeta.json") as f:
        before = json.load(f)
    t0 = time.time()
    compact_index_epochs(spark, idx, upto_epoch=2)
    with open(idx + ".seqmeta.json") as f:
        after = json.load(f)
    max_before = max(v for v in before["epochs"].values() if v is not None)
    max_after = max(v for v in after["epochs"].values() if v is not None)
    print(json.dumps({
        "stage": "compaction", "wall_s": round(time.time() - t0, 1),
        "max_seq_before": max_before, "max_seq_after": max_after,
        "max_fold_ok": max_before == max_after,
        "epochs_after": sorted(after["epochs"], key=int),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
