"""Scan-inclusive battery wall at corpus scales the eager-checkpoint
protocol cannot hold (round 14, third decade).

tools/measure_sf10_composite.py pins the battery's COMPUTE linearity
by checkpointing the corpus first — a single-JVM residency trick that
stops working around 5M docs (35 GB deserialized; docs/SCALE.md
round-14). A 100 TB battery never sees a resident corpus anyway: it
is parquet scan -> Arrow map -> sink. This harness measures exactly
that shape — read.parquet -> spread -> apply_quality_gates -> noop —
TWICE per corpus (pass 1 cold-ish, pass 2 with the OS page cache and
scorer memos warm; the corpus must fit in page cache for pass 2 to be
the comparable number) and at EVERY given scale in ONE session, which
is the only comparison docs/SCALE.md treats as meaningful.

Same pass-all gate models as the composite harness (imported from
it), so per-document battery work is identical across the two
protocols. One JSON line per (corpus, pass).

Usage: python tools/measure_battery_scan.py DIR [DIR...]
(generate inputs with tools/gen_scale.py --dup-rate 0.02
 --tables documents at --factor 1000/10000 for 5M/50M docs)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from measure_sf10_composite import standard_gates  # noqa: E402

from ds_caselaw_ingester_spark.session import get_spark  # noqa: E402


def main() -> None:
    dirs = sys.argv[1:] or ["/tmp/sf50_lowdup", "/tmp/sf500_lowdup"]
    spark = get_spark("battery-scan")
    spark.sparkContext.setLogLevel("ERROR")
    import bench

    bench.warm_up(spark)

    from ds_caselaw_ingester_spark.operators.curation import apply_quality_gates
    from ds_caselaw_ingester_spark.operators.unigram_lm import (
        seed_vocab,
        word_frequencies,
    )
    from ds_caselaw_ingester_spark.sources.catalog import spread

    gates = standard_gates()
    for d in dirs:
        path = os.path.join(d, "documents.parquet")
        docs = spread(
            spark.read.parquet(path).select("doc_id", "text"), "doc_id"
        )
        n = docs.count()
        lm = seed_vocab(word_frequencies(docs.limit(2000), "text"),
                        max_vocab=2000)
        for p in (1, 2):
            t0 = time.time()
            apply_quality_gates(docs, "doc_id", "text", lm_logp=lm, **gates)\
                .write.mode("overwrite").format("noop").save()
            print(json.dumps({
                "corpus": d, "docs": n, "pass": p,
                "battery_scan_s": round(time.time() - t0, 1),
            }), flush=True)


if __name__ == "__main__":
    main()
