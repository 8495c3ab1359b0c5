"""sf10 composite stage split at BOTH corpus duplication shapes
(VERDICT r12 #5): the legacy gen_scale corpus (every copy a near-dup,
100-member families — the lexical join dominates BY CONSTRUCTION) vs
the --dup-rate 0.02 low-duplication variant (the battery-dominated
regime a real 100 TB crawl looks like). Prints one JSON line per
corpus: battery-alone wall and gates+lexical-dedup+chunk wall.

Usage: python tools/measure_sf10_composite.py DIR [DIR...]
(generate inputs with tools/gen_scale.py --factor 100 [--dup-rate 0.02]
 --tables documents,embeddings)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ds_caselaw_ingester_spark.session import get_spark  # noqa: E402


def standard_gates() -> dict:
    """The pass-all gate battery every measurement harness shares
    (this one and tools/measure_battery_scan.py): thresholds that keep
    every gate scoring every document, so the measured wall is the
    full battery's compute, not early-exit luck."""
    from ds_caselaw_ingester_spark.operators.quality_clf import QualityModel

    char_m = QualityModel(
        dim=512, bias=0.0,
        weights={i: ((i * 37) % 100 - 50) / 100 for i in range(0, 512, 3)},
        feature="char", max_chars=512,
    )
    word_m = QualityModel(
        dim=2048, bias=0.0,
        weights={i: ((i * 53) % 100 - 50) / 100 for i in range(0, 2048, 5)},
    )
    return dict(
        langid_model=char_m, min_lang_p=0.0,
        repetition_caps={
            "dup_line_frac": 1.0,
            "top_2gram_char_frac": 1.0,
            "dup_5gram_char_frac": 1.0,
        },
        quality_model=word_m, min_quality_p=0.0,
        max_ppl=1e18,
    )


def main() -> None:
    dirs = sys.argv[1:] or ["/tmp/sf10_dup", "/tmp/sf10_lowdup"]
    spark = get_spark("sf10-composite")
    import bench

    bench.warm_up(spark)

    from ds_caselaw_ingester_spark.operators.curation import (
        apply_quality_gates,
        curate_corpus,
    )
    from ds_caselaw_ingester_spark.operators.unigram_lm import (
        seed_vocab,
        word_frequencies,
    )
    from ds_caselaw_ingester_spark.sources.catalog import spread

    gates = standard_gates()
    for d in dirs:
        docs = spread(
            spark.read.parquet(os.path.join(d, "documents.parquet")).select(
                "doc_id", "text"
            ),
            "doc_id",
        ).localCheckpoint(eager=True)
        n = docs.count()
        lm = seed_vocab(word_frequencies(docs.limit(2000), "text"),
                        max_vocab=2000)
        # battery alone (thresholds pass-all: every gate scores every doc)
        t0 = time.time()
        apply_quality_gates(docs, "doc_id", "text", lm_logp=lm, **gates)\
            .write.mode("overwrite").format("noop").save()
        t_battery = round(time.time() - t0, 1)
        # gates + lexical keep-one + chunk (no semantic stage: its cost
        # is survivor-scaled and measured separately in SCALE.md)
        t0 = time.time()
        out = curate_corpus(docs, lm_logp=lm, **gates)
        out.write.mode("overwrite").format("noop").save()
        t_composite = round(time.time() - t0, 1)
        spark.catalog.clearCache()
        print(json.dumps({
            "corpus": d, "docs": n,
            "battery_s": t_battery,
            "gates_lexical_chunk_s": t_composite,
        }), flush=True)


if __name__ == "__main__":
    main()
