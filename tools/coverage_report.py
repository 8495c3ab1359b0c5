"""Print the SURVEY.md §2 coverage matrix: every inventoried operator ->
the registered quer(ies) that exercise it, plus extension ops.

Usage: python tools/coverage_report.py [--missing-only]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ds_caselaw_ingester_spark.plans.registry import all_specs

INVENTORY = (
    [f"S{i}" for i in range(1, 13)]
    + [f"P{i}" for i in range(1, 16)]
    + [f"J{i}" for i in range(1, 6)]
    + ["A1", "A2"]
    + [f"C{i}" for i in range(1, 7)]
    + [f"K{i}" for i in range(1, 14)]
)


def main() -> int:
    missing_only = "--missing-only" in sys.argv
    covered: dict[str, list[str]] = {}
    for name, spec in all_specs().items():
        for op in getattr(spec, "survey_ops", ()) or ():
            covered.setdefault(op, []).append(name)
    missing = [op for op in INVENTORY if op not in covered]
    if not missing_only:
        for op in INVENTORY:
            qs = ", ".join(sorted(covered.get(op, []))) or "-- MISSING --"
            print(f"{op:4} {qs}")
        print()
        for op in sorted(k for k in covered if k.startswith("ext")):
            print(f"{op:28} {', '.join(sorted(covered[op]))}")
        print()
        print("pytest-gated (operators outside the 50-row registry, DuckDB")
        print("checks in tests/ that call them directly):")
        for line in (
            "  ivf_topk, fixed cells   tests/test_oracle_parity.py (⊂ ann_ivf_trained_topk)",
            "  decontaminate (op)      tests/test_decontam.py",
            "  hash sample (op)        tests/test_sampling.py + test_curation_property.py",
            "  chunk_documents (op)    tests/test_chunking.py + test_curation_property.py",
            "  cosine_topk             tests/test_oracle_parity.py (⊂ hybrid_search_multi)",
            "  mix_corpus (op)         tests/test_oracle_parity.py + test_mixture.py",
            "  duplicate_spans (op)    tests/test_oracle_parity.py (⊂ strip_spans)",
            "  relational repetition   tests/test_oracle_parity.py (repetition_profile's oracle)",
            "  ivfadc (op)             tests/test_pq.py (ADC core registered as pq_adc_topk)",
            "  auto-sizing (op)        tests/test_sizing.py (LSH planes / k / df-cap rules)",
            "  unigram-LM tokenizer    tests/test_unigram_lm.py (hard EM, replay-exact)",
            "  shuffled export (op)    tests/test_export.py (deterministic balanced shards)",
            "  incremental semdedup    tests/test_semdedup.py + test_streaming_semdedup.py",
            "  swap protocols (op)     tests/test_compaction.py + test_round7/8_property.py",
            "  corpus report (op)      tests/test_report.py (two-pass health metrics)",
            "  matmul ivf_assign (op)  tests/test_ann_recall.py (== literal path, large-k route)",
            "  occupancy guard (op)    tests/test_sizing.py (pre-join skew WARN)",
            "  unigram perplexity (op) tests/test_unigram_lm.py (replay-exact LM filter)",
            "  multi-query bm25 (op)   tests/test_search.py (DuckDB-gated per-query ranks)",
            "  langid gate (op)        tests/test_langid.py (char-ngram clf, replay-exact + DuckDB)",
            "  single-query rrf_fuse   tests/test_oracle_parity.py (⊂ hybrid_search_multi)",
            "  pca plumbing (op)       tests/test_pca.py (composite/PQ/IVF pre-projection ==)",
            "  pca'd semdedup stream   tests/test_streaming_semdedup.py (drift-pinned projection)",
        ):
            print(line)
        print()
    print(f"reference ops covered: {len(INVENTORY) - len(missing)}/{len(INVENTORY)}")
    if missing:
        print("MISSING:", ", ".join(missing))
    return 1 if missing else 0


if __name__ == "__main__":
    raise SystemExit(main())
