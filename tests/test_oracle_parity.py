"""The local correctness gate: every registered query must hash-match its
DuckDB oracle at sf0.001 (fast; sf0.01 is the full correctness scale), and so
must the operators no registered query runs at these configs
(tests/operator_oracles.py)."""

from __future__ import annotations

import pytest

from ds_caselaw_ingester_spark.plans.oracle_check import check_query
from ds_caselaw_ingester_spark.plans.registry import all_specs

import operator_oracles as oo


def _specs():
    return sorted(all_specs().values(), key=lambda s: s.name)


@pytest.mark.parametrize("spec", _specs(), ids=lambda s: s.name)
def test_query_matches_oracle(spark, sf_dir, spec):
    res = check_query(spark, sf_dir, spec.name, spec.fn, spec.oracle)
    assert res.ok, f"{spec.name}: {res.detail}"
    assert res.spark_rows > 0, f"{spec.name}: empty result (weak test)"


def test_unregistered_ivf_matches_oracle(spark, sf_dir):
    """ivf_topk over FIXED centroids; the registered ann_ivf_trained_topk
    runs the same operator over trained ones."""
    res = check_query(
        spark, sf_dir, "ann_ivf_topk", oo.ivf_topk_frame, oo.ANN_IVF_ORACLE
    )
    assert res.ok, res.detail
    assert res.spark_rows > 0


def test_unregistered_hybrid_search_matches_oracle(spark, sf_dir):
    """Single-query BM25 + dense RRF fusion (rrf_fuse with query_col=None,
    its duplicate-rank validation active); the registered
    hybrid_search_multi runs the per-query form."""
    res = check_query(
        spark, sf_dir, "hybrid_search", oo.hybrid_search_frame,
        oo.hybrid_search_oracle(),
    )
    assert res.ok, res.detail
    assert res.spark_rows > 0


def test_relational_repetition_profile_matches_oracle(spark, sf_dir):
    """The registered repetition_profile row runs the shuffle-free mapside
    engine. This gate keeps the relational explode/groupBy/window form —
    the cross-engine definition record — hash-matched to the same
    oracle so it cannot silently rot."""
    from ds_caselaw_ingester_spark.plans.queries_text import (
        REPETITION_PROFILE_ORACLE,
    )

    res = check_query(
        spark, sf_dir, "repetition_profile_relational",
        oo.relational_repetition_profile_frame, REPETITION_PROFILE_ORACLE,
    )
    assert res.ok, res.detail
    assert res.spark_rows > 0


def test_unregistered_cosine_topk_matches_oracle(spark, sf_dir):
    """The brute-force cosine_topk baseline over 8 queries (the registered
    hybrid_search_multi runs it over 3)."""
    res = check_query(
        spark, sf_dir, "cosine_topk", oo.cosine_topk_frame, oo.COSINE_TOPK_ORACLE
    )
    assert res.ok, res.detail
    assert res.spark_rows > 0


def test_unregistered_corpus_mixture_matches_oracle(spark, sf_dir):
    """mix_corpus (no registered query runs it): the weighted blend must
    hash-match the DuckDB oracle AND actually mix —
    up-weighted sources must emit repeat epochs, the down-weighted one
    must subsample, and realized token shares must sit near the target
    weights (the semantic check on top of replay parity)."""
    res = check_query(
        spark, sf_dir, "corpus_mixture", oo.corpus_mixture_frame,
        oo.corpus_mixture_oracle(),
    )
    assert res.ok, res.detail
    rows = oo.corpus_mixture_frame(spark, sf_dir).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["epoch"])
    assert set(by_src) == set(oo.MIX_WEIGHTS)
    assert max(by_src["src0"]) >= 1, "heaviest source should repeat epochs"
    # src2 is down-weighted below its natural share: no repeat epochs,
    # and strictly fewer kept rows than the 25 docs it holds per sf.
    assert max(by_src["src2"]) == 0
    assert len(by_src["src2"]) < 25, by_src["src2"]


def test_semantic_dedup_actually_dedups(spark, sf_dir):
    """The semantic check on top of semantic_dedup's registry row: every
    planted near-copy (cosine ~0.99 to its source) must share a
    component with its source with exactly one of the two kept, and the
    exemplar must be the component member least similar to its
    centroid."""
    from ds_caselaw_ingester_spark.plans.queries_similarity import q_semantic_dedup

    rows = {r["vec_id"]: r for r in q_semantic_dedup(spark, sf_dir).collect()}
    planted = [v for v in rows if v >= 1000000000]
    assert planted, "corpus should contain planted near-copies"
    found = sum(
        1 for v in planted if rows[v]["component"] == rows[v - 1000000000]["component"]
    )
    # the planted copy zeroes one of 64 components (cosine ~0.99): the
    # pair is only missed if the two land in different k-means cells
    assert found >= 0.9 * len(planted), (found, len(planted))
    for v in planted:
        if rows[v]["component"] != rows[v - 1000000000]["component"]:
            continue
        kept = {rows[v]["is_duplicate"], rows[v - 1000000000]["is_duplicate"]}
        assert kept == {True, False} or rows[v]["keep_id"] not in (
            v,
            v - 1000000000,
        ), (v, rows[v], rows[v - 1000000000])
    # exemplar rule: within every multi-member component, keep_id is the
    # member with the LOWEST centroid cosine (id tie-break)
    by_comp: dict = {}
    for r in rows.values():
        by_comp.setdefault(r["component"], []).append(r)
    for comp, members in by_comp.items():
        if len(members) == 1:
            assert not members[0]["is_duplicate"]
            continue
        want = min(members, key=lambda r: (r["centroid_cos"], r["vec_id"]))
        assert all(m["keep_id"] == want["vec_id"] for m in members), comp


def test_unregistered_duplicate_spans_matches_oracle(spark, sf_dir):
    """duplicate_spans (the registered strip_spans cuts its output): the
    maximal duplicated token ranges must hash-match the DuckDB
    gaps-and-islands oracle, and the planted near-copies must each
    collapse to ONE span covering the whole shared region — the
    semantic check that the island merge actually merges instead of
    emitting one span per window."""
    res = check_query(
        spark, sf_dir, "duplicate_spans", oo.duplicate_spans_frame,
        oo.DUPLICATE_SPANS_ORACLE,
    )
    assert res.ok, res.detail
    assert res.spark_rows > 0
    spans: dict[int, list] = {}
    for r in oo.duplicate_spans_frame(spark, sf_dir).collect():
        spans.setdefault(r["doc_id"], []).append(r)
    planted = [d for d in spans if d >= 1000000000]
    assert planted, "corpus should contain planted near-copies"
    for d in planted:
        # The copy drops only the original's last token, so the copy's
        # every window is duplicated -> exactly one maximal span that
        # starts at token 1 and covers the entire copy.
        assert len(spans[d]) == 1, (d, spans[d])
        s = spans[d][0]
        assert s["span_start"] == 1
        assert s["span_tokens"] == s["span_end"]


def test_strip_spans_empties_planted_copies(spark, sf_dir):
    """strip_spans' oracle match is test_query_matches_oracle[strip_spans];
    this pins its semantics: every planted near-copy must come back EMPTY
    (its whole text is one duplicated span), and documents with no
    duplicated span must pass through verbatim."""
    from ds_caselaw_ingester_spark.plans.queries_dedup import q_strip_spans
    from ds_caselaw_ingester_spark.sources.catalog import table

    rows = {r["doc_id"]: r["text"] for r in q_strip_spans(spark, sf_dir).collect()}
    planted = [d for d in rows if d >= 1000000000]
    assert planted, "corpus should contain planted near-copies"
    for d in planted:
        assert rows[d] == "", (d, rows[d][:80])
    spanned = {r["doc_id"] for r in oo.duplicate_spans_frame(spark, sf_dir).collect()}
    untouched = {
        r["doc_id"]: r["text"]
        for r in table(spark, sf_dir, "documents").collect()
        if r["doc_id"] not in spanned
    }
    assert untouched
    for d, text in untouched.items():
        assert rows[d] == text, (d, rows[d][:80], text[:80])
