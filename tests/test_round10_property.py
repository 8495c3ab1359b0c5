"""Property tests for the round-10 machinery, pure-Python paths (no
Spark in the Hypothesis loop): the char featurizer's closed-form term
total matches the actual gram count for ANY text and cap; the capped
featurizer is exactly the uncapped featurizer of the truncated canon;
the PCA flush rule is exact and never lets an accumulator entry cross
the bound; model/projection fingerprints are sensitive to exactly the
fields that change meaning; the sizing rule is monotone."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from ds_caselaw_ingester_spark.operators.quality_clf import (
    CHAR_NS,
    QualityModel,
    py_features,
)
from ds_caselaw_ingester_spark.operators.textstats import py_char_ngrams, py_tokens

TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=200
)


# ---------------------------------------------------------------------------
# char featurizer: closed-form term total == actual gram count
# ---------------------------------------------------------------------------


@given(TEXT, st.one_of(st.none(), st.integers(min_value=1, max_value=64)))
@settings(max_examples=300, deadline=None)
def test_closed_form_term_total_matches_gram_count(text, cap):
    """The Spark path computes the per-doc term total as the CLOSED FORM
    Σ max(L-n+1, 0) instead of carrying an array size through the
    explode; the replay builds the grams. They must agree for any text
    and any cap — including texts shorter than the largest n."""
    canon = " ".join(py_tokens(text)).lower()
    if cap is not None:
        canon = canon[:cap]
    actual = sum(len(py_char_ngrams(canon, n)) for n in CHAR_NS)
    closed = sum(max(len(canon) - n + 1, 0) for n in CHAR_NS)
    assert actual == closed


@given(TEXT, st.integers(min_value=1, max_value=64))
@settings(max_examples=200, deadline=None)
def test_capped_features_equal_uncapped_of_prefix(text, cap):
    """max_chars is by definition featurization of the truncated canon:
    py_features(text, cap=k) == py_features of a document whose canon
    IS that prefix. Feature x-values stay a probability vector."""
    canon = " ".join(py_tokens(text)).lower()
    capped = py_features(text, 256, "char", max_chars=cap)
    # build a text whose canon is exactly the prefix: the prefix itself
    # is already canonical except possibly a trailing space (tokens
    # re-join collapses it) — compute the reference from the raw grams
    prefix = canon[:cap]
    want: dict[int, float] = {}
    terms = [g for n in CHAR_NS for g in py_char_ngrams(prefix, n)]
    if terms:
        from ds_caselaw_ingester_spark.operators.quality_clf import py_hash_idx

        cnt: dict[int, int] = {}
        for t in terms:
            i = py_hash_idx(t, 256)
            cnt[i] = cnt.get(i, 0) + 1
        want = {i: c / len(terms) for i, c in cnt.items()}
    assert capped == want
    if capped:
        assert abs(sum(capped.values()) - 1.0) < 1e-9


# ---------------------------------------------------------------------------
# PCA flush rule: chunked int accumulation is exact and bounded
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.lists(st.integers(min_value=-1000, max_value=1000), min_size=3, max_size=3),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=10**7, max_value=10**9),
)
@settings(max_examples=200, deadline=None)
def test_flush_rule_is_exact_and_bounded(rows, safe):
    """Replicates pca_fit's _partials room/flush arithmetic on exact
    Python ints: the flushed partial rows sum to the direct scatter,
    and no accumulated entry ever reaches the safe bound."""
    import numpy as np

    xi = np.array(rows, dtype=np.int64)
    m = int(np.abs(xi).max())
    per_row = m * m
    if per_row >= safe:
        return  # the engine raises here (magnitude guard) — not this path
    dim = xi.shape[1]
    acc = np.zeros((dim, dim), dtype=np.int64)
    bound = 0
    flushed = []
    start = 0
    while start < len(xi):
        room = (safe - 1 - bound) // per_row if per_row else len(xi)
        if room < 1:
            flushed.append(acc)
            acc = np.zeros((dim, dim), dtype=np.int64)
            bound = 0
            continue
        sub = xi[start : start + room]
        acc = acc + sub.T @ sub
        assert int(np.abs(acc).max()) < safe  # never wraps
        bound += per_row * len(sub)
        start += len(sub)
    flushed.append(acc)
    total = np.zeros((dim, dim), dtype=object)
    for f in flushed:
        total = total + f.astype(object)
    direct = xi.astype(object).T @ xi.astype(object)
    assert (total == direct).all()


# ---------------------------------------------------------------------------
# fingerprints: sensitive to meaning, blind to everything else
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.lists(st.floats(-1, 1, allow_nan=False), min_size=2, max_size=2),
        min_size=1,
        max_size=3,
    ),
    st.floats(-1, 1, allow_nan=False),
)
@settings(max_examples=100, deadline=None)
def test_pca_fingerprint_ignores_explained_tracks_components(comps, eps):
    from ds_caselaw_ingester_spark.streaming.semdedup_sink import _pca_fingerprint

    model = {"components": comps, "mean": [0.0, 0.0], "center": False}
    fp = _pca_fingerprint(model)
    assert fp == _pca_fingerprint({**model, "explained": [0.5]})
    perturbed = [list(r) for r in comps]
    perturbed[0][0] += 1.0 + abs(eps)
    assert fp != _pca_fingerprint({**model, "components": perturbed})
    assert fp != _pca_fingerprint({**model, "center": True})


@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=63),
        st.floats(-2, 2, allow_nan=False),
        max_size=6,
    ),
    st.integers(min_value=1, max_value=4096),
)
@settings(max_examples=100, deadline=None)
def test_model_digest_backcompat_and_cap_sensitivity(weights, cap):
    """The sink's model digest: a default (word, uncapped) model digests
    identically to a pre-upgrade 3-field model — and feature family or
    prefix cap each change it."""
    from ds_caselaw_ingester_spark.streaming.curation_sink import (
        _quality_fingerprint,
    )

    word = QualityModel(dim=64, bias=0.5, weights=weights)
    char = QualityModel(dim=64, bias=0.5, weights=weights, feature="char")
    capped = QualityModel(
        dim=64, bias=0.5, weights=weights, feature="char", max_chars=cap
    )
    fp_word = _quality_fingerprint({"quality_model": word})
    fp_char = _quality_fingerprint({"quality_model": char})
    fp_cap = _quality_fingerprint({"quality_model": capped})
    assert len({fp_word, fp_char, fp_cap}) == 3


# ---------------------------------------------------------------------------
# sizing rule: monotone, clamped
# ---------------------------------------------------------------------------


@given(st.integers(min_value=0, max_value=10**13), st.integers(min_value=0, max_value=10**13))
@settings(max_examples=200, deadline=None)
def test_curation_n_buckets_monotone_and_clamped(a, b):
    from ds_caselaw_ingester_spark.operators.sizing import curation_n_buckets

    lo, hi = sorted((a, b))
    na, nb = curation_n_buckets(lo), curation_n_buckets(hi)
    assert 8 <= na <= nb <= (1 << 20)
