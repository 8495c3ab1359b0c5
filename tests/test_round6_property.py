"""Property tests for the round-6 operators against pure-Python models:
Viterbi segmentation optimality and the LSH band-planner formula. Both
are pure-Python properties and run at full breadth."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

WORD = st.text(alphabet="abc", min_size=1, max_size=8)
EXTRA_PIECES = st.lists(
    st.text(alphabet="abc", min_size=2, max_size=3), max_size=6
)


@given(word=WORD, extra=EXTRA_PIECES, seed=st.integers(0, 10**6))
@settings(max_examples=300, deadline=None)
def test_viterbi_is_optimal_and_lossless(word, extra, seed):
    """Pure-Python property at full breadth: the DP's segmentation
    reconstructs the word and achieves the MAXIMUM total log-prob over
    every possible segmentation (brute-force enumerated)."""
    from ds_caselaw_ingester_spark.operators.unigram_lm import viterbi_segment

    import random

    rng = random.Random(seed)
    vocab = {c: rng.uniform(-5, -0.5) for c in "abc"}
    for p in extra:
        vocab[p] = rng.uniform(-5, -0.5)
    got = viterbi_segment(word, vocab, max_piece_len=4)
    assert "".join(got) == word
    got_score = sum(vocab[p] for p in got)

    def all_segmentations(w):
        if not w:
            yield []
            return
        for ln in range(1, min(4, len(w)) + 1):
            head = w[:ln]
            if head in vocab:
                for rest in all_segmentations(w[ln:]):
                    yield [head] + rest

    best = max(
        (sum(vocab[p] for p in seg) for seg in all_segmentations(word)),
        default=None,
    )
    assert best is not None
    assert got_score >= best - 1e-12, (got, best)


@given(
    num_hashes=st.sampled_from([8, 12, 16, 20, 24, 32, 48, 64]),
    threshold=st.floats(min_value=0.05, max_value=0.95),
)
@settings(max_examples=200, deadline=None)
def test_band_planner_is_optimal_over_factorizations(num_hashes, threshold):
    """The planner's pick must minimize |implied - target| over ALL
    factorizations, with ties broken toward more bands."""
    from ds_caselaw_ingester_spark.operators.dedup import plan_lsh_bands

    bands, rows = plan_lsh_bands(num_hashes, threshold)
    assert bands * rows == num_hashes

    def implied(b, r):
        return (1.0 / b) ** (1.0 / r) if b > 1 else 1.0

    gaps = []
    for r in range(1, num_hashes + 1):
        if num_hashes % r == 0:
            b = num_hashes // r
            gaps.append((abs(implied(b, r) - threshold), -b, (b, r)))
    best_gap = min(g[0] for g in gaps)
    assert abs(implied(bands, rows) - threshold) <= best_gap + 1e-15
    # tie-break: among minimal-gap factorizations, max bands wins
    tied = [g for g in gaps if abs(g[0] - best_gap) < 1e-15]
    assert bands == max(-g[1] for g in tied)
