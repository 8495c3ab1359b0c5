"""Property test for the round-6 operators against a pure-Python model:
Viterbi segmentation optimality, a pure-Python property run at full
breadth."""

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

