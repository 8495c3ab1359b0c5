"""Unigram-LM tokenizer: the distributed hard-EM must equal a
pure-Python run piece-for-piece, Viterbi likelihood must not decrease
across rounds, and segmentation must be total and lossless."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.unigram_lm import (
    seed_vocab,
    unigram_fit,
    viterbi_segment,
    word_frequencies,
)
from ds_caselaw_ingester_spark.sources.catalog import spread, table

MAX_LEN = 6
ITERS = 3


@pytest.fixture(scope="module")
def wf(spark, sf_dir):
    docs = spread(
        table(spark, sf_dir, "documents").select("doc_id", "text").limit(400),
        "doc_id",
    )
    return word_frequencies(docs, "text").persist()


def _py_em(word_freqs: dict, seed: dict, iters: int):
    logp = dict(seed)
    for _ in range(iters):
        counts: dict = {}
        for w, f in word_freqs.items():
            for piece in viterbi_segment(w, logp, MAX_LEN):
                counts[piece] = counts.get(piece, 0) + f
        total = sum(counts.values())
        floor = math.log(0.5 / max(total, 1))
        logp = {p: floor for p in logp}
        for p, n in counts.items():
            logp[p] = math.log(n / total)
    return logp


def test_distributed_em_matches_python_replay(spark, wf):
    seed = seed_vocab(wf, MAX_LEN, max_vocab=800)
    got = unigram_fit(wf, num_iters=ITERS, max_piece_len=MAX_LEN, max_vocab=800)
    freqs = {r["word"]: int(r["freq"]) for r in wf.collect()}
    want = _py_em(freqs, seed, ITERS)
    assert got.keys() == want.keys()
    for p in got:
        assert got[p] == pytest.approx(want[p], abs=1e-12), p


def test_viterbi_likelihood_is_nondecreasing(spark, wf):
    """Hard EM's classical guarantee: the corpus's Viterbi objective
    never decreases when probabilities are re-fit from Viterbi counts."""
    freqs = {r["word"]: int(r["freq"]) for r in wf.collect()}
    seed = seed_vocab(wf, MAX_LEN, max_vocab=800)

    def corpus_ll(logp):
        tot = 0.0
        for w, f in freqs.items():
            pieces = viterbi_segment(w, logp, MAX_LEN)
            tot += f * sum(logp.get(p, -50.0) for p in pieces)
        return tot

    lls = [corpus_ll(seed)]
    model = seed
    for _ in range(3):
        model = _py_em(freqs, model, 1)
        lls.append(corpus_ll(model))
    for a, b in zip(lls, lls[1:]):
        assert b >= a - 1e-9, lls


def test_segmentation_is_total_and_lossless(spark, wf):
    """Every token, unseen characters included, segments into non-empty
    pieces that concatenate back to it."""
    model = unigram_fit(wf, num_iters=1, max_piece_len=MAX_LEN, max_vocab=400)
    for token in "the quarterly ingest report zzzqqqxyz unseen™glyph".split():
        pieces = viterbi_segment(token, model, MAX_LEN)
        assert "".join(pieces) == token, (token, pieces)
        assert all(pieces), (token, pieces)


def test_em_compresses_vs_characters(spark, wf):
    """After training, frequent words segment into fewer pieces than
    characters — the point of the exercise."""
    model = unigram_fit(wf, num_iters=ITERS, max_piece_len=MAX_LEN, max_vocab=800)
    top_words = [
        r["word"]
        for r in wf.orderBy(F.desc("freq")).limit(20).collect()
        if len(r["word"]) >= 4
    ]
    assert top_words
    shorter = sum(
        1 for w in top_words if len(viterbi_segment(w, model, MAX_LEN)) < len(w)
    )
    assert shorter >= 0.8 * len(top_words), (shorter, len(top_words))


def test_unigram_perplexity_replay_and_discrimination(spark):
    """unigram_perplexity: (a) replay-exact vs a pure-Python
    reimplementation (Viterbi + micro-rounded sums — the same
    engine-portability rule every scorer follows); (b) the signal
    works — a gibberish document scores strictly higher perplexity
    than in-distribution text under a model trained on that text;
    (c) empty/NULL docs keep their row with n_tokens=0 and NULL ppl."""
    import math

    from ds_caselaw_ingester_spark.operators.unigram_lm import (
        unigram_fit,
        unigram_perplexity,
        viterbi_segment,
    )

    base = [
        "the court held the appeal was dismissed with costs",
        "the appeal court dismissed the appeal and the costs order",
        "costs were held over while the court dismissed the appeal",
    ]
    rows = [(i, t) for i, t in enumerate(base)] + [
        (97, "zxqv kjwp qqzz vvkk zzzz xqxq"),  # gibberish
        (98, ""),
        (99, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    wf = (
        spark.createDataFrame(
            [(w,) for t in base for w in t.split()], "word string"
        )
        .groupBy("word")
        .agg(__import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("freq"))
    )
    logp = unigram_fit(wf, num_iters=2, max_piece_len=4, max_vocab=200)
    got = {r["doc_id"]: r for r in unigram_perplexity(
        docs, "doc_id", "text", logp, max_piece_len=4
    ).collect()}

    # (a) replay
    floor = min(logp.values())
    for i, t in enumerate(base):
        total_micro, n_pieces, n_tok = 0, 0, 0
        for w in t.split():
            pieces = viterbi_segment(w, logp, 4)
            lp = sum(logp.get(p, floor) for p in pieces)
            total_micro += int(round(lp * 1e6))
            n_pieces += len(pieces)
            n_tok += 1
        want_total = total_micro / 1e6
        want_ppl = float(
            __import__("decimal").Decimal(
                repr(math.exp(-want_total / n_pieces))
            ).quantize(__import__("decimal").Decimal("0.0001"),
                       rounding=__import__("decimal").ROUND_HALF_UP)
        )
        r = got[i]
        assert r["n_tokens"] == n_tok and r["n_pieces"] == n_pieces
        assert abs(r["total_logprob"] - want_total) < 1e-9
        assert abs(r["ppl"] - want_ppl) < 5e-4, (r["ppl"], want_ppl)

    # (b) discrimination
    nat_max = max(got[i]["ppl"] for i in range(len(base)))
    assert got[97]["ppl"] > nat_max

    # (c) empty and NULL docs keep their rows
    for d in (98, 99):
        assert got[d]["n_tokens"] == 0 and got[d]["ppl"] is None


def test_batch_perplexity_matches_relational(spark):
    """The curation LM gate's engine (make_batch_perplexity, run inside
    the fused gate scan) gives each document the SAME ppl the relational
    unigram_perplexity computes, incl. the NULL-for-tokenless rule."""
    from pyspark.sql import functions as F

    from ds_caselaw_ingester_spark.operators.unigram_lm import (
        make_batch_perplexity,
        unigram_fit,
        unigram_perplexity,
    )

    base = [
        "the court held the appeal was dismissed with costs",
        "the appeal court dismissed the appeal and the costs order",
        "costs were held over while the court dismissed the appeal",
    ]
    rows = [(i, t) for i, t in enumerate(base)] + [
        (97, "zxqv kjwp qqzz vvkk zzzz xqxq"),
        (98, ""),
        (99, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    wf = (
        spark.createDataFrame(
            [(w,) for t in base for w in t.split()], "word string"
        )
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    logp = unigram_fit(wf, num_iters=2, max_piece_len=4, max_vocab=200)

    rel = {
        r["doc_id"]: r["ppl"]
        for r in unigram_perplexity(
            docs, "doc_id", "text", logp, max_piece_len=4
        ).collect()
    }
    ppl_of = make_batch_perplexity(logp, max_piece_len=4)
    got = {i: ppl_of(t)["ppl"] for i, t in rows}
    assert got == rel
    assert got[98] is None and got[99] is None  # tokenless -> NULL (keep)
    assert got[97] is not None


def test_batch_perplexity_equals_py_doc_perplexity():
    """make_batch_perplexity IS py_doc_perplexity, amortized: the full
    accounting dict identical on docs with heavy word repetition (the
    memo's bread and butter), OOV words, empties, and None — one engine
    instance for the whole list so the per-word memo is warm; and the
    Counter reordering is exact because per-word contributions are
    integers (micro-rounded) by construction."""
    from ds_caselaw_ingester_spark.operators.unigram_lm import (
        make_batch_perplexity,
        py_doc_perplexity,
    )

    logp = {"ab": -1.5, "a": -2.0, "b": -2.5, "c": -3.0, "abc": -1.1}
    docs = [
        "ab ab ab abc c", "a b c", "", "   ", None,
        "zzz unseen zzz unseen",          # OOV fallback path
        "abc " * 50 + "c",                 # heavy repetition
        "ab", "c c c c c c",
    ]
    eng = make_batch_perplexity(logp, max_piece_len=3)
    for t in docs:
        want = py_doc_perplexity(t, logp, 3)
        assert eng(t) == want, repr(t)
        assert eng(t) == want, ("warm", repr(t))  # memo-warm second call

    # explicit floor (the fused scan hoists it) agrees with default
    floor = min(logp.values())
    eng_f = make_batch_perplexity(logp, 3, oov_logp=floor)
    for t in docs:
        assert eng_f(t) == py_doc_perplexity(t, logp, 3, oov_logp=floor)


def test_batch_perplexity_cache_cap_clears_without_value_drift():
    from ds_caselaw_ingester_spark.operators.unigram_lm import (
        make_batch_perplexity,
        py_doc_perplexity,
    )

    logp = {"a": -2.0, "b": -2.5}
    eng = make_batch_perplexity(logp, 2, cache_cap=4)
    texts = [f"w{i} w{i} a" for i in range(30)]
    for t in texts:
        assert eng(t) == py_doc_perplexity(t, logp, 2), t
