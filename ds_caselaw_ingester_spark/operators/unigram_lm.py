"""Unigram-LM tokenizer training — SentencePiece-style hard EM (Kudo
2018, "Subword Regularization", the published algorithm; Viterbi
counts in place of full forward-backward, the standard hard-EM
simplification).

The unigram LM starts from an OVER-complete candidate vocab (frequent
substrings) and fits piece probabilities by EM:

  E-step: segment every word with Viterbi under current log-probs;
  M-step: re-estimate probs from the weighted piece usage counts.

Scale decomposition:
- corpus-sized work happens ONCE (the word-frequency table,
  word_frequencies);
- the candidate vocab is seeded by one substring-explode + count
  shuffle over the word table, capped to the top-N pieces (single
  characters always kept so every word stays segmentable);
- each EM round maps the word table once. Viterbi is per-word dynamic
  programming — genuinely not expressible as a columnar fold at
  reasonable cost — so this is the repo's sanctioned slow path: an
  Arrow-batched mapInPandas with the (bounded, top-N) vocab broadcast
  in the closure, emitting slim (piece, weighted_count) rows into one
  partially-aggregated groupBy. Only vocab-sized state ever reaches
  the driver.

Determinism: Viterbi ties break toward the SHORTER split position
(longer final piece), then lexicographic piece order is fixed by
construction; counts are exact integers times float log-probs with a
fixed tie rule, so training is reproducible across partitionings (the
replay test pins it against a pure-Python run).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_NEG_INF = float("-inf")


def word_frequencies(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, freq): the one corpus-sized scan. Map-side combine
    collapses repeats before the shuffle carries one row per distinct
    word per partition."""
    from ds_caselaw_ingester_spark.operators.textstats import tokens
    from ds_caselaw_ingester_spark.sources.catalog import spread_if_narrow

    # Production entry for an UNSEEN frame (feeds seed_vocab and
    # unigram_fit): the token explode touches every byte — widen a
    # 1-2-partition single-file corpus, no-op otherwise. Keyless
    # round-robin (there is no id contract here); word counts are
    # placement-invariant.
    docs = spread_if_narrow(docs)
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def seed_vocab(
    word_freqs: DataFrame,
    max_piece_len: int = 6,
    max_vocab: int = 2000,
) -> "dict[str, float]":
    """Candidate pieces: every substring of length <= max_piece_len of
    every word, weighted by word frequency; top `max_vocab` by weight,
    with ALL single characters force-included (totality). Returns
    {piece: log_prob} normalized over the selected set."""
    from ds_caselaw_ingester_spark.sources.catalog import spread_if_narrow

    # Production entry: word_freqs usually arrives post-shuffle (no-op
    # via the Exchange check), but a frequency table re-read from a
    # single parquet file plans narrow and the substring explode below
    # is the heavy stage — widen it then.
    word_freqs = spread_if_narrow(word_freqs, "word")
    subs = F.expr(
        f"""flatten(transform(sequence(1, length(word)),
              i -> transform(sequence(i, least(length(word), i + {max_piece_len - 1})),
                     j -> substring(word, i, j - i + 1))))"""
    )
    # the substring explode already counts every length-1 piece, so the
    # single-character force-include filters the SAME aggregated frame —
    # one explode+shuffle total, cached across the two collects
    counts = (
        word_freqs.select(F.explode(subs).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").alias("n"))
        .persist()
    )
    top = counts.orderBy(F.desc("n"), F.asc("piece")).limit(max_vocab).collect()
    chars = counts.where(F.length("piece") == 1).collect()
    counts.unpersist()
    weights: dict[str, float] = {r["piece"]: float(r["n"]) for r in top}
    for r in chars:
        weights.setdefault(r["piece"], float(r["n"]))
    total = sum(weights.values())
    return {p: math.log(v / total) for p, v in weights.items()}


def viterbi_segment(word: str, logp: "dict[str, float]", max_piece_len: int) -> "list[str]":
    """Best segmentation of one word under piece log-probs. DP over end
    positions; ties break toward the SMALLER split point (longer final
    piece). Falls back to characters for pieces missing from the vocab
    (single chars are always seeded, so this is total)."""
    n = len(word)
    best = [_NEG_INF] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0.0
    for j in range(1, n + 1):
        for i in range(max(0, j - max_piece_len), j):
            piece = word[i:j]
            lp = logp.get(piece)
            if lp is None or best[i] == _NEG_INF:
                continue
            score = best[i] + lp
            # strict > with i ascending means the FIRST (smallest) split
            # point to reach a score keeps it — that IS the documented
            # tie rule, enforced by iteration order (pinned by the
            # pure-Python replay in tests/test_unigram_lm.py)
            if score > best[j]:
                best[j] = score
                back[j] = i
    if best[n] == _NEG_INF:  # unseen character: emit it raw
        return list(word)
    out: list[str] = []
    j = n
    while j > 0:
        i = back[j]
        out.append(word[i:j])
        j = i
    return out[::-1]


def unigram_fit(
    word_freqs: DataFrame,
    num_iters: int = 3,
    max_piece_len: int = 6,
    max_vocab: int = 2000,
) -> "dict[str, float]":
    """Hard-EM over the word table: returns {piece: log_prob}. Pieces
    that win no Viterbi usage keep a floor probability (they can be
    pruned by the caller; SentencePiece prunes the lowest-loss tail
    each round — kept simple and deterministic here)."""
    logp = seed_vocab(word_freqs, max_piece_len, max_vocab)
    spark = word_freqs.sparkSession
    wf = word_freqs.select("word", "freq").persist()
    try:
        for _ in range(num_iters):
            cur = dict(logp)  # closure snapshot for this round

            def count_pieces(batches):
                import pandas as pd

                for pdf in batches:
                    counts: dict[str, int] = {}
                    for word, freq in zip(pdf["word"], pdf["freq"]):
                        for piece in viterbi_segment(word, cur, max_piece_len):
                            counts[piece] = counts.get(piece, 0) + int(freq)
                    if counts:
                        yield pd.DataFrame(
                            {"piece": list(counts), "n": list(counts.values())}
                        )

            used = (
                wf.mapInPandas(count_pieces, "piece string, n long")
                .groupBy("piece")
                .agg(F.sum("n").alias("n"))
                .collect()
            )
            total = sum(int(r["n"]) for r in used)
            floor = math.log(0.5 / max(total, 1))
            new_logp = {p: floor for p in logp}
            for r in used:
                new_logp[r["piece"]] = math.log(int(r["n"]) / total)
            logp = new_logp
    finally:
        wf.unpersist()
    return logp


def unigram_perplexity(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    logp: "dict[str, float]",
    max_piece_len: int = 6,
    oov_logp: "float | None" = None,
) -> DataFrame:
    """Per-document perplexity under a trained unigram LM — the
    CCNet/Gopher-style quality signal (Wenzek et al. 2020 score corpora
    with a KenLM; a unigram piece model is the same filter with this
    repo's own trained vocab): documents whose pieces the model finds
    improbable (gibberish, boilerplate soup, wrong language) score high
    and get filtered or down-weighted.

    Returns one row per input document:
    (id, n_tokens, n_pieces, total_logprob, ppl) where total_logprob is
    the sum of Viterbi-best piece log-probs (micro-rounded per token
    and summed as integers — the repo's order-stable float convention,
    so the value is identical under any shuffle order) and
    ppl = exp(-total_logprob / n_pieces). Documents with no tokens get
    n_tokens = 0 and NULL ppl (nothing to score — callers decide).

    oov_logp: log-prob for pieces outside the vocab (unseen characters
    fall back to raw chars in viterbi_segment); defaults to the model's
    floor (min log-prob), the weakest in-model belief.

    Scale shape: one Arrow-batched pass over the exploded tokens (the
    vocab rides the closure), one
    groupBy(id) of three integer partial aggregates, and a left join
    back to the doc spine — the corpus never shuffles text.
    """
    from ds_caselaw_ingester_spark.operators.textstats import tokens

    model = dict(logp)
    floor = float(oov_logp) if oov_logp is not None else min(model.values())
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            out_lp, out_np = [], []
            for t in pdf["token"]:
                pieces = viterbi_segment(t, model, max_piece_len)
                lp = sum(model.get(p, floor) for p in pieces)
                # micro-round per TOKEN: integer partials make the
                # per-doc sum shuffle-order-stable (bm25's convention)
                out_lp.append(int(round(lp * 1e6)))
                out_np.append(len(pieces))
            yield pd.DataFrame(
                {
                    "_id": pdf[id_col].reset_index(drop=True),
                    "lp_micro": out_lp,
                    "n_pieces": out_np,
                }
            )

    id_type = dict(tok.dtypes)[id_col]
    scored = tok.mapInPandas(
        score, f"_id {id_type}, lp_micro long, n_pieces long"
    )
    agg = scored.groupBy(F.col("_id").alias(id_col)).agg(
        F.count("*").alias("n_tokens"),
        F.sum("n_pieces").alias("n_pieces"),
        (F.sum("lp_micro") / F.lit(1e6)).alias("total_logprob"),
    )
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias("n_tokens"),
            F.coalesce(F.col("n_pieces"), F.lit(0).cast("long")).alias("n_pieces"),
            F.coalesce(F.col("total_logprob"), F.lit(0.0)).alias("total_logprob"),
            F.when(
                F.col("n_pieces") > 0,
                F.round(
                    F.exp(-F.col("total_logprob") / F.col("n_pieces")), 4
                ),
            ).alias("ppl"),
        )
    )

def py_doc_perplexity(
    text: "str | None",
    logp: "dict[str, float]",
    max_piece_len: int = 6,
    oov_logp: "float | None" = None,
) -> dict:
    """Pure-Python replay of unigram_perplexity for ONE document — the
    per-document reference the fused curation gate's batch engine
    (make_batch_perplexity) is pinned against. Same arithmetic as the
    relational path: Viterbi per token (viterbi_segment, the shared
    DP), per-token micro-rounding to integer partials, exact integer
    sum, ppl = exp(-lp/n_pieces) HALF_UP-rounded at 4 (Spark ROUND).
    Returns {n_tokens, n_pieces, total_logprob, ppl}; a tokenless
    document gets ppl=None — the relational NULL, which the gate KEEPS.
    Equality with the relational path is pinned by
    tests/test_unigram_lm.py."""
    from decimal import ROUND_HALF_UP, Decimal

    from ds_caselaw_ingester_spark.operators.textstats import py_tokens

    floor = float(oov_logp) if oov_logp is not None else min(logp.values())
    lp_micro = 0
    n_pieces = 0
    toks = py_tokens(text if isinstance(text, str) else "")
    for t in toks:
        pieces = viterbi_segment(t, logp, max_piece_len)
        lp = sum(logp.get(p, floor) for p in pieces)
        lp_micro += int(round(lp * 1e6))
        n_pieces += len(pieces)
    total_logprob = lp_micro / 1e6
    ppl = None
    if n_pieces > 0:
        raw = math.exp(-total_logprob / n_pieces)
        ppl = float(
            Decimal(repr(raw)).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP
            )
        )
    return {
        "n_tokens": len(toks),
        "n_pieces": n_pieces,
        "total_logprob": total_logprob,
        "ppl": ppl,
    }


def make_batch_perplexity(
    logp: "dict[str, float]",
    max_piece_len: int = 6,
    oov_logp: "float | None" = None,
    cache_cap: int = 1 << 20,
):
    """Batch-scoped py_doc_perplexity: returns
    `ppl_of(text, toks=None) -> dict` with values IDENTICAL to
    py_doc_perplexity (pinned by tests/test_unigram_lm.py) but the
    per-WORD Viterbi memoized across every call — the fused curation
    gate scan builds one engine per partition, so each distinct word's
    DP runs once per partition instead of once per occurrence (Zipf:
    the distinct-word fraction of natural text is small, and Viterbi
    is the gate battery's most expensive per-token step). Exactness is
    free here: the per-token micro-rounding makes each word's
    contribution an INTEGER (lp_micro, n_pieces) pair, so summing
    count × pair over a Counter equals the sequential token loop
    bit-for-bit in any order. `toks` MUST equal py_tokens(text) when
    provided. cache_cap bounds executor memory on adversarial
    all-distinct corpora (memo cleared when full; correctness
    unaffected)."""
    from ds_caselaw_ingester_spark.operators.textstats import py_tokens

    model = dict(logp)
    floor = float(oov_logp) if oov_logp is not None else min(model.values())
    mpl = int(max_piece_len)
    memo: "dict[str, tuple[int, int]]" = {}
    _get = model.get

    def _word(t: str) -> "tuple[int, int]":
        v = memo.get(t)
        if v is None:
            if len(memo) >= cache_cap:
                memo.clear()
            pieces = viterbi_segment(t, model, mpl)
            lp = sum(_get(p, floor) for p in pieces)
            v = (int(round(lp * 1e6)), len(pieces))
            memo[t] = v
        return v

    def ppl_of(text, toks: "list[str] | None" = None) -> dict:
        from collections import Counter
        from decimal import ROUND_HALF_UP, Decimal

        if toks is None:
            toks = py_tokens(text if isinstance(text, str) else "")
        lp_micro = 0
        n_pieces = 0
        for t, c in Counter(toks).items():
            lpm, npcs = _word(t)
            lp_micro += c * lpm
            n_pieces += c * npcs
        total_logprob = lp_micro / 1e6
        ppl = None
        if n_pieces > 0:
            raw = math.exp(-total_logprob / n_pieces)
            ppl = float(
                Decimal(repr(raw)).quantize(
                    Decimal("0.0001"), rounding=ROUND_HALF_UP
                )
            )
        return {
            "n_tokens": len(toks),
            "n_pieces": n_pieces,
            "total_logprob": total_logprob,
            "ppl": ppl,
        }

    return ppl_of

