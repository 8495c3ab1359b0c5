"""fastText-style linear quality classifier (Joulin et al. 2016,
"Bag of Tricks for Efficient Text Classification"; the quality-filter
role follows GPT-3/CCNet: score documents against a trusted corpus and
keep high scorers). No implementation was consulted — the training loop
below is the standard full-batch logistic-regression decomposition
re-derived for DataFrame aggregation.

Model: binary logistic regression over HASHED bag-of-words features
(unigrams + bigrams, the hashing trick) — w ∈ R^dim plus a bias.
Feature value = term count / total terms in the document (fastText's
mean-of-embeddings normalization collapsed to scalar features).

Why full-batch gradient descent, not SGD: fastText's async SGD is
order-dependent by construction; a full-batch gradient is ONE
aggregation per iteration whose result is order-independent up to fp
summation noise, which the kmeans_fit rounding convention (round the
aggregated double far above 1e-15 noise, far below data scale) makes
engine-portable and replay-exact — the same contract every other
iterative trainer in this repo pins (unigram-LM, Lloyd's).

Scale shape per iteration:
- the feature frame (doc_id, idx, x) is built ONCE and cached: one
  explode of unigrams+bigrams, one (doc_id, idx) groupBy;
- margins: broadcast-join the dim-bounded weight table, one
  groupBy(doc_id) sum — never a corpus-sized shuffle of text;
- gradient: one groupBy(idx) sum over (p - y) * x, at most dim rows
  cross to the driver per iteration (dim defaults to 2^15; the corpus
  never does).

Hashing uses md5 (13 hex digits -> 52-bit int, mod dim) — the repo's
engine-portable hash convention; xxhash64 would be faster JVM-side but
has no hashlib replay for the oracle tests.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.textstats import tokens, word_ngrams

__all__ = [
    "QualityModel",
    "hashed_terms",
    "hashed_char_terms",
    "train_quality_classifier",
    "score_quality",
    "make_batch_scorer",
    "py_hash_idx",
    "CHAR_NS",
]

# char-n-gram sizes for feature="char" (fastText-langid-style): the
# 1-grams carry script/charset — the strongest language signal — and
# the 2/3-grams carry orthography/morphology. A module constant, not a
# parameter: the streaming sink fingerprints gate configs, and a free
# knob here would have to ride every fingerprint and replay.
CHAR_NS = (1, 2, 3)

def _hash_idx(term: Column, dim: int) -> Column:
    """md5(term) -> first 13 hex digits -> bigint -> mod dim, via the
    SHARED sampling.hash_bucket convention (one definition of the
    13-hex-md5 hash across quality_clf/dsir/sampling, so the replay
    formula cannot silently fork). DuckDB:
    ('0x' || substr(md5(t), 1, 13))::BIGINT % dim."""
    from ds_caselaw_ingester_spark.operators.sampling import hash_bucket

    return hash_bucket(term, dim).cast("int")


def py_hash_idx(term: str, dim: int) -> int:
    from ds_caselaw_ingester_spark.operators.sampling import py_hash_bucket

    return py_hash_bucket(term, dim)


@dataclass(frozen=True)
class QualityModel:
    dim: int
    bias: float
    weights: dict[int, float]  # sparse: unobserved features stay 0.0
    # which feature family the model was trained on — scoring must
    # featurize identically or the margins are noise:
    #   "word" — hashed unigrams+bigrams (quality filtering)
    #   "char" — hashed char 1-3-grams of the lowercased token-joined
    #            text (language identification)
    feature: str = "word"
    # char-feature prefix cap: featurize only the first max_chars of the
    # canonical text (None = whole document). Language identity is a
    # property of the first few hundred characters (CCNet classifies on
    # the head), and the char featurizer's cost is ~3·len md5-hashed
    # grams per document — on a 100 TB corpus the FIRST gate must not
    # pay per-byte for a decision the prefix already makes. Part of the
    # model (training and scoring must agree), so it rides the sink's
    # gate fingerprint like the feature family.
    max_chars: "int | None" = None


def hashed_terms(docs: DataFrame, id_col: str, text_col: str, dim: int) -> DataFrame:
    """(id, idx, x) sparse feature triples: hashed unigram+bigram counts
    normalized by the document's total term count. Documents with no
    tokens produce no rows (their margin is the bias alone)."""
    tok = tokens(F.col(text_col))
    terms = F.concat(tok, word_ngrams(tok, 2))
    # two-step select: a sibling expression of a generator is planned
    # POST-Generate, so `size(terms)` inline with the explode would
    # re-run the tokenizer once per exploded TERM row (the bm25
    # Generate-sibling lesson). Materializing the array first keeps the
    # tokenizer per-document; size() on the carried attribute is O(1).
    exploded = docs.select(F.col(id_col), terms.alias("_terms")).select(
        id_col, F.explode("_terms").alias("_term"), F.size("_terms").alias("_nt")
    )
    return (
        exploded.groupBy(id_col, _hash_idx(F.col("_term"), dim).alias("idx"))
        .agg(F.count("*").alias("_cnt"), F.max("_nt").alias("_nt"))
        .select(
            id_col,
            "idx",
            (F.col("_cnt").cast("double") / F.col("_nt")).alias("x"),
        )
    )


def hashed_char_terms(
    docs: DataFrame, id_col: str, text_col: str, dim: int,
    max_chars: "int | None" = None,
) -> DataFrame:
    """(id, idx, x) sparse feature triples for feature="char": hashed
    character n-gram (n ∈ CHAR_NS) counts over the LOWERCASED,
    token-joined text, normalized by the total n-gram count. The
    canonical text is ' '.join(tokens(text)).lower() — reusing the
    pinned tokens/py_tokens parity instead of introducing a second
    trim/normalize convention; spaces stay in the grams because word
    length and boundary patterns are real language signal. Documents
    with no grams produce no rows (margin = bias alone), matching
    hashed_terms.

    Physical shape (round 10, measured 2× over the higher-order-
    function form): positions explode from ONE sequence and each n's
    gram is a plain `substring(_c, _i, n)` — ordinary codegen'd
    expressions the whole-stage compiler fuses with the md5/hash
    projection, where array-lambda grams evaluate INTERPRETED per
    element (~3 µs/gram). The canon text `_c` rides the fused stage as
    a local, never materialized per position row; only (id, idx)
    crosses the groupBy exchange. Gram multiset identical to the
    lambda form by construction (pinned in tests); the per-doc term
    total is the CLOSED FORM Σ max(L-n+1, 0) instead of a carried
    array size."""
    canon = F.lower(F.array_join(tokens(F.col(text_col)), " "))
    if max_chars is not None:
        if max_chars < 1:
            raise ValueError(f"max_chars must be positive, got {max_chars}")
        canon = F.substring(canon, 1, max_chars)
    L = F.col("_L")
    n_terms = None
    for n in CHAR_NS:
        t = F.greatest(L - (n - 1), F.lit(0))
        n_terms = t if n_terms is None else n_terms + t
    base = docs.select(F.col(id_col), canon.alias("_c")).select(
        id_col, "_c", F.length("_c").alias("_L")
    )
    pos = base.where(L > 0).select(
        id_col,
        "_c",
        "_L",
        n_terms.alias("_nt"),
        F.explode(F.sequence(F.lit(1), L)).alias("_i"),
    )
    gram_arr = F.array(
        *[
            F.when(
                F.col("_i") <= L - (n - 1),
                F.substring(F.col("_c"), F.col("_i"), n),
            )
            for n in CHAR_NS
        ]
    )
    exploded = pos.select(
        id_col, "_nt", F.explode(gram_arr).alias("_term")
    ).where(F.col("_term").isNotNull())
    return (
        exploded.groupBy(id_col, _hash_idx(F.col("_term"), dim).alias("idx"))
        .agg(F.count("*").alias("_cnt"), F.max("_nt").alias("_nt"))
        .select(
            id_col,
            "idx",
            (F.col("_cnt").cast("double") / F.col("_nt")).alias("x"),
        )
    )


def _feature_frame(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    dim: int,
    feature: str,
    max_chars: "int | None" = None,
) -> DataFrame:
    if feature == "word":
        return hashed_terms(docs, id_col, text_col, dim)
    if feature == "char":
        return hashed_char_terms(docs, id_col, text_col, dim, max_chars=max_chars)
    raise ValueError(f"unknown feature family {feature!r} (want 'word' or 'char')")


def _margins(
    feats: DataFrame, id_col: str, weights: dict[int, float], bias: float
) -> DataFrame:
    """(id, margin) with margin rounded to 6 digits — the one
    order-dependent double sum in the forward pass."""
    if weights:
        w_df = feats.sparkSession.createDataFrame(
            [(int(i), float(w)) for i, w in sorted(weights.items())],
            "idx int, w double",
        )
        scored = feats.join(F.broadcast(w_df), "idx", "left").select(
            id_col, (F.col("x") * F.coalesce(F.col("w"), F.lit(0.0))).alias("xw")
        )
    else:
        scored = feats.select(id_col, F.lit(0.0).alias("xw"))
    return scored.groupBy(id_col).agg(
        F.round(F.sum("xw") + F.lit(bias), 6).alias("margin")
    )


def train_quality_classifier(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
    dim: int = 1 << 15,
    iters: int = 20,
    lr: float = 2.0,
    feature: str = "word",
    max_chars: "int | None" = None,
) -> QualityModel:
    """Full-batch logistic GD. label_col must be 0/1. Returns the sparse
    model; every aggregated double is rounded (margin 6, gradient 9,
    weight 8 digits) so an independent replay with the same rounding —
    numpy, DuckDB — reproduces the weights bit-for-bit.

    feature="char" trains on hashed char-n-gram features instead of
    word features — the fastText-langid architecture (same trainer,
    different featurizer); label 1 = target language. max_chars caps
    char featurization to the document HEAD (the langid production
    setting — see QualityModel.max_chars for the scale argument). The
    model remembers its feature family and cap, so score_quality
    featurizes to match automatically."""
    labels = docs.select(id_col, F.col(label_col).cast("double").alias("_y"))
    n = labels.count()
    if n == 0:
        raise ValueError("empty training frame")
    feats = _feature_frame(
        docs, id_col, text_col, dim, feature, max_chars=max_chars
    ).persist()
    feats.count()  # materialize once; every iteration re-reads this frame

    weights: dict[int, float] = {}
    bias = 0.0
    for _ in range(iters):
        m = _margins(feats, id_col, weights, bias)
        resid = labels.join(m, id_col, "left").select(
            id_col,
            (
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(-F.coalesce(F.col("margin"), F.lit(bias))))
                - F.col("_y")
            ).alias("_r"),
        )
        g_rows = (
            feats.join(resid, id_col)
            .groupBy("idx")
            .agg(F.round(F.sum(F.col("x") * F.col("_r")) / n, 9).alias("g"))
            .collect()
        )
        g_bias = resid.agg(F.round(F.avg("_r"), 9).alias("g")).collect()[0]["g"]
        for r in g_rows:
            w = weights.get(r["idx"], 0.0) - lr * r["g"]
            weights[r["idx"]] = _round_half_up(w, 8)
        bias = _round_half_up(bias - lr * float(g_bias), 8)
    feats.unpersist()
    return QualityModel(
        dim=dim, bias=bias, weights=dict(weights), feature=feature,
        max_chars=max_chars,
    )


def score_quality(
    docs: DataFrame,
    model: QualityModel,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """(id, quality_p): sigmoid of the broadcast-joined margin. One
    explode + two doc-keyed aggregations; the model table is dim-bounded
    and broadcast. Featurizes per the model's own feature family —
    scoring a langid model char-hashes, a quality model word-hashes."""
    feats = _feature_frame(
        docs, id_col, text_col, model.dim,
        getattr(model, "feature", "word"),
        max_chars=getattr(model, "max_chars", None),
    )
    m = _margins(feats, id_col, model.weights, model.bias)
    return (
        docs.select(id_col)
        .join(m, id_col, "left")
        .select(
            id_col,
            F.round(
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(-F.coalesce(F.col("margin"), F.lit(model.bias)))
                ),
                round_digits,
            ).alias("quality_p"),
        )
    )


def _round_half_up(x: float, n: int) -> float:
    """Spark's ROUND on doubles: HALF_UP over the shortest-repr decimal.
    Python's round() is HALF_EVEN — replays MUST use this instead."""
    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-n), rounding=ROUND_HALF_UP)
    )


def py_features(
    text: str, dim: int, feature: str = "word", max_chars: "int | None" = None
) -> "dict[int, float]":
    """Pure-Python replay of the feature frame for ONE document:
    {idx: x} with x = count / total terms. Shared by the training
    replay and the scoring replay so the two cannot fork."""
    from ds_caselaw_ingester_spark.operators.textstats import (
        py_char_ngrams,
        py_tokens,
    )

    # py_tokens, NOT re \s/str.split(): Python's whitespace classes
    # are Unicode-aware, the JVM's \s is ASCII-only — a U+00A0 in a
    # training doc silently broke the replay-exact guarantee
    toks = py_tokens(text)
    if feature == "word":
        terms = toks + [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
    elif feature == "char":
        canon = " ".join(toks).lower()
        if max_chars is not None:
            canon = canon[:max_chars]
        terms = [g for n in CHAR_NS for g in py_char_ngrams(canon, n)]
    else:
        raise ValueError(f"unknown feature family {feature!r}")
    cnt: dict[int, int] = {}
    for t in terms:
        idx = py_hash_idx(t, dim)
        cnt[idx] = cnt.get(idx, 0) + 1
    return {i: c / len(terms) for i, c in cnt.items()} if terms else {}


def py_score(text: str, model: QualityModel) -> float:
    """Pure-Python replay of score_quality for ONE document: the same
    margin rounding (6) and probability rounding (6) as the engine."""
    fx = py_features(
        text, model.dim, getattr(model, "feature", "word"),
        max_chars=getattr(model, "max_chars", None),
    )
    margin = (
        _round_half_up(
            math.fsum(x * model.weights.get(i, 0.0) for i, x in sorted(fx.items()))
            + model.bias,
            6,
        )
        if fx
        else model.bias
    )
    return _round_half_up(1.0 / (1.0 + math.exp(-margin)), 6)


def make_batch_scorer(model: QualityModel, cache_cap: int = 1 << 20):
    """Batch-scoped py_score: returns `score(text, toks=None) -> float`
    with values BIT-IDENTICAL to py_score (same feature build, same
    count normalization, same idx-sorted math.fsum, same HALF_UP
    rounding schedule) but the md5 term->index hashing MEMOIZED across
    every call — the fused curation gate scan builds one scorer per
    partition, so the (Zipf-repeated) gram universe is hashed once per
    partition instead of once per occurrence. py_score spends most of
    its time in hashlib.md5 per gram (~3·len grams for the char
    featurizer); on natural text the distinct-gram fraction is small,
    so the memo removes the dominant cost without touching a single
    arithmetic step. The optional `toks` lets a caller that already
    tokenized the document (the fused scan tokenizes ONCE and feeds
    all gates) skip the re-tokenization; it MUST equal py_tokens(text).

    cache_cap bounds executor memory on adversarial corpora (every
    gram distinct): the memo is cleared when full — correctness is
    unaffected, only the amortization resets. Equality with py_score
    is pinned by tests/test_langid.py (hypothesis, warm cache)."""
    from ds_caselaw_ingester_spark.operators.textstats import (
        py_char_ngrams,
        py_tokens,
    )

    dim = model.dim
    bias = model.bias
    weights = model.weights
    feature = getattr(model, "feature", "word")
    max_chars = getattr(model, "max_chars", None)
    if feature not in ("word", "char"):
        raise ValueError(f"unknown feature family {feature!r}")
    idx_cache: "dict[str, int]" = {}
    _get_w = weights.get
    _fsum = math.fsum
    # dense weight vector for the vectorized margin (8B x dim; 256 KB at
    # the default 2^15 — skip for absurd dims and use the dict path)
    import numpy as _np

    warr = None
    if dim <= (1 << 22):
        warr = _np.zeros(dim, dtype=_np.float64)
        for i, w in weights.items():
            warr[i] = w

    def _idx(term: str) -> int:
        i = idx_cache.get(term)
        if i is None:
            if len(idx_cache) >= cache_cap:
                idx_cache.clear()
            # py_hash_idx, not an inlined md5 formula: ONE pinned
            # definition of the term->index hash across the repo
            # (review finding) — this runs only on memo misses, so the
            # indirection costs nothing measurable
            i = py_hash_idx(term, dim)
            idx_cache[term] = i
        return i

    def _margin_vec(idxs, cts, total: int) -> float:
        # vectorized margin, still BIT-IDENTICAL to py_score: math.fsum
        # is the correctly-rounded EXACT sum of its inputs — order-
        # independent by definition — so the only requirement is
        # element-wise identical products, and float64 `/` and `*` are
        # the same IEEE ops Python floats use. Same-idx count folding
        # via argsort + add.reduceat is exact (integer-valued sums).
        order = _np.argsort(idxs)
        si = idxs[order]
        starts = _np.concatenate(([0], _np.nonzero(_np.diff(si))[0] + 1))
        uc = _np.add.reduceat(cts[order], starts)
        return _round_half_up(_fsum((uc / total) * warr[si[starts]]) + bias, 6)

    # packed-int gram memos for the char fast path: one dict per n,
    # keyed by the gram's CODE POINTS packed into an int64 (21 bits per
    # code point — the Unicode ceiling is 0x10FFFF < 2^21, so three
    # code points fit in 63 bits and the packing is injective: packed
    # equality == gram equality for ANY text, not just ASCII — langid's
    # real domain is multilingual). The md5 is computed once per
    # distinct packed gram, from the gram reconstructed via chr(),
    # whose UTF-8 encode equals the original slice's — reproducing
    # py_hash_idx exactly.
    pack_cache: "dict[int, dict[int, int]]" = {1: {}, 2: {}, 3: {}}
    char_fast = feature == "char" and warr is not None and CHAR_NS == (1, 2, 3)
    _CP = 0x1FFFFF  # 21-bit code-point mask

    # Round-13 combined-n path (profiled on the sf1 battery corpus:
    # the warm scorer's cost was (a) the per-distinct-gram Python memo
    # loop and (b) three np.unique calls per document — together ~2/3
    # of its time). When every code point is >= 1 the three packing
    # ranges are DISJOINT (a 2-gram packs to >= 2^21 iff its first
    # code point is nonzero, a 3-gram to >= 2^42), so one concatenated
    # array + ONE np.unique counts all three n-sizes, n is recoverable
    # from magnitude for the md5 reconstruction, and the memo becomes
    # a single sorted-array map probed by np.searchsorted (C-speed for
    # the warm case; only true misses fall back to Python/md5, parked
    # in `pending` and merged into the sorted arrays in batches).
    # Documents containing NUL (the one ambiguous code point —
    # unreachable from natural text but reachable adversarially) take
    # the per-n legacy path below, whose per-n memos stay unambiguous.
    # Folding counts by hashed idx uses np.bincount when the dense
    # weight vector is small (integer-valued float additions are exact
    # in ANY order, so the per-idx sums are bit-identical to the
    # argsort+reduceat fold); margins are bit-identical to py_score —
    # measured 1.64x over the r12 scorer at sf1 with zero mismatches
    # across 50k documents (docs/SCALE.md round-13).
    # sorted distinct packed grams, TERMINATED by an int64-max sentinel
    # (greater than any packed gram: 3 code points use 63 bits with the
    # top code point <= 0x10FFFF) so searchsorted positions never need
    # clipping; known_i carries a dummy at the sentinel slot
    _SENT = _np.iinfo(_np.int64).max
    known_k = _np.array([_SENT], dtype=_np.int64)
    known_i = _np.array([0], dtype=_np.int64)
    pending: "dict[int, int]" = {}
    _bincount_ok = warr is not None and dim <= (1 << 16)

    def _merge_at() -> int:
        # adaptive, NOT a fixed constant: grams parked in `pending` are
        # served by the per-gram dict loop (the r12 cost this path
        # exists to remove), so a small-vocabulary corpus must still
        # reach the sorted arrays quickly — while each merge is an
        # O((K+P) log(K+P)) argsort, so the threshold grows with K to
        # keep total merge work O(K log K) amortized (a fixed 4096 cap
        # measured as a NO-OP on the sf1 corpus, whose true vocabulary
        # is 543 packed grams — it never triggered a merge and every
        # lookup stayed in the dict loop, docs/SCALE.md rounds 13-14).
        # The threshold alone is NOT sufficient: a sub-threshold tail
        # would sit in `pending` forever, forcing the miss branch on
        # every later document — the merge-hot rule at the call site
        # (merge when a document's misses were all pending-hits)
        # flushes that tail (round 14, measured in docs/SCALE.md).
        return 256 + (known_k.size >> 4)

    def _merge_pending():
        nonlocal known_k, known_i
        if not pending:
            return
        ks = _np.fromiter(pending.keys(), dtype=_np.int64, count=len(pending))
        vs = _np.fromiter(
            pending.values(), dtype=_np.int64, count=len(pending)
        )
        # the sentinel sorts last, so it stays terminal after the merge
        allk = _np.concatenate([known_k, ks])
        alli = _np.concatenate([known_i, vs])
        order = _np.argsort(allk, kind="stable")
        known_k, known_i = allk[order], alli[order]
        pending.clear()

    def _gram_of(p: int) -> str:
        # n from magnitude — injective because the combined path only
        # ever sees NUL-free documents (first code point >= 1)
        if p <= _CP:
            return chr(p)
        if p <= ((_CP << 21) | _CP):
            return chr(p >> 21) + chr(p & _CP)
        return chr(p >> 42) + chr((p >> 21) & _CP) + chr(p & _CP)

    def _char_margin_combined(cps) -> float:
        nonlocal known_k, known_i
        m = cps.size
        parts = [cps]
        total = m
        if m >= 2:
            parts.append((cps[:-1] << 21) | cps[1:])
            total += m - 1
        if m >= 3:
            parts.append((cps[:-2] << 42) | (cps[1:-1] << 21) | cps[2:])
            total += m - 2
        u, c = _np.unique(_np.concatenate(parts), return_counts=True)
        # u < sentinel always, so pos < known_k.size: no clipping needed
        pos = known_k.searchsorted(u)
        hit = known_k[pos] == u
        idx = known_i[pos]
        if not hit.all():
            pget = pending.get
            miss = _np.flatnonzero(~hit)
            miss_idx = []
            _new = False
            for p in u[miss].tolist():
                i = pget(p)
                if i is None:
                    _new = True
                    # per-INSERT cap check, like the legacy per-n memos:
                    # one adversarial document can carry ~3x its char
                    # count in distinct grams, so a once-per-document
                    # check would let `pending` overshoot the cap by the
                    # whole document (review finding, round 13). At the
                    # cap, HALVE instead of resetting (round-13 watch
                    # item): keep every other sorted entry plus the
                    # terminal sentinel, so a corpus sitting at the cap
                    # retains ~50% amortization instead of thrashing
                    # from zero. No per-entry recency exists in a
                    # sorted array, so the kept half is positional;
                    # `pending` (the most recently seen misses) is kept
                    # unless the halving alone can't get under the cap.
                    # Only amortization is at stake, never correctness
                    # — idx values are pure functions of the gram.
                    if known_k.size + len(pending) >= cache_cap:
                        keep = _np.arange(0, known_k.size - 1, 2)
                        known_k = _np.concatenate(
                            [known_k[keep], known_k[-1:]]
                        )
                        known_i = _np.concatenate(
                            [known_i[keep], known_i[-1:]]
                        )
                        if known_k.size + len(pending) >= cache_cap:
                            pending.clear()
                    # the one pinned hash definition (see _idx)
                    i = py_hash_idx(_gram_of(p), dim)
                    pending[p] = i
                miss_idx.append(i)
            idx[miss] = miss_idx
            # merge when pending crosses the adaptive threshold, OR
            # when a document's misses were ALL served from pending
            # (`not _new`): a sub-threshold pending tail would
            # otherwise sit in the dict forever, forcing the miss
            # branch (flatnonzero + Python loop) on every later
            # document — round-14 re-profile caught exactly that
            # steady state on the sf1 corpus (docs/SCALE.md round-14)
            if len(pending) >= _merge_at() or not _new:
                _merge_pending()
        if _bincount_ok and dim <= (u.size << 3):
            # integer-valued float sums are exact in any order: uc is
            # bit-identical to the reduceat fold in _margin_vec.
            # dim <= 8*u gate (round 14): bincount walks a dim-wide
            # array per DOCUMENT (alloc + flatnonzero over all `dim`
            # slots), which loses to the O(u log u) argsort+reduceat
            # fold when the doc's distinct grams are much narrower
            # than the model — at dim=32k/u~1k the fold-adaptive
            # choice alone measured 1.83x on the sf1 battery corpus
            # (docs/SCALE.md round-14). Both folds produce identical
            # per-idx sums in identical ascending-idx order, and both
            # finish in the same _fsum, so scores are bit-identical
            # whichever side of the gate a document lands on.
            uc = _np.bincount(idx, weights=c.astype(_np.float64), minlength=dim)
            nz = _np.flatnonzero(uc)
            return _round_half_up(
                _fsum(((uc[nz] / total) * warr[nz]).tolist()) + bias, 6
            )
        return _margin_vec(idx, c.astype(_np.float64), total)

    def _char_margin_packed(canon: str) -> float:
        # the per-position gram STRINGS never exist: n-grams are int64
        # windows over the code-point array (utf-32-le bytes reread as
        # uint32), counted by np.unique; only each DISTINCT gram on a
        # memo miss is reconstructed for its md5
        # dtype "<u4", not native uint32: the buffer is explicitly
        # little-endian utf-32, and a native-endian read would byte-swap
        # every code point on a big-endian host (review finding)
        cps = _np.frombuffer(
            canon.encode("utf-32-le"), dtype="<u4"
        ).astype(_np.int64)
        if cps.size and cps.min() >= 1:
            # NUL-free (the overwhelmingly common case): combined-n
            # counting — see _char_margin_combined above
            return _char_margin_combined(cps)
        total = 0
        idx_parts, cnt_parts = [], []
        for n in (1, 2, 3):
            size = cps.size - n + 1
            if size <= 0:
                continue
            total += size
            if n == 1:
                packed = cps
            elif n == 2:
                packed = (cps[:-1] << 21) | cps[1:]
            else:
                packed = (cps[:-2] << 42) | (cps[1:-1] << 21) | cps[2:]
            u, c = _np.unique(packed, return_counts=True)
            memo = pack_cache[n]
            mget = memo.get
            out = _np.empty(u.size, dtype=_np.int64)
            for j, p in enumerate(u.tolist()):
                i = mget(p)
                if i is None:
                    if len(memo) >= cache_cap:
                        memo.clear()
                    if n == 1:
                        g = chr(p)
                    elif n == 2:
                        g = chr(p >> 21) + chr(p & _CP)
                    else:
                        g = chr(p >> 42) + chr((p >> 21) & _CP) + chr(p & _CP)
                    # the one pinned hash definition (see _idx)
                    i = py_hash_idx(g, dim)
                    memo[p] = i
                out[j] = i
            idx_parts.append(out)
            cnt_parts.append(c)
        return _margin_vec(
            _np.concatenate(idx_parts),
            _np.concatenate(cnt_parts).astype(_np.float64),
            total,
        )

    def score(text, toks: "list[str] | None" = None) -> float:
        t = text if isinstance(text, str) else ""
        if toks is None:
            toks = py_tokens(t)
        if feature == "word":
            terms = toks + [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
        else:
            canon = " ".join(toks).lower()
            if max_chars is not None:
                canon = canon[:max_chars]
            if canon and char_fast:
                try:
                    margin = _char_margin_packed(canon)
                except UnicodeEncodeError:
                    # lone surrogates cannot encode to utf-32 (cannot
                    # arrive via Arrow either) — string path handles
                    # them byte-for-byte like py_score
                    margin = None
                if margin is not None:
                    return _round_half_up(1.0 / (1.0 + math.exp(-margin)), 6)
            terms = [g for n in CHAR_NS for g in py_char_ngrams(canon, n)]
        if not terms:
            margin = bias
        else:
            from collections import Counter

            # count TERMS first (one C pass over strings), then hash
            # only the DISTINCT terms through the memo: the per-
            # occurrence _idx call was the scorer's remaining hot spot
            # (~3·len(grams) Python calls per document); folding
            # same-idx terms afterwards reproduces py_features'
            # idx-level counts exactly
            cnt_t = Counter(terms)
            total = len(terms)
            if warr is not None:
                idxs = _np.fromiter(
                    map(_idx, cnt_t.keys()), dtype=_np.int64, count=len(cnt_t)
                )
                cts = _np.fromiter(
                    cnt_t.values(), dtype=_np.float64, count=len(cnt_t)
                )
                margin = _margin_vec(idxs, cts, total)
            else:
                cnt: "dict[int, int]" = {}
                for term, c in cnt_t.items():
                    i = _idx(term)
                    cnt[i] = cnt.get(i, 0) + c
                # same expression, same ascending-idx order as
                # py_score's sorted(fx.items()) — x is the identical
                # c/total double
                margin = _round_half_up(
                    _fsum(
                        (c / total) * _get_w(i, 0.0)
                        for i, c in sorted(cnt.items())
                    )
                    + bias,
                    6,
                )
        return _round_half_up(1.0 / (1.0 + math.exp(-margin)), 6)

    return score


def py_replay_train(
    rows: list[tuple[int, str, int]],
    dim: int = 1 << 15,
    iters: int = 20,
    lr: float = 2.0,
    feature: str = "word",
    max_chars: "int | None" = None,
) -> QualityModel:
    """Pure-Python replay of train_quality_classifier for the
    replay-exact tests: same tokenization, same hash, same rounding
    schedule, sequential sums. rows = (id, text, label)."""
    feats: dict[int, dict[int, float]] = {}
    ys: dict[int, float] = {}
    for did, text, y in rows:
        ys[did] = float(y)
        feats[did] = py_features(text, dim, feature, max_chars=max_chars)
    n = len(rows)
    weights: dict[int, float] = {}
    bias = 0.0
    for _ in range(iters):
        resid: dict[int, float] = {}
        for did, fx in feats.items():
            margin = _round_half_up(
                math.fsum(x * weights.get(i, 0.0) for i, x in sorted(fx.items()))
                + bias,
                6,
            ) if fx else bias
            resid[did] = 1.0 / (1.0 + math.exp(-margin)) - ys[did]
        grad: dict[int, float] = {}
        for did, fx in feats.items():
            for i, x in fx.items():
                grad[i] = grad.get(i, 0.0) + x * resid[did]
        for i, g in grad.items():
            weights[i] = _round_half_up(
                weights.get(i, 0.0) - lr * _round_half_up(g / n, 9), 8
            )
        g_bias = _round_half_up(math.fsum(resid.values()) / n, 9)
        bias = _round_half_up(bias - lr * g_bias, 8)
    return QualityModel(
        dim=dim, bias=bias, weights=weights, feature=feature, max_chars=max_chars
    )
