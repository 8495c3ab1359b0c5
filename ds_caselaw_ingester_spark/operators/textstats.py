"""Text-analysis operators for large-scale training-data pipelines:
normalization, tokenization, language-ID heuristic, quality scoring,
document fingerprinting (k-min sketch).

All pure `pyspark.sql.functions` column expressions — JVM-side, inside
whole-stage codegen, no Python in the hot path. At 100 TB the text column
dominates I/O, so callers should select only (id, text) into these.

Portability: every expression here has an exact DuckDB equivalent (same
IEEE double operation order), so the oracle hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_text(text: Column) -> Column:
    """lower + trim + whitespace collapse — the canonical form used for
    exact dedup (the reference carries a content hash uk:hash in its
    proprietary XML block; file-level analog)."""
    return F.regexp_replace(F.lower(F.trim(text)), "\\s+", " ")


def content_hash(text: Column) -> Column:
    return F.md5(normalize_text(text))


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty text -> empty array.

    Split first, then drop empty strings — NOT trim-then-split: Spark's
    trim() strips SPACES only, so a document starting with a newline or
    tab used to produce a phantom empty first token (found by the
    repetition property test: '\\na' tokenized as ['', 'a'], handing
    every token-derived signal an off-by-one and the n-gram family a
    ' a' gram). The filter form needs no empty-text guard either.
    Oracle parity: list_filter(string_split_regex(text, '\\s+'),
    x -> x <> '') in DuckDB; `py_tokens` below in Python replays —
    NOT str.split()/re \\s, which are Unicode-aware where Java's \\s
    is the ASCII class [ \\t\\n\\x0B\\f\\r] (a U+00A0 NBSP stays part
    of its token here but would split in naive Python). Known engine
    boundary: RE2 (DuckDB) \\s omits \\x0B — a vertical tab splits in
    Spark but not in DuckDB; no corpus this repo ships contains one."""
    return F.filter(F.split(text, "\\s+"), lambda x: x != "")


def py_tokens(text: str) -> "list[str]":
    """Pure-Python replay of `tokens` — split on Java's ASCII \\s class
    and drop empties. Every replay-exact test/model must use THIS, not
    str.split() (Unicode-aware: splits U+00A0/U+2028/... that the JVM
    keeps inside a token)."""
    import re

    return [t for t in re.split(r"[ \t\n\x0b\f\r]+", text) if t]


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def token_count_of(toks: Column, word: str) -> Column:
    """Occurrences of `word` in an ALREADY-TOKENIZED array. Callers
    counting several words over the same text should tokenize once and
    call this per word — re-deriving tokens() per word measured ~35%
    slower at sf1 (whole-stage codegen's subexpression elimination does
    not fully collapse the repeated split)."""
    return F.size(F.filter(toks, lambda t: t == F.lit(word))).cast("bigint")


def alpha_ratio(text: Column) -> Column:
    """Share of alphabetic characters — doubles divided in a fixed
    order; NULL for empty text (an unguarded division throws
    DIVIDE_BY_ZERO under Spark 4's default ANSI mode, aborting e.g. the
    whole corpus health report on one empty document)."""
    n = F.length(text)
    return F.when(n > 0, F.length(F.regexp_replace(text, "[^a-zA-Z]", "")) / n)


def word_ngrams(toks: Column, n: int) -> Column:
    """Array of space-joined word n-grams (order preserved); fewer than
    n tokens -> empty array. The guard lives HERE, not at call sites:
    sequence(1, size-(n-1)) is DESCENDING for short docs and
    slice(toks, 0, n) throws under ANSI mode — one short document
    aborted any unguarded caller's whole job (verified).

    LET-BINDING, the load-bearing part: higher-order functions evaluate
    interpreted with NO subexpression elimination, so `slice(toks, i, n)`
    inside the per-index lambda re-evaluates the whole `toks` expression
    tree PER ELEMENT — when callers pass `tokens(text)` (a regex split)
    rather than an attribute, that's an O(L²) re-tokenization per doc
    (measured 6.0 s vs 1.2 s over sf1, and it made dsir_select 438 s at
    sf10). Wrapping toks in a one-element array and transforming over it
    binds the EVALUATED VALUE to the lambda argument once per row; the
    inner lambdas then reference the bound value, O(1) per element. The
    fix lives here so every call site — present and future — is safe
    regardless of what expression it passes."""

    def _grams(t: Column) -> Column:
        idx = F.when(
            F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(idx, lambda i: F.array_join(F.slice(t, i, n), " "))

    return F.element_at(F.transform(F.array(toks), _grams), 1)


def py_char_ngrams(text: str, n: int) -> "list[str]":
    """Character n-grams of `text` (spaces included — word-boundary
    structure is real language signal); shorter than n → empty list.
    Slices count CODE POINTS, as length/substr do in Spark
    (UTF8String) and DuckDB, so the replay contract holds for
    non-ASCII text."""
    return [text[i : i + n] for i in range(len(text) - n + 1)]
