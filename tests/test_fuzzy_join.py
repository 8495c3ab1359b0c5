"""passjoin_edit_distance_join (PassJoin segment-signature blocking) must
be VALUE-IDENTICAL to the brute-force cross join + levenshtein filter —
the blocking is a completeness-preserving candidate generator, and the
pigeonhole property (ed(s,r) <= k => some segment of r appears in s
within +-k of its position) is load-bearing, so it gets an adversarial
randomized check: 100 base strings, mutated by 0-3 random edits
(insert/delete/substitute, which also composes transpositions), over a
tiny alphabet to force collisions."""

from __future__ import annotations

import random
import string

from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.fuzzy import (
    passjoin_edit_distance_join,
)

ALPHABET = "ab "  # tiny alphabet: maximal collision pressure


def _mutate(rng: random.Random, s: str, n_edits: int) -> str:
    for _ in range(n_edits):
        op = rng.choice(("ins", "del", "sub"))
        if op == "del" and s:
            i = rng.randrange(len(s))
            s = s[:i] + s[i + 1 :]
        elif op == "ins":
            i = rng.randrange(len(s) + 1)
            s = s[:i] + rng.choice(ALPHABET) + s[i:]
        elif s:
            i = rng.randrange(len(s))
            s = s[:i] + rng.choice(ALPHABET) + s[i + 1 :]
    return s


def test_passjoin_equals_brute_force(spark):
    """PassJoin's pigeonhole blocking (k+1 segments, +-k position
    windows, length-banded short-string branch) against the brute-force
    join, with 1-2 char strings included to exercise the
    unsegmentable-catalog-string branch."""
    rng = random.Random(20260814)
    bases = [
        "".join(rng.choice(ALPHABET) for _ in range(rng.randint(1, 12)))
        for _ in range(100)
    ]
    rights = [(s,) for s in bases]
    lefts = [(_mutate(rng, rng.choice(bases), rng.randint(0, 3)),) for _ in range(100)]
    L = spark.createDataFrame(lefts, "l string").where(F.length("l") > 0)
    R = spark.createDataFrame(rights, "r string").where(F.length("r") > 0)

    blocked = {
        (x.l, x.r, x.dist)
        for x in passjoin_edit_distance_join(L, R, "l", "r", max_dist=2).collect()
    }
    dist = F.levenshtein(F.col("l"), F.col("r"))
    brute = {
        (x.l, x.r, x.dist)
        for x in (
            L.distinct()
            .crossJoin(R.distinct())
            .where(dist <= 2)
            .select("l", "r", dist.alias("dist"))
            .collect()
        )
    }
    assert blocked == brute
    assert brute  # sanity: mutations produced matches
    assert any(len(r) < 3 for (r,) in rights if r)  # short branch exercised


def test_passjoin_k1(spark):
    L = spark.createDataFrame([("abc",), ("zzz",)], "l string")
    R = spark.createDataFrame([("abcd",), ("abc",), ("bbc",), ("abab",)], "r string")
    got = {
        (x.l, x.r, x.dist)
        for x in passjoin_edit_distance_join(L, R, "l", "r", max_dist=1).collect()
    }
    assert got == {("abc", "abcd", 1), ("abc", "abc", 0), ("abc", "bbc", 1)}


def test_passjoin_empty_strings(spark):
    """The empty string is a legitimate value on either side: it matches
    anything within k deletions. A length-band filter that drops band 0
    silently loses these pairs (regression: the short-string branch
    filtered _band >= 1)."""
    L = spark.createDataFrame([("",), ("ab",), ("abcd",)], "l string")
    R = spark.createDataFrame([("",), ("a",), ("abc",)], "r string")
    got = {
        (x.l, x.r, x.dist)
        for x in passjoin_edit_distance_join(L, R, "l", "r", max_dist=2).collect()
    }
    dist = F.levenshtein(F.col("l"), F.col("r"))
    brute = {
        (x.l, x.r, x.dist)
        for x in L.distinct().crossJoin(R.distinct()).where(dist <= 2)
        .select("l", "r", dist.alias("dist")).collect()
    }
    assert got == brute
    assert ("", "", 0) in got and ("", "a", 1) in got and ("ab", "", 2) in got


def test_passjoin_unicode_codepoints(spark):
    """length()/substr()/levenshtein are all codepoint-based in Spark, so
    the pigeonhole segmentation must hold for multibyte text too (a
    byte-based slicer would split inside a UTF-8 sequence and lose
    matches)."""
    rng = random.Random(20260815)
    AL = "é中aß"
    bases = ["".join(rng.choice(AL) for _ in range(rng.randint(1, 10))) for _ in range(60)]
    lefts = [(_mutate(rng, rng.choice(bases), rng.randint(0, 2)),) for _ in range(60)]
    L = spark.createDataFrame(lefts, "l string").where(F.length("l") > 0)
    R = spark.createDataFrame([(b,) for b in bases], "r string").where(F.length("r") > 0)
    blocked = {
        (x.l, x.r, x.dist)
        for x in passjoin_edit_distance_join(L, R, "l", "r", max_dist=2).collect()
    }
    dist = F.levenshtein(F.col("l"), F.col("r"))
    brute = {
        (x.l, x.r, x.dist)
        for x in L.distinct().crossJoin(R.distinct()).where(dist <= 2)
        .select("l", "r", dist.alias("dist")).collect()
    }
    assert blocked == brute
    assert brute
