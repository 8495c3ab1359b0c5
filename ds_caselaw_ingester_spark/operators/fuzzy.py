"""Edit-distance (fuzzy) join — PassJoin segment signatures
(Li/Deng/Feng, ICDE'12).

The naive fuzzy join is a cross product with a levenshtein post-filter:
O(|L| x |R|) dynamic programs, unusable at scale (231 s of a 319 s sf1
suite before this operator existed). The scalable exact composition:

1. collapse both sides to DISTINCT strings (duplicate strings multiply
   pair work quadratically if matched per-row, linearly if expanded
   after matching);
2. split each indexed (right-side) string r into k+1 disjoint segments.
   Pigeonhole: any edit touches at most one segment, so ed(s, r) <= k
   guarantees at least one segment of r appears in s EXACTLY, and
   (shift argument) it appears at a start position within +-k of its
   position in r;
3. the indexed side emits only k+1 signatures per string; the
   ~(2k+1)^2-ish substring fan-out moves to the probe side, which in a
   lookup join is the tiny side (200k distinct 30-char catalog names:
   600k signatures, where a deletion-neighbourhood scheme would explode
   ~93M variants);
4. equi-join the signatures (hash join, never a nested loop) and run
   the EXACT levenshtein only on the candidate pairs.

Blocking only generates a candidate superset — the DP decides, so the
result is exactly the cross product's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _segment_bounds(n, q: int, i: int):
    """(1-based start, length) of segment i of an n-char string split
    into q even segments: the first q - (n % q) segments get floor(n/q)
    chars, the rest one extra (n may be a Column)."""
    b = F.floor(n / q).cast("int")
    rem = n % q
    ln = b + F.when(F.lit(i) >= F.lit(q) - rem, F.lit(1)).otherwise(F.lit(0))
    st = F.lit(i) * b + F.greatest(F.lit(0), F.lit(i) - (F.lit(q) - rem)) + 1
    return st, ln


def passjoin_edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Exact fuzzy join on DISTINCT string values via PassJoin
    partitioning: (left_col, right_col, dist) for every distinct pair
    with levenshtein <= max_dist. Callers expand back to row level by
    joining on the string columns (see queries_relational.q_fuzzy_part_match).
    `left` is the probe side (broadcast — keep it the small one), `right`
    the indexed catalog side (k+1 signatures per row, map-side explode,
    linear in catalog size with NO quadratic-in-length fan-out).

    Catalog strings shorter than k+1 chars cannot be split into k+1
    non-empty segments; they go through a length-banded brute branch
    (such strings match almost everything of similar length anyway, so
    blocking buys nothing there)."""
    k = max_dist
    q = k + 1
    dl = left.select(left_col).distinct()
    dr = right.select(right_col).distinct()
    s, r = F.col(left_col), F.col(right_col)

    # --- indexed side: k+1 segment signatures per string -------------
    long_r = dr.where(F.length(r) >= q)
    seg_structs = []
    for i in range(q):
        st, ln = _segment_bounds(F.length(r), q, i)
        seg_structs.append(
            F.struct(
                r.substr(st, ln).alias("sig"),
                F.lit(i).alias("i"),
            )
        )
    r_sigs = long_r.select(
        right_col,
        F.length(r).alias("_n"),
        F.explode(F.array(*seg_structs)).alias("_seg"),
    ).select(right_col, "_n", F.col("_seg.sig").alias("_sig"), F.col("_seg.i").alias("_i"))

    # --- probe side: candidate substrings per (target length, segment,
    # +-k position window); all fan-out lands here, on the small side --
    m = F.length(s)
    n_vals = F.filter(F.sequence(m - k, m + k), lambda n: n >= F.lit(q))

    def _pos_pred(ln):
        return lambda p: (p >= 1) & (p <= m - ln + 1)

    def _sig_struct(n, ln, i):
        return lambda p: F.struct(
            s.substr(p, ln).alias("sig"),
            n.alias("n"),
            F.lit(i).alias("i"),
        )

    def _probe_sigs(n):
        per_i = []
        for i in range(q):
            st, ln = _segment_bounds(n, q, i)
            positions = F.filter(F.sequence(st - k, st + k), _pos_pred(ln))
            per_i.append(F.transform(positions, _sig_struct(n, ln, i)))
        return F.concat(*per_i)

    # array_distinct BEFORE the explode: per-probe duplicate (sig, n, i)
    # triples (same substring reachable from several window positions)
    # collapse map-side, so no row-level distinct shuffle is needed —
    # cross-probe rows are distinct by the left_col value itself.
    l_sigs = dl.select(
        left_col,
        F.explode(
            F.array_distinct(F.flatten(F.transform(n_vals, _probe_sigs)))
        ).alias("_ps"),
    ).select(
        left_col,
        F.col("_ps.sig").alias("_sig"),
        F.col("_ps.n").alias("_n"),
        F.col("_ps.i").alias("_i"),
    )

    cand = (
        r_sigs.join(F.broadcast(l_sigs), ["_sig", "_n", "_i"])
        .select(left_col, right_col)
        .distinct()
    )

    # --- short catalog strings: length-band equi-join branch ---------
    # Strings with n < k+1 chars cannot be segmented; all of them fit a
    # hash join keyed on exact length (probe explodes its +-k length
    # band), so the plan stays cross-product-free even for this branch.
    short_r = dr.where(F.length(r) < q).select(
        right_col, F.length(r).alias("_band")
    )
    # _band >= 0, not >= 1: the empty string is a legitimate catalog
    # value with length band 0 (it matches any probe of length <= k),
    # and dropping band 0 would silently violate the exactness contract
    banded_l = dl.select(
        left_col, F.explode(F.sequence(m - k, m + k)).alias("_band")
    ).where(F.col("_band") >= 0)
    brute = (
        banded_l.join(F.broadcast(short_r), "_band")
        .select(left_col, right_col)
    )

    dist = F.levenshtein(s, r)
    return (
        cand.unionByName(brute)
        .where(dist <= max_dist)
        .select(left_col, right_col, dist.alias("dist"))
    )
