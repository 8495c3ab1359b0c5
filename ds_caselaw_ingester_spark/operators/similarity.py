"""Similarity search over embedding columns (array<float>).

Two paths, as a production ANN stack would ship:
- **Brute-force cosine top-k** (the exact baseline): candidates × queries
  with the small query set broadcast; per-row dot products via
  zip_with + aggregate (a sequential fold — deterministic summation
  order, which the oracle check relies on); top-k by row_number window.
  At 100 TB the candidate side streams through executors once — no
  shuffle of the big side at all until the final per-query top-k
  (k rows per partition -> tiny).
- **LSH bucketing** (the scale path): deterministic random hyperplanes
  derived from md5(plane, dim) signs; vectors hash to a bucket string;
  queries only compare within their bucket -> candidate set shrinks
  ~2^planes-fold. Recall/latency tradeoff is the number of planes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")


def dot_product(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in array order (deterministic)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_product(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k by cosine. queries: (q_id, qv); candidates: (c_id, cv).

    Ranking happens on the ROUNDED cosine with c_id as tie-break, so the
    selected set is deterministic and engine-portable.
    """
    from pyspark.sql import Window

    # norms hoisted to per-ROW columns: cosine() inline would recompute
    # |qv| and |cv| for every PAIR (3× the flops). Same bit values —
    # norm(qv)*norm(cv) in the same order as the oracle's product.
    qn = queries.withColumn("qv_norm", l2_norm(F.col("qv")))
    cn = candidates.withColumn("cv_norm", l2_norm(F.col("cv")))
    scored = (
        cn.join(F.broadcast(qn))
        .where(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.round(
                dot_product(F.col("qv"), F.col("cv")) / (F.col("qv_norm") * F.col("cv_norm")),
                round_digits,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


_MAX_HYPERPLANE_DIM = 256


def _lit_double_array(vals: "list[float]") -> Column:
    """Large constant array<double> literal in ONE driver call.

    ``F.lit(list)`` builds the array element-by-element over Py4J —
    measured 0.55 s per 1024-element literal, which made PLAN
    CONSTRUCTION (not execution) the dominant cost of the multi-table
    LSH queries (~11 s of a 15 s sf1 run). A SQL ``array(...)`` text
    parses in ~1 ms. Python's repr() emits the shortest string that
    round-trips the IEEE double, and Spark's literal parser is
    correctly rounded, so values are bit-identical to F.lit's.

    Non-finite elements (a NaN embedding poisoning a k-means mean, or
    user-supplied inf centroids) would render as 'nanD'/'infD', which the
    SQL parser REJECTS — those spell as typed literals instead, keeping
    F.lit's well-defined NaN/Infinity semantics."""
    import math

    def _render(v: float) -> str:
        f = float(v)
        if math.isfinite(f):
            return repr(f) + "D"
        if math.isnan(f):
            return "CAST('NaN' AS DOUBLE)"
        return f"CAST('{'-' if f < 0 else ''}Infinity' AS DOUBLE)"

    return F.expr("array(" + ",".join(_render(v) for v in vals) + ")")


def _lit_long_array(vals: "list[int]") -> Column:
    """Constant array<bigint> literal in one driver call (L suffix keeps
    the element type bigint, matching F.lit's Python-int mapping)."""
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in vals) + ")")


def _plane_signs(plane: int, n_dims: int = _MAX_HYPERPLANE_DIM) -> list[float]:
    """Hyperplane `plane`'s signs for dims 1..n_dims: +1.0 when the first
    hex digit of md5(f"{plane}_{dim}") is in HEX_HIGH, else -1.0 — the
    engine-portable substitute for a seeded RNG hyperplane matrix.
    Computed once on the driver: the matrix depends only on (plane, dim),
    never on data, so hashing it per ROW (planes × dims md5 calls each)
    was pure waste; at 100 TB it's md5 × rows × 512. A literal array
    ships to executors inside the plan instead."""
    import hashlib

    return [
        1.0 if hashlib.md5(f"{plane}_{i}".encode()).hexdigest()[0] in HEX_HIGH else -1.0
        for i in range(1, n_dims + 1)
    ]


def lsh_bucket(vec: Column, num_planes: int = 8, plane_offset: int = 0) -> Column:
    """Concatenated sign bits of <vec, plane_p> for p in
    plane_offset..plane_offset+num_planes-1. Each projection is a
    sequential fold over dimensions (same addition order as the DuckDB
    oracle's fold — bit-identical doubles). plane_offset lets multi-table
    LSH draw independent tables from the same deterministic family."""
    # one flat literal (planes × max_dim signs) + one shared fold lambda,
    # instead of num_planes unrolled folds each carrying its own literal
    # array — same IEEE fold order, far smaller plan/codegen (the same
    # compaction ivf_assign uses)
    max_dim = _MAX_HYPERPLANE_DIM
    FLAT = _lit_double_array(
        [s for p in range(plane_offset, plane_offset + num_planes) for s in _plane_signs(p)]
    )

    def _bit(p: Column) -> Column:
        proj = F.aggregate(
            F.sequence(F.lit(1), F.size(vec)),
            F.lit(0.0),
            lambda acc, i: acc
            + F.element_at(vec, i).cast("double") * F.element_at(FLAT, p * max_dim + i),
        )
        return F.when(proj > 0, F.lit("1")).otherwise(F.lit("0"))

    return F.array_join(
        F.transform(F.sequence(F.lit(0), F.lit(num_planes - 1)), _bit), ""
    )


def lsh_neardup_pairs(
    vectors: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    num_planes: "int | str" = "auto",
    num_tables: int = 4,
    round_digits: int = 4,
    log_bucket_stats: bool = False,
    guard_occupancy: "bool | None" = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed — the
    operator form of the registered `embedding_neardup` plan
    (plans/queries_similarity.py pins the oracle config; this is the
    production entry with auto-sized planes).

    (id_a, id_b, cosine) for every pair with cosine >= threshold that
    collides in ANY of `num_tables` hyperplane tables. Plan shape (the
    sf1 audit's tuned version): candidate generation self-joins SLIM
    (bucket, id) keys only, the id pairs are deduped BEFORE scoring so
    a pair colliding in all tables costs one dot product, and vectors +
    hoisted norms re-attach via two keyed equi-joins — wide vectors
    never enter the candidate or dedup shuffles.

    num_planes="auto" (default): ceil(log2(n / 64)) from one count().
    The fixed 8-plane config saturates at 220k vectors (measured abort,
    BENCH_SF1.md); auto picks 12 there and the run completes. Multi-
    table recall: a 0.99-cosine near-dup flips some sign in one table
    with p ~ 0.3; `num_tables` independent tables drop the miss rate to
    ~0.3^L (recall pinned by tests/test_ann_recall.py).

    log_bucket_stats=True: after hashing, log the measured occupancy
    distribution and the EXACT in-bucket candidate bound (one cheap agg
    on the already-persisted (id, bucket) frame — sizing.py
    bucket_occupancy_stats). Auto-sizing picks planes from n before
    hashing; this validates what the hash actually did, since skewed
    embeddings can still pile into few buckets. Check it before
    committing a multi-hour join.

    guard_occupancy: None (default) enables the pre-join skew WARN
    (sizing.occupancy_guard) exactly when sizing is AUTO — a production
    caller trusting "auto" gets the only signal auto-sizing cannot give
    (it bounds EXPECTED occupancy from n; skewed or duplicated
    embeddings still pile into few buckets, and the in-bucket join is
    quadratic in occupancy). Fixed plane counts — the pinned oracle/
    bench configs — skip it unless explicitly requested; pass False to
    silence it on a corpus known to be skewed."""
    import logging

    from ds_caselaw_ingester_spark.operators.sizing import resolve_num_planes

    if guard_occupancy is None:
        guard_occupancy = num_planes == "auto"
    base = vectors.select(F.col(id_col), F.col(vec_col).alias("_v"))
    num_planes = resolve_num_planes(num_planes, base)
    buckets = F.array(
        *[
            F.concat(
                F.lit(f"{t}:"),
                lsh_bucket(F.col("_v"), num_planes, plane_offset=t * num_planes),
            )
            for t in range(num_tables)
        ]
    )
    # localCheckpoint, not persist: both self-join branches read `keys`,
    # so the plane-projection fold (the most expensive map work) must
    # materialize once — but a persist here would pin executor cache
    # with no unpersist point after return (the hazard dedup.py
    # documents). The eager checkpoint stores only the slim (id,
    # bucket) rows — num_tables per vector — and is released by the
    # ContextCleaner when the result goes out of scope.
    keys = base.select(id_col, F.explode(buckets).alias("bucket")).localCheckpoint(
        eager=True
    )
    if log_bucket_stats or guard_occupancy:
        from ds_caselaw_ingester_spark.operators.sizing import (
            bucket_occupancy_stats,
            occupancy_guard,
        )

        stats = bucket_occupancy_stats(keys)
        if log_bucket_stats:
            logging.getLogger(__name__).info(
                "lsh_neardup_pairs bucket stats: %d buckets, max occupancy %d, "
                "mean %.1f, in-bucket candidate bound %d pairs",
                stats["n_buckets"],
                stats["max_occupancy"],
                stats["mean_occupancy"],
                stats["candidate_bound"],
            )
        # skew guard: auto-sized planes bound EXPECTED occupancy; this
        # WARNs when the hash actually piled up (sizing.occupancy_guard)
        occupancy_guard(stats, what="lsh_neardup_pairs")
    a, b = f"{id_col}_a", f"{id_col}_b"
    pair_ids = (
        keys.select(F.col(id_col).alias(a), "bucket")
        .join(keys.select(F.col(id_col).alias(b), "bucket"), "bucket")
        .where(F.col(a) < F.col(b))
        .select(a, b)
        .distinct()
    )
    withv = base.select(id_col, "_v", l2_norm(F.col("_v")).alias("_nrm"))
    scored = (
        pair_ids.join(
            withv.select(
                F.col(id_col).alias(a), F.col("_v").alias("_va"), F.col("_nrm").alias("_na")
            ),
            a,
        )
        .join(
            withv.select(
                F.col(id_col).alias(b), F.col("_v").alias("_vb"), F.col("_nrm").alias("_nb")
            ),
            b,
        )
        .select(
            a,
            b,
            F.round(
                dot_product(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
                round_digits,
            ).alias("cosine"),
        )
    )
    return scored.where(F.col("cosine") >= threshold)


# Row bound below which the whole Lloyd loop runs driver-side from ONE
# bounded collect instead of 1 + max_iter scheduled jobs (init collect +
# one assignment/mean job per round, each with its own plan construction
# — measured 0.3-0.5 s of analysis plus ~0.8 s of scheduling per round
# at sf0.1, optimization round 14). Same doctrine as the connected-
# components driver fast path (cluster.py): the quantizer input is
# k-means-sized — production fits on a SAMPLE — so anything larger
# keeps the distributed loop unchanged. The driver replay is only
# attempted when `round_centroids` is set: rounding the per-cell means
# is the documented engine-portability convention (module docstring of
# quality_clf.py, the DuckDB oracle replay) that makes the mean's
# summation order immaterial; the dot/score path is replicated
# bit-exactly (sequential fold order + Spark's HALF_UP shortest-repr
# rounding). kmeans_fit(driver_threshold=0) selects the loop.
#
# The cap is sized by the COMPUTE crossover, not the broadcast budget:
# originally 6k, when the replay's per-(row, centroid) HALF_UP rounding
# was a Python Decimal loop (the per-dimension SUM fold stays sequential
# either way — numpy accumulates it column-wise in the same order, so
# the doubles are bit-identical). After the bit-exact vectorization
# (_round_like_spark_vec + one-shot matrix build) the measured
# clean-host crossover moved past 100k rows (dim 64, k=16, 3 iters,
# checkpointed input, interleaved min of 3: driver vs loop 1.72/4.74 s
# at 50k rows, 3.53/6.34 at 100k, 6.14/6.51 at 150k). Cap re-sized to
# 50k — the deepest point with a >=2.5x measured advantage, margin
# under the ~150k crossover for host variance, and a bounded
# probe/collect footprint (~26 MB of doubles at the cap; an OVERSIZED
# fit's limit(cap+1) probe stays one sub-second bounded job before the
# loop engages).
KMEANS_DRIVER_ROWS_MAX = 50_000


def _ansi_enabled(df: DataFrame) -> bool:
    """Effective spark.sql.ansi.enabled of the frame's session (Spark 4
    defaults it ON — division by zero throws instead of yielding NULL,
    which flips the driver fast paths' zero-denominator handling)."""
    try:
        return str(df.sparkSession.conf.get("spark.sql.ansi.enabled")).lower() == "true"
    except Exception:
        return True


def _round_like_spark(x: float, digits: int) -> float:
    """Replicate Spark's round() on DoubleType bit-for-bit: Spark rounds
    BigDecimal.valueOf(d) — i.e. the SHORTEST decimal representation of
    the double (Double.toString), which Python's repr() reproduces —
    with HALF_UP, then back to double. Python's built-in round() differs
    twice (exact-binary value, ties-to-even), so it cannot be used for
    the score path the oracle replays. NaN/Inf pass through like Spark's
    guard; `+ 0.0` normalises BigDecimal's unsigned zero."""
    import math as _math
    from decimal import ROUND_HALF_UP, Decimal

    if _math.isnan(x) or _math.isinf(x):
        return x
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP)) + 0.0


def _round_like_spark_vec(a, digits: int):
    """Vectorized _round_like_spark over a numpy array, bit-exact.

    Fast path: HALF_UP via copysign(floor(|x|*10^d + 0.5), x) / 10^d.
    That decision is provably identical to the Decimal path whenever
    z = |x|*10^d is safely away from the nearest half-integer decision
    boundary: the computed z differs from the true decimal value
    (shortest-repr of x, scaled) by < |z|*2^-51, so any entry within a
    conservative max(z, 1)*1e-9 of a boundary — plus anything >= 2^52,
    where floor's integer grid outruns the 0.5 offset — takes the exact
    scalar path instead. The final division is a single correctly-
    rounded IEEE op on exact operands, so it equals Decimal->float
    exactly; `+ 0.0` normalises -0.0 like the scalar. Non-finite values
    pass through. Bit-equality with _round_like_spark is pinned over
    adversarial boundary values in tests/test_pq.py."""
    import numpy as np

    a = np.asarray(a, dtype=np.float64)
    if not 0 <= digits <= 22:
        # float(10**digits) is an exact double ONLY for 0 <= digits <= 22;
        # outside that range the scale factor itself is rounded and the
        # boundary analysis below no longer holds (verified mismatch at
        # digits=23: 5.997973399330609e-16 -> 5.997973400000001e-16 fast
        # vs 5.9979734e-16 exact — ADVICE r14). Route every entry through
        # the exact scalar path; such digit settings are never hot.
        flat = a.reshape(-1).astype(np.float64, copy=True)
        for i in range(flat.size):
            flat[i] = _round_like_spark(float(flat[i]), digits)
        return flat.reshape(a.shape)
    p = float(10**digits)  # exact double for digits <= 22 (guarded above)
    with np.errstate(invalid="ignore"):
        z = np.abs(a) * p
        out = np.copysign(np.floor(z + 0.5), a) / p + 0.0
        finite = np.isfinite(a)
        near = np.abs(z - (np.floor(z) + 0.5)) <= np.maximum(z, 1.0) * 1e-9
        risky = finite & (near | (z >= 2.0**52))
    out = np.where(finite, out, a)
    if risky.any():
        flat, src = out.reshape(-1), a.reshape(-1)
        for i in np.flatnonzero(risky.reshape(-1)):
            flat[i] = _round_like_spark(float(src[i]), digits)
        out = flat.reshape(out.shape)
    return out


def _argmin_entries(neg: "list", isnull: "list", n_c: int) -> int:
    """Exact replay of array_sort's struct ordering for one row's
    (neg_score, centroid_id) entries: null field first, then double
    ascending with NaN greater than everything (and +/-0.0 equal),
    centroid_id ascending tie-break — element 1 of the sorted array."""
    import math as _math

    def key(c):
        v = neg[c]
        if isnull[c]:
            return (0, 0.0, c)
        if _math.isnan(v):
            return (2, 0.0, c)
        return (1, v, c)

    return min(range(n_c), key=key)


def _bounded_arrow(df, cap: int):
    """The driver paths' one bounded fetch: `df` as ONE Arrow table (no
    Row objects) when it has at most `cap` rows, else None — also None
    without running anything when cap <= 0, which selects the caller's
    distributed loop. The probe is limit(cap + 1), so an oversized frame
    costs one short bounded job; execution failures propagate."""
    if cap <= 0:
        return None
    tbl = df.limit(cap + 1).toArrow()
    return tbl if tbl.num_rows <= cap else None


def _arrow_id_values(col):
    """pyarrow id column -> numpy array whose comparison semantics are
    provably Python's: non-null integers, or NUL-FREE strings — numpy's
    fixed-width '<U' storage pads with trailing NULs, so an id like
    "a\\x00" would silently compare equal to "a" after conversion (a
    review-found hazard: merged CC components, flipped init order).
    The raw UTF-8 data buffer is screened for NUL bytes in one C pass
    BEFORE the lossy conversion; over-detection on sliced buffers only
    sends the input to the loop. Returns None for null, float, NUL-bearing
    or other ids — callers then run the distributed loop, whose Spark
    comparisons are exact for every id type."""
    import numpy as np
    import pyarrow.types as pat

    if col.null_count:
        return None
    if pat.is_integer(col.type):
        return col.to_numpy()
    if pat.is_string(col.type) or pat.is_large_string(col.type):
        buf = col.buffers()[2]
        if buf is not None and 0 in np.frombuffer(buf, dtype=np.uint8):
            return None
        return np.array(col.to_pylist(), dtype=str)
    return None


def _arrow_clean_matrix(tbl, id_col: str, vec_col: str):
    """A bounded Arrow fetch -> the (n, dim) float64 vector matrix sorted
    by id ascending, built with zero per-row Python work (numpy stable
    argsort == Spark's orderBy for the screened ids — the ordering
    contract _driver_min_label_np relies on too).

    Returns None for every input the driver replays do not model, which
    then take the distributed loop: no rows; null, float or NUL-bearing
    ids (screened by _arrow_id_values); a vector column that is not a
    list of float32/float64; a null vector, null element or ragged row.
    float32 elements widen to float64 exactly — every float32 is a
    double, and the loop casts each element to double before any
    arithmetic."""
    import numpy as np
    import pyarrow.types as pat

    n = tbl.num_rows
    if n < 1:
        return None
    ids_np = _arrow_id_values(tbl.column(id_col).combine_chunks())
    if ids_np is None:
        return None
    vec = tbl.column(vec_col).combine_chunks()
    if not (pat.is_list(vec.type) or pat.is_large_list(vec.type)):
        return None
    et = vec.type.value_type
    if not (pat.is_float64(et) or pat.is_float32(et)):
        return None
    if vec.null_count or vec.values.null_count:
        return None
    off_width = 8 if pat.is_large_list(vec.type) else 4
    off_dtype = np.int64 if off_width == 8 else np.int32
    offs = np.frombuffer(
        vec.buffers()[1], dtype=off_dtype, count=n + 1, offset=vec.offset * off_width
    )
    lens = np.diff(offs)
    dim = int(lens[0])
    if not np.all(lens == dim):
        return None
    flat = vec.values.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    V = flat[int(offs[0]) : int(offs[0]) + n * dim].reshape(n, dim)
    order = np.argsort(ids_np, kind="stable")
    return np.ascontiguousarray(V[order])


def _kmeans_replay(
    V,
    k: int,
    max_iter: int,
    tol: float,
    round_centroids: int,
    ansi: bool,
) -> "list[dict] | None":
    """Driver-side replay of the kmeans_fit loop over the id-sorted
    matrix of a bounded, clean training set (_arrow_clean_matrix).
    Semantics mirror the Spark loop exactly (pinned in
    tests/test_semdedup.py):
    - init = the k lowest-id rows, Spark's orderBy order;
    - assignment = ivf_assign's rounded-cosine argmax with the SAME
      sequential per-dimension fold order (bit-identical doubles),
      Spark HALF_UP rounding, null-first/NaN-last struct ordering and
      centroid-id tie-break;
    - a zero denominator (zero-norm vector or centroid) under ANSI mode
      — where Spark's division THROWS instead of yielding NULL —
      returns None so the caller delegates to the Spark loop and the
      error surfaces exactly as Spark raises it; under non-ANSI the
      NULL-score (null-first) semantics are replicated here;
    - per-cell per-dimension means rounded with Python round() to
      `round_centroids` — the engine-portability convention that makes
      the mean's summation order immaterial;
    - empty cells keep their centroid; tol uses the rounded means.
    """
    import math

    import numpy as np

    n, dim = V.shape
    if n < k:
        raise ValueError(f"need at least k={k} vectors, got {n}")
    cents: list[dict] = [
        {"centroid_id": i, "cvec": [float(x) for x in V[i]]} for i in range(k)
    ]
    # sequential per-dimension accumulation: each step is one multiply
    # rounding + one add rounding, exactly the zip_with/aggregate fold
    acc = np.zeros(n)
    for d in range(dim):
        col = V[:, d]
        acc = acc + col * col
    vnorm = np.sqrt(acc)

    for _ in range(max_iter):
        C = np.array([c["cvec"] for c in cents])
        cnorms = np.array(
            [math.sqrt(sum(float(x) * float(x) for x in c["cvec"])) for c in cents]
        )
        dots = np.zeros((n, k))
        for d in range(dim):
            dots = dots + V[:, d : d + 1] * C[:, d]
        denom = vnorm[:, None] * cnorms[None, :]
        isnull = denom == 0.0  # non-ANSI Spark: x / 0.0 -> NULL
        if ansi and bool(isnull.any()):
            return None  # ANSI division-by-zero: let the Spark loop raise
        with np.errstate(divide="ignore", invalid="ignore"):
            raw = dots / denom
        # vectorized bit-exact HALF_UP (see _round_like_spark_vec);
        # null-score entries (non-ANSI x/0 -> NULL) are masked to 0.0
        # exactly as the scalar comprehension did — isnull carries the
        # null-first ordering into the argmin below either way
        neg = np.where(isnull, 0.0, -_round_like_spark_vec(raw, 4))
        pick = np.full(n, -1, dtype=np.int64)
        # rows whose entries are all finite non-null: vectorized argmin
        # (first occurrence = lowest centroid_id, the struct tie-break);
        # any null/NaN/Inf entry falls back to the exact comparator
        plain = ~(isnull | np.isnan(neg) | np.isinf(neg)).any(axis=1)
        if plain.any():
            pick[plain] = np.argmin(neg[plain], axis=1)
        for i in np.where(~plain)[0]:
            pick[i] = _argmin_entries(neg[i], isnull[i], k)

        new: dict[int, list[float]] = {}
        for c in range(k):
            mask = pick == c
            if not mask.any():
                continue
            m = V[mask].mean(axis=0)
            new[c] = [
                round(float(m[d]), round_centroids) for d in range(dim)
            ]
        shift = 0.0
        nxt: list[dict] = []
        for c in cents:
            old = c["cvec"]
            cur = new.get(c["centroid_id"], old)  # empty cluster: keep
            shift = max(shift, math.sqrt(sum((a - b) ** 2 for a, b in zip(old, cur))))
            nxt.append({"centroid_id": c["centroid_id"], "cvec": cur})
        cents = nxt
        if shift < tol:
            break
    return cents


def kmeans_fit(
    vectors: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 16,
    max_iter: int = 10,
    tol: float = 1e-3,
    round_centroids: "int | None" = None,
    driver_threshold: "int | None" = None,
) -> list[dict]:
    """Train the IVF coarse quantizer with Lloyd's k-means, Spark-side.

    An IVF index is only as good as its quantizer: arbitrary data rows
    as "centroids" measured 0.275 mean recall@10 on the test embeddings;
    10 Lloyd iterations took the SAME index layout to 0.787
    (tests/test_ann_recall.py) — cells align with the data's actual
    density instead of slicing it arbitrarily.

    Scale shape per iteration (this is the standard massively-parallel
    k-means decomposition):
    - assignment is ivf_assign's map-side argmax — no join, no shuffle
      of the vector table;
    - the update is ONE groupBy(centroid_id) with `dim` avg() columns —
      partial aggregation map-side, k rows shuffle;
    - k × dim doubles cross to the driver per iteration (the quantizer
      is k-means-sized, never data-sized).
    Initialisation is the k lowest-id vectors — deterministic, so runs
    are reproducible (k-means++ would need a sequential scan per seed).
    Empty clusters keep their previous centroid. Returns a list of
    {"centroid_id", "cvec"} dicts, the same shape ivf_assign/ivf_topk
    accept.

    round_centroids: round each updated centroid coordinate to N decimal
    digits after the per-cluster mean. The mean is the one step whose
    double result depends on summation ORDER, so bit-exactness across
    engines (Spark's partial aggregation vs an oracle's sequential avg)
    is not guaranteed; rounding far above the ~1e-15 relative fp noise
    but far below data scale (6 digits here) makes the trained quantizer
    engine-portable — required when a DuckDB oracle replays the training
    loop (ann_ivf_trained_topk). None = raw means (fastest, same recall).
    """
    import math

    # the training set is scanned once per Lloyd round (+ once for init):
    # cache it for the duration of the fit instead of re-decoding parquet
    # max_iter+1 times. (At 100 TB the quantizer would be fit on a sample,
    # which this caches just as well.)
    vectors = vectors.select(id_col, vec_col).persist()
    if driver_threshold is None:
        driver_threshold = KMEANS_DRIVER_ROWS_MAX
    if round_centroids is not None:
        # ONE bounded Arrow fetch (no Row materialization — measured 3x
        # faster than collect() at the 50k cap, and the matrix build is a
        # ~20 ms buffer reshape). If the whole training set fits and is
        # clean, that one job replaces init + max_iter assignment/mean
        # jobs (see KMEANS_DRIVER_ROWS_MAX); an oversized or declined
        # sample (see _arrow_clean_matrix) runs the loop below, whose
        # Spark semantics are the reference.
        tbl = _bounded_arrow(vectors, driver_threshold)
        V = None if tbl is None else _arrow_clean_matrix(tbl, id_col, vec_col)
        if V is not None:
            res = _kmeans_replay(
                V, k, max_iter, tol, round_centroids, ansi=_ansi_enabled(vectors)
            )
            if res is not None:
                vectors.unpersist()
                return res
    init = vectors.orderBy(id_col).limit(k).collect()
    if len(init) < k:
        raise ValueError(f"need at least k={k} vectors, got {len(init)}")
    dim = len(init[0][vec_col])
    cents: list[dict] = [
        {"centroid_id": i, "cvec": [float(x) for x in r[vec_col]]}
        for i, r in enumerate(init)
    ]
    for _ in range(max_iter):
        assigned = ivf_assign(
            vectors.select(id_col, vec_col), vec_col, id_col, cents, nprobe=1
        )
        # per-dimension means via posexplode + narrow (centroid_id, pos)
        # aggregation: one slim shuffle of k*dim partially-aggregated
        # groups. Measured 2.4 s -> 1.1 s per round vs a 64-column
        # avg(element_at) agg (wide plans cost more to analyse AND run).
        rows = (
            assigned.select(
                "centroid_id", F.posexplode(F.col(vec_col)).alias("pos", "val")
            )
            .groupBy("centroid_id", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        new: dict[int, list[float]] = {}
        for r in rows:
            if r["centroid_id"] is None:
                # unassigned rows (null vector/element -> null vnorm)
                # aggregate into a null-centroid group that no real
                # centroid ever consults — and whose avg can itself be
                # NULL (all-null values at a position), which crashed
                # the float() below. Skip it outright.
                continue
            vec = new.setdefault(r["centroid_id"], [0.0] * dim)
            vec[r["pos"]] = (
                round(float(r["m"]), round_centroids)
                if round_centroids is not None
                else float(r["m"])
            )
        shift = 0.0
        nxt: list[dict] = []
        for c in cents:
            old = c["cvec"]
            cur = new.get(c["centroid_id"], old)  # empty cluster: keep
            shift = max(shift, math.sqrt(sum((a - b) ** 2 for a, b in zip(old, cur))))
            nxt.append({"centroid_id": c["centroid_id"], "cvec": cur})
        cents = nxt
        if shift < tol:
            break
    vectors.unpersist()
    return cents


# Literal-path ceiling for ivf_assign's auto dispatch: at k=220 the
# plan-literal fold assigns 180k vectors in ~91 s; at k=1000 it did not
# finish in 25 minutes (the per-row array_sort of k structs plus the
# interpreted per-centroid fold — BENCH_SF1.md r8). 256 keeps every
# oracle-pinned config comfortably on the replayable path.
IVF_LITERAL_MAX_K = 256


def _ivf_assign_matmul(
    df: DataFrame,
    vec_col: str,
    cents: "list",
    nprobe: int,
    round_digits: int,
    keep_score: bool,
) -> DataFrame:
    """Arrow-batched assignment: one float64 BLAS matmul per batch
    against a broadcast centroid matrix (k x dim doubles per executor),
    stable argsort for the (score DESC, centroid_id ASC) tie-break.
    See ivf_assign's docstring for when this path dispatches and the
    determinism trade."""
    import numpy as np
    from pyspark.sql import types as T

    # sort by centroid_id FIRST: the tie-break below relies on column
    # order being id-ascending (stable argsort keeps LIST order on
    # equal rounded scores — an unsorted caller list would make the
    # matmul and literal paths assign ties differently). The literal
    # path is order-independent (its struct sort compares id VALUES).
    cents = sorted(cents, key=lambda c: int(c["centroid_id"]))
    cmat = np.array([c["cvec"] for c in cents], dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    cids = np.array([int(c["centroid_id"]) for c in cents], dtype=np.int64)
    bc = df.sparkSession.sparkContext.broadcast((cmat, cnorm, cids))

    # fresh field list via + : StructType.add() mutates the list it was
    # constructed around, which df.schema SHARES — the input frame would
    # grow a phantom centroid_id column and mapInPandas' input-column
    # expansion then fails resolution. Pre-existing centroid_id /
    # centroid_cos columns are REPLACED (the literal path's withColumn
    # semantics — e.g. re-quantizing a stored index frame), so they are
    # dropped from the base before the fresh fields are appended.
    out_names = ["centroid_id"] + (["centroid_cos"] if keep_score else [])
    base_fields = [f for f in df.schema.fields if f.name not in out_names]
    extra = [T.StructField("centroid_id", T.LongType())]
    if keep_score:
        extra.append(T.StructField("centroid_cos", T.DoubleType()))
    schema = T.StructType(base_fields + extra)
    col_order = [f.name for f in schema.fields]

    def _assign(batches):
        import pandas as pd

        m, n, ids = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # NULL embeddings (upstream encoder failure) flow through as
            # one row with null centroid_id/centroid_cos instead of
            # crashing np.stack — the same no-abort guarantee as the
            # literal path, which matters MOST here (matmul is the
            # auto-selected large-corpus path)
            isnull = pdf[vec_col].isna()
            if isnull.any():
                nulls = pdf[isnull].copy()
                nulls["centroid_id"] = pd.array([pd.NA] * len(nulls), dtype="Int64")
                if keep_score:
                    nulls["centroid_cos"] = pd.array(
                        [pd.NA] * len(nulls), dtype="Float64"
                    )
                yield nulls[col_order]
                pdf = pdf[~isnull]
                if len(pdf) == 0:
                    continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if v.shape[1] != m.shape[1]:
                raise ValueError(
                    f"ivf_assign: vector dim {v.shape[1]} != centroid dim "
                    f"{m.shape[1]} — raw/reduced space mix? Project inputs "
                    "through the same PCA model the quantizer was trained in."
                )
            vn = np.sqrt((v * v).sum(axis=1))
            s = np.round((v @ m.T) / (vn[:, None] * n[None, :]), round_digits)
            if nprobe == 1:
                # single-probe argmax: O(k) per row instead of the
                # O(k·log k) argsort below. NaN → -inf reproduces the
                # argsort's NaN-last ordering exactly: a row with any
                # finite score picks its true max (ties → first column
                # = lowest centroid_id, argmax's first-occurrence rule
                # == stable argsort), and an all-NaN row (zero-norm
                # vector) picks column 0 — the same index argsort's
                # stable NaN block yields.
                order = np.argmax(
                    np.where(np.isnan(s), -np.inf, s), axis=1
                )[:, None]
            else:
                # stable argsort on -s: equal scores keep column order =
                # centroid_id ascending — the literal path's exact tie-break
                order = np.argsort(-s, axis=1, kind="stable")[:, :nprobe]
            rows = np.arange(len(v))
            for p in range(order.shape[1]):
                out = pdf.copy()
                out["centroid_id"] = ids[order[:, p]]
                if keep_score:
                    out["centroid_cos"] = s[rows, order[:, p]]
                yield out[col_order]

    return df.mapInPandas(_assign, schema)


def ivf_assign(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: "DataFrame | list",
    nprobe: int = 1,
    round_digits: int = 4,
    keep_score: bool = False,
) -> DataFrame:
    """Assign each vector to its `nprobe` nearest centroids (by cosine,
    rounded, centroid_id tie-break).

    Two paths, chosen by k: up to IVF_LITERAL_MAX_K centroids the
    centroid matrix is embedded in the plan and folded per row (the
    oracle-replayable path — registered queries pin it via their small
    k); past it the matrix ships once per executor and each Arrow batch
    is scored with one BLAS matmul. The literal fold's
    cost is interpreted per-centroid work PLUS an array_sort of k
    structs per row — measured unusable at k=1000 over 196k vectors
    (did not finish in 25 min where k=220 took 91 s; BENCH_SF1.md r8),
    while the sizing rule k = n/1000 keeps growing with the corpus, so
    large-k callers (auto-sized SemDeDup, big IVF indexes) need the
    matmul path. Same semantics: rounded cosine, centroid_id ascending
    tie-break (stable argsort over the ascending-id column order). Not
    DuckDB-replayable — BLAS sums in hardware order, not the fold's
    ascending-dim order; rounding makes a divergence astronomically
    rare but the oracle-pinned configs stay on the literal path.

    The centroid table is the IVF *coarse quantizer* — small by
    construction (k-means k, not data size) — so it is collected once and
    embedded in the plan as literals. Assignment is then a pure map-side
    argmax over per-centroid dot products: no join, no window, and
    crucially NO SHUFFLE of the vector table. (The first version cross-
    joined against a broadcast centroid frame and ranked with a
    row_number window — that window repartitions the ENTIRE candidate
    set by id, which at 100 TB is the single most expensive operation in
    the job, spent ranking 16 numbers per row.)

    Per-row cost is also ~3× lower: the vector's own norm is computed
    once (not per centroid) and each centroid's norm is a Python-
    precomputed constant with bit-identical IEEE value.

    keep_score: also emit the rounded cosine to the assigned centroid as
    `centroid_cos` (consumers like semantic_dedup rank exemplars by it;
    the value is already inside the argmax struct, so exposing it is
    free — no extra fold).
    """
    import math

    if isinstance(centroids, list):
        cents = centroids
    else:
        cents = sorted(
            centroids.select("centroid_id", "cvec").collect(), key=lambda r: r["centroid_id"]
        )
    n_c = len(cents)
    dim = len(cents[0]["cvec"])
    if n_c > IVF_LITERAL_MAX_K:
        return _ivf_assign_matmul(
            df, vec_col, cents, nprobe, round_digits, keep_score
        )
    # THREE literal nodes total (flattened centroid matrix, norms, ids) and
    # ONE fold lambda shared by all centroids — instead of n_c unrolled
    # copies of a dim-wide expression, which made plan construction and
    # codegen the dominant cost (2048 Py4J literal calls for 16×64×2).
    flat = [float(x) for r in cents for x in r["cvec"]]
    cnorms = [math.sqrt(sum(float(x) * float(x) for x in r["cvec"])) for r in cents]
    cids = [int(r["centroid_id"]) for r in cents]
    FLAT, CNORMS, CIDS = (
        _lit_double_array(flat),
        _lit_double_array(cnorms),
        _lit_long_array(cids),
    )
    vec = F.col(vec_col)
    # hoist the query norm to a COLUMN: _entry evaluates per centroid,
    # and an l2_norm expression inside it would re-run the O(dim) fold
    # n_c times per row (the word_ngrams lambda lesson) — as an
    # attribute it is computed once per row. The dim guard rides the
    # same column (so the optimizer cannot prune it): a vector whose
    # length differs from the quantizer's dim is a raw/reduced SPACE
    # MIX (e.g. raw queries against PCA-space centroids) — element_at
    # past the end would null-pad into silently wrong cosines, so it
    # raises instead.
    # NULL vectors pass through as null scores (the pre-guard behavior —
    # one upstream-failed embedding must not abort a corpus-wide
    # assignment, and F.size(NULL) = -1 would otherwise hit the raise
    # with a misleading "dim -1" space-mix diagnosis); only a genuine
    # length mismatch raises.
    df = df.withColumn(
        "_vnorm",
        F.when(vec.isNull(), F.lit(None).cast("double"))
        .when(F.size(vec) == dim, l2_norm(vec))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("ivf_assign: vector dim "),
                    F.size(vec).cast("string"),
                    F.lit(
                        f" != centroid dim {dim} — raw/reduced space mix?"
                        " Project inputs through the same PCA model the"
                        " quantizer was trained in."
                    ),
                )
            )
        ),
    )
    vnorm = F.col("_vnorm")

    def _entry(c: Column) -> Column:
        # same ascending-dimension fold order (and therefore bit-identical
        # doubles) as dot_product(vec, lit(cvec)) and the oracle
        dot = F.aggregate(
            F.sequence(F.lit(1), F.lit(dim)),
            F.lit(0.0),
            lambda acc, i: acc
            + F.element_at(vec, i).cast("double") * F.element_at(FLAT, c * dim + i),
        )
        score = F.round(dot / (vnorm * F.element_at(CNORMS, c + 1)), round_digits)
        return F.struct(
            (-score).alias("neg_score"), F.element_at(CIDS, c + 1).alias("centroid_id")
        )

    # lexicographic struct sort == (score DESC, centroid_id ASC)
    entries = F.transform(F.sequence(F.lit(0), F.lit(n_c - 1)), _entry)
    if nprobe == 1:
        # argmax via array_min: O(k) scan instead of the O(k·log k)
        # array_sort + slice copy — on the corpus-assignment path every
        # vector pays this per row. array_min's struct ordering is the
        # sort's comparator exactly (null field first, NaN last, ±0.0
        # equal, centroid_id tie-break) — pinned empirically in
        # tests/test_pq.py::test_array_min_matches_sort_head against
        # adversarial entry arrays (optimization round 14).
        top = F.array(F.array_min(entries))
    else:
        top = F.slice(F.array_sort(entries), 1, nprobe)
    # null vector → exactly ONE row with null centroid_id (not nprobe
    # copies deterministically parked in the lowest-id cell, which
    # downstream equi-joins on centroid_id would treat as cell members
    # — review finding, round 11). Null ids drop out of probe joins
    # and semdedup pair generation naturally.
    null_pick = F.struct(
        F.lit(None).cast("double").alias("neg_score"),
        F.lit(None).cast("bigint").alias("centroid_id"),
    )
    picks = F.when(vnorm.isNull(), F.array(null_pick)).otherwise(top)
    picked = df.withColumn("_pick", F.explode(picks))
    out = picked.withColumn("centroid_id", F.col("_pick")["centroid_id"])
    if keep_score:
        out = out.withColumn("centroid_cos", -F.col("_pick")["neg_score"])
    return out.drop("_pick", "_vnorm")


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: "DataFrame | list",
    k: int = 10,
    nprobe: int = 2,
    round_digits: int = 4,
    pca_model: "dict | None" = None,
) -> DataFrame:
    """IVF-style ANN: candidates are partitioned into centroid cells
    (inverted file); each query probes only its `nprobe` nearest cells.

    The scale path: the candidate side is scanned once to build cell
    assignments (map-side vs broadcast centroids), and the probe is an
    equi-join on centroid_id — candidate work per query drops from n to
    ~n·nprobe/num_centroids. The cell id is also the natural partitioning/
    clustering key for a stored index at 100 TB.

    pca_model: optional pca_fit output — BOTH sides are projected
    map-side before assignment and scoring, so the probe join shuffles
    k-dim candidate vectors instead of dim-dim (the pca.py cut).
    `centroids` must then be trained in the SAME projected space (fit
    kmeans on pca_project output); scores are reduced-space cosines
    with the module's measured recall trade.
    """
    from pyspark.sql import Window

    if pca_model is not None:
        from ds_caselaw_ingester_spark.operators.pca import pca_project

        queries = pca_project(queries, "qv", pca_model, out_col="_p").select(
            *[c for c in queries.columns if c != "qv"], F.col("_p").alias("qv")
        )
        candidates = pca_project(
            candidates, "cv", pca_model, out_col="_p"
        ).select(
            *[c for c in candidates.columns if c != "cv"], F.col("_p").alias("cv")
        )

    # collect the (small) quantizer ONCE; both assign calls embed the same
    # literals — one driver job instead of two. Accepts kmeans_fit's
    # list-of-dicts directly.
    if isinstance(centroids, list):
        cents = sorted(centroids, key=lambda r: r["centroid_id"])
    else:
        cents = sorted(
            centroids.select("centroid_id", "cvec").collect(),
            key=lambda r: r["centroid_id"],
        )
    cand = ivf_assign(
        candidates, "cv", "c_id", cents, nprobe=1, round_digits=round_digits
    ).withColumn("cv_norm", l2_norm(F.col("cv")))
    qs = ivf_assign(
        queries, "qv", "q_id", cents, nprobe=nprobe, round_digits=round_digits
    ).withColumn("qv_norm", l2_norm(F.col("qv")))
    scored = (
        cand.join(F.broadcast(qs), "centroid_id")
        .where(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.round(
                dot_product(F.col("qv"), F.col("cv")) / (F.col("qv_norm") * F.col("cv_norm")),
                round_digits,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
