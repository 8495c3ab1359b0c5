"""Product quantization (PQ) — the compressed storage tier for vector
search (Jégou et al. 2011, "Product quantization for nearest neighbor
search").

Scalar int8 quantization would store 1 byte/dim. PQ goes further:
split each vector into `m` subspaces, k-means each subspace into `k`
codewords, and store ONE code per subspace — m bytes per vector
regardless of dimension (64-dim float64 = 512 B -> 8 B at m=8, 64×).
At 100 TB of embeddings that is the difference between an index that
fits in cluster memory and one that doesn't.

Scoring is ADC (asymmetric distance computation): the float query
builds a per-subspace lookup table of dot products against every
codeword (m·k entries, computed ONCE per query), and each candidate's
score is m table lookups + one stored norm — no per-candidate
dot-product over `dim` floats. Cost per candidate drops from O(dim)
multiplies to O(m) lookups; the approximation error is the quantizer's,
not the scorer's.

Engine-portability follows the repo's IVF conventions: subspace
training reuses kmeans_fit (deterministic lowest-id init, rounded
centroid means), encoding is the rounded-cosine argmax with code-id
tie-break, ADC cosines are rounded — so a pure-Python replay of the
fit/encode/score pipeline is bit-exact (tests/test_pq.py pins it).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.similarity import (
    _lit_double_array,
    l2_norm,
)


# Row bound for pq_fit's driver-side Lloyd replay — the kmeans cap's
# sibling (KMEANS_DRIVER_ROWS_MAX in similarity.py). Originally 1k:
# the replay's per-row cost was ~1.2 ms of Python Decimal rounding.
# After the replay's bit-exact vectorization (_round_like_spark_vec +
# one-shot matrix build) the measured clean-host crossover moved past
# 100k rows (driver vs loop, dim 64, m=8, k=16, 2 iters, checkpointed
# input, interleaved min of 3: 0.80/3.51 s at 20k rows, 1.82/3.88 at
# 50k, 4.34/6.14 at 100k). Cap re-sized to 50k — the deepest measured
# point with a >=2x advantage, with margin under the extrapolated
# ~140k crossover for host variance, and a bounded probe/collect
# footprint (~26 MB of doubles, well under driver budgets; the
# limit(cap+1) probe an OVERSIZED fit pays before taking the loop
# stays a sub-second bounded job). pq_fit(driver_threshold=0) selects
# the loop.
PQ_DRIVER_ROWS_MAX = 50_000


def _pq_replay(
    V,
    m: int,
    k: int,
    max_iter: int,
    round_centroids: int,
    round_digits: int,
    ansi: bool,
) -> "list | None":
    """Driver-side replay of the pq_fit Lloyd loop over the id-sorted
    matrix of a bounded, clean, already-projected sample
    (similarity._arrow_clean_matrix) — the kmeans_fit replay's sibling
    (gated by PQ_DRIVER_ROWS_MAX above). Init = the first k rows'
    subspace slices; the k and dim guards raise exactly like the loop's.
    Returns the trained books, or None when a zero denominator
    (zero-norm codeword) appears under ANSI mode, where Spark's division
    throws instead of yielding NULL — the caller then runs the loop so
    the error surfaces exactly as Spark raises it.
    Per-subspace semantics are exactly the loop's: sequential
    per-dimension fold order for every dot and norm (bit-identical
    doubles), greatest(norm, 1e-300), Spark HALF_UP score rounding,
    null-first/NaN-last struct ordering with code tie-break, per-cell
    means rounded with Python round(), empty cells keep their codeword.
    Pinned against the loop in tests/test_pq.py."""
    import math

    import numpy as np

    from ds_caselaw_ingester_spark.operators.similarity import (
        _argmin_entries,
        _round_like_spark_vec,
    )

    n, dim = V.shape
    if n < k:
        raise ValueError(f"pq_fit: need at least k={k} vectors, got {n}")
    if dim % m:
        raise ValueError(f"pq_fit: dim {dim} not divisible by m={m}")
    subdim = dim // m
    books: list[list[list[float]]] = [
        [
            [float(x) for x in V[c, s * subdim : (s + 1) * subdim]]
            for c in range(k)
        ]
        for s in range(m)
    ]
    # per-subspace norms, sequential fold order; greatest(norm, 1e-300)
    nrm = np.zeros((n, m))
    for s in range(m):
        acc = np.zeros(n)
        for d in range(subdim):
            col = V[:, s * subdim + d]
            acc = acc + col * col
        nrm[:, s] = np.sqrt(acc)
    nrm = np.where(np.isnan(nrm), nrm, np.maximum(nrm, 1e-300))

    for _ in range(max_iter):
        cnorms = np.array(
            [
                [math.sqrt(sum(float(x) * float(x) for x in cw)) for cw in book]
                for book in books
            ]
        )  # m x k
        assign = np.zeros((n, m), dtype=np.int64)
        for s in range(m):
            B = np.array(books[s])  # k x subdim
            dots = np.zeros((n, k))
            for d in range(subdim):
                dots = dots + V[:, s * subdim + d : s * subdim + d + 1] * B[:, d]
            denom = nrm[:, s : s + 1] * cnorms[s][None, :]
            isnull = denom == 0.0  # non-ANSI Spark: x / 0.0 -> NULL
            if ansi and bool(isnull.any()):
                return None  # ANSI division-by-zero: let the loop raise
            with np.errstate(divide="ignore", invalid="ignore"):
                raw = dots / denom
            # vectorized bit-exact HALF_UP (similarity._round_like_spark_vec);
            # null-score entries masked to 0.0 exactly as the scalar
            # comprehension did — isnull still drives the null-first
            # ordering in the argmin fallback
            neg = np.where(isnull, 0.0, -_round_like_spark_vec(raw, round_digits))
            plain = ~(isnull | np.isnan(neg) | np.isinf(neg)).any(axis=1)
            col = np.full(n, -1, dtype=np.int64)
            if plain.any():
                col[plain] = np.argmin(neg[plain], axis=1)
            for i in np.where(~plain)[0]:
                col[i] = _argmin_entries(neg[i], isnull[i], k)
            assign[:, s] = col
        new: dict = {}
        for s in range(m):
            sub = V[:, s * subdim : (s + 1) * subdim]
            for c in range(k):
                mask = assign[:, s] == c
                if not mask.any():
                    continue
                mean = sub[mask].mean(axis=0)
                new[(s, c)] = [
                    round(float(mean[d]), round_centroids) for d in range(subdim)
                ]
        books = [
            [new.get((s, c), books[s][c]) for c in range(k)] for s in range(m)
        ]
    return books


def pq_fit(
    vectors: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 8,
    k: int = 16,
    max_iter: int = 3,
    round_centroids: "int | None" = 6,
    round_digits: int = 4,
    pca_model: "dict | None" = None,
    driver_threshold: "int | None" = None,
) -> dict:
    """Train one codebook per subspace. Returns
    {"m", "k", "subdim", "books": books} where books[s][c] is the
    c-th codeword (list of floats) of subspace s.

    pca_model: optional pca_fit output. When set, training runs over
    the PCA-projected vectors and the model RIDES IN THE CODEBOOK
    ("pca" key): pq_encode and the ADC query path then project their
    inputs map-side automatically, so the whole PQ stack operates in
    the reduced space with no caller-side bookkeeping — each subspace
    quantizes a slice of a variance-ordered basis (the OPQ-lite
    composition tests/test_pca.py measures). The exact-rerank tail
    deliberately stays in the ORIGINAL space (it re-joins raw float
    vectors — rerank exists to undo quantization error, so it should
    not inherit the projection's).

    The m subproblems are independent, so they train JOINTLY: the sample
    explodes once into (id, subspace, subvector) rows and every Lloyd
    round is ONE assignment scan + ONE (subspace, centroid, pos) mean
    aggregation covering all m codebooks — 1 + max_iter Spark jobs
    total, instead of m separate kmeans_fit loops (measured 17.1 s ->
    5.7 s at m=16 on the 500-vector sample, codebooks bit-identical to
    the sequential variant).
    Per-subspace semantics are exactly kmeans_fit's: k lowest-id sample
    rows as init, rounded-cosine argmax (`round_digits`, matching
    pq_encode/pq_topk) with centroid-id tie-break,
    per-dimension means rounded to `round_centroids`, empty cells keep
    their codeword. Like the IVF quantizer, production fits on a corpus
    sample and encodes everything."""
    vectors = _maybe_project({"pca": pca_model}, vectors, vec_col)
    if driver_threshold is None:
        driver_threshold = PQ_DRIVER_ROWS_MAX
    if round_centroids is not None:
        # kmeans_fit's driver gate with pq's own cap (PQ_DRIVER_ROWS_MAX):
        # if the whole projected sample fits and is clean, ONE bounded
        # Arrow fetch replaces init + explode/persist + max_iter
        # assignment/mean jobs; an oversized or declined sample (null or
        # ragged vectors, ids _arrow_id_values declines) runs the loop
        # below, whose slice/null semantics are the reference.
        from ds_caselaw_ingester_spark.operators.similarity import (
            _ansi_enabled,
            _arrow_clean_matrix,
            _bounded_arrow,
        )

        tbl = _bounded_arrow(vectors.select(id_col, vec_col), driver_threshold)
        V = None if tbl is None else _arrow_clean_matrix(tbl, id_col, vec_col)
        books_d = None if V is None else _pq_replay(
            V, m, k, max_iter, round_centroids, round_digits,
            ansi=_ansi_enabled(vectors),
        )
        if books_d is not None:
            out = {"m": m, "k": k, "subdim": V.shape[1] // m, "books": books_d}
            if pca_model is not None:
                out["pca"] = pca_model
            return out
    init_rows = vectors.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    if len(init_rows) < k:
        raise ValueError(f"pq_fit: need at least k={k} vectors, got {len(init_rows)}")
    dim = len(init_rows[0][vec_col])
    if dim % m:
        raise ValueError(f"pq_fit: dim {dim} not divisible by m={m}")
    subdim = dim // m
    books: list[list[list[float]]] = [
        [
            [float(x) for x in r[vec_col][s * subdim : (s + 1) * subdim]]
            for r in init_rows
        ]
        for s in range(m)
    ]

    vec = F.col(vec_col)
    sub = (
        vectors.select(
            F.col(id_col).alias("_id"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            F.slice(vec, s * subdim + 1, subdim).alias("sub"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("_e"),
        )
        .select("_id", F.col("_e")["s"].alias("s"), F.col("_e")["sub"].alias("sub"))
        .withColumn("_nrm", F.greatest(l2_norm(F.col("sub")), F.lit(1e-300)))
        .persist()
    )
    try:
        for _ in range(max_iter):
            CW = _lit_double_array(
                [float(x) for book in books for cw in book for x in cw]
            )
            cnorms = [
                math.sqrt(sum(float(x) * float(x) for x in cw))
                for book in books
                for cw in book
            ]
            CN = _lit_double_array(cnorms)
            svec, scol = F.col("sub"), F.col("s")

            def _entry(c: Column) -> Column:
                dot = F.aggregate(
                    F.sequence(F.lit(1), F.lit(subdim)),
                    F.lit(0.0),
                    lambda acc, d: acc
                    + F.element_at(svec, d).cast("double")
                    * F.element_at(CW, (scol * k + c) * subdim + d),
                )
                # round_digits (not a hardcoded 4) so a caller using
                # non-default rounding trains under the SAME argmax
                # semantics pq_encode/pq_topk score with — the
                # fit/encode replay contract
                score = F.round(
                    dot / (F.col("_nrm") * F.element_at(CN, scol * k + c + 1)),
                    round_digits,
                )
                return F.struct((-score).alias("neg"), c.alias("code"))

            # single-argmax via array_min: O(k) scan, same comparator
            # as array_sort's head (null first, NaN last, code
            # tie-break) — pinned in
            # tests/test_pq.py::test_array_min_matches_sort_head
            best = F.array_min(
                F.transform(F.sequence(F.lit(0), F.lit(k - 1)), _entry)
            )
            assigned = sub.withColumn("_c", best["code"])
            rows = (
                assigned.select(
                    "s", "_c", F.posexplode(F.col("sub")).alias("pos", "val")
                )
                .groupBy("s", "_c", "pos")
                .agg(F.avg("val").alias("m"))
                .collect()
            )
            new: dict = {}
            for r in rows:
                cw = new.setdefault((r["s"], r["_c"]), [0.0] * subdim)
                cw[r["pos"]] = (
                    round(float(r["m"]), round_centroids)
                    if round_centroids is not None
                    else float(r["m"])
                )
            books = [
                [new.get((s, c), books[s][c]) for c in range(k)] for s in range(m)
            ]
    finally:
        sub.unpersist()
    out = {"m": m, "k": k, "subdim": subdim, "books": books}
    if pca_model is not None:
        out["pca"] = pca_model
    return out


def _maybe_project(codebook: dict, df: DataFrame, vec_col: str) -> DataFrame:
    """Project `vec_col` through the codebook's embedded PCA model (if
    any), keeping the column name — ONE definition on every PQ input
    edge (fit, encode, ADC queries) so no path can score raw dims
    against a reduced-space codebook."""
    model = codebook.get("pca")
    if model is None:
        return df
    from ds_caselaw_ingester_spark.operators.pca import pca_project

    other = [c for c in df.columns if c != vec_col]
    return pca_project(df, vec_col, model, out_col="_pca_tmp").select(
        *other, F.col("_pca_tmp").alias(vec_col)
    )


def _flat_codewords(codebook: dict) -> "list[float]":
    return [
        float(x)
        for book in codebook["books"]
        for cw in book
        for x in cw
    ]


def _adc_query_frame(queries: DataFrame, codebook: dict) -> DataFrame:
    """(q_id, qv, _lut, qv_norm): each query's m*k ADC lookup table
    (dot products against the codeword literals) and norm, computed
    ONCE per query row. Callers that fan queries out (one row per
    probed IVF cell) must join THIS frame by q_id rather than project
    the LUT after the fan-out — otherwise the m*k*subdim fold reruns
    nprobe times per query. Queries are PCA-projected first when the
    codebook carries a model (qv/qv_norm then live in the reduced
    space, pairing with recon_norm)."""
    queries = _maybe_project(codebook, queries, "qv")
    m, kk, subdim = codebook["m"], codebook["k"], codebook["subdim"]
    CW = _lit_double_array(_flat_codewords(codebook))
    qv = F.col("qv")
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(m * kk - 1)),
        lambda i: F.aggregate(
            F.sequence(F.lit(1), F.lit(subdim)),
            F.lit(0.0),
            lambda acc, d: acc
            + F.element_at(qv, (i / kk).cast("int") * subdim + d).cast("double")
            * F.element_at(CW, i * subdim + d),
        ),
    )
    return queries.select(
        "q_id", "qv", lut.alias("_lut"), l2_norm(qv).alias("qv_norm")
    )


def _adc_expr(codebook: dict) -> Column:
    """The per-candidate ADC sum: m lookups into the row's _lut by its
    codes. One definition shared by every ADC scorer so the rounding /
    indexing semantics the replay tests pin cannot diverge."""
    m, kk = codebook["m"], codebook["k"]
    codes = F.col("codes")
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.col("_lut"), s * kk + F.element_at(codes, s + 1).cast("int") + 1
        ),
    )


def _exact_rerank(
    shortlist: DataFrame,
    queries: DataFrame,
    vectors: DataFrame,
    k: int,
    round_digits: int,
) -> DataFrame:
    """Shared rerank tail: shortlist (q_id, c_id) rows re-join their
    float vectors for the exact rounded-cosine top-k."""
    from ds_caselaw_ingester_spark.operators.similarity import dot_product

    qn = queries.select("q_id", "qv", l2_norm(F.col("qv")).alias("qv_norm"))
    cn = vectors.select("c_id", "cv", l2_norm(F.col("cv")).alias("cv_norm"))
    scored = (
        shortlist.join(cn, "c_id")
        .join(F.broadcast(qn), "q_id")
        .select(
            "q_id",
            "c_id",
            F.round(
                dot_product(F.col("qv"), F.col("cv"))
                / (F.col("qv_norm") * F.col("cv_norm")),
                round_digits,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)



def pq_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    codebook: dict,
    round_digits: int = 4,
) -> DataFrame:
    """(id, codes array<tinyint>, recon_norm double): per subspace, the
    rounded-cosine-nearest codeword (code-id tie-break — the same
    deterministic argmax contract as ivf_assign), plus the L2 norm of
    the RECONSTRUCTED vector, precomputed at encode time so ADC scoring
    never touches the codebook's floats again.

    Map-side only: codewords ride in the plan as three flat literals;
    no join, no shuffle — encoding 100 TB is one scan.

    Consumers should MATERIALIZE this frame (write it out, or
    localCheckpoint for an in-session index) before scoring against it:
    that is the production contract (encode once, query many), and a
    lazy `codes` column is a ~1k-node expression tree that
    CollapseProject inlines into every downstream reference — an ADC
    scorer reads it m+1 times and the combined plan pays ~10x in
    optimizer/codegen (measured, plans/queries_similarity.py
    pq_adc_topk). A codebook carrying a PCA model projects the input
    map-side first (see pq_fit) — still join-free, one scan."""
    df = _maybe_project(codebook, df, vec_col)
    m, k, subdim = codebook["m"], codebook["k"], codebook["subdim"]
    books = codebook["books"]
    CW = _lit_double_array(_flat_codewords(codebook))
    cnorms = [
        math.sqrt(sum(float(x) * float(x) for x in cw)) for book in books for cw in book
    ]
    CNORMS = _lit_double_array(cnorms)
    vec = F.col(vec_col)

    # ONE shared per-subspace lambda over a runtime s — not m unrolled
    # copies of the k-entry argmax tree. Identical arithmetic (s*subdim+d
    # folds constant-fold the same either way), byte-identical codes and
    # recon_norm (pinned by the replay tests), but the expression tree is
    # m× smaller: construction 0.96 → 0.20 s and the encode scan's
    # codegen drops with it (optimization round 14 — the same shared-fold
    # shape pq_fit's loop and the ADC LUT already use).
    def _sub_code(s: Column) -> Column:
        subnorm = F.sqrt(
            F.aggregate(
                F.sequence(F.lit(1), F.lit(subdim)),
                F.lit(0.0),
                lambda acc, d: acc
                + F.pow(F.element_at(vec, s * subdim + d).cast("double"), 2),
            )
        )
        safe = F.greatest(subnorm, F.lit(1e-300))

        def _entry(c: Column) -> Column:
            dot = F.aggregate(
                F.sequence(F.lit(1), F.lit(subdim)),
                F.lit(0.0),
                lambda acc, d: acc
                + F.element_at(vec, s * subdim + d).cast("double")
                * F.element_at(CW, (s * k + c) * subdim + d),
            )
            score = F.round(
                dot / (safe * F.element_at(CNORMS, s * k + c + 1)), round_digits
            )
            return F.struct((-score).alias("neg"), c.alias("code"))

        # single-argmax via array_min (O(k), no sorted copy) — same
        # comparator as array_sort's head; every corpus row pays this
        # m times, so the sort was the encode scan's hottest loop.
        best = F.array_min(F.transform(F.sequence(F.lit(0), F.lit(k - 1)), _entry))
        return best["code"].cast("tinyint")

    codes = F.transform(F.sequence(F.lit(0), F.lit(m - 1)), _sub_code)
    sqnorms = [n * n for n in cnorms]
    SQ = _lit_double_array(sqnorms)
    recon_norm = F.sqrt(
        F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, s: acc
            + F.element_at(
                SQ, s * k + F.element_at(F.col("codes"), s + 1).cast("int") + 1
            ),
        )
    )
    return (
        df.select(id_col, codes.alias("codes"))
        .withColumn("recon_norm", recon_norm)
    )


def pq_topk(
    queries: DataFrame,
    encoded: DataFrame,
    codebook: dict,
    k: int = 10,
    round_digits: int = 4,
) -> DataFrame:
    """ADC top-k: queries (q_id, qv float) against pq_encode output
    (c_id, codes, recon_norm). Each query computes its m·k dot-product
    LUT once (a map-side transform over the codeword literals); each
    candidate costs m lookups + one divide. The broadcast/top-k shape
    matches cosine_topk, so PQ is a drop-in for the brute path."""
    qs = _adc_query_frame(queries, codebook)
    adc = _adc_expr(codebook)
    scored = (
        encoded.where(F.col("recon_norm") > 0)
        .join(F.broadcast(qs))
        .where(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.round(adc / (F.col("qv_norm") * F.col("recon_norm")), round_digits).alias(
                "cosine_adc"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine_adc").desc(), F.col("c_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivfadc_topk(
    queries: DataFrame,
    encoded: DataFrame,
    vectors: DataFrame,
    coarse_centroids: "list | DataFrame",
    codebook: dict,
    k: int = 10,
    nprobe: int = 2,
    shortlist: int = 100,
    round_digits: int = 4,
) -> DataFrame:
    """IVF + PQ + re-rank — the production ANN index stack (FAISS's
    IVFADC layout, composed from this repo's parts):

    1. COARSE: candidates live in IVF cells (ivf_assign, map-side
       argmax vs the trained coarse quantizer); a query probes only its
       `nprobe` nearest cells — the corpus-sized scan disappears.
    2. FINE: within probed cells, candidates are scored from their
       m-byte PQ codes via the query's ADC lookup table — the float
       tier stays untouched.
    3. RERANK: the per-query `shortlist` best ADC scores re-join their
       float vectors for an exact cosine top-k.

    Cost per query at 100 TB: |cell|·nprobe ADC lookups (m adds each) +
    `shortlist` float dot products — vs |corpus|·dim multiplies for the
    brute path. The cell id is also the storage partitioning key, so a
    probe reads nprobe partitions, not the table.

    Recall is gated by the COARSE tier: a true neighbor in an unprobed
    cell is unreachable whatever the PQ precision. On the repo's
    near-uniform synthetic embeddings recall tracks the probed fraction
    (measured: 3/8 cells -> 0.56, 4/8 -> 0.71, 5/8 -> 0.80 recall@10,
    vs 0.95 for a flat ADC shortlist@100 + exact re-rank); clustered production embeddings
    concentrate neighbors, which is what lets FAISS-style deployments
    probe 1-5% of cells instead.

    encoded: pq_encode output (c_id, codes, recon_norm) — it must carry
    the SAME ids as `vectors` (c_id, cv float). Cell assignment is
    computed here from `vectors` so the three tiers can be maintained
    independently; a deployed index would store centroid_id alongside
    the codes and skip that join.

    A codebook carrying a PCA model (pq_fit's pca_model=...) projects
    the COARSE tier too: cell assignment for both vectors and queries
    runs in the reduced space, so `coarse_centroids` must be trained on
    pca_project output (the same convention as ivf_topk's pca_model).
    ivf_assign raises on a dimension mismatch rather than null-padding,
    so a raw-space quantizer against a PCA codebook fails loudly. The
    RERANK tier stays in the original space — exact cosines over the
    raw floats, which is the true metric."""
    from ds_caselaw_ingester_spark.operators.similarity import ivf_assign

    cand_cells = ivf_assign(
        _maybe_project(codebook, vectors.select("c_id", "cv"), "cv"),
        "cv", "c_id", coarse_centroids, nprobe=1,
        round_digits=round_digits,
    ).select("c_id", "centroid_id")
    enc_cells = encoded.join(cand_cells, "c_id")
    # LUT + norm computed on the ONE-row-per-query frame, then joined to
    # the exploded (query, probed cell) rows — projecting the LUT after
    # ivf_assign's fan-out recomputed the m*k*subdim fold nprobe times
    # per query (review finding; cost scaled linearly with nprobe).
    qmeta = _adc_query_frame(queries, codebook).drop("qv")
    q_cells = ivf_assign(
        _maybe_project(codebook, queries.select("q_id", "qv"), "qv"),
        "qv", "q_id", coarse_centroids, nprobe=nprobe,
        round_digits=round_digits,
    ).select("q_id", "centroid_id")
    qs = q_cells.join(qmeta, "q_id")
    adc = _adc_expr(codebook)
    scored = (
        enc_cells.where(F.col("recon_norm") > 0)
        .join(F.broadcast(qs), "centroid_id")
        .where(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.round(adc / (F.col("qv_norm") * F.col("recon_norm")), round_digits).alias(
                "cosine_adc"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine_adc").desc(), F.col("c_id").asc()
    )
    sl = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= shortlist)
        .select("q_id", "c_id")
    )
    return _exact_rerank(sl, queries, vectors, k, round_digits)


def save_index(
    path: str,
    codebook: dict,
    coarse_centroids: "list | None" = None,
) -> None:
    """Persist the quantizer artifacts as JSON next to the encoded
    table: the codebook (m·k·subdim floats) and, for an IVFADC index,
    the coarse centroids. Floats round-trip via repr (shortest
    round-trip decimal), so a loaded index encodes and scores
    BIT-IDENTICALLY — the property the replay tests pin is what makes
    an index built last year probeable today."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "codebook.json"), "w") as f:
        json.dump(codebook, f)
    if coarse_centroids is not None:
        with open(os.path.join(path, "coarse.json"), "w") as f:
            json.dump(coarse_centroids, f)


def load_index(path: str) -> "tuple[dict, list | None]":
    """(codebook, coarse_centroids or None)."""
    import json
    import os

    with open(os.path.join(path, "codebook.json")) as f:
        cb = json.load(f)
    coarse = None
    cpath = os.path.join(path, "coarse.json")
    if os.path.exists(cpath):
        with open(cpath) as f:
            coarse = json.load(f)
    return cb, coarse
