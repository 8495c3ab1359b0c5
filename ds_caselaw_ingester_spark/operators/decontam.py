"""Benchmark decontamination: flag corpus documents that share any word
n-gram with an evaluation/benchmark set.

The standard pre-training hygiene pass (the GPT-3/PaLM-style n-gram
overlap check): a training corpus must not contain verbatim chunks of
the benchmarks it will be evaluated on. Spark-first shape:

- The benchmark side is small by construction (eval suites are KBs-MBs
  against a 100 TB corpus) -> its DISTINCT n-gram set is broadcast;
  the corpus side is a map-side explode + broadcast hash semi-probe.
  The corpus never shuffles: the only aggregation groups the MATCHING
  (doc, gram) rows — bounded by contamination volume, not corpus size.
- Gram width n=8 words is the usual published choice (wide enough that
  coincidental overlap is negligible, narrow enough to catch partial
  quotes); callers tune it per suite.
- Exactness: the flag is a set-membership test, no hashing involved —
  gram strings join directly, so there are no false positives to argue
  about.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.textstats import tokens, word_ngrams


def benchmark_ngrams(
    benchmark: DataFrame, text_col: str, n: int = 8
) -> DataFrame:
    """DISTINCT word n-grams of the benchmark set: one small frame
    (column `gram`), intended for broadcast."""
    tok = tokens(F.col(text_col))
    grams = F.when(F.size(tok) >= n, word_ngrams(tok, n)).otherwise(
        F.array().cast("array<string>")
    )
    return (
        benchmark.select(F.explode(grams).alias("gram")).distinct()
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str | None = None,
    n: int = 8,
) -> DataFrame:
    """Per-document contamination verdict: (id, n_contaminated_grams,
    is_contaminated) for EVERY input document. Documents shorter than n
    tokens have no n-grams and are clean by definition.

    n_contaminated_grams counts the document's n-gram OCCURRENCES that
    appear in the benchmark set (multiset count — a doc quoting the same
    benchmark line twice scores 2), which is the removal-priority signal
    the published pipelines sort on.
    """
    bench = F.broadcast(
        benchmark_ngrams(benchmark, bench_text_col or text_col, n)
    )
    tok = tokens(F.col(text_col))
    grams = F.when(F.size(tok) >= n, word_ngrams(tok, n)).otherwise(
        F.array().cast("array<string>")
    )
    hits = (
        docs.select(F.col(id_col), F.explode(grams).alias("gram"))
        .join(bench, "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated_grams"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                F.col("n_contaminated_grams"), F.lit(0).cast("long")
            ).alias("n_contaminated_grams"),
            (F.coalesce(F.col("n_contaminated_grams"), F.lit(0)) > 0).alias(
                "is_contaminated"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Semantic decontamination — embedding-cosine overlap with a benchmark
# ---------------------------------------------------------------------------

# Benchmark size up to which semantic_decontam scores by broadcast pairs
# (DuckDB-replayable); larger benchmarks take the BLAS matmul path.
DECONTAM_PAIRS_MAX_ROWS = 256


def semantic_decontam(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "vec_id",
    bench_vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Flag corpus rows whose embedding is near-identical to any
    benchmark embedding (paraphrase-level contamination that the n-gram
    checks above cannot see — the semantic complement of
    ``decontaminate``, same role as the SemDeDup-style eval-overlap
    filters).

    Returns (id_col, nearest_bench_id, max_cos, contaminated): the
    best-matching benchmark row (rounded-cosine max, bench-id-ascending
    tie-break — the repo's deterministic argmax convention), and
    contaminated = max_cos >= threshold.

    Scale: the benchmark side is small by construction (eval suites),
    the corpus is not. Both paths stream the corpus exactly once with
    NO corpus shuffle wider than a groupBy on id:

    - pairs (<= DECONTAM_PAIRS_MAX_ROWS bench rows): broadcast
      nested-loop join + one (id)-keyed min(struct) aggregation — all
      JVM expressions, DuckDB-replayable (the oracle gate in
      tests/test_decontam.py).
    - matmul (larger benchmarks): one float64 BLAS matmul per Arrow
      batch against the broadcast benchmark matrix (the
      _ivf_assign_matmul dispatch lesson: plan-literal folds die past
      a few hundred vectors, BLAS does 1000x1M in seconds). Tie-break
      replayed with a stable argsort over the same rounded scores.

    Zero-norm embeddings: cosine is undefined, and the naive division
    is WORSE than undefined here — Spark 4's default ANSI mode raises
    DIVIDE_BY_ZERO (killing the whole run on one bad vector), and had
    it produced NaN instead, Spark orders NaN above every double so
    NaN >= threshold is TRUE and the doc would be falsely flagged.
    The contract is therefore explicit: pairs with either norm zero are
    skipped; a corpus doc with no defined cosine at all comes back as
    (NULL, NULL, contaminated=false) via the spine join.
    """
    b = bench.select(
        F.col(bench_id_col).alias("_bid"), F.col(bench_vec_col).alias("_bvec")
    )
    cap = DECONTAM_PAIRS_MAX_ROWS
    pairs = b.limit(cap + 1).count() <= cap

    c = corpus.select(F.col(id_col), F.col(vec_col).alias("_cvec"))
    if pairs:
        from ds_caselaw_ingester_spark.operators.similarity import (
            dot_product,
            l2_norm,
        )

        bn = b.withColumn("_bnorm", l2_norm(F.col("_bvec")))
        cn = c.withColumn("_cnorm", l2_norm(F.col("_cvec")))
        scored = cn.join(F.broadcast(bn)).select(
            id_col,
            "_bid",
            # zero-norm guard: undefined pairs yield NULL and are
            # dropped below, never an ANSI DIVIDE_BY_ZERO or a NaN
            F.when(
                (F.col("_cnorm") > 0) & (F.col("_bnorm") > 0),
                F.round(
                    dot_product(F.col("_cvec"), F.col("_bvec"))
                    / (F.col("_cnorm") * F.col("_bnorm")),
                    round_digits,
                ),
            ).alias("_cos"),
        )
        best = (
            scored.where(F.col("_cos").isNotNull())
            .groupBy(id_col)
            .agg(
                F.min(
                    F.struct(
                        (-F.col("_cos")).alias("neg"), F.col("_bid").alias("bid")
                    )
                ).alias("_t")
            )
            .select(
                id_col,
                F.col("_t.bid").alias("nearest_bench_id"),
                (-F.col("_t.neg")).alias("max_cos"),
            )
        )
    else:
        import numpy as np
        from pyspark.sql import types as T

        rows = sorted(b.collect(), key=lambda r: r["_bid"])
        bmat = np.array([list(r["_bvec"]) for r in rows], dtype=np.float64)
        bnorm = np.sqrt((bmat * bmat).sum(axis=1))
        # bench ids keep their NATIVE type (string ids crashed the old
        # int() coercion the moment auto tipped past 256 bench rows)
        bids = [r["_bid"] for r in rows]
        bc = corpus.sparkSession.sparkContext.broadcast((bmat, bnorm, bids))
        id_field = [f for f in c.schema.fields if f.name == id_col]
        bid_type = b.schema["_bid"].dataType
        schema = T.StructType(
            id_field
            + [
                T.StructField("nearest_bench_id", bid_type),
                T.StructField("max_cos", T.DoubleType()),
            ]
        )

        def _score(batches):
            import pandas as pd

            m, n, ids = bc.value
            live = n > 0  # zero-norm bench columns can never win
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                # NULL embeddings: np.stack would crash on None — treat
                # them exactly like zero-norm (no defined cosine), the
                # pairs path's behavior for the same row
                null_mask = pdf["_cvec"].isna().to_numpy()
                if null_mask.all():
                    out = pdf[[id_col]].copy()
                    out["nearest_bench_id"] = pd.array(
                        [None] * len(pdf), dtype="object"
                    )
                    out["max_cos"] = pd.array([None] * len(pdf), dtype="Float64")
                    yield out
                    continue
                filled = pdf["_cvec"].copy()
                dim = len(next(x for x in filled if x is not None))
                filled[null_mask] = pd.Series(
                    [[0.0] * dim] * int(null_mask.sum()),
                    index=filled.index[null_mask],
                )
                v = np.stack(filled.to_numpy()).astype(np.float64)
                vn = np.sqrt((v * v).sum(axis=1))
                vn = np.where(null_mask, 0.0, vn)  # null == undefined
                denom = vn[:, None] * n[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    s = np.round(np.where(denom > 0, (v @ m.T) / denom, -np.inf),
                                 round_digits)
                # stable argmax on -s: ties keep column order, which is
                # bench-id ascending (rows sorted above) — the pairs
                # path's struct-min tie-break exactly
                top = np.argsort(-s, axis=1, kind="stable")[:, 0]
                defined = (vn > 0) & live.any()
                out = pdf[[id_col]].copy()
                out["nearest_bench_id"] = pd.array(
                    [ids[t] if ok else None for t, ok in zip(top, defined)],
                    dtype="object",
                )
                # nullable Float64, NOT np.nan in a float64 column: NaN
                # survives Arrow as NaN, and Spark orders NaN above
                # every double — the >= threshold flag would fire
                out["max_cos"] = pd.array(
                    [
                        float(s[i, t]) if ok else None
                        for i, (t, ok) in enumerate(zip(top, defined))
                    ],
                    dtype="Float64",
                )
                yield out

        # matmul already emits one row per corpus doc — no spine join
        best = c.mapInPandas(_score, schema)
        return best.select(
            id_col,
            "nearest_bench_id",
            "max_cos",
            F.coalesce(
                F.col("max_cos") >= F.lit(threshold), F.lit(False)
            ).alias("contaminated"),
        )

    # pairs path dropped undefined cosines above; the spine join brings
    # back docs with no defined cosine at all — unflagged, NULL-scored
    return (
        corpus.select(id_col)
        .join(best, id_col, "left")
        .select(
            id_col,
            "nearest_bench_id",
            "max_cos",
            F.coalesce(
                F.col("max_cos") >= F.lit(threshold), F.lit(False)
            ).alias("contaminated"),
        )
    )
