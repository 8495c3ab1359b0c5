"""Near-duplicate detection operators: MinHash+LSH, n-gram Jaccard,
exact-substring spans. Spark-first design notes:

- Shingling/minhashing is explode + groupBy-min over documents — fully
  JVM-side; the only Python is plan construction.
- Candidate generation never compares documents pairwise: LSH buckets
  (band, band_key) and the n-gram inverted index both group on a key and
  emit in-bucket pairs, so cost is O(sum of bucket²), not O(n²).
- Portability: every hash bottoms out in md5 (bit-identical in any
  engine — no xxhash/murmur dependency). MinHash permutations are the
  2-universal affine family over ONE digest per gram (see
  minhash_signatures); band keys and the Jaccard index stay md5 hex.

Shuffle budget (the thing that matters at 100 TB):
- MinHash pipeline: ONE shuffle of shingle rows (the groupBy-min into a
  WIDE one-row-per-doc signature), then bands/estimates are projections
  and joins of doc-sized frames. The previous design unpivoted signatures
  to (doc, seed, mh) rows and re-grouped twice — 16× the rows through
  two extra exchanges.
- Jaccard pipeline: ONE shuffle of shingle rows (groupBy gram →
  collect_set), pair fan-out generated by in-bucket combination
  (array lambda, no self-join), ONE shuffle of pair rows (count), doc
  sizes derived from the same inverted index. The previous self-join
  shuffled the shingle set twice more.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.textstats import tokens, word_ngrams

_log = logging.getLogger(__name__)

def doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Word n-gram shingles per document: (id, gram), MULTISET (duplicate
    grams within a document are kept — no distinct shuffle here).
    Consumers that need set semantics get them for free: minhash's min()
    is multiset-invariant, and the Jaccard inverted index collect_set-s.
    """
    tok = tokens(F.col(text_col))
    return df.select(F.col(id_col), F.explode(word_ngrams(tok, n)).alias("gram"))


def ordered_pairs(sorted_ids: Column, a_name: str = "doc_a", b_name: str = "doc_b") -> Column:
    """All (a, b) pairs with a < b from an ASCENDING-sorted id array —
    pure array lambdas, evaluated in the JVM per bucket row. The i-th
    element pairs with every later element (slice is 1-based)."""
    return F.flatten(
        F.transform(
            sorted_ids,
            lambda x, i: F.transform(
                F.slice(sorted_ids, i + 2, F.greatest(F.size(sorted_ids) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias(a_name), y.alias(b_name)),
            ),
        )
    )


# Modulus for the affine rehash family: largest prime below 2^32 —
# (a + i*b) stays under 2^36 for i <= 15, far from BIGINT overflow in
# both engines (no engine-specific overflow semantics in play).
MINHASH_MODULUS = 4294967291


def minhash_signatures(shingles: DataFrame, id_col: str, num_seeds: int = 16) -> DataFrame:
    """WIDE signature frame (id, mh0..mh{n-1}): per-seed minhash = min of
    h_i(gram) where h_i = (a + i*b) mod m, the standard 2-universal
    affine family seeded from ONE md5 per gram (a, b = the digest's two
    13-hex-digit halves). One digest feeds all num_seeds permutations —
    vs hashing num_seeds times per gram, this cuts the dominant per-gram
    work ~num_seeds-fold while keeping the hash oracle-expressible
    (DuckDB: ('0x' || substr(md5(gram), ...))::BIGINT).

    Plan shape: ONE aggregation pass — num_seeds min() columns in a single
    groupBy, digest/halves shared across them by codegen subexpression
    elimination. One row per document comes out; nothing downstream ever
    shuffles per-seed rows.
    """
    m = MINHASH_MODULUS
    g = F.md5(F.col("gram"))
    a = F.conv(F.substring(g, 1, 13), 16, 10).cast("long") % m
    b = F.conv(F.substring(g, 14, 13), 16, 10).cast("long") % m
    aggs = [F.min((a + i * b) % m).alias(f"mh{i}") for i in range(num_seeds)]
    return shingles.groupBy(id_col).agg(*aggs)


def lsh_bands(
    signatures: DataFrame, id_col: str, rows_per_band: int = 4, num_seeds: int = 16
) -> DataFrame:
    """(id, band, band_key) from a WIDE signature frame — a pure
    projection (md5 over the band's comma-joined minhashes) + explode.
    No aggregation, no shuffle."""
    n_bands = num_seeds // rows_per_band
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh{i}").cast("string")
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                )
            ).alias("band_key"),
        )
        for b in range(n_bands)
    ]
    return signatures.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def lsh_candidate_pairs(
    bands: DataFrame, id_col: str, guard_occupancy: bool = False
) -> DataFrame:
    """Distinct (doc_a, doc_b) sharing at least one LSH band. Buckets are
    grouped (ONE shuffle on the 16-byte key) and pairs generated in-bucket
    by array combination — no self-join, no a<b post-filter fan-out.

    guard_occupancy=True spends one extra aggregation over the slim
    (id, band, band_key) frame to WARN before the pair explode when the
    bucket layout is skewed (sizing.occupancy_guard): the df-cap drops
    hot SHINGLES upstream, but near-identical documents still share hot
    BANDS, and the in-bucket combination is quadratic in occupancy."""
    if guard_occupancy:
        from ds_caselaw_ingester_spark.operators.sizing import (
            bucket_occupancy_stats,
            occupancy_guard,
        )

        stats = bucket_occupancy_stats(
            bands.select(
                F.concat_ws(":", F.col("band"), F.col("band_key")).alias("bucket")
            )
        )
        occupancy_guard(stats, what="lsh_candidate_pairs")
    buckets = bands.groupBy("band", "band_key").agg(
        F.array_sort(F.collect_set(F.col(id_col))).alias("docs")
    )
    return (
        buckets.where(F.size("docs") >= 2)
        .select(F.explode(ordered_pairs(F.col("docs"))).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


def estimate_jaccard(
    pairs: DataFrame, signatures: DataFrame, id_col: str, num_seeds: int = 16
) -> DataFrame:
    """Signature-agreement Jaccard estimate per candidate pair: two joins
    of the WIDE signature frame (1 row/doc — AQE broadcasts it at test
    scale; at cluster scale pairs ≪ corpus so the shuffle is small) and a
    single-projection match count — no per-seed rows anywhere."""
    a = signatures.select(
        F.col(id_col).alias("doc_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(num_seeds)]
    )
    b = signatures.select(
        F.col(id_col).alias("doc_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(num_seeds)]
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(num_seeds)
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(matches / F.lit(float(num_seeds)), 4).alias("est_jaccard"),
        )
    )


def hot_gram_drop_stats(shingles: DataFrame, id_col: str, max_doc_freq: int) -> dict:
    """The no-silent-caps companion to `max_doc_freq`: {"n_grams",
    "n_pairable", "n_hot_dropped", "max_df"}. n_hot_dropped counts
    multi-document grams the cap excludes from pair generation;
    n_pairable == 0 with n_hot_dropped > 0 is the measured sf10
    failure mode (×100 duplication pushed EVERY gram past the dup-free
    cap and the query returned zero pairs indistinguishable from a
    clean corpus — BENCH_SF1.md). Callers that pin a literal cap
    should check this before trusting an empty result;
    `max_doc_freq="auto"` sizes the cap from the same distribution.

    All counts derive from gram_df_stats' per-df histogram: the
    vocabulary shuffles once."""
    from ds_caselaw_ingester_spark.operators.sizing import gram_df_stats

    base = gram_df_stats(shingles, id_col)
    hist = base["histogram"]
    n_multi = sum(n for df, n in hist if df >= 2)
    n_pairable = sum(n for df, n in hist if 2 <= df <= max_doc_freq)
    stats = {
        "n_grams": base["n_grams"],
        "n_pairable": n_pairable,
        "n_hot_dropped": n_multi - n_pairable,
        "max_df": base["max_df"],
    }
    if stats["n_hot_dropped"] and not stats["n_pairable"]:
        _log.warning(
            "max_doc_freq=%d dropped ALL %d multi-document grams "
            "(max df=%d): every pair-generating gram exceeds the cap — "
            "the corpus is heavily duplicated relative to the config. "
            "An empty pair result is NOT evidence of a clean corpus; "
            "run exact dedup first or use max_doc_freq='auto'.",
            max_doc_freq,
            stats["n_hot_dropped"],
            stats["max_df"],
        )
    elif stats["n_hot_dropped"]:
        _log.info(
            "max_doc_freq=%d: %d pairable grams kept, %d hot grams "
            "dropped (max df=%d)",
            max_doc_freq,
            stats["n_pairable"],
            stats["n_hot_dropped"],
            stats["max_df"],
        )
    return stats


def exact_jaccard_pairs(
    shingles: DataFrame,
    id_col: str,
    threshold: float,
    max_doc_freq: "int | str | None" = None,
) -> DataFrame:
    """Exact n-gram Jaccard via an inverted index built from ONE shuffle:
    the shingles are partitioned by gram once, and that exchange feeds
    both groupBy(gram) → collect_set(doc) (which dedups shingles and
    buckets documents) and the per-document sizes (distinct grams per
    doc). Pairs come from in-bucket array combination (no self-join).

    jaccard = common / (|A| + |B| - common) — integer inputs, one double
    division, engine-exact.

    max_doc_freq: drop grams appearing in more than this many documents
    from pair generation only (sizes still count them). The prefix-
    filtering analog: a shingle shared by thousands of documents produces
    a quadratic pair fan-out while contributing no near-dup signal — at
    100 TB the hot-shingle bucket IS the bottleneck, and the cap turns the
    worst key from O(df²) pairs into nothing. Pairs whose overlap is
    exclusively ultra-common shingles fall below any useful threshold
    anyway; the reported jaccard for surviving pairs is a lower bound.

    ``max_doc_freq="auto"`` sizes the cap from the gram-df distribution
    (one vocabulary-sized quantile job, operators/sizing.py): a cap
    pinned for a dup-free corpus drops EVERY gram once documents carry
    ~100 copies each and the query silently returns zero pairs
    (measured, BENCH_SF1.md sf10). `hot_gram_drop_stats` counts how
    many hot grams a cap excludes.
    """
    from ds_caselaw_ingester_spark.operators.sizing import resolve_max_doc_freq

    max_doc_freq = resolve_max_doc_freq(max_doc_freq, shingles, id_col)
    # NOT persisted: both consumers (the index, the sizes) read the one
    # gram-partitioned exchange, and Spark's exchange-reuse rule dedupes it
    # in the final plan, so the corpus explode runs once. The sizes count
    # distinct (doc, gram) rows there rather than re-exploding the index,
    # which would be a third Generate over every gram's doc list. A persist
    # would leak executor memory for the life of the session since no
    # unpersist point exists post-return. The null-id filter is the one
    # the optimizer infers for the sizes joins and pushes down their side
    # only; stated here, it keeps the two consumers' exchanges identical
    # (collect_set and the size joins drop null ids either way).
    by_gram = (
        shingles.select(F.col(id_col), "gram")
        .where(F.col(id_col).isNotNull())
        .repartition("gram")
    )
    inv = by_gram.groupBy("gram").agg(
        F.array_sort(F.collect_set(F.col(id_col))).alias("docs")
    )
    sizes = by_gram.dropDuplicates([id_col, "gram"]).groupBy(id_col).agg(
        F.count("*").alias("n_grams")
    )
    pairable = inv.where(F.size("docs") >= 2)
    if max_doc_freq is not None:
        pairable = pairable.where(F.size("docs") <= max_doc_freq)
    common = (
        pairable.select(F.explode(ordered_pairs(F.col("docs"))).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_grams").alias("n_b"))
    jac = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ),
        )
    )
    return jac.where(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "n_common", "jaccard"
    )


def duplicate_spans(
    docs: DataFrame, id_col: str, text_col: str, n: int = 8, min_count: int = 2
) -> DataFrame:
    """Maximal duplicated-passage extraction — the actionable output of
    exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better": remove the repeated byte ranges, keep
    the rest). This operator returns the actual token ranges to cut:
    every position whose word n-gram occurs >= `min_count` times
    anywhere in the corpus covers tokens [i, i+n-1]; overlapping/adjacent
    covered intervals merge into maximal spans (1-based inclusive token
    coordinates):

        (doc_id, span_start, span_end, span_tokens)

    Merge rule: positions p < q belong to one span iff q - p <= n
    (interval overlap q <= p+n-1, or exact adjacency q == p+n — a
    contiguous duplicated region must not split on the window seam).

    Scale shape: the per-(gram, doc) aggregation keeps positions as a
    sorted array — bounded by ONE document's internal repeats of ONE
    gram, never by corpus frequency — so the corpus is exploded once and
    the hot-gram inverted-index blowup of a naive collect_list-per-gram
    design cannot occur. "Exploded once" is enforced with an eager
    localCheckpoint on the per-(gram, doc) frame: its two consumers
    (gram totals, the dup join probe) otherwise column-prune into two
    SEPARATE full corpus towers — one with the positions collect_list,
    one counts-only — and the corpus is tokenized, exploded and hashed
    twice. Three shuffles total: gram partial-count (map-side combine),
    totals-from-that-frame join on g (the filtered hot-gram side
    broadcasts), then the per-doc islands window on doc_id. The window
    sorts only *duplicated* positions of one document — for a typical
    corpus a tiny fraction of the exploded frame — so the doc_id
    partition fits executor memory even for book-length documents.
    """
    from pyspark.sql import Window

    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    toks = tokens(F.col(text_col))
    grams = F.when(F.size(toks) >= n, word_ngrams(toks, n)).otherwise(
        F.array().cast("array<string>")
    )
    ex = docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(grams).alias("p", "gram")
    ).select(
        "doc_id",
        (F.col("p") + 1).cast("long").alias("i"),
        F.md5(F.col("gram")).alias("g"),
    )
    # Eager, not lazy: two consumers, one of them a broadcast build job
    # — lazy would let AQE race them into transient double-compute.
    per_dg = ex.groupBy("g", "doc_id").agg(
        F.count("*").alias("c"), F.sort_array(F.collect_list("i")).alias("ps")
    ).localCheckpoint()
    totals = per_dg.groupBy("g").agg(F.sum("c").alias("total"))
    dup = (
        per_dg.join(totals, "g")
        .where(F.col("total") >= min_count)
        .select("doc_id", F.explode("ps").alias("i"))
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    run = Window.partitionBy("doc_id").orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prev = F.lag("i").over(w)
    island = F.sum(
        F.when(prev.isNull() | (F.col("i") - prev > n), 1).otherwise(0)
    ).over(run)
    return (
        dup.withColumn("island", island)
        .groupBy("doc_id", "island")
        .agg(
            F.min("i").alias("span_start"),
            (F.max("i") + F.lit(n - 1)).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def strip_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    spans: DataFrame,
) -> DataFrame:
    """Apply a `duplicate_spans` cut list: drop every token covered by
    any (span_start, span_end) range of its document and reassemble the
    remaining tokens in order — the second half of exact-substring dedup
    (detect -> cut). Returns (doc_id, text) with `text` rewritten;
    documents with no spans pass through untouched, a document whose
    spans cover everything comes back as the empty string (the row is
    kept: downstream length/quality gates decide its fate, silently
    dropping rows here would make the cut unauditable).

    Semantics: ALL covered occurrences are removed — deterministic and
    order-independent, where the published ExactSubstr pass (Lee et al.
    2022) keeps one arbitrary copy. A caller wanting a keeper exempts it
    by anti-joining that document's rows out of `spans` first; keeping
    "one arbitrary occurrence" inside the operator would make the output
    depend on partition order, which this engine never allows.

    Scale shape: spans aggregate to one array per affected document
    (bounded by that document's span count), join back to the corpus on
    doc_id — a broadcast when few documents are affected, a plain
    shuffle join at worst — and the token filter itself is one map-side
    pass (two-arg lambda over the token array, exists() over the small
    span array per token). No explode of the corpus at all.
    """
    span_arr = spans.groupBy(F.col("doc_id").alias("_sid")).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    joined = docs.join(
        span_arr, docs[id_col] == span_arr["_sid"], "left"
    ).drop("_sid")
    toks = tokens(F.col(text_col))
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("_spans"),
            lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
        ),
    )
    out = F.when(F.col("_spans").isNull(), F.col(text_col)).otherwise(
        F.array_join(kept, " ")
    )
    return joined.select(
        F.col(id_col).alias("doc_id"), out.alias("text")
    )


def common_paragraphs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_doc_freq: int = 2,
) -> DataFrame:
    """(para_hash, df, para) for every paragraph appearing in at least
    `min_doc_freq` DISTINCT documents — the corpus-wide boilerplate
    census (cookie banners, license footers, navigation crumbs are
    exactly the paragraphs that repeat across documents).

    Paragraphs use the repetition-profile convention (split on blank
    lines, space-trim, drop empties — operators/repetition.py), so the
    census and the Gopher dup-para signals agree on what a paragraph
    is. `para` keeps one exemplar text per hash (min = the
    deterministic pick) for auditability.

    Scale: one explode (paras per doc) + one groupBy(hash) with
    count_distinct(id) — the same first-shuffle shape as the gram df
    census; output is boilerplate-sized."""
    from ds_caselaw_ingester_spark.operators.repetition import _paras

    if min_doc_freq < 2:
        raise ValueError(f"min_doc_freq must be >= 2, got {min_doc_freq}")
    return (
        docs.select(F.col(id_col), F.explode(_paras(F.col(text_col))).alias("_p"))
        .select(F.col(id_col), F.md5(F.col("_p")).alias("para_hash"), F.col("_p"))
        .groupBy("para_hash")
        .agg(
            F.count_distinct(F.col(id_col)).alias("df"),
            F.min("_p").alias("para"),
        )
        .where(F.col("df") >= min_doc_freq)
    )


def strip_common_paragraphs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    boilerplate: DataFrame,
) -> DataFrame:
    """Remove every paragraph whose md5 appears in `boilerplate`
    (a `common_paragraphs` result or any frame with a para_hash column)
    and reassemble the survivors in order, joined by a canonical blank
    line — paragraph-granularity boilerplate removal, the coarse
    complement of the token-level ExactSubstr cut (strip_spans above).

    Returns (doc_id, text, n_paras_removed). Documents with nothing
    removed keep their ORIGINAL text byte-for-byte (no re-normalization
    of untouched rows); documents whose every paragraph is boilerplate
    come back as the empty string, row kept, for the same auditability
    reason strip_spans documents. Reassembled text is canonical:
    kept paragraphs (space-trimmed, per the paragraph convention)
    joined by exactly one blank line.

    Scale: the corpus explodes once to (id, pos, para); the boilerplate
    set joins on the hash (broadcast when small — the common case; a
    shuffle join degrades gracefully); reassembly is one groupBy(id)
    of (pos, para) structs sorted map-side. The doc spine joins back so
    paragraph-free documents survive."""
    from ds_caselaw_ingester_spark.operators.repetition import _paras

    bl = boilerplate.select(F.col("para_hash")).distinct()
    paras = docs.select(
        F.col(id_col), F.posexplode(_paras(F.col(text_col))).alias("_pos", "_p")
    )
    flagged = paras.join(
        bl, F.md5(F.col("_p")) == bl["para_hash"], "left"
    )
    agg = flagged.groupBy(id_col).agg(
        F.count(F.col("para_hash")).alias("n_paras_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("para_hash").isNull(),
                            F.struct(F.col("_pos").alias("pos"), F.col("_p").alias("p")),
                        )
                    )
                ),
                lambda x: x["p"],
            ),
            "\n\n",
        ).alias("_kept"),
    )
    joined = docs.join(agg, id_col, "left")
    out_text = (
        F.when(F.col("n_paras_removed").isNull(), F.col(text_col))  # no paragraphs at all
        .when(F.col("n_paras_removed") == 0, F.col(text_col))  # untouched: original bytes
        .otherwise(F.col("_kept"))
    )
    return joined.select(
        F.col(id_col).alias("doc_id"),
        out_text.alias("text"),
        F.coalesce(F.col("n_paras_removed"), F.lit(0).cast("long")).alias(
            "n_paras_removed"
        ),
    )
