"""Corpus-statistics auto-sizing for the scale knobs the sf10 sweep
measured cliffing (BENCH_SF1.md, "sf10 spot check"):

1. **LSH planes must grow ~log2(n).** Bucket count is 2^planes, so
   constant expected occupancy needs one extra plane per corpus
   doubling. Measured: the 8-plane config sized for sf0.01-sf1
   (occupancy 9-271) saturates at 220k vectors — avg occupancy ~860,
   a 923M in-bucket candidate bound, aborted shuffle-spill — while 12
   planes (occupancy ~54) complete in 292 s.
2. **SemDeDup k ≈ n / target_cell_size.** Pair work inside a cell is
   quadratic; k=16 at 220k vectors would put ~15k vectors per cell,
   k=256 (cell ~860) trains in 59 s and dedups in 297 s.
3. **The hot-gram df-cap must track corpus duplication.** A cap sized
   for a dup-free corpus (every df > 50 gram dropped) drops EVERY gram
   once each document exists in 100+ copies — ngram_jaccard_pairs
   found 0 pairs at ×100 duplication. The typical (incidence-weighted
   median — see gram_df_stats) gram document-frequency is ~1 in a
   dup-free corpus and ~N under ×N copying, so `rare_df_cap ×
   typical_df` keeps within-family grams alive while still cutting the
   promiscuous tail.

The sizing functions are pure (pinned at three corpus sizes by
tests/test_sizing.py); the `*_from` helpers run the one cheap Spark
job (a count / a quantile over the vocabulary-sized gram table) that
feeds them. Operators accept ``"auto"`` and call these; registered
driver queries keep their pinned oracle configs — auto-sizing is the
production default, not a change to the checked semantics.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

# Target expected vectors per LSH bucket. Pair work per bucket is
# O(occupancy^2): 64 keeps the per-bucket candidate bound at ~2k pairs
# (measured healthy range: occupancy 9-271 all complete; ~860 aborts).
LSH_TARGET_OCCUPANCY = 64

# Target vectors per SemDeDup / IVF cell: in-cell pair work ~cell^2/2
# (~500k pairs at 1000 — the same order as one saturated-but-healthy
# LSH bucket), while k stays small enough that centroids ride the plan
# as literals (k × dim doubles).
SEMDEDUP_TARGET_CELL = 1000

# df-cap for a duplication-free corpus: grams in more than this many
# DISTINCT documents carry no near-dup signal (the registered
# ngram_jaccard_pairs config, correct over the oracle-checked range).
RARE_DF_CAP = 50

# Training rows per k-means centroid: the quantizer sample must grow
# with k (a fixed sample cap falls below k itself once n/cell_size
# exceeds it, and near that boundary starves every centroid). ~32
# points per centroid is the standard IVF training density floor.
TRAIN_ROWS_PER_CENTROID = 32


def lsh_num_planes(
    n_vectors: int,
    target_occupancy: int = LSH_TARGET_OCCUPANCY,
    min_planes: int = 4,
    max_planes: int = 24,
) -> int:
    """planes = ceil(log2(n / target_occupancy)), clamped.

    One plane per corpus doubling keeps expected bucket occupancy — and
    therefore the O(occupancy²) in-bucket pair bound — constant. The
    clamp floor keeps tiny corpora from degenerating to 1-2 buckets
    (recall is then trivially fine but the equi-join is pointless); the
    ceiling bounds the bucket-key space at 2^24 per table, past which
    per-bucket occupancy < 1 and recall, not cost, is the binding
    constraint (add tables, not planes)."""
    if n_vectors < 1:
        return min_planes
    raw = math.ceil(math.log2(max(1.0, n_vectors / target_occupancy)))
    return max(min_planes, min(max_planes, raw))


def semdedup_num_clusters(
    n_vectors: int,
    target_cell_size: int = SEMDEDUP_TARGET_CELL,
    min_k: int = 4,
    max_k: int = 1 << 16,
) -> int:
    """k = ceil(n / target_cell_size), clamped — the k ≈ n/cell_size
    rule validated at sf10 (k=256 over 220k vectors)."""
    if n_vectors < 1:
        return min_k
    return max(min_k, min(max_k, math.ceil(n_vectors / target_cell_size)))


# ~45 bytes/row measured for the (id, _seq, band, band_key) band log at
# sf10 in the well-compressed regime (docs/SCALE.md round 9)
CURATION_BAND_ROW_BYTES = 45
CURATION_TARGET_BUCKET_BYTES = 256 << 20


def curation_n_buckets(
    projected_docs: int,
    bands_per_doc: int = 4,
    row_bytes: int = CURATION_BAND_ROW_BYTES,
    target_bucket_bytes: int = CURATION_TARGET_BUCKET_BYTES,
    min_b: int = 8,
    max_b: int = 1 << 20,
) -> int:
    """n_buckets for the streaming curation sink's band log
    (streaming/curation_sink.py), from the block-sized rule the sf10
    measurement validated: bucket ≈ target_bucket_bytes so the probe
    reads ≈ (batch band rows) × one bucket regardless of index size,
    while buckets stay large enough to compress (the oversized-count
    regime measured 2.4× the flat bytes; the block-sized one 2.9×
    SMALLER). Size from the corpus the stream will GROW INTO — the
    count is pinned at stream start by the layout sidecar and changing
    it later means a rebuild (migrate_index_to_bucketed)."""
    if projected_docs < 1:
        return min_b
    total = projected_docs * bands_per_doc * row_bytes
    return max(min_b, min(max_b, math.ceil(total / target_bucket_bytes)))


def duplication_scaled_df_cap(typical_df: int, rare_df_cap: int = RARE_DF_CAP) -> int:
    """Duplication-aware hot-gram cap: rare_df_cap × typical gram df.

    typical_df is the MEDIAN document-frequency over distinct grams —
    ~1 in a dup-free corpus (cap degenerates to rare_df_cap, the
    oracle-checked behavior), ~N when each document exists in N copies
    (a within-family gram then has df ≈ N and must survive the cap).
    The preferred contract at heavy duplication remains run-exact-
    dedup-FIRST (pairs are quadratic in family size either way); this
    cap makes the set-based path degrade loudly instead of silently
    returning zero rows."""
    return rare_df_cap * max(1, int(typical_df))


def gram_df_stats(shingles: DataFrame, id_col: str) -> dict:
    """ONE aggregation pass over the vocabulary-sized gram table:
    {"n_grams", "median_df", "max_df"}, where median_df is the
    INCIDENCE-WEIGHTED median document-frequency — the df of the
    median (document, gram) occurrence, i.e. each distinct gram counts
    df times.

    Why weighted, not the plain vocabulary median: under ×N copying
    every document also carries a few copy-unique grams (real corpora:
    boilerplate ids, timestamps; the bench generator: per-copy suffix
    tokens), and those df=1 grams can OUTNUMBER the shared vocabulary,
    dragging the unweighted median to 1 and defeating the sizing. From
    a document's point of view, though, almost every gram it contains
    sits at df ≈ family size, so the occurrence-weighted median tracks
    duplication (~N) while staying ~1 on dup-free corpora even when a
    few promiscuous shingles exist (their mass is bounded by their
    count, not their df²).

    Cost: the groupBy(gram) shuffle is the same first shuffle the
    inverted index pays anyway; the weighted median reduces the vocab
    to one row per DISTINCT df value (a tiny table) and finishes
    driver-side. The returned "histogram" [(df, n_grams_at_df), ...]
    lets consumers (hot_gram_drop_stats, the auto df-cap resolver)
    derive their counts WITHOUT re-running the vocabulary shuffle."""
    per_df = (
        shingles.groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).alias("df"))
        .groupBy("df")
        .agg(F.count("*").alias("n_grams_at_df"))
        .orderBy("df")
        .collect()
    )
    hist = [(int(r["df"]), int(r["n_grams_at_df"])) for r in per_df]
    n_grams = sum(n for _, n in hist)
    total_mass = sum(df * n for df, n in hist)
    median_df, cum = 1, 0
    for df, n in hist:
        cum += df * n
        if cum * 2 >= total_mass:
            median_df = df
            break
    return {
        "n_grams": n_grams,
        "median_df": median_df,
        "max_df": hist[-1][0] if hist else 0,
        "histogram": hist,
    }


def resolve_num_planes(num_planes: "int | str", candidates: DataFrame) -> int:
    """Resolve an operator's ``num_planes="auto"`` with one count()."""
    if num_planes != "auto":
        return int(num_planes)
    n = candidates.count()
    planes = lsh_num_planes(n)
    log.info(
        "lsh auto-sizing: n=%d vectors -> %d planes (2^%d buckets/table, "
        "expected occupancy ~%.0f)",
        n,
        planes,
        planes,
        n / (1 << planes),
    )
    return planes


def resolve_max_doc_freq(
    max_doc_freq: "int | str | None",
    shingles: DataFrame,
    id_col: str,
) -> "int | None":
    """Resolve ``max_doc_freq="auto"`` from the gram-df distribution
    (one vocabulary-sized aggregation). Logs the derived cap so a
    heavily-duplicated corpus is visible in the run record.

    Any string other than exactly "auto" raises here, at the call site
    — passed through, it would surface as a NumberFormatException deep
    inside the job when the Column comparison coerces it."""
    if max_doc_freq is None or isinstance(max_doc_freq, int):
        return max_doc_freq
    if max_doc_freq != "auto":
        raise ValueError(
            f"max_doc_freq must be an int, None, or 'auto'; got {max_doc_freq!r}"
        )
    stats = gram_df_stats(shingles, id_col)
    cap = duplication_scaled_df_cap(stats["median_df"])
    log.info(
        "jaccard df-cap auto-sizing: %d grams, median df=%d, max df=%d "
        "-> max_doc_freq=%d (duplication factor ~%d)",
        stats["n_grams"],
        stats["median_df"],
        stats["max_df"],
        cap,
        max(1, stats["median_df"]),
    )
    return cap


def bucket_occupancy_stats(keys: DataFrame, bucket_col: str = "bucket") -> dict:
    """Post-hash validation of an LSH/cell layout — ONE aggregation over
    the bucket-keyed frame: {"n_buckets", "max_occupancy",
    "mean_occupancy", "candidate_bound"} where candidate_bound =
    sum over buckets of C(occ, 2), the exact number of in-bucket
    candidate pairs the self-join will generate.

    The auto-sizing picks planes from n BEFORE hashing; this measures
    what the hash actually did (skewed data can still pile into few
    buckets — the sf10 abort was an occupancy problem, not a count
    problem). One cheap agg against the slim (id, bucket) frame the
    pair join already persists; check it before committing to a
    multi-hour join."""
    row = (
        keys.groupBy(bucket_col)
        .agg(F.count("*").alias("occ"))
        .select(
            F.count("*").alias("n_buckets"),
            F.sum("occ").alias("n_rows"),
            F.max("occ").alias("max_occ"),
            F.avg("occ").alias("mean_occ"),
            F.sum(F.col("occ") * (F.col("occ") - 1) / 2).alias("cand"),
        )
        .collect()[0]
    )
    if row["n_buckets"] == 0:
        # empty input: max/avg/sum aggregate to NULL — a diagnostics
        # call must report zero buckets, not crash on int(None)
        return {
            "n_buckets": 0,
            "n_rows": 0,
            "max_occupancy": 0,
            "mean_occupancy": 0.0,
            "candidate_bound": 0,
        }
    return {
        "n_buckets": int(row["n_buckets"]),
        "n_rows": int(row["n_rows"]),
        "max_occupancy": int(row["max_occ"]),
        "mean_occupancy": float(row["mean_occ"]),
        "candidate_bound": int(row["cand"]),
    }


def occupancy_guard(
    stats: dict,
    target_occupancy: int = LSH_TARGET_OCCUPANCY,
    warn_factor: float = 4.0,
    what: str = "lsh",
) -> bool:
    """Pre-join guard over bucket_occupancy_stats output: returns True
    when the layout is healthy, logs a WARNING and returns False when
    the measured in-bucket candidate bound exceeds warn_factor × the
    healthy bound.

    The healthy bound is n_rows × target_occupancy / 2 — what the
    candidate bound would be with every bucket at the target occupancy
    (the same constant the plane auto-sizing aims for). Auto-sizing
    picks the bucket-key space from n BEFORE hashing; this checks what
    the hash actually did — skewed embeddings or a hot band can still
    pile candidates into few buckets, and the in-bucket join is
    quadratic in occupancy, so committing to it blind is how the sf10
    8-plane abort happened. Call it on the slim (id, bucket) frame the
    pair join already materializes; it costs one aggregation."""
    healthy = max(1.0, stats["n_rows"] * target_occupancy / 2.0)
    if stats["candidate_bound"] <= warn_factor * healthy:
        return True
    logging.getLogger(__name__).warning(
        "%s bucket layout is skewed: in-bucket candidate bound %d is "
        "%.1fx the healthy bound (%d rows x target occupancy %d / 2 = "
        "%.0f); max bucket holds %d of %d rows. The in-bucket join is "
        "quadratic in occupancy — re-size (more planes / larger k), "
        "pre-split the hot region, or dedup exact copies first.",
        what,
        stats["candidate_bound"],
        stats["candidate_bound"] / healthy,
        stats["n_rows"],
        target_occupancy,
        healthy,
        stats["max_occupancy"],
        stats["n_rows"],
    )
    return False
