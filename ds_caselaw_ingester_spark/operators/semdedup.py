"""SemDeDup — semantic deduplication via embedding clustering (Abbas et
al. 2023, arXiv:2303.09540, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication").

The method the paper describes for web-scale corpora, re-expressed as a
Spark plan:

1. k-means cluster the embedding space (the coarse quantizer the IVF
   operators already train — ``kmeans_fit`` — or any fixed centroid set);
2. search for near-duplicate pairs ONLY within a cluster — the cluster
   equi-join bounds pair work to O(sum cluster_size^2) instead of the
   O(n^2) all-pairs matrix the paper itself computes per cluster on GPU;
3. group duplicate pairs into connected components and keep ONE exemplar
   per group. Following the paper's ablation (§3.2: "we keep the image
   with the *lowest* cosine similarity to the cluster centroid"), the
   exemplar is the member LEAST similar to its centroid — the least
   redundant representative — with the id as a deterministic tie-break.

Differences from the exact-text dedup family (operators/dedup.py): the
signal is the embedding geometry, so paraphrases / re-encodes / crops
that share no n-grams still collide; the cost model is the cluster
partitioning, not shingle buckets.

Scale shape (100 TB corpus, k clusters):
- assignment is ivf_assign's map-side argmax — no shuffle of the vector
  table, centroids ride in the plan as literals;
- the pair stage shuffles each vector ONCE keyed by centroid_id; within
  a cluster the self-join is quadratic, so k must scale with n (the
  paper uses k ~ sqrt(n·avg_cluster); a skewed giant cluster is the
  operator's known hazard — AQE skew-join splits the probe side, and the
  cluster histogram is one cheap groupBy to check before committing);
- components + exemplar selection run on the PAIR survivors only (the
  unpaired majority of a real corpus short-circuits through a left
  join), reusing the O(log diameter) pointer-jumping CC loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.cluster import connected_components
from ds_caselaw_ingester_spark.operators.similarity import (
    dot_product,
    ivf_assign,
    l2_norm,
)


def semantic_dedup(
    vectors: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: "DataFrame | list",
    threshold: float = 0.95,
    round_digits: int = 4,
    log_cell_stats: bool = False,
) -> DataFrame:
    """One row per input vector:
    (id, centroid_id, centroid_cos, component, keep_id, is_duplicate).

    component is the MINIMUM member id of the vector's duplicate group
    (singleton = itself); keep_id is the group's exemplar — the member
    with the lowest rounded cosine to its cluster centroid (id ASC
    tie-break); is_duplicate marks everything else in the group. Rounded
    cosines everywhere keep the decision engine-portable (the DuckDB
    oracle replays it bit-for-bit).
    """
    assigned = ivf_assign(
        vectors.select(id_col, vec_col),
        vec_col,
        id_col,
        centroids,
        nprobe=1,
        round_digits=round_digits,
        keep_score=True,
    ).withColumn("_nrm", l2_norm(F.col(vec_col)))
    # Both pair-join branches, the exemplar rank, and the output row all
    # read `assigned`; persisting stops the argmax fold (the expensive
    # map work) re-running per consumer. Slim cache: id, cell, cos, vec.
    assigned = assigned.persist()

    if log_cell_stats:
        # The cluster histogram the module docstring calls the operator's
        # known hazard check: in-cell pair work is quadratic, so one
        # skewed giant cell dominates the whole job. One cheap agg on
        # the already-persisted assignment. The skew metric is pair
        # work vs the BALANCED baseline (candidate_bound relative to
        # k cells of n/k: n²/2k) — a mean-over-nonempty-cells test can
        # never flag the worst case, everything in one cell, because
        # there max == mean. WARN past 4x: re-k with a larger k, or
        # pre-split the dense region, before committing the pair join.
        import logging

        from ds_caselaw_ingester_spark.operators.sizing import (
            bucket_occupancy_stats,
        )

        k = (
            len(centroids)
            if isinstance(centroids, list)
            else centroids.count()
        )
        stats = bucket_occupancy_stats(
            assigned.select(F.col("centroid_id").alias("bucket"))
        )
        balanced = max(1.0, stats["n_rows"] ** 2 / (2.0 * max(1, k)))
        skew = stats["candidate_bound"] / balanced
        lg = logging.getLogger(__name__)
        msg = (
            "semantic_dedup cell stats: %d/%d cells occupied, max %d, "
            "mean %.1f, in-cell candidate bound %d pairs (%.1fx the "
            "balanced-k baseline)"
        )
        args = (
            stats["n_buckets"],
            k,
            stats["max_occupancy"],
            stats["mean_occupancy"],
            stats["candidate_bound"],
            skew,
        )
        if skew > 4.0:
            lg.warning(
                msg + " — SKEWED: the giant cell's quadratic pair work "
                "will dominate the job", *args
            )
        else:
            lg.info(msg, *args)

    left = assigned.select(
        F.col(id_col).alias("_ida"),
        F.col("centroid_id").alias("_cell"),
        F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    right = assigned.select(
        F.col(id_col).alias("_idb"),
        F.col("centroid_id").alias("_cell"),
        F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    pairs = (
        left.join(right, "_cell")
        .where(F.col("_ida") < F.col("_idb"))
        .select(
            "_ida",
            "_idb",
            F.round(
                dot_product(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
                round_digits,
            ).alias("_cos"),
        )
        .where(F.col("_cos") >= F.lit(threshold))
        .select("_ida", "_idb")
    )

    # connected_components materializes the edge list (its own cache +
    # count), so the pair pipeline — the double reader the persist is
    # for — has already run by the time it returns.
    comp = connected_components(pairs, id_a="_ida", id_b="_idb")
    # Materialize the slim labeled rows (id, cell, cos, component — no
    # vectors) so the vector cache can be released HERE, deterministically,
    # instead of leaking until LRU eviction; the caller's actions then
    # read the checkpoint, never the argmax fold again.
    labeled = (
        assigned.select(id_col, "centroid_id", "centroid_cos")
        .join(comp.select(F.col("node").alias(id_col), "component"), id_col, "left")
        .select(
            id_col,
            "centroid_id",
            "centroid_cos",
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
        )
        .localCheckpoint(eager=True)
    )
    assigned.unpersist()
    w = Window.partitionBy("component").orderBy(
        F.col("centroid_cos").asc(), F.col(id_col).asc()
    )
    return (
        labeled.withColumn("keep_id", F.first(F.col(id_col)).over(w))
        .withColumn("is_duplicate", F.col(id_col) != F.col("keep_id"))
    )


def semantic_dedup_auto(
    vectors: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    round_digits: int = 4,
    target_cell_size: "int | None" = None,
    max_train_rows: int = 20_000,
    kmeans_iters: int = 5,
) -> DataFrame:
    """semantic_dedup with the quantizer auto-sized from corpus
    statistics — the production entry for an unseen corpus.

    One count() derives k = ceil(n / target_cell_size) (the k ≈
    n/cell_size rule validated at sf10: the registered k=16 would put
    ~15k vectors per cell over 220k vectors and the in-cell quadratic
    explodes; k=256 completes — BENCH_SF1.md). The quantizer trains on
    a deterministic hash-sample (the same sample-vs-index asymmetry as
    IVF: training cost is sample-sized, assignment is a map-side argmax
    over everything), then the full corpus dedups against those
    centroids.

    The sample GROWS WITH k: its target is max(max_train_rows,
    TRAIN_ROWS_PER_CENTROID*k), so a 25M-vector corpus (k=25,000)
    trains on ~800k rows, not a fixed 20k — a fixed cap would fall
    below k itself past ~20M vectors and crash kmeans_fit's init, and
    even near the boundary it would starve the centroids of data. The
    materialized sample size is still counted and k clamped to it, so
    the boundary cannot crash regardless of how the hash-sample lands.

    Registered driver queries pin their trained-quantizer configs for
    oracle replay; this wrapper is deliberately NOT oracle-pinned —
    its k depends on n."""
    import math

    from ds_caselaw_ingester_spark.operators.similarity import kmeans_fit
    from ds_caselaw_ingester_spark.operators.sizing import (
        SEMDEDUP_TARGET_CELL,
        TRAIN_ROWS_PER_CENTROID,
        semdedup_num_clusters,
    )

    from ds_caselaw_ingester_spark.sources.catalog import spread_if_narrow

    # Production entry for an UNSEEN frame: a single-file corpus plans
    # as 1-2 partitions and serialises every map-side stage below
    # (training argmax, assignment, in-cell pair generation) — measured
    # 90 s vs 12.5 s at sf1 (docs/SCALE.md round 11). No-op when the
    # scan is already wide, so real-scale inputs pay nothing.
    vectors = spread_if_narrow(vectors, id_col)
    cell = target_cell_size or SEMDEDUP_TARGET_CELL
    n = vectors.count()
    # clamp to the corpus itself FIRST: for n below the rule's clamp
    # floor (e.g. 1-3 vectors) ratio stays 1, the sampling branch never
    # re-clamps, and kmeans_fit would raise "need at least k vectors"
    k = max(1, min(semdedup_num_clusters(n, target_cell_size=cell), n))
    target_train = max(max_train_rows, TRAIN_ROWS_PER_CENTROID * k)
    # deterministic sample: keep ids whose hash falls in the first
    # 1/ratio of the hash space — stable across runs and engines.
    # ceil, not floor: floor made the sample up to ~2x the target
    # (n just under 2x target -> ratio 1 -> no sampling at all)
    ratio = max(1, math.ceil(n / target_train))
    train = vectors.select(id_col, vec_col)
    if ratio > 1:
        train = train.where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(ratio)) == 0)
        # the hash-sample's size is a random variable around n/ratio;
        # k must not exceed what actually materialized
        k = max(1, min(k, train.count()))
    centroids = kmeans_fit(
        train, vec_col, id_col, k=k, max_iter=kmeans_iters, round_centroids=6
    )
    return semantic_dedup(
        vectors, vec_col, id_col, centroids,
        threshold=threshold, round_digits=round_digits,
        # unseen corpus -> always surface the cell histogram (the
        # quadratic-cell hazard the sizing rule protects against)
        log_cell_stats=True,
    )


def semdedup_build_index(
    vectors: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: "DataFrame | list",
    round_digits: int = 4,
) -> DataFrame:
    """The persisted side of incremental SemDeDup: (id, centroid_id,
    vec) for every indexed vector — the map-side argmax runs ONCE at
    ingest time and the cell assignment is stored (parquet partitioned
    or bucketed by centroid_id makes the daily probe co-located), so
    increments never re-assign the corpus.

    NULL embeddings (upstream encoder failures) are EXCLUDED from the
    index: ivf_assign emits them with a null centroid_id (round 12 —
    previously they crashed the matmul path or silently clustered in
    the lowest-id cell), and an unjudgeable vector must not become a
    cell member — downstream the sink's touched-cell sort and the
    partition-swap protocol address cells by integer id, and the
    documented semantics ('a document with no embedding cannot be
    semantically judged and survives') already treat such documents as
    out of the semantic stage entirely."""
    return (
        ivf_assign(
            vectors.select(id_col, vec_col),
            vec_col,
            id_col,
            centroids,
            nprobe=1,
            round_digits=round_digits,
        )
        .where(F.col("centroid_id").isNotNull())
        .select(id_col, "centroid_id", vec_col)
    )


def semantic_dedup_incremental(
    index: DataFrame,
    new_vectors: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: "DataFrame | list",
    threshold: float = 0.95,
    round_digits: int = 4,
    new_assigned: "DataFrame | None" = None,
) -> "tuple[DataFrame, DataFrame]":
    """Daily-increment semantic dedup: near-duplicate pairs INVOLVING a
    new vector, probed against a persisted cell index
    (semdedup_build_index output). Shape and contract:

    - new-vs-OLD pairs: the new vectors' cells equi-join the index —
      cost tracks the increment times cell occupancy, never the corpus;
    - new-vs-NEW pairs: in-cell combination over just the increment;
    - REPLACE semantics: an id present in the increment supersedes its
      index rows (anti-join), so re-ingested documents neither pair
      against their own stale embedding nor accumulate versions;
    - returns (pairs, updated_index); pairs is (id_a, id_b, cosine)
      with id_a < id_b, updated_index feeds tomorrow.

    Equivalence contract (pinned in tests/test_semdedup.py): the pair
    set EQUALS the full in-cell recompute over surviving-old + new
    vectors restricted to pairs touching a new id. The quantizer must
    be the SAME centroid set the index was built with — cells are only
    comparable under one quantizer; retraining it means rebuilding the
    index (k-means-sized work, amortized over the corpus it indexes).

    new_assigned: the increment ALREADY assigned to cells
    (semdedup_build_index output, materialized) — callers that need the
    assignment themselves first (the cell-partitioned streaming sink
    collects touched cells from it) pass it in so the argmax fold runs
    once, not twice. Must be the assignment of exactly `new_vectors`
    under exactly `centroids`.
    """
    if new_assigned is None:
        new_assigned = semdedup_build_index(
            new_vectors, vec_col, id_col, centroids, round_digits=round_digits
        ).localCheckpoint(eager=True)  # read by 3 consumers: 2 joins + union
    surviving = index.join(
        new_assigned.select(id_col).distinct(), id_col, "left_anti"
    )

    def _side(df: DataFrame, tag: str) -> DataFrame:
        v = F.col(vec_col)
        return df.select(
            F.col(id_col).alias(f"_id{tag}"),
            F.col("centroid_id"),
            v.alias(f"_v{tag}"),
            l2_norm(v).alias(f"_n{tag}"),
        )

    def _score(left: DataFrame, right: DataFrame) -> DataFrame:
        return (
            left.join(right, "centroid_id")
            .select(
                "_ida",
                "_idb",
                F.round(
                    dot_product(F.col("_va"), F.col("_vb"))
                    / (F.col("_na") * F.col("_nb")),
                    round_digits,
                ).alias("cosine"),
            )
            .where(F.col("cosine") >= F.lit(threshold))
        )

    nv_a, nv_b = _side(new_assigned, "a"), _side(new_assigned, "b")
    cross = _score(nv_a, _side(surviving, "b")).where(F.col("_ida") != F.col("_idb"))
    within = _score(nv_a, nv_b).where(F.col("_ida") < F.col("_idb"))
    pairs = (
        cross.unionByName(within)
        .select(
            F.least(F.col("_ida"), F.col("_idb")).alias("id_a"),
            F.greatest(F.col("_ida"), F.col("_idb")).alias("id_b"),
            "cosine",
        )
        .distinct()
    )
    updated = surviving.unionByName(new_assigned)
    return pairs, updated
