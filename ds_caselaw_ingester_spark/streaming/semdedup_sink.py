"""Streaming semantic dedup: maintain a persisted SemDeDup cell index
from an embedding stream and emit near-duplicate pairs per micro-batch.

The batch operator (operators/semdedup.py semantic_dedup) re-clusters
the whole corpus; a streaming corpus needs duplicate decisions as
embeddings ARRIVE, probed against everything already indexed.
Composition, all from parts this engine already tests:

- the per-batch work is `semantic_dedup_incremental` — assignment of
  only the increment (map-side argmax, centroids as plan literals),
  new-vs-index probe via the cell equi-join, replace semantics for
  re-ingested ids;
- the index is parquet PARTITIONED BY CELL (`centroid_id=<k>/`
  directories) and a micro-batch rewrites ONLY the cells it touches,
  via the same per-partition rename protocol as the bucketed upsert
  (operators/upsert.py, compaction.swap_partition_dirs /
  recover_buckets): write-tmp → per-cell rename with an `.old`
  fallback, every crash point reconciled before the next batch's
  read. The earlier flat layout rewrote the ENTIRE index parquet
  every micro-batch — O(corpus) write amplification per epoch, the
  one scale-killer the batch operators didn't have. Here the write
  is O(touched cells) ≈ O(batch × corpus/k): a small batch touches
  few cells and each cell is corpus/k small. The cell is also the
  probe's join key, so the READ is pruned to the same partitions.
- pairs append to a separate directory per epoch — an append-only
  decision log downstream consumers (connected components, keep-one)
  fold at their own cadence, exactly the batch pipeline's
  pairs-then-components split.

Touched cells = cells of the increment's vectors UNION cells holding
superseded ids. The second set exists because replace semantics must
remove a re-ingested id's OLD row even when its new embedding landed
in a different cell; finding those rows is a column-pruned (id,
partition-dir) probe of the index — it reads only the id column, never
the vectors that dominate the index's bytes.

The quantizer is FIXED for the life of the stream: cells are only
comparable under one centroid set. Retraining it is an offline event —
rebuild the index with semdedup_build_index and restart the stream
(k-means-sized work, amortized over the corpus it indexes).

Redelivery: checkpointed offsets make batch replay the only
double-apply risk; replaying a batch converges because replace
semantics re-supersede the same ids and the pair epoch directory is
overwritten per epoch_id, not appended blindly.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.compaction import (
    ensure_partitioned_layout,
    local_path,
    partition_file_snapshot,
    recover_buckets,
    swap_partition_dirs,
    write_json_atomic,
)
from ds_caselaw_ingester_spark.operators.semdedup import (
    semantic_dedup_incremental,
    semdedup_build_index,
)

CELL_COL = "centroid_id"

# Bootstrap sizing margin: the quantizer trained on the FIRST batch must
# serve the corpus the stream will GROW INTO — k is derived from
# first_batch_rows × this factor (sizing.semdedup_num_clusters), clamped
# to the batch itself. 10× is one decade of growth at constant cell
# size; past that the under-partitioning WARN below fires and the
# documented remedy is the offline retrain + semdedup_build_index
# rebuild (cells are only comparable under one quantizer).
BOOTSTRAP_GROWTH = 10.0

# WARN once the sizing rule wants this many times more cells than the
# stream's fixed quantizer has — in-cell pair work is quadratic in
# occupancy, so 4× the target cell size ≈ 16× the per-cell join cost.
GROWTH_WARN_FACTOR = 4.0

# the quantizer lives INSIDE the index directory (underscore-prefixed,
# so Spark's file listing ignores it). A retrain can then swap index
# and quantizer with ONE directory rename — no window where the cells
# on disk and the centroid set that built them disagree.
_QUANTIZER_FILE = "_quantizer.json"
# in-dir pin of the optional PCA projection in front of the sink (see
# apply_semdedup_batch's pca_model): the stored cells hold PROJECTED
# vectors, so the projection is part of the index's identity exactly
# like the quantizer — a restart without the model (or with a
# different one) would probe raw dims against reduced-space cells and
# silently miss every near-dup. Underscore-prefixed so Spark's file
# listing ignores it; rides the same whole-directory retrain swap.
_PCA_FILE = "_pca.json"


def _load_quantizer(local: str) -> "list | None":
    import json

    p = os.path.join(local, _QUANTIZER_FILE)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _pca_fingerprint(model: dict) -> str:
    import hashlib
    import json

    return hashlib.md5(
        json.dumps(
            [model["components"], model["mean"], bool(model.get("center"))]
        ).encode()
    ).hexdigest()


def _check_pca_pin(local: str, pca_model: "dict | None") -> None:
    """Validate (or first-contact pin) the index's PCA projection.
    Mirrors the quantizer contract: pinned at bootstrap, constant for
    the index's life, drift raises instead of silently mixing vector
    spaces."""
    import json

    pin_path = os.path.join(local, _PCA_FILE)
    pinned = None
    if os.path.exists(pin_path):
        with open(pin_path) as f:
            pinned = json.load(f)
    if pca_model is None:
        if pinned is not None:
            raise ValueError(
                f"{local} was built with a PCA projection "
                f"(fingerprint {pinned['md5']}, k={pinned['k']}) but this "
                "run passes no pca_model — probing raw vectors against "
                "reduced-space cells would silently miss every pair. "
                "Restart with the SAME model, or rebuild the index."
            )
        return
    fp = _pca_fingerprint(pca_model)
    k = len(pca_model["components"])
    if pinned is None:
        if os.path.isdir(local) and any(
            e.startswith(f"{CELL_COL}=") for e in os.listdir(local)
        ):
            raise ValueError(
                f"{local} holds cells built WITHOUT a PCA projection; "
                "adding one now would mix vector spaces — rebuild the "
                "index from projected vectors first."
            )
        os.makedirs(local, exist_ok=True)
        write_json_atomic(pin_path, {"md5": fp, "k": k})
    elif pinned["md5"] != fp:
        raise ValueError(
            f"{local} is pinned to PCA fingerprint {pinned['md5']} "
            f"(k={pinned['k']}) but this run passes a different model "
            f"({fp}, k={k}); the stored cells live in the pinned "
            "projection's space — rebuild to change the projection."
        )


def _save_quantizer(local: str, cents: "list") -> None:
    """Atomic single-file persist (write tmp + os.replace) into the
    index directory: the quantizer must survive a stream restart —
    retraining on a later batch would silently make every indexed cell
    incomparable."""
    os.makedirs(local, exist_ok=True)
    write_json_atomic(
        os.path.join(local, _QUANTIZER_FILE),
        [
            {"centroid_id": int(c["centroid_id"]), "cvec": [float(x) for x in c["cvec"]]}
            for c in cents
        ],
    )


def _resolve_centroids(
    batch: DataFrame,
    local: str,
    vec_col: str,
    id_col: str,
    bootstrap_growth: float,
) -> "list | None":
    """centroids='auto' resolution: load the persisted quantizer, or —
    first non-empty batch only — derive k from the batch size × the
    growth margin (sizing.semdedup_num_clusters), train, persist.
    Returns None when the batch is empty and no quantizer exists yet
    (nothing to do this epoch)."""
    import logging

    from ds_caselaw_ingester_spark.operators.similarity import kmeans_fit
    from ds_caselaw_ingester_spark.operators.sizing import (
        semdedup_num_clusters,
    )

    cents = _load_quantizer(local)
    if cents is not None:
        return cents
    if os.path.isdir(local) and any(
        e.startswith(f"{CELL_COL}=") for e in os.listdir(local)
    ):
        # cell partitions without the sidecar: someone restored/copied
        # the index directory alone. Training a FRESH quantizer here
        # would probe stored cells under an incomparable centroid set —
        # near-dups against the whole existing corpus silently missed.
        raise ValueError(
            f"{local} has {CELL_COL}= partitions but no quantizer at "
            f"{local}/{_QUANTIZER_FILE}; cells are only comparable "
            "under the centroid set that built them — restore the "
            "quantizer file alongside the index, or rebuild the index "
            "(retrain_semdedup_index)."
        )
    if batch.isEmpty():
        return None
    n0 = batch.count()
    k = max(1, min(semdedup_num_clusters(int(n0 * bootstrap_growth)), n0))
    cents = kmeans_fit(
        batch.select(id_col, vec_col), vec_col, id_col, k=k,
        max_iter=3, round_centroids=6,
    )
    _save_quantizer(local, cents)
    logging.getLogger(__name__).info(
        "semdedup stream bootstrap: trained k=%d quantizer from the "
        "first batch (%d vectors × growth margin %.0f); persisted to "
        "%s — retrain offline and rebuild the index to re-size",
        k, n0, bootstrap_growth, os.path.join(local, _QUANTIZER_FILE),
    )
    return cents


def _warn_if_under_partitioned(spark, index_path: str, k: int) -> None:
    """Growth check after each swap: parquet count() is footer-metadata
    only (no data bytes read), so comparing the indexed total against
    the sizing rule is near-free. Fires when the rule wants
    GROWTH_WARN_FACTOR× more cells than the stream's fixed quantizer
    has — the streaming analog of semantic_dedup's cell-skew WARN."""
    import logging

    from ds_caselaw_ingester_spark.operators.sizing import (
        semdedup_num_clusters,
    )

    n_total = spark.read.parquet(index_path).count()
    derived = semdedup_num_clusters(n_total)
    if derived > GROWTH_WARN_FACTOR * max(1, k):
        logging.getLogger(__name__).warning(
            "semdedup stream index has grown to %d vectors; the sizing "
            "rule wants k=%d cells but the stream's quantizer has %d — "
            "mean cell occupancy is ~%.0fx target and in-cell pair work "
            "grows quadratically. Retrain the quantizer offline and "
            "rebuild the index (semdedup_build_index), then restart the "
            "stream.",
            n_total, derived, k, derived / max(1, k),
        )


def apply_semdedup_batch(
    batch: DataFrame,
    index_path: str,
    pairs_path: str,
    vec_col: str,
    id_col: str,
    centroids: "list | str",
    threshold: float = 0.95,
    epoch_id: int = 0,
    bootstrap_growth: float = BOOTSTRAP_GROWTH,
    growth_check_every: int = 16,
    pca_model: "dict | None" = None,
) -> None:
    """One micro-batch: probe `batch` against the cell-partitioned index
    at `index_path`, write this epoch's pairs, swap in ONLY the touched
    cell partitions. Empty batches are a no-op. First batch bootstraps
    the index (its touched set is every cell it populates).

    centroids: a fixed centroid list, or the string "auto" — then the
    first non-empty batch derives k from its own size × bootstrap_growth
    (sizing.semdedup_num_clusters), trains the quantizer, and persists
    it beside the index (atomic rename; reloaded on every later batch
    and across stream restarts). Either way the quantizer is FIXED for
    the index's life; once the corpus outgrows it, the sink WARNs (see
    _warn_if_under_partitioned) and the remedy is an offline retrain +
    rebuild.

    pca_model: optional pca_fit output — the batch is PROJECTED
    map-side before assignment, probing, and indexing, so the stored
    cells, the quantizer, the pair decisions, and every shuffle live in
    the reduced space (the curate_corpus pca_model semantics, applied
    to the stream; at 100 TB the index's vector bytes shrink dim/k).
    The projection becomes part of the index's identity: its
    fingerprint is pinned in an in-dir `_pca.json` at bootstrap, a
    restart without the model (or with a different one) raises, an
    existing raw index refuses a late-added projection, and the pin
    rides the retrain's whole-directory swap — the retrain itself reads
    the index's own (already-projected) vectors, so the loop stays
    closed.
    """
    spark = batch.sparkSession
    local = local_path(index_path)
    # refuse to run under an unfinished retrain: a crash between
    # commit_swap's two renames can leave `local` MISSING with the only
    # full pre-retrain index parked in .retrain-old — a restarted stream
    # would silently bootstrap a fresh quantizer+index over nothing, and
    # the next retrain's recover_swap would then delete .retrain-old.
    # The marker makes that crash point loud; the remedy is re-running
    # retrain_semdedup_index (its recover_swap heals either rename).
    if os.path.exists(local + ".retraining"):
        raise RuntimeError(
            f"{index_path} has an unfinished retrain (the .retraining "
            "marker exists): re-run retrain_semdedup_index to heal the "
            "swap before restarting the stream"
        )
    # refuse a FLAT index (written by the pre-partitioned version of
    # this sink): bootstrapping over it would mix two layouts — rebuild
    # it with semdedup_build_index + a partitioned write first
    ensure_partitioned_layout(local, CELL_COL)
    # reconcile any per-cell crash point BEFORE reading: a crash between
    # the two renames leaves centroid_id=N only in centroid_id=N.old
    recover_buckets(local, prefix=f"{CELL_COL}=")
    # vector-space pin BEFORE anything reads or writes cells: raw vs
    # projected mismatches must refuse, not silently miss pairs
    _check_pca_pin(local, pca_model)
    if pca_model is not None:
        from ds_caselaw_ingester_spark.operators.pca import pca_project

        others = [c for c in batch.columns if c != vec_col]
        batch = pca_project(batch, vec_col, pca_model, out_col="_pca_tmp").select(
            *others, F.col("_pca_tmp").alias(vec_col)
        )
    if isinstance(centroids, str):
        if centroids != "auto":
            raise ValueError(f"centroids must be a list or 'auto', got {centroids!r}")
        centroids = _resolve_centroids(
            batch, local, vec_col, id_col, bootstrap_growth
        )
        if centroids is None:
            return  # empty batch before any quantizer exists
    if batch.isEmpty():
        return
    # assign the increment ONCE (map-side argmax); three consumers —
    # touched-cell collect, the probe joins, the updated-index union
    new_assigned = semdedup_build_index(
        batch, vec_col, id_col, centroids
    ).localCheckpoint(eager=True)
    # bounded by k — the driver-side list that becomes both the read's
    # partition-pruning predicate and the swap's touched set
    touched = {r[CELL_COL] for r in new_assigned.select(CELL_COL).distinct().collect()}

    # This touched-cell swap stays separate from
    # compaction.merge_touched_buckets: the cells come from the data
    # (centroid ids), not a key modulus; the touched set grows AFTER the
    # read (cells holding stale ids); and the merge has a second output,
    # the epoch's pairs. It keeps the same single-writer check: snapshot
    # the increment's cells before the read lists the index, the stale
    # cells once the probe has found them, and abort the swap if any
    # touched cell's files changed since (a stale cell changed between
    # the listing and its snapshot goes unseen — plain parquet has no
    # commit log).
    snapshot = partition_file_snapshot(local, sorted(touched), CELL_COL)

    # presence = at least one cell partition dir (read_parquet_or_none
    # would raise on an empty-but-existing dir — a crash window between
    # the swap's makedirs and its first rename)
    has_index = os.path.isdir(local) and any(
        e.startswith(f"{CELL_COL}=") for e in os.listdir(local)
    )
    if has_index:
        index = spark.read.parquet(index_path)
        # partition-column round-trip: dirs come back as ints; the
        # assignment emits longs — align before joins/unions
        index = index.withColumn(CELL_COL, F.col(CELL_COL).cast("long"))
        # replace semantics across cells: a re-ingested id whose new
        # embedding moved cells leaves a stale row in its OLD cell —
        # find those cells with a column-pruned id probe (reads the id
        # column only; cell is free from the directory name)
        batch_ids = new_assigned.select(id_col).distinct()
        stale = (
            index.join(F.broadcast(batch_ids), id_col, "semi")
            .select(CELL_COL)
            .distinct()
            .collect()
        )
        touched |= {r[CELL_COL] for r in stale}
        current = index.where(F.col(CELL_COL).isin(sorted(touched)))
    else:
        # in-batch pairs still matter on bootstrap: probe against an
        # empty index of the same schema
        current = new_assigned.limit(0)
    touched_cells = sorted(touched)
    snapshot.update(
        partition_file_snapshot(local, sorted(touched.difference(snapshot)), CELL_COL)
    )
    pairs, updated = semantic_dedup_incremental(
        current, batch, vec_col, id_col, centroids,
        threshold=threshold, new_assigned=new_assigned,
    )
    # epoch-keyed pair output: replaying the same epoch overwrites its
    # own directory (idempotent) instead of double-appending
    pairs.write.mode("overwrite").parquet(
        os.path.join(pairs_path, f"epoch={epoch_id}")
    )
    # `updated` holds exactly the touched cells' post-state (surviving
    # old rows of those cells ∪ the increment); materialize it
    # partitioned by cell and swap only those directories — untouched
    # cells are never opened, listed, or rewritten
    tmp = local + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    # cluster rows on the cell before the partitionBy write: one file
    # per touched cell instead of one per (write task × cell) — the
    # fragmentation cliff measured in docs/SCALE.md (curation sink
    # round 9 late); the repartition shuffle is O(touched cells' rows)
    updated.repartition(F.col(CELL_COL)).write.mode("overwrite").partitionBy(
        CELL_COL
    ).parquet(tmp)
    after = partition_file_snapshot(local, touched_cells, CELL_COL)
    changed = [c for c in touched_cells if after[c] != snapshot[c]]
    if changed:
        # the epoch's pairs are already written; a redelivery of the
        # epoch overwrites them, so aborting here leaves nothing to undo
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"cell(s) {changed} of {local} were modified by another "
            "writer during the merge; aborting without swapping "
            "(single-writer contract — serialize batches or use a "
            "transactional table format)."
        )
    swap_partition_dirs(local, tmp, touched_cells, CELL_COL)
    # amortized: the growth check lists every cell partition (footer
    # metadata only, but O(index files)) — running it every epoch would
    # contradict the touched-cells-only cost contract, so it samples
    # every growth_check_every epochs. Corpus growth is gradual; a WARN
    # a few epochs late changes nothing about the remedy.
    if growth_check_every > 0 and epoch_id % growth_check_every == 0:
        k_actual = (
            len(centroids) if isinstance(centroids, list) else centroids.count()
        )
        _warn_if_under_partitioned(spark, index_path, k_actual)


def retrain_semdedup_index(
    spark,
    index_path: str,
    vec_col: str,
    id_col: str,
    k: "int | None" = None,
    max_iter: int = 3,
) -> "list[dict]":
    """The documented remedy for _warn_if_under_partitioned, end to
    end: re-size the quantizer from the CURRENT corpus, rebuild the
    cell index under it, and swap both in atomically. Offline
    maintenance — QUIESCE the stream first (stop the query; restart it
    afterwards with centroids='auto' and it loads the new quantizer).

    The index stores each vector alongside its cell
    (semdedup_build_index's (id, cell, vec) schema), so the rebuild
    needs no access to the original stream: one read of the index's
    vectors trains k-means (k from sizing.semdedup_num_clusters over
    the actual count unless given), one map-side re-assignment writes
    the new cell layout.

    Atomicity: the new quantizer is written INSIDE the rebuilt tmp
    directory before the whole-directory swap, so a single rename
    carries index and centroid set together — there is no crash point
    where stored cells and the quantizer that defines them disagree
    (the failure the in-dir `_quantizer.json` location exists to
    prevent; a root-level sidecar could not be swapped with the data).
    Crash recovery reuses the standard swap protocol
    (compaction.recover_swap — single maintenance writer);
    a stale legacy sidecar is removed after the swap so it can never
    shadow a future missing in-dir file with pre-retrain centroids.
    A `.retraining` marker brackets the whole operation: written before
    recovery/swap, removed only after commit_swap, and
    apply_semdedup_batch refuses to run while it exists — so a crash
    between commit_swap's two renames (local momentarily missing) can
    never be papered over by a restarted stream bootstrapping a fresh
    index on top of the orphaned .retrain-old.

    Returns the new centroid list."""
    from ds_caselaw_ingester_spark.operators.compaction import (
        commit_swap,
        recover_swap,
    )
    from ds_caselaw_ingester_spark.operators.similarity import kmeans_fit
    from ds_caselaw_ingester_spark.operators.sizing import (
        semdedup_num_clusters,
    )

    local = local_path(index_path)
    tmp, old = local + ".retrain-tmp", local + ".retrain-old"
    # marker FIRST: from here until commit_swap completes, a concurrent
    # or restarted stream must refuse to touch the index (see
    # apply_semdedup_batch) — recover_swap's sole-writer precondition
    # ("local only exists via a completed whole-dir rename") does not
    # hold for an index the sink maintains via per-cell swaps, so the
    # marker is what closes the crash-between-renames window where a
    # bootstrapping stream could orphan .retrain-old.
    marker = local + ".retraining"
    with open(marker, "w") as f:
        f.write("retrain_semdedup_index in progress\n")
    recover_swap(local, tmp, old)
    recover_buckets(local, prefix=f"{CELL_COL}=")
    from ds_caselaw_ingester_spark.sources.catalog import spread_if_narrow

    # production maintenance entry over its own stored layout: a small
    # or freshly-compacted index can plan as 1-2 splits, which would
    # serialise the k-means scans and the map-side re-assignment on
    # 1-2 cores (the semantic_dedup_auto guard's rationale); an
    # already-wide cell layout passes untouched
    vecs = spread_if_narrow(
        spark.read.parquet(index_path).select(id_col, vec_col), id_col
    )
    n = vecs.count()
    if n == 0:
        # nothing was (or will be) mutated — lift the marker so a
        # stream against the empty index isn't wedged on a retrain
        # that can never succeed
        os.remove(marker)
        raise ValueError(f"{index_path} holds no vectors; nothing to retrain")
    if k is None:
        k = semdedup_num_clusters(n)
    k = max(1, min(k, n))
    cents = kmeans_fit(
        vecs, vec_col, id_col, k=k, max_iter=max_iter, round_centroids=6
    )
    rebuilt = semdedup_build_index(vecs, vec_col, id_col, cents)
    shutil.rmtree(tmp, ignore_errors=True)
    # rebuilds rewrite EVERY cell from every task — exactly the (task ×
    # partition) fragmentation regime; cluster on the cell first
    rebuilt.repartition(F.col(CELL_COL)).write.mode("overwrite").partitionBy(
        CELL_COL
    ).parquet("file:" + tmp)
    _save_quantizer(tmp, cents)
    # the PCA pin is part of the index's identity (the retrain read the
    # index's own already-projected vectors, so the projection is
    # unchanged) — carry it through the swap
    pca_pin = os.path.join(local, _PCA_FILE)
    if os.path.exists(pca_pin):
        shutil.copyfile(pca_pin, os.path.join(tmp, _PCA_FILE))
    commit_swap(local, tmp, old)
    # swap is complete and crash-consistent — lift the stream lockout
    os.remove(marker)
    return cents


def run_semdedup_stream(
    embeddings: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    vec_col: str,
    id_col: str,
    centroids: "list | str",
    threshold: float = 0.95,
    pca_model: "dict | None" = None,
):
    """Materialize the embedding stream as a maintained cell index plus
    an append-only near-dup pair log. pca_model projects every batch
    map-side first (see apply_semdedup_batch — pinned, drift raises)."""

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        apply_semdedup_batch(
            batch_df,
            index_path,
            pairs_path,
            vec_col,
            id_col,
            centroids,
            threshold=threshold,
            epoch_id=epoch_id,
            pca_model=pca_model,
        )

    return (
        embeddings.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
