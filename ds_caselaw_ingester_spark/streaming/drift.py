"""Streaming corpus-drift monitor: maintain a running token-count
table from a document stream via foreachBatch, and score each epoch's
cumulative distribution against a fixed REFERENCE corpus with
Jensen-Shannon divergence (operators/snapshot.py) — the "did our
upstream feed change under us" alarm a production ingestion pipeline
runs continuously (a new boilerplate source, a broken extractor, or a
language mix shift all move unigram mass long before anything fails).

Why this sink may rewrite its whole table per epoch when the SemDeDup
sink must not (the r7 weak_count finding): the maintained state here is
VOCAB-sized, not corpus-sized — a (token, n) table bounded by the
distinct-token count, millions of rows at worst, independent of how
many billions of documents streamed through. O(vocab) write
amplification per epoch is the floor for any count merge; partitioning
it would only add files. The crash-safety contract is the shared one:
recover_swap before reading, tmp-dir write, rename commit
(operators/compaction.py). Redelivery: a crash BEFORE commit_swap
leaves the table unchanged, so the replay recomputes the same merge; a
crash AFTER commit but before the offset checkpoint is the case the
`_applied_epoch` sidecar exists for (see apply_drift_batch — count
merges are NOT idempotent, so redelivered epochs must be detected).

The reference side is a fixed (token, n) parquet written once by
`write_reference`; scoring joins two vocab-sized tables
(js_divergence_counts — nano-rounded, engine-replayable).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.compaction import local_path

logger = logging.getLogger(__name__)


def write_reference(docs: DataFrame, path: str, text_col: str = "text") -> None:
    """Aggregate and persist the reference (token, n) table once."""
    from ds_caselaw_ingester_spark.operators.snapshot import token_counts

    token_counts(docs, text_col).write.mode("overwrite").parquet(path)


def _applied_epoch(local: str) -> "int | None":
    import os

    marker = os.path.join(local, "_applied_epoch")
    if not os.path.exists(marker):
        return None
    with open(marker) as fh:
        return int(fh.read().strip())


def apply_drift_batch(
    batch: DataFrame,
    counts_path: str,
    text_col: str = "text",
    epoch_id: "int | None" = None,
) -> None:
    """Merge one micro-batch's token counts into the running table at
    `counts_path` (parquet (token, n), tmp+rename swap). Empty batches
    are a no-op.

    epoch_id makes redelivery safe: a count MERGE is not idempotent
    (unlike the upsert/SCD sinks' per-key applies), so a batch replayed
    after a crash between commit_swap and the offset checkpoint would
    DOUBLE-COUNT. The applied epoch is recorded in an `_applied_epoch`
    sidecar written into the tmp dir BEFORE the atomic rename (parquet
    readers ignore underscore-prefixed files), so table + marker swap
    together; a redelivered epoch <= the marker is a detected no-op."""
    from ds_caselaw_ingester_spark.operators.compaction import (
        commit_swap,
        read_parquet_or_none,
        recover_swap,
    )
    from ds_caselaw_ingester_spark.operators.snapshot import token_counts

    import os

    spark = batch.sparkSession
    local = local_path(counts_path)
    # reconcile a prior crash BEFORE reading (the shared sink rule:
    # without it, a crash between the two renames strands the table in
    # .old and the next epoch would bootstrap fresh over the only copy)
    recover_swap(local, local + ".tmp", local + ".old", exclusive=True)
    if epoch_id is not None:
        applied = _applied_epoch(local)
        if applied is not None and epoch_id <= applied:
            logger.info(
                "drift_monitor: epoch %s already applied (marker %s), skipping",
                epoch_id, applied,
            )
            return
    delta = token_counts(batch, text_col).localCheckpoint()
    if not delta.take(1):
        return
    current = read_parquet_or_none(spark, counts_path)
    merged = delta if current is None else (
        current.unionByName(delta)
        .groupBy("token")
        .agg(F.sum("n").alias("n"))
    )
    merged.write.mode("overwrite").parquet(local + ".tmp")
    if epoch_id is not None:
        with open(os.path.join(local + ".tmp", "_applied_epoch"), "w") as fh:
            fh.write(str(epoch_id))
    commit_swap(local)


def drift_score(
    spark, counts_path: str, reference_path: str, round_digits: int = 6
) -> float:
    """JSD between the maintained counts and the reference table."""
    from ds_caselaw_ingester_spark.operators.snapshot import (
        js_divergence_counts,
    )

    return js_divergence_counts(
        spark.read.parquet(reference_path),
        spark.read.parquet(counts_path),
        round_digits,
    )


def run_drift_monitor(
    stream: DataFrame,
    counts_path: str,
    reference_path: str,
    checkpoint: str,
    text_col: str = "text",
    score_every: int = 4,
    warn_threshold: float = 0.1,
    on_score=None,
):
    """Wire the monitor onto a streaming DataFrame of documents.
    Returns the StreamingQuery. Every `score_every` epochs the
    cumulative JSD vs the reference is computed; scores cross
    `warn_threshold` -> WARN log. on_score(epoch_id, jsd) receives
    every computed score (dashboards, tests)."""
    import os

    if score_every <= 0:
        raise ValueError(f"score_every must be positive, got {score_every}")
    counts_local = local_path(counts_path)

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        apply_drift_batch(batch, counts_path, text_col, epoch_id=epoch_id)
        if epoch_id % score_every == score_every - 1:
            # existence check, NOT a blanket except: the only benign
            # no-score state is "no non-empty batch has built the table
            # yet" — a bad reference_path or a corrupt table must
            # propagate and fail the query, or the monitor would run
            # green forever while the one thing it watches goes dark
            if not os.path.isdir(counts_local):
                logger.info(
                    "drift_monitor: no counts table yet at epoch %s", epoch_id
                )
                return
            jsd = drift_score(batch.sparkSession, counts_path, reference_path)
            if jsd >= warn_threshold:
                logger.warning(
                    "drift_monitor: JSD vs reference = %.6f >= %.3f at epoch %s",
                    jsd, warn_threshold, epoch_id,
                )
            if on_score is not None:
                on_score(epoch_id, jsd)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .start()
    )
