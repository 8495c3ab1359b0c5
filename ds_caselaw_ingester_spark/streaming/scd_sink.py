"""Streaming SCD2 sink: an audit-preserving history table maintained
from a change feed via foreachBatch.

The documents sink (operators/upsert.py) keeps only the latest state;
this sink keeps every state with its validity interval
(operators/scd.py), turning the message stream into a time-travelable
dimension — "what did this document look like when the model was
trained" is a filter, not a forensic reconstruction.

Batch timestamping is EVENT-time: each micro-batch applies at the max
event timestamp it contains, so the history's validity intervals are a
property of the data, not of when the pipeline happened to run — a
backfill replay IN THE SAME BATCH ORDER produces the identical table
(the same determinism rule the rest of the engine follows). An
out-of-order batch (max event time at or behind the history's newest
effective_from) is clamped forward by a microsecond rather than
writing inverted intervals — see apply_scd2_batch_bucketed. Within a
batch, a key's rows collapse to the latest event (ts desc, then a
stable tie-break) before the merge, since SCD2 records one state per
key per apply.

Crash-safety, the layout guard and the concurrent-writer check are the
documents sink's: both run the touched-bucket MERGE
(operators/compaction.py merge_touched_buckets). Checkpointed offsets +
the event-time stamping make redelivered batches converge instead of
double-applying.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.compaction import (
    local_path,
    merge_touched_buckets,
)
from ds_caselaw_ingester_spark.operators.scd import scd2_apply


def _latest_per_key(batch: DataFrame, key: str, ts_col: str) -> DataFrame:
    w = Window.partitionBy(key).orderBy(F.col(ts_col).desc(), *[
        F.col(c).asc() for c in batch.columns if c not in (key, ts_col)
    ])
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_scd2_batch_bucketed(
    batch: DataFrame,
    path: str,
    key: str,
    payload_cols: "list[str]",
    ts_col: str = "event_time",
    n_buckets: int = 64,
) -> None:
    """One micro-batch into a history table laid out as
    ``kb=<pmod(xxhash64(key), n_buckets)>`` partitions, rewriting ONLY
    the buckets the batch's keys hash into (merge_touched_buckets).
    SCD2's apply is per-key independent (the full-outer join and the
    closed-row pass-through both key on `key`), so the closed past of
    untouched keys is never re-serialized. Empty batches are a no-op.

    The one global read is the event-time monotonicity clamp: a late
    batch whose max event time is <= the history's newest
    effective_from would write INVERTED or zero-width validity
    intervals (a closed row [10:05, 10:02) is unreachable by
    scd2_as_of, and its successor silently backdates). History time
    never goes backward: the apply timestamp is max(batch event time,
    newest effective_from + 1µs), at full microsecond precision so two
    batches inside one second cannot collapse to zero-width rows. The
    newest effective_from is a max over ALL buckets, column-pruned to
    that one timestamp column.
    """
    spark = batch.sparkSession
    # read twice: the max event time, then the per-key latest rows
    batch = batch.persist()
    cached = [batch]
    try:
        first = batch.select(F.max(F.col(ts_col)).alias("m")).collect()[0]["m"]
        if first is None:
            return
        # read twice: the touched-bucket collect, then the merge
        updates = _latest_per_key(batch, key, ts_col).select(key, *payload_cols).persist()
        cached.append(updates)

        def merge(history: "DataFrame | None", upd: DataFrame) -> DataFrame:
            batch_time = first
            if history is not None:
                newest = (
                    spark.read.parquet(local_path(path))
                    .select(F.max("effective_from").alias("m"))
                    .collect()[0]["m"]
                )
                if newest is not None and batch_time <= newest:
                    batch_time = newest + dt.timedelta(microseconds=1)
                # scd2_apply reads it twice: the closed and current slices
                history = history.persist()
                cached.append(history)
            batch_ts = batch_time.strftime("%Y-%m-%d %H:%M:%S.%f")
            return scd2_apply(history, upd, key, payload_cols, batch_ts)

        merge_touched_buckets(updates, path, key, n_buckets, merge)
    finally:
        for df in cached:
            df.unpersist()


def run_scd2_stream(
    updates: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    key: str,
    payload_cols: "list[str]",
    ts_col: str = "event_time",
    n_buckets: int = 64,
):
    """Materialize the change feed as an SCD2 history table, bucketed by
    key hash (apply_scd2_batch_bucketed)."""

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        apply_scd2_batch_bucketed(
            batch_df, table_path, key, payload_cols, ts_col, n_buckets
        )

    return (
        updates.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
