"""Streaming cardinality rollup: maintain a cumulative HLL register
table from a stream via foreachBatch — "distinct users per key, ever /
so far today" over an unbounded feed at fixed state size.

Why this is the EASY exactly-once sink (a count merge is not
idempotent and would need an applied-epoch sidecar): the HLL register
merge is register-wise MAX, which is idempotent AND commutative — a
redelivered epoch max-merged a second time produces the byte-identical
table, so crash-between-commit-and-checkpoint replays are harmless by
algebra, not by bookkeeping. No epoch sidecar exists here on purpose;
the test pins the double-apply no-op so the property is load-bearing,
not incidental. The crash-safety contract for the table file itself is
the shared one: recover_swap before reading, tmp-dir write, rename
commit (operators/compaction.py).

State size: at most m = 2^p rows per group forever (p=8 → 256), so the
per-epoch rewrite is sketch-sized — O(state) is the floor for any
register merge, and this state does not grow with vocabulary. At
100 TB/day this sink's table is kilobytes per group; the stream's cost
is the map-side register build (an ordinary partial-max groupBy per
micro-batch).

Reading the dashboard number is `sink_estimate` — hll_estimate over the
stored registers; it equals the batch hll_distinct over everything ever
streamed (pinned in tests/test_sketch_sink.py).
"""

from __future__ import annotations

import logging
from typing import Sequence

from pyspark.sql import DataFrame

from ds_caselaw_ingester_spark.operators.compaction import local_path
from ds_caselaw_ingester_spark.operators.sketches import (
    hll_estimate,
    hll_registers,
    hll_union,
)

logger = logging.getLogger(__name__)


def apply_sketch_batch(
    batch: DataFrame,
    path: str,
    group_cols: Sequence[str],
    value_col: str,
    p: int = 8,
) -> None:
    """Max-merge one micro-batch's HLL registers into the table at
    `path` (parquet (group_cols..., j, M), tmp+rename swap). Empty
    batches are a no-op; redelivered batches are an ALGEBRAIC no-op
    (max is idempotent — see module docstring)."""
    from ds_caselaw_ingester_spark.operators.compaction import (
        commit_swap,
        read_parquet_or_none,
        recover_swap,
    )

    import json
    import os

    spark = batch.sparkSession
    local = local_path(path)
    recover_swap(local, local + ".tmp", local + ".old")
    # identity guard: registers built at a different p (bucket space)
    # or a different hashed column max-merge without any schema error,
    # and the corruption would be silent and permanent — afterwards the
    # table estimates the distinct count of NEITHER configuration. The
    # table's identity is recorded in an underscore sidecar (parquet
    # readers ignore it) that swaps atomically with the data.
    stored = _read_meta(local)
    if stored is not None and stored != {"p": p, "value_col": value_col}:
        raise ValueError(
            f"register table at {path} was built as {stored}; refusing "
            f"to max-merge p={p}, value_col={value_col!r} registers into it"
        )
    delta = hll_registers(batch, group_cols, value_col, p).localCheckpoint()
    if not delta.take(1):
        return
    current = read_parquet_or_none(spark, path)
    merged = (
        delta
        if current is None
        else hll_union(current.unionByName(delta), group_cols)
    )
    merged.write.mode("overwrite").parquet(local + ".tmp")
    with open(os.path.join(local + ".tmp", "_hll_meta"), "w") as fh:
        json.dump({"p": p, "value_col": value_col}, fh)
    commit_swap(local)


def _read_meta(local: str) -> "dict | None":
    import json
    import os

    marker = os.path.join(local, "_hll_meta")
    if not os.path.exists(marker):
        return None
    with open(marker) as fh:
        return json.load(fh)


def sink_estimate(
    spark, path: str, group_cols: Sequence[str], p: "int | None" = None
) -> DataFrame:
    """Per-group distinct estimate over the maintained register table —
    identical columns to batch hll_distinct (S, zero_buckets,
    est_raw_floor, est_distinct).

    p is read from the table's `_hll_meta` sidecar by default —
    estimating at the wrong m is the same silent corruption the write
    guard refuses (a p=4 table read as p=8 always linear-counts with
    240+ phantom empty buckets). Passing p explicitly is only for
    pre-sidecar tables, and it must agree with the sidecar if one
    exists."""
    stored = _read_meta(local_path(path))
    if stored is None:
        if p is None:
            raise ValueError(
                f"register table at {path} has no _hll_meta sidecar; "
                "pass p explicitly"
            )
    else:
        if p is not None and p != stored["p"]:
            raise ValueError(
                f"register table at {path} was built with p={stored['p']}, "
                f"but p={p} was requested"
            )
        p = stored["p"]
    return hll_estimate(spark.read.parquet(path), group_cols, p)


def run_hll_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    group_cols: Sequence[str],
    value_col: str,
    p: int = 8,
):
    """Wire the rollup onto a streaming DataFrame. Returns the
    StreamingQuery. The maintained table at `path` converges to the
    batch hll_registers over everything streamed, whatever the
    micro-batch boundaries (pinned in tests)."""

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        apply_sketch_batch(batch, path, group_cols, value_col, p)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .start()
    )
