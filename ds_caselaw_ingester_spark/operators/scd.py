"""SCD Type-2 history — effective-dated MERGE, the auditable sibling of
the in-place upsert (operators/upsert.py).

The reference overwrites documents in place and keeps a version counter
(ingester.py VersionAnnotation); an analytics store usually wants the
other trade: never lose a prior state. Type-2 closes the current row
and opens a new one whenever a key's payload actually changes:

    (key, payload..., effective_from, effective_to NULL, is_current)

Apply semantics per batch at `batch_ts`:
- unseen key                  -> open a current row [batch_ts, NULL)
- current row, payload equal  -> unchanged (re-applying a batch is a
  no-op — the idempotency that makes at-least-once replay safe)
- current row, payload differs-> close it [.., batch_ts) and open the
  successor [batch_ts, NULL)
- already-closed rows         -> pass through untouched

Scale shape: ONLY the current slice joins the batch (keyed equi-join on
the key — bucket/pre-partition both sides at 100 TB and it is
co-located; see operators/bucketing.py); the closed history — the bulk
of the table, growing forever — is a pass-through union that never
enters the shuffle. Change detection compares an md5 over the payload
columns, so the wide payload itself is not carried through the join
comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _payload_hash(cols: "list[str]") -> Column:
    # null-safe, delimiter-framed: (a=None, b='x') never collides with
    # (a='x', b=None) because each value is length-prefix-framed
    parts = [
        F.concat(
            F.lit(f"{c}:"),
            F.coalesce(F.length(F.col(c).cast("string")).cast("string"), F.lit("-")),
            F.lit(":"),
            F.coalesce(F.col(c).cast("string"), F.lit("")),
        )
        for c in cols
    ]
    return F.md5(F.concat_ws("", *parts))


def scd2_apply(
    history: "DataFrame | None",
    updates: DataFrame,
    key: str,
    payload_cols: "list[str]",
    batch_ts: str,
    validate: bool = False,
) -> DataFrame:
    """Apply one batch of (key, payload) rows to an SCD2 history table
    at timestamp `batch_ts` (ISO string, becomes effective_from).
    history=None bootstraps an empty table. Returns the new history.

    The batch must be key-unique (one state per key per batch);
    validate=True spends one aggregation job to raise on duplicates
    instead of silently fanning out the full-outer join.

    batch_ts must be STRICTLY AFTER every current row's effective_from
    — applying an older batch would close current rows with INVERTED
    intervals (unreachable by scd2_as_of) and resurrect stale payloads
    as current, silently. validate=True also checks this (one max()
    over the current slice); the streaming sink enforces it cheaper by
    clamping (streaming/scd_sink.py apply_scd2_batch_bucketed) since it
    already collects the max for event-time monotonicity. Batch callers
    replaying history must apply batches in timestamp order."""
    ts = F.to_timestamp(F.lit(batch_ts))
    if validate:
        dup = (
            updates.groupBy(key).count().where(F.col("count") > 1).limit(1).collect()
        )
        if dup:
            raise ValueError(f"scd2_apply: duplicate key in batch: {dup[0][key]!r}")
        if history is not None:
            newest = (
                history.where(F.col("is_current"))
                .select(F.max("effective_from").alias("m"))
                .collect()[0]["m"]
            )
            import datetime as dt

            try:
                bt = dt.datetime.fromisoformat(batch_ts)
            except ValueError:
                bt = None  # exotic literal: Spark parses it; skip the guard
            if bt is not None and bt.tzinfo is not None:
                # normalize to naive UTC: `newest` comes back tz-naive
                # from Spark, and aware-vs-naive >= raises TypeError
                # instead of the intended out-of-order ValueError
                bt = bt.astimezone(dt.timezone.utc).replace(tzinfo=None)
            if newest is not None and bt is not None and newest >= bt:
                raise ValueError(
                    f"scd2_apply: batch_ts {batch_ts!r} is not after the "
                    f"newest current effective_from ({newest}); an "
                    "out-of-order apply writes inverted validity intervals "
                    "— apply batches in timestamp order (the streaming "
                    "sink clamps instead: streaming/scd_sink.py)"
                )
    u = updates.select(
        F.col(key),
        *[F.col(c) for c in payload_cols],
    ).withColumn("_uh", _payload_hash(payload_cols))

    if history is None:
        return u.select(
            key,
            *payload_cols,
            ts.alias("effective_from"),
            F.lit(None).cast("timestamp").alias("effective_to"),
            F.lit(True).alias("is_current"),
        )

    closed = history.where(~F.col("is_current"))
    current = history.where(F.col("is_current")).withColumn(
        "_th", _payload_hash(payload_cols)
    )

    j = current.alias("t").join(
        u.alias("u"), F.col(f"t.{key}") == F.col(f"u.{key}"), "full_outer"
    )
    t_key, u_key = F.col(f"t.{key}"), F.col(f"u.{key}")
    changed = t_key.isNotNull() & u_key.isNotNull() & (F.col("_th") != F.col("_uh"))
    target_only = u_key.isNull()
    update_only = t_key.isNull()

    # surviving current rows: unchanged target rows + rows for new or
    # changed keys (opened at batch_ts)
    kept_current = j.where(~changed).where(~update_only).select(
        t_key.alias(key),
        *[F.col(f"t.{c}").alias(c) for c in payload_cols],
        F.col("effective_from"),
        F.col("effective_to"),
        F.lit(True).alias("is_current"),
    )
    opened = j.where(changed | update_only).select(
        u_key.alias(key),
        *[F.col(f"u.{c}").alias(c) for c in payload_cols],
        ts.alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    newly_closed = j.where(changed).select(
        t_key.alias(key),
        *[F.col(f"t.{c}").alias(c) for c in payload_cols],
        F.col("effective_from"),
        ts.alias("effective_to"),
        F.lit(False).alias("is_current"),
    )
    out_cols = [key, *payload_cols, "effective_from", "effective_to", "is_current"]
    return (
        closed.select(*out_cols)
        .unionAll(newly_closed)
        .unionAll(kept_current)
        .unionAll(opened)
    )


def scd2_as_of(history: DataFrame, ts: str) -> DataFrame:
    """Point-in-time reconstruction: the state of every key at `ts` —
    rows whose validity interval [effective_from, effective_to) covers
    it. A pure filter: partition/cluster the history on effective_to
    (or Z-order on both bounds, operators/layout.py) and the scan
    prunes the dead past instead of reading it."""
    t = F.to_timestamp(F.lit(ts))
    return history.where(
        (F.col("effective_from") <= t)
        & (F.col("effective_to").isNull() | (F.col("effective_to") > t))
    )
