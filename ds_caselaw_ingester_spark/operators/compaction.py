"""Crash-safe swap protocols for the sinks that rewrite parquet tables
on local storage (plain parquet has no transaction log, so each rewrite
is staged in a sibling directory and renamed in):

- **whole directory**: write `<table>.tmp` -> rename the table to
  `.old` -> rename tmp in -> drop `.old` (commit_swap), with
  recover_swap reconciling every crash point before the next run's
  first destructive step (the HLL sketch sink, the SemDeDup index
  retrain);
- **per partition**: the same three steps for each touched `col=<v>`
  directory only (swap_partition_dirs), healed by recover_buckets,
  guarded by ensure_partitioned_layout / pin_partitioned_layout and
  the partition_file_snapshot concurrent-writer check — assembled for
  the keyed sinks by merge_touched_buckets.

No path deletes the only remaining copy: a crash can leave a backup to
reconcile, never silent loss.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def local_path(path: str) -> str:
    """`path` without its `file:` scheme: the local directory the
    rename-swap protocols list, rename and delete."""
    return path.removeprefix("file:")


def write_json_atomic(path: str, obj, **dump_kw) -> None:
    """Write `obj` as JSON to `path` through `path.tmp` and os.replace,
    so a reader sees the old file or the new one, never a torn one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, **dump_kw)
    os.replace(tmp, path)


def recover_swap(local: str, tmp: str, old: str) -> None:
    """Reconcile a previous run's crash point in the
    write-tmp → rename-local-to-old → rename-tmp-in → drop-old swap
    protocol, before doing anything destructive. Invariant: never
    delete `old` unless `local` holds a complete table that SUPERSEDES
    it. Shared by the HLL sketch sink and the SemDeDup index retrain;
    the bucketed sinks heal per bucket with recover_buckets instead.
    (ADVICE r6: the sinks previously rmtree'd `old` unconditionally,
    so a crash between the two renames destroyed the only copy on the
    next micro-batch).

    The caller must be the SOLE writer of `local` (a checkpointed
    foreachBatch sink, or a maintenance job that quiesced it): then
    `local` can only exist via a completed rename from a fully-written
    tmp, so local+old both existing means old is a stale backup from a
    crash after the second rename — safe to drop."""
    if not os.path.exists(old):
        shutil.rmtree(tmp, ignore_errors=True)  # stale partial rewrite
        return
    if not os.path.exists(local):
        if os.path.exists(tmp):
            # crashed between the two renames: tmp is the finished
            # rewrite of old — complete the swap
            os.rename(tmp, local)
            shutil.rmtree(old, ignore_errors=True)
        else:
            # crashed right after moving the original aside: restore it
            os.rename(old, local)
        return
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)


def read_parquet_or_none(spark: SparkSession, path: str):
    """Read a parquet table, or return None ONLY when the path does not
    exist (the legitimate first-batch case). Any other read failure —
    corrupt footer, transient IO — propagates: silently treating it as
    "no table yet" is how a sink clobbers its own history. One
    definition shared by every swap-protocol sink (previously four
    hand-copied try/excepts that had to stay in sync). A `kb=` bucketed
    table is read by read_buckets, with no Spark job."""
    buckets = bucket_dirs(local_path(path))
    if buckets:
        return read_buckets(spark, path, buckets)
    try:
        return spark.read.parquet(path)
    except Exception as e:  # noqa: BLE001 — narrowed by message below
        msg = str(e)
        if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
            raise
        return None


def bucket_dirs(local: str) -> "list[str]":
    """The `kb=<n>` partition directories of a bucketed table, by name
    (none when `local` is not a directory)."""
    if not os.path.isdir(local):
        return []
    return sorted(e for e in os.listdir(local) if e.startswith("kb=") and e[3:].isdigit())


def read_buckets(spark: SparkSession, path: str, buckets: "list[str]") -> DataFrame:
    """Read the `buckets` (names from bucket_dirs) of the `kb=` table at
    `path` with zero Spark jobs. A plain ``spark.read.parquet`` of the
    table schedules two: a parallel listing of its partition directories
    (one task per bucket once there are more than
    ``spark.sql.sources.parallelPartitionDiscovery.threshold``) and a
    footer-inference job. Here the driver names the bucket directories,
    in chunks no longer than that threshold (each chunk is listed on the
    driver, one scan each), and the schema is one footer's
    (catalog._footer_schema) plus ``kb int``, which is what inference
    gives. When no footer converts, the table is read with inference
    and filtered to `buckets`, so every error still surfaces."""
    from pyspark.sql import types as T

    from ds_caselaw_ingester_spark.sources.catalog import _footer_schema, _infer_ntz

    local = local_path(path)
    footer = next(
        (
            os.path.join(local, b, f)
            for b in bucket_dirs(local)
            for f in sorted(os.listdir(os.path.join(local, b)))
            if f.endswith(".parquet")
        ),
        None,
    )
    schema = footer and _footer_schema(footer, _infer_ntz(spark))
    if schema is None:
        return spark.read.parquet(path).where(
            F.col("kb").isin([int(b[3:]) for b in buckets])
        )
    schema = schema.add("kb", T.IntegerType())
    if not buckets:
        return spark.createDataFrame([], schema)
    width = int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))
    reader = spark.read.schema(schema).option("basePath", local)
    chunks = [
        reader.parquet(*[os.path.join(local, b) for b in buckets[i : i + width]])
        for i in range(0, len(buckets), width)
    ]
    return functools.reduce(DataFrame.unionAll, chunks)


def commit_swap(local: str, tmp: "str | None" = None, old: "str | None" = None) -> None:
    """Complete a write-tmp swap: the caller has fully materialized the
    new table at `tmp`; move the current table aside, rename tmp in,
    drop the backup. Every crash point here is reconciled by
    recover_swap at the next run's start — the one protocol, one
    implementation (previously triplicated across the sinks)."""
    tmp = tmp or local + ".tmp"
    old = old or local + ".old"
    if os.path.exists(local):
        os.rename(local, old)
    os.rename(tmp, local)
    shutil.rmtree(old, ignore_errors=True)


def recover_buckets(local: str, prefix: str = "kb=") -> None:
    """Per-partition-directory recovery for bucketed layouts
    (merge_touched_buckets, the curation and SemDeDup indexes): a crash
    between rename(dst, old) and rename(src, dst) leaves partition
    `kb=N` only in `kb=N.old`. A bucket dir is only ever created by an
    atomic rename from a fully-written tmp, so: dst missing -> restore
    the backup; both present -> old is a stale backup from a crash
    after the second rename, drop it.

    Readers of the bucketed table MUST run this before
    spark.read.parquet on it: partition discovery would otherwise pick
    up `kb=5.old` as a partition VALUE ('5.old'), double-reading every
    row of that bucket — for the documents state table that means two
    contradictory is_published rows per uri fanning out the analysis
    join."""
    if not os.path.isdir(local):
        return
    for e in os.listdir(local):
        if e.startswith(prefix) and e.endswith(".old"):
            b_old = os.path.join(local, e)
            b_dst = os.path.join(local, e[: -len(".old")])
            if os.path.exists(b_dst):
                shutil.rmtree(b_old, ignore_errors=True)
            else:
                os.rename(b_old, b_dst)


def swap_partition_dirs(local: str, tmp: str, touched: "list", col: str) -> None:
    """Swap ONLY the `col=<value>` partition directories listed in
    `touched` from a fully-materialized `tmp` layout into `local` —
    the touched-partition half of merge_touched_buckets, shared by
    every sink that bounds its rewrite by the increment instead of
    rewriting the whole table.

    Each touched partition swaps via rename(dst, dst.old) →
    rename(src, dst) → drop dst.old; every crash point is reconciled
    by recover_buckets(local, prefix=f"{col}=") at the next run's
    start. A touched value with NO rows in tmp (the increment emptied
    it) ends with the partition directory removed — that is the
    correct post-state, not data loss. Untouched partitions are never
    opened, listed, or rewritten."""
    os.makedirs(local, exist_ok=True)
    for b in touched:
        src = os.path.join(tmp, f"{col}={b}")
        dst = os.path.join(local, f"{col}={b}")
        old = dst + ".old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(dst):
            os.rename(dst, old)
        if os.path.exists(src):
            os.rename(src, dst)
        shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)


def ensure_partitioned_layout(
    local: str, col: str, n_buckets: "int | None" = None
) -> None:
    """Refuse the two silent-corruption paths of a partitioned sink
    (review findings, round 8):

    1. **Flat table at `local`** (root-level .parquet files — e.g. a
       table written by the pre-partitioned version of the same sink):
       treating it as "no table yet" would bootstrap over it, write
       `col=` dirs NEXT TO the flat files, and leave a mixed layout no
       reader can load. Raise with the rebuild instruction instead.
    2. **Changed bucket count** (hash-bucketed layouts only): a key
       hashed with n_buckets=32 looks up a bucket written under 64 and
       silently misses its own history. n_buckets is pinned in a
       sidecar (`local + ".layout.json"`, atomic rename); later calls
       verify and raise on mismatch. A table WITHOUT a sidecar (built
       before this guard) adopts one only after its existing partition
       VALUES validate against the modulus — a value >= n_buckets
       proves the table was hashed under a larger count (the 64→32
       legacy case; 32→64 is undetectable from values alone and pins
       on first contact, which is the best plain parquet offers). The
       sidecar is never written for a table that does not exist yet, so
       an aborted first batch cannot pin a count nothing was written
       under. Pass n_buckets=None for layouts whose partition values
       are data-derived (SemDeDup cells) rather than a modulus.
    """
    partitions = []
    if os.path.isdir(local):
        entries = os.listdir(local)
        flat = [e for e in entries if e.endswith(".parquet")]
        if flat:
            raise ValueError(
                f"{local} holds root-level parquet files ({flat[0]}, ...) — "
                f"a FLAT table, not a {col}= partitioned layout. Rebuild "
                "it under the partitioned layout (or point the sink at a "
                "fresh path); proceeding would bootstrap over the "
                "existing data and mix two layouts."
            )
        partitions = [e for e in entries if e.startswith(f"{col}=")]
    if n_buckets is None:
        return
    sidecar = local + ".layout.json"
    if os.path.exists(sidecar):
        with open(sidecar) as f:
            meta = json.load(f)
        if meta.get("col") != col or meta.get("n_buckets") != n_buckets:
            raise ValueError(
                f"{local} was laid out with {meta.get('col')}="
                f"{meta.get('n_buckets')} buckets but this run uses "
                f"{col}={n_buckets}; changing the modulus silently "
                "orphans every key's history — rebuild the table under "
                "the new bucket count instead."
            )
        return
    if not partitions:
        # no table yet: nothing to pin — the WRITER pins the sidecar
        # after its first successful swap (pin_partitioned_layout), so
        # an aborted first batch cannot bless a count nothing was
        # written under
        return
    # sidecar-less existing table (pre-guard legacy): validate the
    # on-disk partition values against the modulus before adopting it
    bad = [
        p for p in partitions
        if not p[len(col) + 1 :].lstrip("-").isdigit()
        or not (0 <= int(p[len(col) + 1 :]) < n_buckets)
    ]
    if bad:
        raise ValueError(
            f"{local} holds partition {bad[0]} which is outside "
            f"[0, {n_buckets}) — the table was bucketed under a "
            f"different modulus than this run's {col}={n_buckets}; "
            "rebuild it under the new bucket count instead."
        )
    pin_partitioned_layout(local, col, n_buckets)


def pin_partitioned_layout(local: str, col: str, n_buckets: int) -> None:
    """Record the bucket modulus a table was ACTUALLY written under —
    called by the bucketed sinks right after a successful swap (never
    before: pinning pre-write would bless a count for a table an
    aborted batch never created). Idempotent; atomic rename."""
    sidecar = local + ".layout.json"
    os.makedirs(os.path.dirname(os.path.abspath(sidecar)), exist_ok=True)
    write_json_atomic(sidecar, {"col": col, "n_buckets": n_buckets})


def partition_file_snapshot(local: str, touched: "list", col: str) -> dict:
    """File listing per touched `col=<value>` partition — the
    concurrent-writer detection half of the bucketed protocol: snapshot
    before the read, compare after the merge materializes, abort the
    swap on any difference (a change means the merge read stale data
    and swapping would drop the other writer's rows)."""
    out = {}
    for b in touched:
        d = os.path.join(local, f"{col}={b}")
        if os.path.isdir(d):
            out[b] = frozenset(
                e for e in os.listdir(d) if e.endswith(".parquet")
            )
        else:
            out[b] = frozenset()
    return out


def merge_touched_buckets(
    updates: DataFrame,
    path: str,
    key: str,
    n_buckets: int,
    merge: "Callable[[DataFrame | None, DataFrame], DataFrame]",
) -> None:
    """The touched-bucket MERGE of the keyed documents sink
    (upsert_parquet_table_bucketed): the table at `path` is laid out as
    ``kb=<pmod(xxhash64(key), n_buckets)>`` partitions, and a batch
    reads, merges and swaps only the buckets its keys hash into —
    O(touched buckets) per batch, not O(table).

    `merge(current, updates)` is the caller's row semantics. `current`
    is the touched buckets of the table (None before the first write),
    `updates` the batch; neither carries `kb`. It returns the new
    contents of those buckets, and must be per-key: a key's output
    rows depend only on that key's input rows, so restricting the
    table to the touched buckets cannot change any result.

    The table keeps ONE row per key. Where `merge` returns several rows
    for a key (two updates for one key in a batch, on the first write
    or against the table), the greatest row wins, compared column by
    column in the frame's column order (nulls lowest): a winner that
    depends on the rows alone, not on their arrival, so a replayed
    batch writes the same table. The reduction groups by (kb, key)
    after the `kb` exchange the write makes anyway, so it adds no
    shuffle.

    Protocol, in order:
    1. refuse a flat table and a changed n_buckets
       (ensure_partitioned_layout);
    2. restore buckets a crash left only in `kb=N.old`, before the
       read (recover_buckets) — the merge must never bootstrap a
       bucket whose full copy sits in the backup;
    3. collect the touched buckets (a driver list of at most
       n_buckets values) and snapshot their files;
    4. materialize the merge into `<table>.tmp`, one file per bucket
       (not one per task × bucket — the fragmentation cliff in
       docs/SCALE.md); the plan reads the table, so it is never
       overwritten in place;
    5. single-writer contract, DETECTED not assumed: if a touched
       bucket's files changed since the snapshot, another writer ran
       and swapping would drop its rows — abort with the table
       untouched. (A window between the check and the renames remains
       — plain parquet has no commit log; Delta/Iceberg optimistic
       commits are the production substitute.)
    6. swap the touched buckets (swap_partition_dirs), then pin the
       modulus the table now verifiably holds (pin_partitioned_layout).
    """
    spark = updates.sparkSession
    local = local_path(path)
    ensure_partitioned_layout(local, "kb", n_buckets)
    recover_buckets(local)
    kb = F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    touched = sorted(
        r.kb for r in updates.select(kb.alias("kb")).distinct().collect()
    )
    existing = set(bucket_dirs(local))
    snapshot = partition_file_snapshot(local, touched, "kb")
    current = (
        read_buckets(
            spark, local, [f"kb={b}" for b in touched if f"kb={b}" in existing]
        ).drop("kb")
        if existing
        else None
    )
    tmp = local + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    merged = merge(current, updates).withColumn("kb", kb).repartition(F.col("kb"))
    cols = [c for c in merged.columns if c != "kb"]
    winner = F.max(F.struct(*[c for c in cols if c != key])).alias("_w")
    merged.groupBy("kb", key).agg(winner).select(
        *[F.col(c if c == key else f"_w.{c}").alias(c) for c in cols], "kb"
    ).write.mode("overwrite").partitionBy("kb").parquet(tmp)
    after = partition_file_snapshot(local, touched, "kb")
    changed = [b for b in touched if after[b] != snapshot[b]]
    if changed:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"bucket(s) {changed} of {local} were modified by another "
            "writer during the merge; aborting without swapping "
            "(single-writer contract — serialize batches or use a "
            "transactional table format)."
        )
    swap_partition_dirs(local, tmp, touched, "kb")
    pin_partitioned_layout(local, "kb", n_buckets)

