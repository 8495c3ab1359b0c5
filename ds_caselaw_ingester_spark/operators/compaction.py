"""Small-file compaction — the maintenance job every streaming sink
needs.

Each micro-batch append writes its own parquet files; after a week a
streaming table is millions of kilobyte-sized files and every reader
pays file-open latency, footer parsing, and scheduler overhead per
file instead of per row group (the classic small-files problem — at
100 TB the NAMENODE/listing cost alone can dominate a scan).

Compaction rewrites a directory into ~target-sized files. Design
choices encoded here:

- **single-writer contract**: the caller must quiesce appends for the
  duration (run it from the sink's own foreachBatch turn, or between
  triggers) — plain parquet has no transaction log to reconcile a
  concurrent append against (table formats like Delta/Iceberg do this
  with optimistic commits; that is the production substitute). The
  operator still DETECTS violation: after materializing the rewrite it
  re-lists the directory and aborts — original untouched — if any
  file appeared or vanished since the snapshot.
- file count is computed from the table's ACTUAL on-disk bytes, not
  row counts — compression ratios vary too much across tables for a
  rows-per-file heuristic;
- the rewrite uses coalesce() when shrinking (no shuffle — partitions
  are concatenated) and repartitionByRange on sort keys when the
  caller wants clustering restored (one shuffle, buys back min/max
  pruning the tiny appends destroyed);
- hive-partitioned directories (`col=value/` subdirs) are REFUSED: a
  flat rewrite would silently collapse the partition layout readers
  key on — compact each partition directory individually instead;
- the swap is crash-recoverable: write tmp -> rename original to
  .compact-old -> rename tmp in -> drop .compact-old, with an explicit
  recovery step for every crash point and no path that deletes the
  only remaining copy (a crash can leave a backup to reconcile, never
  silent loss).
"""

from __future__ import annotations

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


def dir_stats(path: str) -> "tuple[int, int]":
    """(n_parquet_files, total_bytes) for a parquet directory."""
    n, total = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


def _parquet_files(path: str) -> "set[str]":
    out = set()
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                out.add(os.path.relpath(os.path.join(root, f), path))
    return out


def recover_swap(local: str, tmp: str, old: str, exclusive: bool = False) -> None:
    """Reconcile a previous run's crash point in the
    write-tmp → rename-local-to-old → rename-tmp-in → drop-old swap
    protocol, before doing anything destructive. Invariant: never
    delete `old` unless `local` holds a complete table that SUPERSEDES
    it. Shared by compact_parquet_dir, migrate_to_partitioned, the HLL
    sketch sink and the SemDeDup index retrain; the bucketed sinks
    heal per bucket with recover_buckets instead.
    (ADVICE r6: the sinks previously rmtree'd `old` unconditionally,
    so a crash between the two renames destroyed the only copy on the
    next micro-batch).

    `exclusive=True` is for sinks that are the SOLE writer of `local`
    (checkpointed foreachBatch): there, `local` can only exist via a
    completed rename from a fully-written tmp, so local+old both
    existing means old is a stale backup from a crash after the second
    rename — safe to drop. Maintenance jobs over shared directories
    (compaction) must pass exclusive=False: another writer may have
    recreated `local` after a mid-swap crash, leaving `old` the only
    full copy — indistinguishable from the filesystem alone, so refuse
    to guess."""
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
    if exclusive:
        shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
        return
    backup_name = os.path.basename(old)
    raise RuntimeError(
        f"found both {local} and {old}; a previous run crashed "
        "mid-swap and the directory was written to since. Reconcile "
        f"manually (merge or discard the {backup_name} backup) before "
        "running again."
    )


def read_parquet_or_none(spark: SparkSession, path: str):
    """Read a parquet table, or return None ONLY when the path does not
    exist (the legitimate first-batch case). Any other read failure —
    corrupt footer, transient IO — propagates: silently treating it as
    "no table yet" is how a sink clobbers its own history. One
    definition shared by every swap-protocol sink (previously four
    hand-copied try/excepts that had to stay in sync)."""
    try:
        return spark.read.parquet(path)
    except Exception as e:  # noqa: BLE001 — narrowed by message below
        msg = str(e)
        if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
            raise
        return None


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
       reader can load. Raise with the migration instruction instead.
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
    # a half-finished migration must be completed (rerun
    # migrate_to_partitioned — its recover_swap reconciles every crash
    # point) before any sink touches the path: proceeding could
    # bootstrap a near-empty table beside the full migrated copy
    leftover = [
        s for s in (".migrate-tmp", ".migrate-old") if os.path.exists(local + s)
    ]
    if leftover:
        raise RuntimeError(
            f"{local}{leftover[0]} exists — a migration of this table "
            "crashed mid-swap; rerun migrate_to_partitioned to complete "
            "it before starting the sink."
        )
    partitions = []
    if os.path.isdir(local):
        entries = os.listdir(local)
        flat = [e for e in entries if e.endswith(".parquet")]
        if flat:
            raise ValueError(
                f"{local} holds root-level parquet files ({flat[0]}, ...) — "
                f"a FLAT table, not a {col}= partitioned layout. Migrate "
                "first (read the flat table, write it partitioned, swap), "
                "or point the sink at a fresh path; proceeding would "
                "bootstrap over the existing data and mix two layouts."
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
    has_table = os.path.isdir(local) and any(
        e.startswith("kb=") for e in os.listdir(local)
    )
    snapshot = partition_file_snapshot(local, touched, "kb")
    current = (
        spark.read.parquet(local).where(F.col("kb").isin(touched)).drop("kb")
        if has_table
        else None
    )
    tmp = local + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    merge(current, updates).withColumn("kb", kb).repartition(
        F.col("kb")
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


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: "list[str] | None" = None,
) -> "tuple[int, int]":
    """Rewrite `path` into ceil(bytes / target_file_bytes) files.
    Returns (files_before, files_after). sort_cols: restore range
    clustering on these columns during the rewrite (adds one shuffle;
    without it compaction is a shuffle-free coalesce). Raises if the
    directory is hive-partitioned or if a concurrent writer modified it
    during the rewrite (original left untouched in both cases)."""
    local = local_path(path)
    tmp, old = local + ".compact-tmp", local + ".compact-old"
    recover_swap(local, tmp, old)
    partition_dirs = [
        e
        for e in os.listdir(local)
        if "=" in e and os.path.isdir(os.path.join(local, e))
    ]
    if partition_dirs:
        raise ValueError(
            f"compact_parquet_dir: {local} is hive-partitioned "
            f"({partition_dirs[0]}, ...); a flat rewrite would collapse the "
            "partition layout — compact each partition directory instead"
        )
    snapshot = _parquet_files(local)
    if not snapshot:
        return 0, 0
    before, total = dir_stats(local)
    n_files = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(path)
    if sort_cols:
        out = df.repartitionByRange(n_files, *[F.col(c) for c in sort_cols])
        out = out.sortWithinPartitions(*sort_cols)
    else:
        out = df.coalesce(n_files)
    shutil.rmtree(tmp, ignore_errors=True)
    out.write.mode("overwrite").parquet(tmp)
    # single-writer violation check: the rewrite covered exactly the
    # snapshot; any concurrent append/delete means swapping would lose
    # rows Spark never read. Abort with the original untouched.
    if _parquet_files(local) != snapshot:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compact_parquet_dir: {local} was modified during the rewrite "
            "(concurrent writer?); aborted with the original untouched — "
            "quiesce the sink and rerun"
        )
    os.rename(local, old)
    os.rename(tmp, local)
    shutil.rmtree(old, ignore_errors=True)
    after, _ = dir_stats(local)
    return before, after


def migrate_to_partitioned(
    spark: SparkSession,
    path: str,
    col: str,
    n_buckets: "int | None" = None,
    key: "str | None" = None,
) -> int:
    """One-time migration of a FLAT parquet table into the `col=`
    partitioned layout the bucketed sinks require (the operation
    ensure_partitioned_layout's refusal points at). Returns the row
    count migrated.

    - Modulus layouts (kb): pass `key` and `n_buckets` — the partition
      value is computed as pmod(xxhash64(key), n_buckets), the same
      expression the sinks use, and the sidecar is pinned afterwards.
    - Data-derived layouts (SemDeDup's centroid_id): the column must
      already exist in the flat table; pass n_buckets=None.

    Crash-safe via the standard swap, under migration-OWNED suffixes
    (`.migrate-tmp` / `.migrate-old`, NOT the sinks' `.tmp`/`.old`): a
    sink started against a half-migrated path must never mistake the
    migration's artifacts for its own — the sinks rmtree their `.tmp`
    unconditionally, which with shared names would delete the only
    migrated copy after a mid-commit crash. ensure_partitioned_layout
    additionally refuses to run a sink while migration artifacts
    exist. recover_swap runs exclusive=True: `local` is only ever
    (re)created by this migration's own completed rename (the caller
    quiesces the sink — this is a maintenance operation, like
    compaction), so local+backup both present means the backup is
    stale, and every crash point reconciles on the next run. The
    migrated row count is read from the rewrite's parquet footers —
    the source is scanned exactly once."""
    local = local_path(path)
    tmp, old = local + ".migrate-tmp", local + ".migrate-old"
    recover_swap(local, tmp, old, exclusive=True)
    df = spark.read.parquet(path)
    if n_buckets is not None:
        if key is None:
            raise ValueError("modulus migration needs `key` with n_buckets")
        df = df.withColumn(
            col, F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
        )
    elif col not in df.columns:
        raise ValueError(
            f"{path} has no `{col}` column; data-derived migration needs "
            "it (e.g. rebuild a SemDeDup index with semdedup_build_index)"
        )
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.mode("overwrite").partitionBy(col).parquet(tmp)
    n = spark.read.parquet(tmp).count()  # footer metadata, no data scan
    commit_swap(local, tmp, old)
    if n_buckets is not None:
        pin_partitioned_layout(local, col, n_buckets)
    return n
