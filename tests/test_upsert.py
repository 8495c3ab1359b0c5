"""MERGE/upsert semantics + idempotency (replay safety) — the sink-layer
contract that makes at-least-once streaming redelivery a no-op
(SURVEY.md §2.6 K1-K2, §2.7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.upsert import (
    merge_documents,
    upsert_parquet_table_bucketed,
)


@pytest.fixture()
def base(spark):
    return spark.createDataFrame(
        [
            ("ewca/civ/2022/111", "<judgment>old</judgment>", 3),
            ("uksc/2030/999", "<judgment>keep</judgment>", 1),
        ],
        schema="uri string, xml string, version_n int",
    )


@pytest.fixture()
def updates(spark):
    return spark.createDataFrame(
        [
            ("ewca/civ/2022/111", "<judgment>new</judgment>"),
            ("d-abc123", "<doc name=\"pressSummary\">fresh</doc>"),
        ],
        schema="uri string, xml string",
    )


def test_merge_matched_updated_and_version_bumped(base, updates):
    out = {r.uri: r for r in merge_documents(base, updates).collect()}
    assert out["ewca/civ/2022/111"].op == "updated"
    assert out["ewca/civ/2022/111"].xml == "<judgment>new</judgment>"
    assert out["ewca/civ/2022/111"].version_n == 4  # annotation version bump


def test_merge_not_matched_inserted_at_v1(base, updates):
    out = {r.uri: r for r in merge_documents(base, updates).collect()}
    assert out["d-abc123"].op == "inserted"
    assert out["d-abc123"].version_n == 1


def test_merge_target_only_unchanged(base, updates):
    out = {r.uri: r for r in merge_documents(base, updates).collect()}
    assert out["uksc/2030/999"].op == "unchanged"
    assert out["uksc/2030/999"].xml == "<judgment>keep</judgment>"
    assert out["uksc/2030/999"].version_n == 1


def test_parquet_upsert_idempotent_on_replay(spark, updates, tmp_path):
    """Applying the same batch twice must converge (replay safety)."""
    path = str(tmp_path / "documents")
    upsert_parquet_table_bucketed(updates, path, key="uri")
    first = sorted((r.uri, r.xml) for r in spark.read.parquet(path).collect())
    upsert_parquet_table_bucketed(updates, path, key="uri")  # redelivery
    second = sorted((r.uri, r.xml) for r in spark.read.parquet(path).collect())
    assert first == second
    assert len(second) == 2


def test_upsert_crash_safety_preserves_current_table(spark, tmp_path):
    """A batch that fails mid-materialization must leave the current table
    readable and untouched — the merge writes to a temp dir and swaps,
    never overwriting the path its own plan reads from."""
    path = str(tmp_path / "documents")
    ok = spark.createDataFrame([("a", "<j>1</j>")], "uri string, xml string")
    upsert_parquet_table_bucketed(ok, path, key="uri")

    @F.udf("string")
    def boom(x):
        raise RuntimeError("poison batch")

    bad = spark.createDataFrame([("b", "x")], "uri string, xml string").select(
        "uri", boom("xml").alias("xml")
    )
    with pytest.raises(Exception, match="poison|Job aborted|TASK"):
        upsert_parquet_table_bucketed(bad, path, key="uri")
    # current table intact and readable after the failed batch
    rows = spark.read.parquet(path).collect()
    assert [(r.uri, r.xml) for r in rows] == [("a", "<j>1</j>")]
    # the next batch discards the failed batch's partial tmp and applies
    import os

    nxt = spark.createDataFrame([("b", "<j>2</j>")], "uri string, xml string")
    upsert_parquet_table_bucketed(nxt, path, key="uri")
    assert not os.path.exists(path + ".tmp")
    got = sorted((r.uri, r.xml) for r in spark.read.parquet(path).collect())
    assert got == [("a", "<j>1</j>"), ("b", "<j>2</j>")]


def test_upsert_read_failure_does_not_clobber(spark, tmp_path):
    """A corrupt current table must raise, not silently treat the batch as
    a first write (the old bare-except behavior destroyed the table)."""
    import os

    df = spark.createDataFrame([("a", "x")], "uri string, xml string")
    # the corrupt file sits in the bucket the batch touches, so the
    # pruned read of that bucket must open it
    (kb,) = df.select(F.pmod(F.xxhash64("uri"), F.lit(64))).first()
    path = str(tmp_path / "corrupt")
    bad = os.path.join(path, f"kb={kb}", "part-00000.parquet")
    os.makedirs(os.path.dirname(bad))
    with open(bad, "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception):
        upsert_parquet_table_bucketed(df, path, key="uri")
    # the corrupt-but-present bucket was not replaced
    assert os.listdir(path) == [f"kb={kb}"]
    with open(bad, "rb") as fh:
        assert fh.read() == b"not a parquet file"


def test_bucketed_upsert_only_rewrites_touched_buckets(spark, tmp_path):
    """The bucketed MERGE must leave buckets no batch key hashes into
    physically untouched — the partition-pruning property that makes the
    per-batch cost O(touched buckets) instead of O(table)."""
    import os

    path = str(tmp_path / "docs")
    seed = spark.createDataFrame(
        [(f"doc/{i}", f"<j>{i}</j>") for i in range(50)], "uri string, xml string"
    )
    upsert_parquet_table_bucketed(seed, path, key="uri", n_buckets=8)
    before = {
        d: sorted(os.listdir(os.path.join(path, d)))
        for d in os.listdir(path)
        if d.startswith("kb=")
    }
    assert len(before) > 1  # keys spread over several buckets

    batch = spark.createDataFrame([("doc/7", "<j>new</j>")], "uri string, xml string")
    upsert_parquet_table_bucketed(batch, path, key="uri", n_buckets=8)
    after = {
        d: sorted(os.listdir(os.path.join(path, d)))
        for d in os.listdir(path)
        if d.startswith("kb=")
    }
    changed = [d for d in before if before[d] != after.get(d)]
    assert len(changed) == 1  # exactly the bucket doc/7 hashes into

    rows = {r.uri: r.xml for r in spark.read.parquet(path).collect()}
    assert len(rows) == 50
    assert rows["doc/7"] == "<j>new</j>"
    assert rows["doc/8"] == "<j>8</j>"

    # replay converges (same bucket swapped to the same contents)
    upsert_parquet_table_bucketed(batch, path, key="uri", n_buckets=8)
    rows2 = {r.uri: r.xml for r in spark.read.parquet(path).collect()}
    assert rows2 == rows


def test_bucketed_reads_launch_no_jobs_and_read_the_same_rows(spark, tmp_path):
    """The documents state read (read_parquet_or_none) and the MERGE's
    touched-bucket read (read_buckets) plan their scans without a Spark
    job. A plain spark.read.parquet of the table launches two: a parallel
    listing of the bucket directories (there are more of them than
    spark.sql.sources.parallelPartitionDiscovery.threshold here) and a
    footer-inference job. Both reads must still give its rows and schema."""
    import uuid

    from ds_caselaw_ingester_spark.operators.compaction import (
        bucket_dirs,
        read_buckets,
        read_parquet_or_none,
    )

    path = str(tmp_path / "documents")
    upsert_parquet_table_bucketed(
        spark.createDataFrame(
            [(f"doc/{i}", f"<j>{i}</j>", i % 3 == 0) for i in range(120)],
            "uri string, xml string, is_published boolean",
        ),
        path,
    )
    buckets = bucket_dirs(path)
    threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
    assert len(buckets) > int(threshold)
    some = buckets[::5]

    sc = spark.sparkContext
    group = f"bucket-reads-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "bucketed reads")
    try:
        whole = read_parquet_or_none(spark, path)
        touched = read_buckets(spark, path, some)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    plain = spark.read.parquet(path)
    assert whole.schema == touched.schema == plain.schema

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(whole) == rows(plain)
    kbs = [int(b[len("kb="):]) for b in some]
    assert rows(touched) == rows(plain.where(F.col("kb").isin(kbs)))
    assert read_parquet_or_none(spark, str(tmp_path / "missing")) is None


def test_bucketed_upsert_recovers_bucket_left_only_in_old(spark, tmp_path):
    """A crash between the per-bucket renames leaves kb=N only in
    kb=N.old. The next batch must restore the bucket BEFORE reading,
    so the merge sees the full history and the backup is never
    deleted while it is the only copy."""
    import os

    path = str(tmp_path / "docs")
    seed = spark.createDataFrame(
        [(f"uri/{i}", f"B{i}", 1) for i in range(20)],
        ["uri", "body", "version"],
    )
    upsert_parquet_table_bucketed(seed, path, key="uri", n_buckets=4)
    buckets = [e for e in os.listdir(path) if e.startswith("kb=")]
    assert buckets
    # simulate the crash on one bucket: moved aside, tmp already gone
    victim = sorted(buckets)[0]
    os.rename(
        os.path.join(path, victim), os.path.join(path, victim + ".old")
    )
    total_before = 20
    batch = spark.createDataFrame(
        [("uri/0", "B0-v2", 1)], ["uri", "body", "version"]
    )
    upsert_parquet_table_bucketed(batch, path, key="uri", n_buckets=4)
    tbl = spark.read.parquet(path)
    assert tbl.count() == total_before
    assert not any(e.endswith(".old") for e in os.listdir(path))
    assert tbl.where("uri = 'uri/0'").collect()[0]["body"] == "B0-v2"


def test_bucketed_upsert_detects_concurrent_writer(spark, tmp_path, monkeypatch):
    """Single-writer contract, detected: a file appearing in a touched
    bucket between the read snapshot and the swap must abort the batch
    loudly with the table untouched — a silent last-writer-wins swap
    would drop the other writer's rows."""
    import os

    import pytest

    from ds_caselaw_ingester_spark.operators import upsert as upsert_mod

    path = str(tmp_path / "docs")
    seed = spark.createDataFrame(
        [(f"uri/{i}", f"B{i}") for i in range(20)], ["uri", "body"]
    )
    upsert_mod.upsert_parquet_table_bucketed(seed, path, key="uri", n_buckets=4)
    before = {
        d: sorted(os.listdir(os.path.join(path, d)))
        for d in os.listdir(path)
        if d.startswith("kb=")
    }

    real_merge = upsert_mod.merge_documents

    def merge_and_race(current, updates, key="uri"):
        # simulate the concurrent writer: drop a file into every bucket
        # dir after the snapshot was taken but before the swap
        for d in os.listdir(path):
            if d.startswith("kb=") and not d.endswith((".old", ".tmp")):
                with open(os.path.join(path, d, "intruder.parquet"), "wb") as f:
                    f.write(b"x")
        return real_merge(current, updates, key=key)

    monkeypatch.setattr(upsert_mod, "merge_documents", merge_and_race)
    batch = spark.createDataFrame([("uri/0", "B0-v2")], ["uri", "body"])
    with pytest.raises(RuntimeError, match="another writer"):
        upsert_mod.upsert_parquet_table_bucketed(batch, path, key="uri", n_buckets=4)
    # table untouched: no tmp left behind, original files still in place
    assert not os.path.exists(path + ".tmp")
    after = {
        d: sorted(e for e in os.listdir(os.path.join(path, d)) if e != "intruder.parquet")
        for d in os.listdir(path)
        if d.startswith("kb=")
    }
    assert after == before


def test_bucketed_upsert_refuses_flat_table_and_bucket_change(spark, tmp_path):
    """Pointing the bucketed upsert at a flat table must raise (not
    bootstrap a mixed layout), and changing n_buckets across runs must
    raise (a re-hashed key would silently miss its own row and insert a
    duplicate)."""
    b1 = spark.createDataFrame([("a", "<j>1</j>")], "uri string, xml string")
    flat = str(tmp_path / "flat")
    b1.write.parquet(flat)
    with pytest.raises(ValueError, match="FLAT"):
        upsert_parquet_table_bucketed(b1, flat, key="uri", n_buckets=8)

    buck = str(tmp_path / "buck")
    upsert_parquet_table_bucketed(b1, buck, key="uri", n_buckets=8)
    b2 = spark.createDataFrame([("a", "<j>2</j>")], "uri string, xml string")
    with pytest.raises(ValueError, match="bucket"):
        upsert_parquet_table_bucketed(b2, buck, key="uri", n_buckets=16)
    # same bucket count still applies cleanly
    upsert_parquet_table_bucketed(b2, buck, key="uri", n_buckets=8)
    rows = [(r.uri, r.xml) for r in spark.read.parquet(buck).collect()]
    assert rows == [("a", "<j>2</j>")]


def test_bucketed_upsert_keeps_one_row_per_key(spark, tmp_path):
    """Two rows for one key in a batch leave ONE row, on the first write
    and on the merge against the table: the greatest row wins, whatever
    order the rows arrive in, so a replay writes the same table."""
    path = str(tmp_path / "docs")
    schema = "uri string, xml string"
    upsert_parquet_table_bucketed(
        spark.createDataFrame([("a", "x0"), ("a", "w0"), ("b", "y")], schema), path
    )
    assert sorted(map(tuple, spark.read.parquet(path).drop("kb").collect())) == [
        ("a", "x0"), ("b", "y")
    ]
    for rows in ([("a", "x1"), ("a", "x2")], [("a", "x2"), ("a", "x1")]):
        upsert_parquet_table_bucketed(spark.createDataFrame(rows, schema), path)
        assert sorted(map(tuple, spark.read.parquet(path).drop("kb").collect())) == [
            ("a", "x2"), ("b", "y")
        ]
