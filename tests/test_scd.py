"""SCD2 effective-dated merge: a three-batch evolution must match a
pure-Python replay row-for-row, replay must be idempotent, and
point-in-time reconstruction must return each batch's state."""

from __future__ import annotations

import pytest

from ds_caselaw_ingester_spark.operators.scd import scd2_apply, scd2_as_of

B1 = "2024-01-01 00:00:00"
B2 = "2024-02-01 00:00:00"
B3 = "2024-03-01 00:00:00"


def _apply_all(spark, batches):
    hist = None
    for ts, rows in batches:
        updates = spark.createDataFrame(rows, ["uri", "title", "court"])
        hist = scd2_apply(hist, updates, "uri", ["title", "court"], ts)
        # materialize between batches like a real nightly job would
        # (each batch reads the PREVIOUS table, not a growing lineage)
        hist = hist.localCheckpoint(eager=True)
    return hist


BATCHES = [
    (B1, [("a", "A v B", "ewhc"), ("b", "C v D", "uksc")]),
    # a changes court; b unchanged; c is new
    (B2, [("a", "A v B", "ewca"), ("b", "C v D", "uksc"), ("c", "E v F", "ewhc")]),
    # a unchanged; c changes title; b absent from the batch (stays current)
    (B3, [("a", "A v B", "ewca"), ("c", "E v F (No 2)", "ewhc")]),
]


def _key(r):
    return (r["uri"], str(r["effective_from"]), str(r["effective_to"]), r["is_current"])


def test_three_batch_history_matches_expected(spark):
    hist = {tuple(r): None for r in []}
    rows = _apply_all(spark, BATCHES).collect()
    got = {
        (r["uri"], r["title"], r["court"],
         str(r["effective_from"]), str(r["effective_to"]), r["is_current"])
        for r in rows
    }
    want = {
        # a: ewhc for [B1, B2), then ewca current from B2
        ("a", "A v B", "ewhc", B1, B2, False),
        ("a", "A v B", "ewca", B2, "None", True),
        # b: one row, untouched since B1 (absence from B3 is not a delete)
        ("b", "C v D", "uksc", B1, "None", True),
        # c: opened at B2, retitled at B3
        ("c", "E v F", "ewhc", B2, B3, False),
        ("c", "E v F (No 2)", "ewhc", B3, "None", True),
    }
    assert got == want
    assert len(rows) == len(got), "duplicate rows emitted"


def test_reapplying_a_batch_is_a_noop(spark):
    hist = _apply_all(spark, BATCHES)
    updates = spark.createDataFrame(BATCHES[-1][1], ["uri", "title", "court"])
    again = scd2_apply(hist, updates, "uri", ["title", "court"], B3)
    assert sorted(map(_key, again.collect())) == sorted(map(_key, hist.collect()))


def test_as_of_reconstructs_each_batch_state(spark):
    hist = _apply_all(spark, BATCHES)

    def state(ts):
        return {
            (r["uri"], r["title"], r["court"]) for r in scd2_as_of(hist, ts).collect()
        }

    assert state("2024-01-15 00:00:00") == {
        ("a", "A v B", "ewhc"),
        ("b", "C v D", "uksc"),
    }
    assert state("2024-02-15 00:00:00") == {
        ("a", "A v B", "ewca"),
        ("b", "C v D", "uksc"),
        ("c", "E v F", "ewhc"),
    }
    assert state("2024-03-15 00:00:00") == {
        ("a", "A v B", "ewca"),
        ("b", "C v D", "uksc"),
        ("c", "E v F (No 2)", "ewhc"),
    }
    # before history began: empty
    assert state("2023-12-31 00:00:00") == set()


def test_null_payload_transitions_are_detected(spark):
    """None -> value and value -> None are CHANGES (the length-framed
    null-safe hash); None == None is not."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("uri", T.StringType()),
            T.StructField("title", T.StringType()),
            T.StructField("court", T.StringType()),
        ]
    )
    b1 = spark.createDataFrame([("a", None, "x"), ("b", None, None)], schema)
    b2 = spark.createDataFrame([("a", "t", "x"), ("b", None, None)], schema)
    h = scd2_apply(None, b1, "uri", ["title", "court"], B1)
    h = scd2_apply(h, b2, "uri", ["title", "court"], B2).collect()
    a_rows = sorted(
        (r for r in h if r["uri"] == "a"), key=lambda r: str(r["effective_from"])
    )
    assert len(a_rows) == 2 and not a_rows[0]["is_current"] and a_rows[1]["is_current"]
    b_rows = [r for r in h if r["uri"] == "b"]
    assert len(b_rows) == 1 and b_rows[0]["is_current"]


def test_validate_raises_on_duplicate_batch_keys(spark):
    import pytest

    dup = spark.createDataFrame(
        [("a", "x", "y"), ("a", "x2", "y")], ["uri", "title", "court"]
    )
    with pytest.raises(ValueError, match="duplicate key"):
        scd2_apply(None, dup, "uri", ["title", "court"], B1, validate=True)


def test_out_of_order_batch_is_clamped_not_inverted(spark, tmp_path):
    """Regression (review finding): a late micro-batch whose max event
    time is BEHIND the history's newest effective_from must not write
    inverted/zero-width validity intervals. The sink clamps the apply
    time forward by 1µs, so every closed interval stays strictly
    positive and as-of still resolves each state."""
    import datetime as dt

    from pyspark.sql import types as T

    from ds_caselaw_ingester_spark.streaming.scd_sink import (
        apply_scd2_batch_bucketed,
    )

    schema = T.StructType(
        [
            T.StructField("uri", T.StringType()),
            T.StructField("court", T.StringType()),
            T.StructField("event_time", T.TimestampType()),
        ]
    )
    path = str(tmp_path / "hist")
    t_late = dt.datetime(2024, 1, 1, 10, 2, 0)
    t_early_batch_first = dt.datetime(2024, 1, 1, 10, 5, 0)
    b1 = spark.createDataFrame([("a", "ewhc", t_early_batch_first)], schema)
    apply_scd2_batch_bucketed(b1, path, "uri", ["court"])
    # late batch: earlier event time, CHANGED payload
    b2 = spark.createDataFrame([("a", "ewca", t_late)], schema)
    apply_scd2_batch_bucketed(b2, path, "uri", ["court"])
    rows = sorted(
        spark.read.parquet(path).collect(), key=lambda r: r["effective_from"]
    )
    assert len(rows) == 2
    closed, current = rows
    assert not closed["is_current"] and current["is_current"]
    # interval strictly positive: the clamp pushed the new state 1µs
    # past the old effective_from instead of backdating it
    assert closed["effective_to"] > closed["effective_from"]
    assert current["effective_from"] == closed["effective_to"]
    assert current["court"] == "ewca"


def test_scd2_current_slice_equals_upsert_state(spark):
    """Cross-sink invariant: driving the SAME batch sequence through the
    in-place MERGE (operators/upsert.py, the reference's documents sink)
    and through SCD2 must agree — the SCD2 current slice IS the upsert
    table, plus audit history. This is what makes the history table a
    drop-in shadow sink for the ingest pipeline."""
    from ds_caselaw_ingester_spark.operators.upsert import merge_documents

    batches = [
        (B1, [("a", "A v B", "ewhc"), ("b", "C v D", "uksc")]),
        (B2, [("a", "A v B", "ewca"), ("c", "E v F", "ewhc")]),
        (B3, [("c", "E v F (No 2)", "ewhc"), ("d", "G v H", "ukut")]),
    ]
    hist = None
    merged = None
    for ts, rows in batches:
        updates = spark.createDataFrame(rows, ["uri", "title", "court"])
        hist = scd2_apply(hist, updates, "uri", ["title", "court"], ts)
        hist = hist.localCheckpoint(eager=True)
        merged = (
            updates
            if merged is None
            else merge_documents(merged, updates, key="uri").drop("op")
        )
        merged = merged.localCheckpoint(eager=True)
    current = {
        (r["uri"], r["title"], r["court"])
        for r in hist.where("is_current").collect()
    }
    latest = {(r["uri"], r["title"], r["court"]) for r in merged.collect()}
    assert current == latest
    # and the history holds strictly more information: every closed row
    # is a state the upsert table has already forgotten
    closed = hist.where("NOT is_current").count()
    assert closed == 2  # a's ewhc, c's first title


def test_scd2_apply_validate_rejects_out_of_order_batch(spark):
    """Review regression: applying a batch whose timestamp is not after
    the newest current effective_from writes INVERTED validity
    intervals and resurrects stale payloads as current — silently.
    validate=True must refuse (the streaming sink clamps instead)."""
    from ds_caselaw_ingester_spark.operators.scd import scd2_apply

    b1 = spark.createDataFrame([("a", "ewhc")], "uri string, court string")
    hist = scd2_apply(None, b1, "uri", ["court"], "2024-01-01 10:05:00")
    older = spark.createDataFrame([("a", "ewca")], "uri string, court string")
    with pytest.raises(ValueError, match="timestamp order"):
        scd2_apply(hist, older, "uri", ["court"], "2024-01-01 10:02:00", validate=True)
    # equal timestamp is also rejected (must be strictly after)
    with pytest.raises(ValueError, match="timestamp order"):
        scd2_apply(hist, older, "uri", ["court"], "2024-01-01 10:05:00", validate=True)
    # a later batch passes validation and applies normally
    ok = scd2_apply(hist, older, "uri", ["court"], "2024-01-01 10:06:00", validate=True)
    assert ok.where("is_current").collect()[0]["court"] == "ewca"


def test_scd2_apply_validate_handles_tz_aware_batch_ts(spark):
    """ADVICE r7: a batch_ts carrying a UTC offset parses tz-aware and
    the monotonicity guard's aware-vs-naive >= raised TypeError instead
    of the intended out-of-order ValueError. The guard must normalize
    to naive UTC and still fire (or pass) correctly."""
    from ds_caselaw_ingester_spark.operators.scd import scd2_apply

    b1 = spark.createDataFrame([("a", "ewhc")], "uri string, court string")
    hist = scd2_apply(None, b1, "uri", ["court"], "2024-01-01 10:05:00")
    nxt = spark.createDataFrame([("a", "ewca")], "uri string, court string")
    # aware-but-older: must be the out-of-order ValueError, not TypeError
    with pytest.raises(ValueError, match="timestamp order"):
        scd2_apply(
            hist, nxt, "uri", ["court"], "2024-01-01 10:02:00+00:00",
            validate=True,
        )
    # aware-and-later passes the guard and applies
    ok = scd2_apply(
        hist, nxt, "uri", ["court"], "2024-01-01 10:06:00+00:00",
        validate=True,
    )
    assert ok.where("is_current").collect()[0]["court"] == "ewca"


def _evt_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("uri", T.StringType()),
            T.StructField("court", T.StringType()),
            T.StructField("event_time", T.TimestampType()),
        ]
    )


def _kb_state(d):
    import os

    out = {}
    for e in os.listdir(d):
        if e.startswith("kb="):
            p = os.path.join(d, e)
            out[e] = {
                f: (os.path.getsize(os.path.join(p, f)),
                    os.path.getmtime(os.path.join(p, f)))
                for f in os.listdir(p) if f.endswith(".parquet")
            }
    return out


def test_bucketed_scd_sink_equals_flat_sink(spark, tmp_path):
    """Driving the SAME batch sequence through the bucketed SCD2 sink
    and through scd2_apply chained over one flat history, each batch at
    its max event time, must produce identical histories (modulo the kb
    layout column) — the bucketing is a write-amplification
    optimization, not a semantics change. (test_round6_property pins
    scd2_apply against its Python model.)"""
    import datetime as dt

    from ds_caselaw_ingester_spark.streaming.scd_sink import (
        apply_scd2_batch_bucketed,
    )

    schema = _evt_schema()
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    batches = [
        [("a", "ewhc", t0), ("b", "ukSC", t0)],
        [("a", "ewca", t0 + dt.timedelta(minutes=1))],
        [("a", "ewca", t0 + dt.timedelta(minutes=2)),  # unchanged payload
         ("c", "ukpc", t0 + dt.timedelta(minutes=2))],
        [("b", "ewhc", t0 + dt.timedelta(minutes=3))],
    ]
    buck = str(tmp_path / "buck")
    flat = None
    for rows in batches:
        b = spark.createDataFrame(rows, schema)
        apply_scd2_batch_bucketed(b, buck, "uri", ["court"], n_buckets=8)
        # every batch is key-unique and later than the one before, so
        # the sink neither collapses rows nor clamps its apply time
        upd = spark.createDataFrame(
            [(u, c) for u, c, _ in rows], "uri string, court string"
        )
        batch_ts = max(t for *_, t in rows).strftime("%Y-%m-%d %H:%M:%S.%f")
        flat = scd2_apply(flat, upd, "uri", ["court"], batch_ts)
        flat = flat.localCheckpoint(eager=True)

    cols = ["uri", "court", "effective_from", "effective_to", "is_current"]
    got_flat = sorted(tuple(r[c] for c in cols) for r in flat.collect())
    got_buck = sorted(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(buck).select(*cols).collect()
    )
    assert got_flat == got_buck and len(got_flat) >= 5


def test_bucketed_scd_sink_rewrites_only_touched_buckets(spark, tmp_path):
    """The scale contract: a batch whose keys hash into c buckets swaps
    exactly those c partition directories; every other bucket keeps its
    exact files (the closed past is never re-serialized)."""
    import datetime as dt

    from ds_caselaw_ingester_spark.streaming.scd_sink import (
        apply_scd2_batch_bucketed,
    )

    schema = _evt_schema()
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    seed = [(f"doc-{i}", "ewhc", t0) for i in range(40)]
    path = str(tmp_path / "hist")
    apply_scd2_batch_bucketed(
        spark.createDataFrame(seed, schema), path, "uri", ["court"],
        n_buckets=16,
    )
    before = _kb_state(path)
    assert len(before) > 2
    # one-key update: exactly one bucket should move
    upd = spark.createDataFrame(
        [("doc-7", "ukSC", t0 + dt.timedelta(minutes=1))], schema
    )
    from pyspark.sql import functions as F

    want = {
        f"kb={r.kb}"
        for r in upd.select(
            F.pmod(F.xxhash64(F.col("uri")), F.lit(16)).cast("int").alias("kb")
        ).collect()
    }
    assert len(want) == 1
    apply_scd2_batch_bucketed(upd, path, "uri", ["court"], n_buckets=16)
    after = _kb_state(path)
    for b, files in before.items():
        if b in want:
            assert after[b] != files, f"{b} should have been swapped"
        else:
            assert after[b] == files, f"{b} was rewritten needlessly"
    # and the update actually landed
    hist = spark.read.parquet(path)
    assert hist.where("uri = 'doc-7' and is_current").collect()[0]["court"] == "ukSC"
    assert hist.where("uri = 'doc-7'").count() == 2


def test_bucketed_scd_sink_recovers_bucket_crash(spark, tmp_path):
    """Per-bucket crash point: a bucket left only in kb=N.old must be
    restored before the next batch reads — never dropped, never read
    as a bogus partition value."""
    import datetime as dt
    import os

    from ds_caselaw_ingester_spark.streaming.scd_sink import (
        apply_scd2_batch_bucketed,
    )

    schema = _evt_schema()
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    seed = [(f"doc-{i}", "ewhc", t0) for i in range(20)]
    path = str(tmp_path / "hist")
    apply_scd2_batch_bucketed(
        spark.createDataFrame(seed, schema), path, "uri", ["court"],
        n_buckets=8,
    )
    n0 = spark.read.parquet(path).count()
    victim = os.path.join(
        path, sorted(e for e in os.listdir(path) if e.startswith("kb="))[0]
    )
    os.rename(victim, victim + ".old")
    upd = spark.createDataFrame(
        [("doc-3", "ukSC", t0 + dt.timedelta(minutes=1))], schema
    )
    apply_scd2_batch_bucketed(upd, path, "uri", ["court"], n_buckets=8)
    hist = spark.read.parquet(path)
    assert hist.count() == n0 + 1  # recovered rows + the opened state
    assert not any(e.endswith(".old") for e in os.listdir(path))


def test_bucketed_scd_sink_refuses_flat_history_and_bucket_change(spark, tmp_path):
    """Review regressions (r8): pointing the bucketed sink at a flat
    history must raise (not bootstrap a mixed layout), and changing
    n_buckets across runs must raise (a re-hashed key would silently
    miss its own history and open a duplicate current row)."""
    import datetime as dt

    from ds_caselaw_ingester_spark.streaming.scd_sink import (
        apply_scd2_batch_bucketed,
    )

    schema = _evt_schema()
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    b1 = spark.createDataFrame([("a", "ewhc", t0)], schema)
    flat = str(tmp_path / "flat")
    b1.write.parquet(flat)
    with pytest.raises(ValueError, match="FLAT"):
        apply_scd2_batch_bucketed(b1, flat, "uri", ["court"], n_buckets=8)

    buck = str(tmp_path / "buck")
    apply_scd2_batch_bucketed(b1, buck, "uri", ["court"], n_buckets=8)
    b2 = spark.createDataFrame(
        [("a", "ewca", t0 + dt.timedelta(minutes=1))], schema
    )
    with pytest.raises(ValueError, match="bucket"):
        apply_scd2_batch_bucketed(b2, buck, "uri", ["court"], n_buckets=16)
    # same bucket count still applies cleanly
    apply_scd2_batch_bucketed(b2, buck, "uri", ["court"], n_buckets=8)
    assert spark.read.parquet(buck).count() == 2


def test_bucketed_scd_sink_detects_concurrent_writer(spark, tmp_path, monkeypatch):
    """The SCD2 sink runs the same single-writer check as the documents
    upsert: a file appearing in a touched bucket between the read
    snapshot and the swap aborts the batch with the history untouched."""
    import datetime as dt
    import os

    from ds_caselaw_ingester_spark.streaming import scd_sink

    schema = _evt_schema()
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    path = str(tmp_path / "hist")
    seed = [(f"doc-{i}", "ewhc", t0) for i in range(20)]
    scd_sink.apply_scd2_batch_bucketed(
        spark.createDataFrame(seed, schema), path, "uri", ["court"], n_buckets=4
    )
    before = _kb_state(path)

    real_apply = scd_sink.scd2_apply

    def apply_and_race(*args, **kwargs):
        # simulate the concurrent writer: drop a file into every bucket
        # dir after the snapshot was taken but before the swap
        for d in os.listdir(path):
            if d.startswith("kb=") and not d.endswith((".old", ".tmp")):
                with open(os.path.join(path, d, "intruder.parquet"), "wb") as f:
                    f.write(b"x")
        return real_apply(*args, **kwargs)

    monkeypatch.setattr(scd_sink, "scd2_apply", apply_and_race)
    upd = spark.createDataFrame(
        [("doc-3", "ukSC", t0 + dt.timedelta(minutes=1))], schema
    )
    with pytest.raises(RuntimeError, match="another writer"):
        scd_sink.apply_scd2_batch_bucketed(upd, path, "uri", ["court"], n_buckets=4)
    # history untouched: no tmp left behind, original files in place
    assert not os.path.exists(path + ".tmp")
    after = _kb_state(path)
    for files in after.values():
        files.pop("intruder.parquet")
    assert after == before
