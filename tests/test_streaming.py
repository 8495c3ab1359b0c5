"""Streaming ingest: file-arrival stream -> foreachBatch analyze ->
processed/quarantine split, with checkpointed exactly-once batch effects
(SURVEY.md §2.7)."""

from __future__ import annotations

import json

from conftest import few_shuffle_partitions as _few_shuffle_partitions
from ds_caselaw_ingester_spark.streaming.pipeline import (
    read_message_stream,
    run_ingest_stream,
)


def _write_batch(path, records):
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


def _await_sink_rows(spark, q, path, min_rows, timeout=600):
    """Wait until the parquet sink at `path` holds >= min_rows rows.

    Load-independent by construction (the VERDICT r10 de-flake): the
    success condition is sink content, a DEAD query fails immediately
    with its own exception, and the timeout exists only to bound a true
    hang — it is deliberately far above any loaded-host batch time, so
    suite load makes the test slower, never red (the old fixed
    120 s/240 s deadlines WERE the assertion and flaked twice under
    full-suite load)."""
    import time

    deadline = time.time() + timeout
    while time.time() < deadline:
        if q.exception() is not None:
            raise q.exception()
        try:
            if spark.read.parquet(path).count() >= min_rows:
                return
        except Exception:  # noqa: BLE001 — sink not written yet
            pass
        time.sleep(1.0)
    raise AssertionError(
        f"sink {path} never reached {min_rows} rows in {timeout}s; "
        f"recentProgress tail: {[str(p) for p in q.recentProgress][-2:]}"
    )



def test_stream_splits_processed_and_quarantine(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    v2 = {
        "messageId": "m1",
        "eventSource": "aws:sqs",
        "body": json.dumps(
            {
                "Message": json.dumps(
                    {"parameters": {"reference": "TDR-2022-DNWR", "originator": "TDR"}}
                )
            }
        ),
    }
    bad = {"messageId": "m2", "eventSource": "aws:sqs", "body": "{not json"}
    _write_batch(src / "batch0.json", [v2, bad])

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = read_message_stream(spark, str(src), max_files=10)
    q = run_ingest_stream(stream, out, ckpt)
    q.awaitTermination(120)

    processed = spark.read.parquet(f"{out}/processed").collect()
    quarantined = spark.read.parquet(f"{out}/quarantine").collect()
    assert [r.consignment_ref for r in processed] == ["TDR-2022-DNWR"]
    assert [r.message_id for r in quarantined] == ["m2"]

    # restart with same checkpoint: no new data -> no duplicate effects
    q2 = run_ingest_stream(read_message_stream(spark, str(src), max_files=10), out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{out}/processed").count() == 1


def test_windowed_counts_watermark_drops_late_rows(spark, tmp_path):
    """Watermark semantics, asserting exactly what Spark GUARANTEES:
    append-mode windows emit once, when the watermark passes their end;
    late rows arriving after eviction neither update nor resurrect them.
    (Late rows arriving while state is still live MAY be aggregated —
    watermark late-filtering is documented as best-effort — so the late
    row here lands after the eviction trigger.)"""
    import datetime as dt

    from pyspark.sql import types as T

    from ds_caselaw_ingester_spark.streaming.pipeline import run_windowed_counts_stream

    schema = T.StructType(
        [
            T.StructField("event_time", T.TimestampType()),
            T.StructField("originator", T.StringType()),
        ]
    )
    src = tmp_path / "events"
    src.mkdir()
    base = dt.datetime(2024, 1, 1, 10, 0, 0)

    def write_file(name, rows):
        with open(src / name, "w") as f:
            for ts, orig in rows:
                f.write(
                    json.dumps(
                        {"event_time": ts.strftime("%Y-%m-%dT%H:%M:%S.000Z"), "originator": orig}
                    )
                    + "\n"
                )

    write_file("f0.json", [(base, "TDR"), (base + dt.timedelta(minutes=30), "TDR"), (base, "FCL")])
    # advance event time so the watermark (max_ts - 2h) passes 11:00
    write_file("f1.json", [(base + dt.timedelta(hours=8), "TDR")])
    # next trigger runs WITH that watermark -> emits + evicts the 10:00 windows
    write_file("f2.json", [(base + dt.timedelta(hours=8, minutes=5), "TDR")])
    # a row 7h behind the watermark, arriving after eviction: dropped
    write_file("f3.json", [(base + dt.timedelta(minutes=45), "TDR")])
    # file source orders by modification time; force distinct mtimes so
    # the micro-batches run in the intended order
    import os

    for i, name in enumerate(["f0.json", "f1.json", "f2.json", "f3.json"]):
        os.utime(src / name, (1700000000 + i * 10, 1700000000 + i * 10))

    events = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    with _few_shuffle_partitions(spark):
        q = run_windowed_counts_stream(events, out, ckpt)
        q.awaitTermination(180)

    collected = spark.read.parquet(f"{out}/windowed_counts").collect()
    rows = {(r.window_start, r.originator): r.n_events for r in collected}
    # each window emitted exactly once; the post-eviction late row (f3)
    # neither bumped nor duplicated the closed 10:00 TDR window
    assert len(collected) == len(rows)
    assert rows.get((base, "TDR")) == 2
    assert rows.get((base, "FCL")) == 1


def test_stateful_dedup_first_wins_across_triggers(spark, tmp_path):
    """applyInPandasWithState keyed dedup: the first message per
    consignment_ref passes through; replays in the same trigger AND in
    later triggers are dropped by checkpointed per-key state."""
    import os

    from ds_caselaw_ingester_spark.streaming.stateful import dedup_consignments

    src = tmp_path / "msgs"
    src.mkdir()

    def write_file(name, rows):
        with open(src / name, "w") as f:
            for ref, mid in rows:
                f.write(json.dumps({"consignment_ref": ref, "message_id": mid}) + "\n")

    # trigger 1: A twice (in-trigger replay) + B once
    write_file("t0.json", [("TDR-A", "m1"), ("TDR-A", "m2"), ("TDR-B", "m3")])
    # trigger 2: A again (cross-trigger replay) + C new
    write_file("t1.json", [("TDR-A", "m4"), ("TDR-C", "m5")])
    for i, name in enumerate(["t0.json", "t1.json"]):
        os.utime(src / name, (1700000000 + i * 10, 1700000000 + i * 10))

    stream = (
        spark.readStream.schema("consignment_ref string, message_id string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    with _few_shuffle_partitions(spark):
        q = (
            dedup_consignments(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # availableNow does NOT self-terminate here: the pending
        # processing-time state timers keep the query alive. Poll the sink
        # for both triggers' output, then stop explicitly.
        _await_sink_rows(spark, q, out, 3)
        q.stop()
        q.awaitTermination(60)

    rows = {r.consignment_ref: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {"TDR-A", "TDR-B", "TDR-C"}
    assert rows["TDR-A"].message_id == "m1"  # first wins
    assert rows["TDR-A"].n_duplicates_dropped == 1  # m2 (m4 dropped in t2)
    assert rows["TDR-B"].n_duplicates_dropped == 0
    assert rows["TDR-C"].n_duplicates_dropped == 0


def test_rate_source_stream_parses_and_quarantines(spark, tmp_path):
    """The queue-shaped (rate) source variant: micro-batches cut by time
    rather than file boundaries must flow through the SAME foreachBatch
    analyze plan — V2 messages parse with rotating originators, and the
    every-7th empty-reference message lands in quarantine, proving the
    invalid branch stays exercised under continuous delivery."""
    from ds_caselaw_ingester_spark.streaming.pipeline import (
        read_message_stream_rate,
    )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    with _few_shuffle_partitions(spark):
        stream = read_message_stream_rate(spark, rows_per_batch=14)
        q = run_ingest_stream(stream, out, ckpt)
        _await_sink_rows(spark, q, f"{out}/processed", 12)  # ≥ one 14-row batch
        q.stop()
        q.awaitTermination(60)

    processed = spark.read.parquet(f"{out}/processed")
    rows = {r.message_id: r for r in processed.collect()}
    # value 0 and 7 have empty references -> invalid, not in processed
    assert "rate-0" not in rows and "rate-7" not in rows
    r1 = rows["rate-1"]
    assert r1.kind == "v2"
    assert r1.consignment_ref == "TDR-R-1"
    assert r1.originator == "FCL S3"  # value % 3 == 1
    assert r1.s3_key == "TDR-R-1.tar.gz"
    assert rows["rate-3"].originator == "TDR"
    assert rows["rate-5"].originator == "FCL"
    quarantined = spark.read.parquet(f"{out}/quarantine")
    bad_ids = {r.message_id for r in quarantined.collect()}
    assert "rate-0" in bad_ids and "rate-7" in bad_ids


def test_session_windows_merge_and_finalize(spark, tmp_path):
    """Streaming gap-based sessions: rows within the gap fuse into ONE
    variable-length window per key (including a bridge row merging two
    provisional windows), and append mode emits a session exactly once,
    after the watermark passes its end. The still-open late session
    must NOT be emitted."""
    import datetime as dt
    import os

    from pyspark.sql import types as T

    from ds_caselaw_ingester_spark.streaming.pipeline import run_sessionized_stream

    schema = T.StructType(
        [
            T.StructField("event_time", T.TimestampType()),
            T.StructField("originator", T.StringType()),
        ]
    )
    src = tmp_path / "events"
    src.mkdir()
    base = dt.datetime(2024, 1, 1, 10, 0, 0)

    def write_file(name, rows):
        with open(src / name, "w") as f:
            for ts, orig in rows:
                f.write(
                    json.dumps(
                        {"event_time": ts.strftime("%Y-%m-%dT%H:%M:%S.000Z"), "originator": orig}
                    )
                    + "\n"
                )

    m = dt.timedelta
    # TDR: 10:00 and 10:20 are >15m apart (two provisional sessions);
    # the 10:10 row in the SAME trigger bridges them into one session
    # 10:00-10:35. FCL: a lone row -> session 10:00-10:15.
    write_file(
        "f0.json",
        [(base, "TDR"), (base + m(minutes=20), "TDR"), (base + m(minutes=10), "TDR"), (base, "FCL")],
    )
    # advance the watermark far past the 10:35 session end...
    write_file("f1.json", [(base + m(hours=8), "TDR")])
    # ...and run a trigger AT that watermark: emits + evicts the closed
    # sessions; the 18:00 session is still open (no emission).
    write_file("f2.json", [(base + m(hours=8, minutes=5), "TDR")])
    for i, name in enumerate(["f0.json", "f1.json", "f2.json"]):
        os.utime(src / name, (1700000000 + i * 10, 1700000000 + i * 10))

    events = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    with _few_shuffle_partitions(spark):
        q = run_sessionized_stream(events, out, ckpt)
        q.awaitTermination(180)

    rows = {
        (r.originator, r.session_start): r
        for r in spark.read.parquet(f"{out}/sessions").collect()
    }
    assert set(rows) == {("TDR", base), ("FCL", base)}, rows
    tdr = rows[("TDR", base)]
    assert tdr.n_events == 3
    assert tdr.session_end == base + m(minutes=35)
    fcl = rows[("FCL", base)]
    assert fcl.n_events == 1
    assert fcl.session_end == base + m(minutes=15)


def test_builtin_watermark_dedup_drops_cross_trigger_replays(spark, tmp_path):
    """dropDuplicatesWithinWatermark (the engine-native dedup): a replay
    of the same consignment_ref in a LATER trigger, still inside the
    watermark, is dropped; distinct refs all pass; survivors carry the
    first-seen payload."""
    import datetime as dt

    from pyspark.sql import types as T

    from ds_caselaw_ingester_spark.streaming.stateful import (
        dedup_messages_within_watermark,
    )

    schema = T.StructType(
        [
            T.StructField("consignment_ref", T.StringType()),
            T.StructField("message_id", T.StringType()),
            T.StructField("event_time", T.TimestampType()),
        ]
    )
    src = tmp_path / "msgs"
    src.mkdir()
    base = dt.datetime(2024, 1, 1, 10, 0, 0)

    def write(name, rows):
        with open(src / name, "w") as f:
            for ref, mid, mins in rows:
                f.write(
                    json.dumps(
                        {
                            "consignment_ref": ref,
                            "message_id": mid,
                            "event_time": (base + dt.timedelta(minutes=mins)).strftime(
                                "%Y-%m-%dT%H:%M:%S.000Z"
                            ),
                        }
                    )
                    + "\n"
                )

    write("f0.json", [("TDR-1", "m1", 0), ("TDR-2", "m2", 1)])
    # trigger 2: TDR-1 replayed (same-key, inside watermark) + a new ref
    write("f1.json", [("TDR-1", "m1-replay", 5), ("TDR-3", "m3", 6)])
    import os

    for i, name in enumerate(["f0.json", "f1.json"]):
        os.utime(src / name, (1700000000 + i * 10,) * 2)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    with _few_shuffle_partitions(spark):
        q = (
            dedup_messages_within_watermark(stream, ["consignment_ref"])
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    rows = {r.consignment_ref: r.message_id for r in spark.read.parquet(out).collect()}
    assert rows == {"TDR-1": "m1", "TDR-2": "m2", "TDR-3": "m3"}


def test_scd2_stream_builds_history_across_triggers(spark, tmp_path):
    """Three micro-batches of document-state changes become an SCD2
    history: changed payloads close and reopen rows at the batch's max
    EVENT time, unchanged re-deliveries are no-ops, and within-batch
    multi-updates collapse to the latest event."""
    import datetime as dt

    from pyspark.sql import types as T

    from ds_caselaw_ingester_spark.streaming.scd_sink import run_scd2_stream

    schema = T.StructType(
        [
            T.StructField("uri", T.StringType()),
            T.StructField("court", T.StringType()),
            T.StructField("event_time", T.TimestampType()),
        ]
    )
    src = tmp_path / "feed"
    src.mkdir()
    base = dt.datetime(2024, 1, 1, 10, 0, 0)

    def write(name, rows):
        with open(src / name, "w") as f:
            for uri, court, mins in rows:
                f.write(
                    json.dumps(
                        {
                            "uri": uri,
                            "court": court,
                            "event_time": (base + dt.timedelta(minutes=mins)).strftime(
                                "%Y-%m-%dT%H:%M:%S.000Z"
                            ),
                        }
                    )
                    + "\n"
                )

    # t1: a=ewhc (two in-batch updates: latest wins -> ewhc), b=uksc
    write("f0.json", [("a", "ewca-draft", 0), ("a", "ewhc", 1), ("b", "uksc", 1)])
    # t2: a changes to ewca at minute 60; b redelivered unchanged
    write("f1.json", [("a", "ewca", 60), ("b", "uksc", 60)])
    import os

    for i, name in enumerate(["f0.json", "f1.json"]):
        os.utime(src / name, (1700000000 + i * 10,) * 2)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))
    )
    table, ckpt = str(tmp_path / "history"), str(tmp_path / "ckpt")
    with _few_shuffle_partitions(spark):
        q = run_scd2_stream(stream, table, ckpt, "uri", ["court"])
        q.awaitTermination(120)
    # the default layout is the bucketed one
    assert any(e.startswith("kb=") for e in os.listdir(table))

    rows = {
        (r.uri, r.court, str(r.effective_from), str(r.effective_to), r.is_current)
        for r in spark.read.parquet(table).collect()
    }
    t1 = str(base + dt.timedelta(minutes=1))
    t2 = str(base + dt.timedelta(minutes=60))
    assert rows == {
        # a: in-batch collapse kept ewhc (latest event in t1), closed at t2
        ("a", "ewhc", t1, t2, False),
        ("a", "ewca", t2, "None", True),
        # b: unchanged redelivery in t2 -> single untouched row
        ("b", "uksc", t1, "None", True),
    }
