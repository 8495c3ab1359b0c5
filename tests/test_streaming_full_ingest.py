"""Full composite pipeline under streaming delivery + at-least-once
redelivery: every effect table (documents MERGE, epoch-partitioned
appends) must converge when the whole stream is redelivered from scratch
(checkpoint wiped) — the Spark analog of SQS redelivering every message
(reference delivery model, template.yml:62-69)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.schemas import METADATA_SCHEMA
from ds_caselaw_ingester_spark.streaming.pipeline import (
    read_message_stream,
    run_full_ingest_stream,
)

JUDGMENT_XML = '<judgment xmlns="http://docs.oasis-open.org/legaldocml/ns/akn/3.0">x</judgment>'
PRESS_XML = '<doc name="pressSummary">y</doc>'

EFFECT_TABLES = (
    "versions",
    "identifiers",
    "properties",
    "notifications",
    "assets",
    "asset_copies",
)


def _record(mid: str, ref: str, originator: str) -> dict:
    payload = {
        "parameters": {
            "reference": ref,
            "originator": originator,
            "s3Bucket": "b",
            "s3Key": f"{ref}.tar.gz",
        }
    }
    return {
        "messageId": mid,
        "eventSource": "aws:sqs",
        "body": json.dumps({"Message": json.dumps(payload)}),
    }


def _metadata(ref: str, filename, cite, auto_publish: bool = False) -> str:
    return json.dumps(
        {
            "parameters": {
                "TRE": {
                    "reference": ref,
                    "payload": {
                        "filename": filename,
                        "xml": f"{ref}.xml",
                        "images": [],
                    },
                },
                "PARSER": {
                    "uri": (
                        "https://caselaw.nationalarchives.gov.uk/id/ewca/civ/2022/111"
                        if ref == "TDR-1"
                        else None
                    ),
                    "cite": cite,
                    "parser_run_id": f"run-{ref}",
                },
                "INGESTER_OPTIONS": {"auto_publish": auto_publish},
            }
        }
    )


@pytest.fixture(scope="module")
def context_tables(spark):
    metadata = spark.createDataFrame(
        [
            ("TDR-1", _metadata("TDR-1", "doc.docx", "[2022] EWCA Civ 111")),
            ("TDR-2", _metadata("TDR-2", None, None)),
            ("TDR-4", _metadata("TDR-4", "bulk.docx", None, auto_publish=True)),
        ],
        "consignment_ref string, raw string",
    ).select("consignment_ref", F.from_json("raw", METADATA_SCHEMA).alias("metadata"))
    best_xmls = spark.createDataFrame(
        [
            ("TDR-1", JUDGMENT_XML, True),
            ("TDR-2", PRESS_XML, True),
            ("TDR-4", JUDGMENT_XML, True),
        ],
        "consignment_ref string, best_xml string, xml_was_valid boolean",
    )
    identifiers = spark.createDataFrame(
        [("ewca/civ/2022/111", "[2022] EWCA Civ 111", "ukncn", "doc/ewca-111")],
        "slug string, value string, namespace string, uri string",
    )
    return metadata, best_xmls, identifiers


def _run_stream(spark, src, sink_root, ckpt, context_tables):
    metadata, best_xmls, identifiers = context_tables
    stream = read_message_stream(spark, str(src), max_files=1)
    q = run_full_ingest_stream(
        stream, metadata, best_xmls, identifiers, sink_root, ckpt
    )
    q.awaitTermination(180)


def _snapshot(spark, sink_root):
    out = {}
    docs = spark.read.parquet(f"{sink_root}/documents")
    out["documents"] = sorted(
        (r.uri, r.xml, r.doc_type, r.is_published) for r in docs.collect()
    )
    for t in EFFECT_TABLES:
        df = spark.read.parquet(f"{sink_root}/{t}").drop("batch_id")
        out[t] = sorted(tuple(r) for r in df.collect())
    return out


def test_full_stream_redelivery_converges(spark, tmp_path, context_tables):
    src = tmp_path / "incoming"
    src.mkdir()
    with open(src / "f0.json", "w") as f:
        f.write(json.dumps(_record("m1", "TDR-1", "TDR")) + "\n")
    with open(src / "f1.json", "w") as f:
        f.write(json.dumps(_record("m2", "TDR-2", "TDR")) + "\n")
        f.write(json.dumps(_record("m4", "TDR-4", "FCL S3")) + "\n")
    # deterministic micro-batch order (file source orders by mtime)
    for i, name in enumerate(["f0.json", "f1.json"]):
        os.utime(src / name, (1700000000 + i * 10, 1700000000 + i * 10))

    sink_root = str(tmp_path / "sinks")
    ckpt = str(tmp_path / "ckpt")
    _run_stream(spark, src, sink_root, ckpt, context_tables)
    first = _snapshot(spark, sink_root)

    # sanity: both epochs produced effects
    assert len(first["documents"]) == 3
    assert any(is_pub for (_, _, _, is_pub) in first["documents"])  # TDR-4
    assert len(first["versions"]) == 3
    assert len(first["asset_copies"]) > 0  # K11 fired for the published doc

    # full redelivery: wipe the checkpoint, re-run the identical stream
    shutil.rmtree(ckpt)
    _run_stream(spark, src, sink_root, ckpt, context_tables)
    second = _snapshot(spark, sink_root)

    assert second == first, {
        k: (len(first[k]), len(second[k])) for k in first if first[k] != second[k]
    }


def test_corrupt_documents_state_fails_the_batch(spark, tmp_path, context_tables):
    """A documents-state read failure that is NOT path-not-found must fail
    the batch — silently running with empty state would flip exists_in_db
    and was_published for every message (wrong versions, wrong publish
    decisions). Only the genuine first-batch case may fall through."""
    src = tmp_path / "incoming"
    src.mkdir()
    with open(src / "f0.json", "w") as f:
        f.write(json.dumps(_record("m1", "TDR-1", "TDR")) + "\n")

    sink_root = tmp_path / "sinks"
    # plant a corrupt documents table: a parquet DIRECTORY exists but its
    # data file is garbage (e.g. a truncated footer after a partial write)
    docs_dir = sink_root / "documents"
    docs_dir.mkdir(parents=True)
    with open(docs_dir / "part-00000.parquet", "wb") as f:
        f.write(b"this is not a parquet file")

    with pytest.raises(Exception) as ei:  # StreamingQueryException via awaitTermination
        _run_stream(
            spark, src, str(sink_root), str(tmp_path / "ckpt"), context_tables
        )
    # the stream surfaced the corrupt read, not a silent empty-state run
    msg = str(ei.value)
    assert "PATH_NOT_FOUND" not in msg
    # and no effect tables were written for the failed batch
    assert not (sink_root / "versions").exists()


def test_invalid_messages_land_in_quarantine_not_void(spark, tmp_path, context_tables):
    """Review regression: the full pipeline must DLQ parse-invalid
    messages (empty reference, empty Records array) with their
    message_id — analyze() filters kind='invalid', so without the
    quarantine write they would vanish with no redrive record."""
    src = tmp_path / "incoming"
    src.mkdir()
    empty_records_body = json.dumps({"Message": json.dumps({"Records": []})})
    with open(src / "f0.json", "w") as f:
        f.write(json.dumps(_record("m1", "TDR-1", "TDR")) + "\n")
        f.write(json.dumps(_record("m-bad", "", "TDR")) + "\n")  # empty ref
        f.write(
            json.dumps(
                {
                    "messageId": "m-poison",
                    "eventSource": "aws:sqs",
                    "body": empty_records_body,
                }
            )
            + "\n"
        )

    sink_root = str(tmp_path / "sinks")
    _run_stream(spark, src, sink_root, str(tmp_path / "ckpt"), context_tables)
    q = spark.read.parquet(f"{sink_root}/quarantine")
    quarantined = {r.message_id for r in q.collect()}
    assert quarantined == {"m-bad", "m-poison"}
    # the valid message still ingested normally
    docs = spark.read.parquet(f"{sink_root}/documents")
    assert docs.count() == 1


def test_parse_invalid_and_routing_errors_share_one_dlq_partition(
    spark, tmp_path, context_tables
):
    """Regression: the DLQ used to be written twice per epoch, and both
    writes dynamically overwrote the same batch_id=<epoch> partition, so
    an epoch with a routing error (unknown originator) destroyed its
    parse-invalid rows. One write now holds both kinds."""
    src = tmp_path / "incoming"
    src.mkdir()
    with open(src / "f0.json", "w") as f:
        f.write(json.dumps(_record("m1", "TDR-1", "TDR")) + "\n")
        f.write(json.dumps(_record("m-bad", "", "TDR")) + "\n")  # empty ref
        f.write(json.dumps(_record("m-err", "TDR-2", "WEIRD")) + "\n")

    sink_root = str(tmp_path / "sinks")
    ckpt = str(tmp_path / "ckpt")
    _run_stream(spark, src, sink_root, ckpt, context_tables)
    q = spark.read.parquet(f"{sink_root}/quarantine")
    assert set(q.columns) == {"msg_id", "message_id", "status", "write_route", "batch_id"}
    rows = {r.message_id: r for r in q.collect()}
    assert set(rows) == {"m-bad", "m-err"}
    assert {r.batch_id for r in rows.values()} == {0}
    assert rows["m-bad"].status == "invalid"
    assert rows["m-err"].status != "invalid"
    assert spark.read.parquet(f"{sink_root}/documents").count() == 1

    # restart with the same checkpoint and no new data: no sink effects
    def sink_counts():
        counts = {}
        for t in ("documents", "quarantine", *EFFECT_TABLES):
            d = os.path.join(sink_root, t)
            written = any(n.endswith(".parquet") for _, _, fs in os.walk(d) for n in fs)
            counts[t] = spark.read.parquet(d).count() if written else 0
        return counts

    def sink_files():
        return {
            os.path.join(root, n): os.stat(os.path.join(root, n)).st_mtime_ns
            for root, _, fs in os.walk(sink_root)
            for n in fs
        }

    before, files_before = sink_counts(), sink_files()
    _run_stream(spark, src, sink_root, ckpt, context_tables)
    assert sink_counts() == before
    assert sink_files() == files_before  # no epoch re-ran


def test_epoch_caches_are_sized_released_and_stream_scoped(
    spark, tmp_path, context_tables, monkeypatch
):
    """The epoch's cached frames are coalesced by AQE, and its case
    mapping skips ICU, on the stream's own session clone only. Under 32
    shuffle partitions a small epoch used to run 32 tasks per sink write
    and leave several files per append sink partition. Pins: the
    caller's conf is never written, the epoch's session has both
    settings, every epoch cache is released, and each sink partition
    holds one file (assets too: the asset fan-out is one frame, no
    longer a union of four)."""
    from ds_caselaw_ingester_spark.operators import ingest
    from ds_caselaw_ingester_spark.streaming.pipeline import (
        CACHED_PLAN_REPARTITION,
        ICU_CASE_MAPPINGS,
    )

    epoch_conf = []
    real_analyze = ingest.analyze

    def recording_analyze(messages, *args, **kwargs):
        conf = messages.sparkSession.conf
        epoch_conf.append(
            (conf.get(CACHED_PLAN_REPARTITION), conf.get(ICU_CASE_MAPPINGS))
        )
        return real_analyze(messages, *args, **kwargs)

    monkeypatch.setattr(ingest, "analyze", recording_analyze)

    src = tmp_path / "incoming"
    src.mkdir()
    with open(src / "f0.json", "w") as f:
        for rec in (
            _record("m1", "TDR-1", "TDR"),
            _record("m2", "TDR-2", "TDR"),
            _record("m4", "TDR-4", "FCL S3"),
            _record("m-bad", "", "TDR"),
        ):
            f.write(json.dumps(rec) + "\n")
    sink_root = tmp_path / "sinks"

    jsc = spark.sparkContext._jsc
    cached_before = set(jsc.getPersistentRDDs().keys())
    conf_before = spark.conf.get(CACHED_PLAN_REPARTITION)
    icu_before = spark.conf.get(ICU_CASE_MAPPINGS)
    partitions_before = spark.conf.get("spark.sql.shuffle.partitions")
    real_set = spark.conf.set

    def guarded_set(key, value):
        assert key not in (CACHED_PLAN_REPARTITION, ICU_CASE_MAPPINGS), (
            f"the ingest stream wrote the caller session's {key}"
        )
        return real_set(key, value)

    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set = guarded_set
    try:
        _run_stream(
            spark, src, str(sink_root), str(tmp_path / "ckpt"), context_tables
        )
    finally:
        spark.conf.set = real_set
        spark.conf.set("spark.sql.shuffle.partitions", partitions_before)

    assert spark.conf.get(CACHED_PLAN_REPARTITION) == conf_before
    assert spark.conf.get(ICU_CASE_MAPPINGS) == icu_before == "true"
    assert epoch_conf == [("true", "false")]
    # ids, not a count: localCheckpoint RDDs left by earlier tests are
    # released by Spark's context cleaner at whatever JVM GC comes next,
    # which can shrink the count mid-stream. No RDD persisted during the
    # stream may survive it.
    assert set(jsc.getPersistentRDDs().keys()) <= cached_before
    files = {
        t: [
            n
            for n in os.listdir(sink_root / t / "batch_id=0")
            if n.endswith(".parquet")
        ]
        for t in (*EFFECT_TABLES, "quarantine")
    }
    assert all(len(v) == 1 for v in files.values()), files


def test_bucket_backup_is_recovered_before_state_read(spark, tmp_path, context_tables):
    """Review regression: a kb=N.old backup left by a bucketed-MERGE
    crash must be reconciled BEFORE the documents-state read — without
    recovery, partition discovery reads 'N.old' as a partition value
    and every uri in that bucket appears twice in the analysis join."""
    src = tmp_path / "incoming"
    src.mkdir()
    with open(src / "f0.json", "w") as f:
        f.write(json.dumps(_record("m1", "TDR-1", "TDR")) + "\n")
    sink_root = str(tmp_path / "sinks")
    _run_stream(spark, src, sink_root, str(tmp_path / "ckpt"), context_tables)
    docs_dir = os.path.join(sink_root, "documents")
    bucket = next(e for e in os.listdir(docs_dir) if e.startswith("kb="))
    # simulate the crash: bucket moved aside, swap never completed
    os.rename(
        os.path.join(docs_dir, bucket), os.path.join(docs_dir, bucket + ".old")
    )
    # redeliver the same message in a fresh stream run
    with open(src / "f1.json", "w") as f:
        f.write(json.dumps(_record("m2", "TDR-1", "TDR")) + "\n")
    os.utime(src / "f1.json", (1700000100, 1700000100))
    _run_stream(spark, src, sink_root, str(tmp_path / "ckpt2"), context_tables)
    docs = spark.read.parquet(f"{sink_root}/documents")
    rows = docs.where(F.col("uri").isNotNull()).collect()
    # one row per uri (no .old double-read), backup reconciled
    assert len(rows) == len({r.uri for r in rows}) == 1
    assert not any(e.endswith(".old") for e in os.listdir(docs_dir))


INGEST_LABELS = {
    "ingest.messages",
    "ingest.analysis",
    "ingest.documents",
    "ingest.quarantine",
    *(f"ingest.{t}" for t in EFFECT_TABLES),
}


def _jobs_after(spark, last_id: int) -> list:
    """(job id, group, description) of every job after `last_id`, read
    from the status store once the listener bus has drained (no job)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    out = []
    it = sc.statusStore().jobsList(None).iterator()
    while it.hasNext():
        jd = it.next()
        if jd.jobId() > last_id:
            group = jd.jobGroup().get() if jd.jobGroup().isDefined() else None
            desc = jd.description().get() if jd.description().isDefined() else None
            out.append((jd.jobId(), group, desc))
    return out


def test_epoch_jobs_carry_the_stream_group_and_a_sink_label(
    spark, tmp_path, context_tables
):
    """The sink writes of an epoch run concurrently on worker threads.
    Every job they launch, and every other job of the epoch, belongs to
    the stream's job group (so stopping the query cancels it) and carries
    an ``ingest.<step>`` description, the label per-sink job counts are
    read from. No job goes unlabelled: the documents state read and the
    MERGE's touched-bucket read (second epoch) launch none."""
    from collections import Counter

    src = tmp_path / "incoming"
    src.mkdir()
    with open(src / "f0.json", "w") as f:
        for rec in (_record("m1", "TDR-1", "TDR"), _record("m-bad", "", "TDR")):
            f.write(json.dumps(rec) + "\n")
    with open(src / "f1.json", "w") as f:
        f.write(json.dumps(_record("m4", "TDR-4", "FCL S3")) + "\n")
    for i, name in enumerate(["f0.json", "f1.json"]):
        os.utime(src / name, (1700000000 + i * 10, 1700000000 + i * 10))

    metadata, best_xmls, identifiers = context_tables
    last = max((j for j, _, _ in _jobs_after(spark, -1)), default=-1)
    q = run_full_ingest_stream(
        read_message_stream(spark, str(src), max_files=1),
        metadata, best_xmls, identifiers,
        str(tmp_path / "sinks"), str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    jobs = _jobs_after(spark, last)
    assert len([p for p in q.recentProgress if p.numInputRows > 0]) == 2
    assert {g for _, g, _ in jobs} == {str(q.runId)}, jobs
    labels = Counter(d for _, _, d in jobs)
    assert set(labels) == INGEST_LABELS, labels


def test_failed_effect_fails_the_epoch_and_restart_converges(
    spark, tmp_path, context_tables, monkeypatch
):
    """One append (notifications) raises while the other sink writes are
    running. The epoch must fail; the analysis cache (and the messages
    cache) may be released only once no write is running, and no RDD
    persisted during the stream survives; restarting the query on the
    same checkpoint re-runs the epoch and leaves the same tables as a
    clean run (every effect converges under redelivery)."""
    import threading
    import time

    from pyspark.sql.readwriter import DataFrameWriter

    src = tmp_path / "incoming"
    src.mkdir()
    with open(src / "f0.json", "w") as f:
        for rec in (
            _record("m1", "TDR-1", "TDR"),
            _record("m2", "TDR-2", "TDR"),
            _record("m4", "TDR-4", "FCL S3"),
            _record("m-bad", "", "TDR"),
        ):
            f.write(json.dumps(rec) + "\n")
    sink_root, ckpt = str(tmp_path / "sinks"), str(tmp_path / "ckpt")

    lock = threading.Lock()
    running = [0]  # sink writes in flight
    at_release = []  # writes in flight at each cache release off the pool
    frame = type(spark.range(0))  # the session's DataFrame class
    real_parquet, real_unpersist = DataFrameWriter.parquet, frame.unpersist

    def parquet(writer, path, *args, **kwargs):
        if path.endswith("/notifications"):
            deadline = time.time() + 60
            while running[0] == 0 and time.time() < deadline:
                time.sleep(0.01)
            assert running[0] > 0  # the failure lands mid-fan-out
            raise RuntimeError("injected notifications write failure")
        with lock:
            running[0] += 1
        try:
            return real_parquet(writer, path, *args, **kwargs)
        finally:
            with lock:
                running[0] -= 1

    def unpersist(df, *args, **kwargs):
        if not threading.current_thread().name.startswith("ingest"):
            at_release.append(running[0])
        return real_unpersist(df, *args, **kwargs)

    jsc = spark.sparkContext._jsc
    cached_before = set(jsc.getPersistentRDDs().keys())
    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    monkeypatch.setattr(frame, "unpersist", unpersist)
    try:
        with pytest.raises(Exception, match="injected notifications write failure"):
            _run_stream(spark, src, sink_root, ckpt, context_tables)
    finally:
        monkeypatch.undo()
    assert len(at_release) == 2 and at_release == [0, 0], at_release  # analysis, messages
    assert set(jsc.getPersistentRDDs().keys()) <= cached_before
    assert not os.path.exists(os.path.join(sink_root, "notifications"))

    _run_stream(spark, src, sink_root, ckpt, context_tables)
    clean_root = str(tmp_path / "clean")
    _run_stream(spark, src, clean_root, str(tmp_path / "clean_ckpt"), context_tables)

    def tables(root):
        out = _snapshot(spark, root)
        q = spark.read.parquet(f"{root}/quarantine")
        out["quarantine"] = sorted(tuple(r) for r in q.collect())
        return out

    assert tables(sink_root) == tables(clean_root)
