"""End-to-end ingest: message -> metadata -> classification -> cascade ->
routing -> sinks, against reference-shaped fixtures (FIXTURES.md §1-4).
Mirrors the reference's full-pipeline handler tests (tests/test_handler.py)
with the sink tables as the observable effects."""

from __future__ import annotations

import hashlib
import io
import json
import tarfile

import pytest
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.ingest import analyze, perform_ingest
from ds_caselaw_ingester_spark.schemas import METADATA_SCHEMA
from ds_caselaw_ingester_spark.sources.messages import parse_messages
from ds_caselaw_ingester_spark.sources.tar import explode_tar_members

JUDGMENT_XML = '<judgment xmlns="http://docs.oasis-open.org/legaldocml/ns/akn/3.0">x</judgment>'
PRESS_XML = '<doc name="pressSummary">y</doc>'
ERROR_XML = "<error>parser.log not found</error>"


def _v2_record(mid: str, ref: str, originator: str) -> tuple:
    payload = {
        "parameters": {
            "reference": ref,
            "originator": originator,
            "s3Bucket": "b",
            "s3Key": f"{ref}.tar.gz",
        }
    }
    body = json.dumps({"Message": json.dumps(payload)})
    return (mid, "aws:sqs", body)


METADATA_TDR = {
    "parameters": {
        "TRE": {
            "reference": "TDR-1",
            "payload": {
                "filename": "doc.docx",
                "xml": "TDR-1.xml",
                "images": ["image1.png", "image2.jpg"],
            },
        },
        "PARSER": {
            "uri": "https://caselaw.nationalarchives.gov.uk/id/ewca/civ/2022/111",
            "cite": "[2022] EWCA Civ 111",
            "parser_run_id": "run-42",
        },
        "TDR": {
            "Source-Organization": "HMCTS",
            "Contact-Name": "A Clerk",
            "Contact-Email": "clerk@example.com",
            "Internal-Sender-Identifier": "TDR-2024-ABC",
            "Consignment-Completed-Datetime": "2024-01-15T10:30:00Z",
            "Judgment-Update": True,
            "Judgment-Update-Type": "judgment",
            "Judgment-Update-Details": "details",
            "Judgment-Neutral-Citation": "[2019] UKSC 1701",
            "Judgment-No-Neutral-Citation": False,
            "Judgment-Reference": "Case 1",
        },
    }
}

METADATA_NEW = {
    "parameters": {
        "TRE": {"reference": "TDR-2", "payload": {"filename": None, "xml": "TDR-2.xml"}},
        "PARSER": {"uri": None, "cite": None},
    }
}

# FCL S3 bulk message with auto_publish -> exercises the K11 asset-copy path
METADATA_PUB = {
    "parameters": {
        "TRE": {
            "reference": "TDR-4",
            "payload": {"filename": "bulk.docx", "xml": "TDR-4.xml", "images": []},
        },
        "PARSER": {"uri": None, "cite": None},
        "INGESTER_OPTIONS": {"auto_publish": True},
    }
}

# member path -> bytes, per consignment; mirrors the reference tar layout
# ({ref}/{filename}, copy_file ingester.py:383-418)
MEMBER_BYTES = {
    "TDR-1": {
        "TDR-1/parser.log": b"parse OK: 0 warnings",
        "TDR-1/TDR-1.xml": JUDGMENT_XML.encode(),
        "TDR-1/doc.docx": b"PK\x03\x04 fake docx bytes",
        "TDR-1/image1.png": b"\x89PNG fake image one",
        "TDR-1/image2.jpg": b"\xff\xd8 fake image two",
    },
    "TDR-2": {"TDR-2/TDR-2.xml": PRESS_XML.encode()},
    # TDR-3's tar carries no parser.log — exercises the K8 gate
    "TDR-3": {"TDR-3/TDR-3.xml": ERROR_XML.encode()},
    "TDR-4": {
        "TDR-4/parser.log": b"parse OK: bulk",
        "TDR-4/bulk.docx": b"PK\x03\x04 bulk docx bytes",
    },
}


def _tar_gz(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        for name, data in members.items():
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


ARCHIVE_BYTES = {ref: _tar_gz(m) for ref, m in MEMBER_BYTES.items()}


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    sink_root = str(tmp_path_factory.mktemp("sinks"))
    records = spark.createDataFrame(
        [
            _v2_record("m1", "TDR-1", "TDR"),  # resolves by slug -> update path
            _v2_record("m2", "TDR-2", "TDR"),  # no uri/ncn -> new doc
            _v2_record("m3", "TDR-3", "WEIRD"),  # unknown originator -> error route
            _v2_record("m4", "TDR-4", "FCL S3"),  # auto-publish -> K11 copies
        ],
        schema="message_id string, event_source string, body string",
    )
    messages = parse_messages(records)

    meta_rows = [
        ("TDR-1", json.dumps(METADATA_TDR)),
        ("TDR-2", json.dumps(METADATA_NEW)),
        ("TDR-3", json.dumps(METADATA_NEW)),
        ("TDR-4", json.dumps(METADATA_PUB)),
    ]
    metadata = spark.createDataFrame(
        meta_rows, schema="consignment_ref string, raw string"
    ).select(
        "consignment_ref", F.from_json("raw", METADATA_SCHEMA).alias("metadata")
    )

    best_xmls = spark.createDataFrame(
        [
            ("TDR-1", JUDGMENT_XML, True),
            ("TDR-2", PRESS_XML, True),
            ("TDR-3", ERROR_XML, False),
            ("TDR-4", JUDGMENT_XML, True),
        ],
        schema="consignment_ref string, best_xml string, xml_was_valid boolean",
    )

    identifiers = spark.createDataFrame(
        [
            ("ewca/civ/2022/111", "[2022] EWCA Civ 111", "ukncn", "doc/ewca-111"),
        ],
        schema="slug string, value string, namespace string, uri string",
    )
    documents_state = spark.createDataFrame(
        [("doc/ewca-111", True)], schema="uri string, is_published boolean"
    )

    # REAL fixture archives (gzip'd tars built in-memory): member layout
    # drives both the parser.log gate (suppress(FileNotFoundException))
    # and the per-asset content hashes. TDR-1 and TDR-4 carry a
    # parser.log, TDR-2 does not.
    archives = spark.createDataFrame(
        [(ref, blob) for ref, blob in ARCHIVE_BYTES.items()],
        schema="consignment_ref string, content binary",
    )
    members = explode_tar_members(archives)
    a = analyze(messages, metadata, best_xmls, identifiers, documents_state)
    counts = perform_ingest(a, sink_root, batch_id=0, members=members, archives=archives)
    return spark, a.collect(), counts, sink_root


def test_analyze_slug_resolution_and_routing(pipeline_out):
    _, rows, _, _ = pipeline_out
    by_ref = {r.consignment_ref: r for r in rows}
    r = by_ref["TDR-1"]
    assert r.status == "resolved_slug"
    assert r.uri == "doc/ewca-111"
    assert r.exists_in_db is True
    assert r.upload_state == "updated"
    assert r.will_publish is False  # TDR never auto-publishes (C1)
    assert r.email_action == "email_updated"
    assert r.doc_kind == "judgment"


def test_analyze_new_document_fallback(pipeline_out):
    _, rows, _, _ = pipeline_out
    r = {x.consignment_ref: x for x in rows}["TDR-2"]
    assert r.status == "new"
    assert r.uri.startswith("d-")
    assert r.exists_in_db is False
    assert r.doc_kind == "pressSummary"
    assert r.email_action == "email_new"


def test_unknown_originator_routes_to_error(pipeline_out):
    """The reference raises RuntimeError on an unknown originator, so the
    message fails into the DLQ before any write — the engine's analog is
    the quarantine split: the row reaches NO sink and IS recorded."""
    spark, rows, counts, sink_root = pipeline_out
    r = {x.consignment_ref: x for x in rows}["TDR-3"]
    assert r.will_publish is None  # reference raises RuntimeError (C1)
    assert r.email_action == "error"
    q = spark.read.parquet(f"{sink_root}/quarantine").collect()
    assert "m3" in {x.message_id for x in q}


def test_sink_effects(pipeline_out):
    spark, _, counts, sink_root = pipeline_out
    # m1, m2, m4 — m3 (unknown originator) is quarantined, not written
    assert counts["documents"] == 3
    docs = {r.uri: r for r in spark.read.parquet(f"{sink_root}/documents").collect()}
    assert docs["doc/ewca-111"].doc_type == "judgment"
    # properties: 5 TDR keys (reference ingester.py:333-347 store_tdr_metadata)
    # + parser-run-id for TDR-1 only
    props = spark.read.parquet(f"{sink_root}/properties").collect()
    assert {(p.name, p.value) for p in props if p.uri == "doc/ewca-111"} == {
        ("source-organisation", "HMCTS"),
        ("source-name", "A Clerk"),
        ("source-email", "clerk@example.com"),
        ("transfer-consignment-reference", "TDR-2024-ABC"),
        ("transfer-received-at", "2024-01-15T10:30:00Z"),
        ("parser-run-id", "run-42"),
    }
    # identifiers: judgment with NCN -> ukncn row; TDR-2 has no cite -> none
    idents = spark.read.parquet(f"{sink_root}/identifiers").collect()
    assert [(i.namespace, i.value) for i in idents] == [("ukncn", "[2022] EWCA Civ 111")]


def test_asset_effects(pipeline_out):
    """K6-K10: one asset row per save_files_to_s3 write, parser.log gated
    on the member existing; K11: publish copies every asset of the
    published uri private -> public."""
    spark, rows, counts, sink_root = pipeline_out
    assets = spark.read.parquet(f"{sink_root}/assets").collect()
    by_uri: dict = {}
    for a in assets:
        by_uri.setdefault(a.uri, set()).add((a.effect_seq, a.asset_kind, a.s3_key))
    # TDR-1 (update path, docx + 2 images + parser.log member present)
    u1 = "doc/ewca-111"
    assert by_uri[u1] == {
        (1, "tar", f"{u1}/TDR-1.tar.gz"),
        (2, "source_doc", f"{u1}/doc_ewca-111.docx"),
        (3, "parser_log", f"{u1}/parser.log"),
        (4, "image", f"{u1}/image1.png"),
        (4, "image", f"{u1}/image2.jpg"),
    }
    # TDR-2 (no source filename -> _nodocx tar; no parser.log member)
    u2 = next(r.uri for r in rows if r.consignment_ref == "TDR-2")
    assert by_uri[u2] == {(1, "tar", f"{u2}/TDR-2_nodocx.tar.gz")}
    # 9 rows: m3 (unknown originator) is quarantined before the fan-out
    assert counts["assets"] == len(assets) == 9

    # K11 — only TDR-4 (FCL S3 auto_publish) publishes; all 3 of its
    # assets get a private->public copy row
    copies = spark.read.parquet(f"{sink_root}/asset_copies").collect()
    u4 = next(r.uri for r in rows if r.consignment_ref == "TDR-4")
    assert counts["asset_copies"] == 3
    assert {c.uri for c in copies} == {u4}
    assert {(c.from_bucket, c.to_bucket) for c in copies} == {("unpublished", "published")}
    assert {c.s3_key for c in copies} == {
        f"{u4}/TDR-4.tar.gz",
        f"{u4}/{u4}.docx",
        f"{u4}/parser.log",
    }


def _md5(b: bytes) -> str:
    return hashlib.md5(b).hexdigest()


# reference tests/test_notifications.py:14 — the all-null update_metadata
# blob sent when the TDR section is absent
NULL_UPDATE_METADATA = (
    '{\n  "Judgment-Update": null,\n  "Judgment-Update-Type": null,\n'
    '  "Judgment-Update-Details": null,\n  "Judgment-Neutral-Citation": null,\n'
    '  "Judgment-No-Neutral-Citation": null,\n  "Judgment-Reference": null\n}'
)


def test_notification_personalisation_payload(pipeline_out):
    """K12 payload parity with personalise_email (ingester.py:100-125):
    full TDR section -> populated dict with the json.dumps(indent=2)
    update_metadata (reference tests/test_notifications.py:100-133); no
    TDR section -> the all-unknown defaults dict the reference pins
    (tests/test_notifications.py:117-166)."""
    spark, rows, _, sink_root = pipeline_out
    notes = spark.read.parquet(f"{sink_root}/notifications").collect()
    by_msg = {n.msg_id: json.loads(n.personalisation_json) for n in notes}

    full = by_msg["m1"]  # TDR-1: complete TDR metadata
    assert full == {
        "url": "https://editor.example/detail?judgment_uri=doc/ewca-111",
        "consignment": "TDR-2024-ABC",
        "submitter": "A Clerk, HMCTS <clerk@example.com>",
        "submitted_at": "2024-01-15T10:30:00Z",
        "update_metadata": (
            '{\n  "Judgment-Update": true,\n  "Judgment-Update-Type": "judgment",\n'
            '  "Judgment-Update-Details": "details",\n'
            '  "Judgment-Neutral-Citation": "[2019] UKSC 1701",\n'
            '  "Judgment-No-Neutral-Citation": false,\n  "Judgment-Reference": "Case 1"\n}'
        ),
    }

    # update-template payloads must stay doctype-free (the reference only
    # appends doctype in send_new_judgment_notification, ingester.py:305-306)
    assert "doctype" not in full

    defaults = by_msg["m2"]  # TDR-2: no TDR section at all; email_new
    uri2 = next(r.uri for r in rows if r.consignment_ref == "TDR-2")
    assert defaults == {
        "url": f"https://editor.example/detail?judgment_uri={uri2}",
        "consignment": "unknown",
        "submitter": "unknown, unknown <unknown>",
        "submitted_at": "unknown",
        "update_metadata": NULL_UPDATE_METADATA,
        # email_new carries the document noun, appended last
        # (ingester.py:305-306; tests/test_notifications.py:31-40 pins
        # doctype present in the new-judgment payload)
        "doctype": "press summary",
    }
    # serialisation order parity: doctype is the LAST key, like the
    # reference's post-build dict assignment
    raw2 = next(n.personalisation_json for n in notes if n.msg_id == "m2")
    assert raw2.rstrip("}").rstrip().endswith('"press summary"')


def test_asset_content_identity(pipeline_out):
    """K6-K10 byte-fidelity: each asset row's content_md5 is the md5 of
    exactly the bytes the reference copies — the whole archive for the
    tar row (ingester.py:373-380), the member at {ref}/{filename} for
    source doc / parser.log / images (copy_file, ingester.py:383-418)."""
    spark, rows, _, sink_root = pipeline_out
    assets = spark.read.parquet(f"{sink_root}/assets").collect()
    by_key = {(a.uri, a.asset_kind, a.s3_key): a.content_md5 for a in assets}

    u1 = "doc/ewca-111"
    m1 = MEMBER_BYTES["TDR-1"]
    assert by_key[(u1, "tar", f"{u1}/TDR-1.tar.gz")] == _md5(ARCHIVE_BYTES["TDR-1"])
    assert by_key[(u1, "source_doc", f"{u1}/doc_ewca-111.docx")] == _md5(m1["TDR-1/doc.docx"])
    assert by_key[(u1, "parser_log", f"{u1}/parser.log")] == _md5(m1["TDR-1/parser.log"])
    assert by_key[(u1, "image", f"{u1}/image1.png")] == _md5(m1["TDR-1/image1.png"])
    assert by_key[(u1, "image", f"{u1}/image2.jpg")] == _md5(m1["TDR-1/image2.jpg"])

    # TDR-2: _nodocx tar only — whole-archive hash, no member rows
    u2 = next(r.uri for r in rows if r.consignment_ref == "TDR-2")
    assert by_key[(u2, "tar", f"{u2}/TDR-2_nodocx.tar.gz")] == _md5(ARCHIVE_BYTES["TDR-2"])

    # K11: every publish copy row pins the same bytes as its asset row
    copies = spark.read.parquet(f"{sink_root}/asset_copies").collect()
    u4 = next(r.uri for r in rows if r.consignment_ref == "TDR-4")
    m4 = MEMBER_BYTES["TDR-4"]
    copy_md5 = {c.s3_key: c.content_md5 for c in copies}
    assert copy_md5[f"{u4}/TDR-4.tar.gz"] == _md5(ARCHIVE_BYTES["TDR-4"])
    assert copy_md5[f"{u4}/{u4}.docx"] == _md5(m4["TDR-4/bulk.docx"])
    assert copy_md5[f"{u4}/parser.log"] == _md5(m4["TDR-4/parser.log"])


def _reextract(ref: str, member: str | None) -> bytes:
    """Re-open the fixture archive and pull bytes the way the reference's
    copy_file does (file_helpers.py:36-73): tarfile.getmember — which
    returns the LAST occurrence for duplicate names — then extractfile.
    member=None -> the whole archive (the tar asset row)."""
    blob = ARCHIVE_BYTES[ref]
    if member is None:
        return blob
    with tarfile.open(fileobj=io.BytesIO(blob), mode="r:gz") as tf:
        f = tf.extractfile(tf.getmember(member))
        assert f is not None, member
        return f.read()


def test_asset_round_trip_from_sink_rows(pipeline_out):
    """Byte-faithful ROUND TRIP (VERDICT r5 missing #3): starting from
    each persisted sink row — not the fixture dict — derive the member
    the row's s3_key refers to, re-open the actual .tar.gz, extract, and
    assert md5(bytes) == the row's content_md5; then the same through
    every K11 publish-copy row. This is the consumer's contract: a sink
    row plus the archive is sufficient to reproduce the exact bytes the
    reference would have copied (ingester.py:361-418)."""
    spark, rows, _, sink_root = pipeline_out
    by_uri = {r.uri: r for r in rows}

    def member_for(asset) -> str | None:
        r = by_uri[asset.uri]
        ref = r.consignment_ref
        if asset.asset_kind == "tar":
            return None
        if asset.asset_kind == "source_doc":
            return f"{ref}/{r.source_filename}"
        if asset.asset_kind == "parser_log":
            return f"{ref}/parser.log"
        assert asset.asset_kind == "image"
        image_name = asset.s3_key[len(asset.uri) + 1 :]
        return f"{ref}/{image_name}"

    assets = spark.read.parquet(f"{sink_root}/assets").collect()
    checked = 0
    for a in assets:
        if a.content_md5 is None:
            continue
        ref = by_uri[a.uri].consignment_ref
        assert _md5(_reextract(ref, member_for(a))) == a.content_md5, a
        checked += 1
    assert checked >= 7  # TDR-1 (5 rows) + TDR-2 tar + TDR-4 rows

    # the published copies must reproduce the same bytes from the same keys
    asset_by_key = {(a.uri, a.s3_key): a for a in assets}
    copies = spark.read.parquet(f"{sink_root}/asset_copies").collect()
    assert copies
    for c in copies:
        a = asset_by_key[(c.uri, c.s3_key)]
        ref = by_uri[c.uri].consignment_ref
        assert _md5(_reextract(ref, member_for(a))) == c.content_md5, c


def test_assets_write_explodes_each_tar_once(pipeline_out):
    """The parser.log gate and every content md5 come from one md5
    index, so the executed plan of the assets write (the SQL execution
    labelled ingest.assets, its persisted fan-out included) runs
    explode_tar_members' MapInPandas once. The gate used to explode the
    members a second time."""
    spark = pipeline_out[0]
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    ids = []
    while it.hasNext():
        e = it.next()
        if e.description() == "ingest.assets":
            ids.append(e.executionId())
    assert ids
    # the final plan, with every cached plan it scans (SparkPlanInfo)
    nodes = store.planGraph(ids[-1]).allNodes().iterator()
    names = []
    while nodes.hasNext():
        names.append(nodes.next().name())
    assert names.count("MapInPandas") == 1, names


def test_parser_log_gate_is_containment_and_md5_needs_the_exact_member(spark):
    """The gate matches the reference scan (any member whose name
    contains 'parser.log'), while the md5 is of exactly {ref}/parser.log,
    the path copy_file reads: NULL when only another log member exists.
    No such member at all drops the parser.log row."""
    from ds_caselaw_ingester_spark.operators.assets import asset_rows

    archives = spark.createDataFrame(
        [
            ("R1", _tar_gz({"R1/parser.log.txt": b"log", "R1/a.png": b"png"})),
            ("R2", _tar_gz({"R2/parser.log": b"first", "R2/x.xml": b"x"})),
            ("R3", _tar_gz({"R3/x.xml": b"x"})),
        ],
        "consignment_ref string, content binary",
    )
    src = spark.createDataFrame(
        [("u1", "R1", None, ["a.png"]), ("u2", "R2", None, None), ("u3", "R3", None, None)],
        "uri string, ref string, source_filename string, images array<string>",
    )
    rows = asset_rows(src, ["uri"], members=explode_tar_members(archives)).collect()
    logs = {r.uri: r.content_md5 for r in rows if r.asset_kind == "parser_log"}
    assert logs == {"u1": None, "u2": _md5(b"first")}
    image = next(r for r in rows if r.asset_kind == "image")
    assert image.content_md5 == _md5(b"png")


def test_member_hash_index_last_occurrence_wins(spark):
    """Duplicate member names inside one tar: content_md5 must be the md5
    of the LAST occurrence's bytes — the same pick Python tarfile's
    getmember makes for the reference's copy_file — and member_index is a
    hard requirement (no silent constant-ordering fallback)."""
    import pytest

    from ds_caselaw_ingester_spark.operators.assets import member_hash_index
    from ds_caselaw_ingester_spark.sources.tar import explode_tar_members

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        for data in (b"first version", b"second version wins"):
            info = tarfile.TarInfo(name="R-1/dup.txt")
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    archives = spark.createDataFrame(
        [("R-1", buf.getvalue())], schema="consignment_ref string, content binary"
    )
    members = explode_tar_members(archives)
    idx = {r.member_name: r.content_md5 for r in member_hash_index(members).collect()}
    assert idx["R-1/dup.txt"] == _md5(b"second version wins")
    # tarfile agrees with the engine's pick
    with tarfile.open(fileobj=io.BytesIO(buf.getvalue()), mode="r:gz") as tf:
        assert tf.extractfile(tf.getmember("R-1/dup.txt")).read() == b"second version wins"

    with pytest.raises(ValueError, match="member_index"):
        member_hash_index(members.drop("member_index"))


def _s3_record(mid: str, key: str) -> tuple:
    payload = {
        "Records": [
            {
                "eventSource": "aws:s3",
                "s3": {"bucket": {"name": "drops"}, "object": {"key": key}},
            }
        ]
    }
    return (mid, "aws:sqs", json.dumps({"Message": json.dumps(payload)}))


def test_s3_tre_override_keeps_raw_ref_for_file_operations(spark, tmp_path):
    """Parity regression (reference ingester.py:193 vs 206): the TRE
    reference overrides the MESSAGE ref (P10), but every file operation
    uses the Ingest.__init__ snapshot — the archive-filename stem. An
    s3 message 'BULK-7.tar.gz' whose metadata says TRE 'TRE-BULK-7'
    must name the tar 'BULK-7.tar.gz' and find member
    'BULK-7/parser.log' (the post-override ref silently missed both)."""
    records = spark.createDataFrame(
        [_s3_record("s1", "drops/BULK-7.tar.gz")],
        schema="message_id string, event_source string, body string",
    )
    messages = parse_messages(records)
    meta = {
        "parameters": {
            "TRE": {
                "reference": "TRE-BULK-7",
                "payload": {"filename": "bulk.docx", "xml": "BULK-7.xml", "images": []},
            },
            "PARSER": {"uri": None, "cite": None, "parser_run_id": "run-b"},
            "INGESTER_OPTIONS": {"auto_publish": False},
        }
    }
    metadata = spark.createDataFrame(
        [("BULK-7", json.dumps(meta))], "consignment_ref string, raw string"
    ).select("consignment_ref", F.from_json("raw", METADATA_SCHEMA).alias("metadata"))
    best_xmls = spark.createDataFrame(
        [("BULK-7", JUDGMENT_XML, True)],
        "consignment_ref string, best_xml string, xml_was_valid boolean",
    )
    identifiers = spark.createDataFrame(
        [], "slug string, value string, namespace string, uri string"
    )
    state = spark.createDataFrame([], "uri string, is_published boolean")
    archives = spark.createDataFrame(
        [("BULK-7", _tar_gz({
            "BULK-7/parser.log": b"bulk parse OK",
            "BULK-7/bulk.docx": b"PK bulk bytes",
        }))],
        "consignment_ref string, content binary",
    )
    members = explode_tar_members(archives)
    a = analyze(messages, metadata, best_xmls, identifiers, state)
    row = a.collect()[0]
    assert row.consignment_ref == "TRE-BULK-7"       # P10 override visible
    assert row.raw_consignment_ref == "BULK-7"       # snapshot preserved
    sink_root = str(tmp_path / "sinks")
    perform_ingest(a, sink_root, batch_id=0, members=members, archives=archives)
    assets = spark.read.parquet(f"{sink_root}/assets").collect()
    keys = {x.asset_kind: x.s3_key for x in assets}
    uri = row.uri
    assert keys["tar"] == f"{uri}/BULK-7.tar.gz"     # NOT TRE-BULK-7.tar.gz
    assert "parser_log" in keys                       # member join found the log
    md5s = {x.asset_kind: x.content_md5 for x in assets}
    assert md5s["parser_log"] == hashlib.md5(b"bulk parse OK").hexdigest()
    assert md5s["source_doc"] == hashlib.md5(b"PK bulk bytes").hexdigest()


def test_duplicate_message_id_in_one_batch_does_not_fan_out(spark, tmp_path):
    """Review regression: at-least-once can deliver the same message_id
    twice in ONE micro-batch; the enriched<->resolved self-join on
    msg_id previously fanned out quadratically and every sink got 2x
    rows. First-wins per msg_id."""
    records = spark.createDataFrame(
        [_v2_record("mdup", "TDR-2", "TDR"), _v2_record("mdup", "TDR-2", "TDR")],
        schema="message_id string, event_source string, body string",
    )
    messages = parse_messages(records)
    metadata = spark.createDataFrame(
        [("TDR-2", json.dumps(METADATA_NEW))], "consignment_ref string, raw string"
    ).select("consignment_ref", F.from_json("raw", METADATA_SCHEMA).alias("metadata"))
    best_xmls = spark.createDataFrame(
        [("TDR-2", PRESS_XML, True)],
        "consignment_ref string, best_xml string, xml_was_valid boolean",
    )
    identifiers = spark.createDataFrame(
        [], "slug string, value string, namespace string, uri string"
    )
    state = spark.createDataFrame([], "uri string, is_published boolean")
    a = analyze(messages, metadata, best_xmls, identifiers, state)
    assert a.count() == 1  # one analysis row, not 4
    sink_root = str(tmp_path / "sinks")
    counts = perform_ingest(a, sink_root, batch_id=0)
    assert counts["documents"] == 1
    assert counts["versions"] == 1


def test_two_messages_for_one_uri_leave_one_document_row(spark, tmp_path):
    """Two messages of one epoch that resolve to the same existing uri
    offer the documents MERGE two rows for one key. The table keeps one
    row per uri (the MERGE reduces each key to one winner) while
    versions keeps one row per message; and the next epoch's state read
    sees one row, so its analysis does not fan out on the J5 join."""
    from ds_caselaw_ingester_spark.operators.upsert import upsert_parquet_table_bucketed

    uri = "doc/ewca-111"
    sink_root = str(tmp_path / "sinks")
    docs_path = f"{sink_root}/documents"
    upsert_parquet_table_bucketed(
        spark.createDataFrame(
            [(uri, "<old/>", "judgment", False)],
            "uri string, xml string, doc_type string, is_published boolean",
        ),
        docs_path,
    )
    second = json.loads(json.dumps(METADATA_TDR))
    second["parameters"]["TRE"]["reference"] = "TDR-5"
    metadata = spark.createDataFrame(
        [("TDR-1", json.dumps(METADATA_TDR)), ("TDR-5", json.dumps(second))],
        "consignment_ref string, raw string",
    ).select("consignment_ref", F.from_json("raw", METADATA_SCHEMA).alias("metadata"))
    best_xmls = spark.createDataFrame(
        [("TDR-1", JUDGMENT_XML, True), ("TDR-5", PRESS_XML, True)],
        "consignment_ref string, best_xml string, xml_was_valid boolean",
    )
    identifiers = spark.createDataFrame(
        [("ewca/civ/2022/111", "[2022] EWCA Civ 111", "ukncn", uri)],
        "slug string, value string, namespace string, uri string",
    )

    def epoch(batch_id: int, *records: tuple):
        state = spark.read.parquet(docs_path).select("uri", "is_published")
        a = analyze(
            parse_messages(spark.createDataFrame(
                list(records), "message_id string, event_source string, body string"
            )),
            metadata, best_xmls, identifiers, state,
        )
        analysed = a.select("msg_id", "uri", "exists_in_db").collect()
        perform_ingest(a, sink_root, batch_id=batch_id)
        return analysed

    analysed = epoch(0, _v2_record("m1", "TDR-1", "TDR"), _v2_record("m5", "TDR-5", "TDR"))
    assert sorted((r.msg_id, r.uri, r.exists_in_db) for r in analysed) == [
        ("m1", uri, True), ("m5", uri, True)
    ]
    docs = spark.read.parquet(docs_path).collect()
    assert [d.uri for d in docs] == [uri]
    # the winner is the greatest row, xml first: '<judgment' > '<doc'
    assert docs[0].xml == JUDGMENT_XML
    versions = spark.read.parquet(f"{sink_root}/versions").where("batch_id = 0")
    assert versions.where(F.col("uri") == uri).count() == 2

    analysed = epoch(1, _v2_record("m6", "TDR-1", "TDR"))
    assert [(r.msg_id, r.uri) for r in analysed] == [("m6", uri)]
    assert spark.read.parquet(docs_path).count() == 1
    versions = spark.read.parquet(f"{sink_root}/versions").where("batch_id = 1")
    assert versions.count() == 1
