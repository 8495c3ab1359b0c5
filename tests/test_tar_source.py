"""Tar-member explode + scan tests over real in-memory tarballs — mirrors
the reference's golden-tarball fixtures incl. negative cases
(tests/test_file_helpers.py:33-233: TAR-MISSING-METADATA, TAR-INVALID-XML,
last-match-wins, parser.log fallback)."""

from __future__ import annotations

import io
import tarfile

import pytest
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.sources.tar import (
    best_xml,
    explode_tar_members,
    scan_metadata,
    scan_named_xml,
    scan_parser_log,
)

VALID_XML = '<judgment xmlns="http://docs.oasis-open.org/legaldocml/ns/akn/3.0">ok</judgment>'
INVALID_XML = "<judgment>no closing tag"


def _make_tar(members: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        for name, data in members:
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


@pytest.fixture(scope="module")
def members_df(spark):
    packages = [
        (
            "TDR-2022-DNWR",  # happy path
            _make_tar(
                [
                    ("TDR-2022-DNWR/TRE-TDR-2022-DNWR-metadata.json", b'{"parameters": {}}'),
                    ("TDR-2022-DNWR/TDR-2022-DNWR.xml", VALID_XML.encode()),
                    ("TDR-2022-DNWR/test.docx", b"DOCXBYTES"),
                    ("TDR-2022-DNWR/parser.log", b"all fine"),
                ]
            ),
        ),
        (
            "TAR-TWO-METADATA",  # two metadata members -> LAST wins
            _make_tar(
                [
                    ("TAR-TWO-METADATA/a-metadata.json", b'{"which": "first"}'),
                    ("TAR-TWO-METADATA/b-metadata.json", b'{"which": "second"}'),
                ]
            ),
        ),
        (
            "TAR-MISSING-METADATA",  # FileNotFoundException branch
            _make_tar([("TAR-MISSING-METADATA/doc.xml", VALID_XML.encode())]),
        ),
        (
            "TAR-INVALID-XML",  # ParseError -> parser.log fallback
            _make_tar(
                [
                    ("TAR-INVALID-XML/TAR-INVALID-XML.xml", INVALID_XML.encode()),
                    ("TAR-INVALID-XML/parser.log", b"parse <failed> & stuff"),
                ]
            ),
        ),
        (
            "TAR-NO-LOG",  # invalid xml AND no parser.log -> default error doc
            _make_tar([("TAR-NO-LOG/TAR-NO-LOG.xml", INVALID_XML.encode())]),
        ),
    ]
    archives = spark.createDataFrame(
        packages, schema="consignment_ref string, content binary"
    )
    df = explode_tar_members(archives)
    df.persist().count()
    return df


def test_explode_one_row_per_member(members_df):
    counts = {
        r.consignment_ref: r["count"]
        for r in members_df.groupBy("consignment_ref").count().collect()
    }
    assert counts["TDR-2022-DNWR"] == 4
    assert counts["TAR-TWO-METADATA"] == 2


def test_member_bytes_roundtrip(members_df):
    row = members_df.where(
        F.col("member_name").endswith("test.docx")
    ).collect()[0]
    assert bytes(row.content) == b"DOCXBYTES"


def test_metadata_scan_last_match_wins(members_df):
    # file_helpers.py:27-29 — loop overwrites, last match wins
    got = {
        r.consignment_ref: bytes(r.metadata_bytes)
        for r in scan_metadata(members_df).collect()
    }
    assert got["TAR-TWO-METADATA"] == b'{"which": "second"}'
    assert "TAR-MISSING-METADATA" not in got  # missing -> no row


def test_best_xml_happy_and_fallbacks(spark, members_df):
    consignments = spark.createDataFrame(
        [(r,) for r in ["TDR-2022-DNWR", "TAR-INVALID-XML", "TAR-NO-LOG"]],
        schema="consignment_ref string",
    )
    xml_names = spark.createDataFrame(
        [
            ("TDR-2022-DNWR", "TDR-2022-DNWR.xml"),
            ("TAR-INVALID-XML", "TAR-INVALID-XML.xml"),
            ("TAR-NO-LOG", "TAR-NO-LOG.xml"),
        ],
        schema="consignment_ref string, xml_name string",
    )
    named = scan_named_xml(members_df, xml_names)
    logs = scan_parser_log(members_df)
    got = {r.consignment_ref: r for r in best_xml(consignments, named, logs).collect()}

    assert got["TDR-2022-DNWR"].xml_was_valid
    assert got["TDR-2022-DNWR"].best_xml == VALID_XML
    # invalid XML -> escaped parser.log wrapped in <error> (file_helpers.py:85-95)
    assert not got["TAR-INVALID-XML"].xml_was_valid
    assert got["TAR-INVALID-XML"].best_xml == "<error>parse &lt;failed&gt; &amp; stuff</error>"
    # no parser.log at all -> the not-found default (file_helpers.py:86)
    assert got["TAR-NO-LOG"].best_xml == "<error>parser.log not found</error>"


def test_member_hash_index_last_occurrence_wins(spark):
    """A tar can contain the same member path twice (append-mode
    archives). Python's tarfile getmember — and therefore the reference's
    copy_file — reads the LAST occurrence; member_hash_index must hash
    the same bytes."""
    import hashlib
    import io
    import tarfile

    from ds_caselaw_ingester_spark.operators.assets import member_hash_index
    from ds_caselaw_ingester_spark.sources.tar import explode_tar_members

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        for data in (b"old bytes", b"new bytes"):
            info = tarfile.TarInfo("REF-1/doc.docx")
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    archives = spark.createDataFrame(
        [("REF-1", buf.getvalue())], "consignment_ref string, content binary"
    )
    idx = member_hash_index(explode_tar_members(archives)).collect()
    assert len(idx) == 1
    assert idx[0].content_md5 == hashlib.md5(b"new bytes").hexdigest()

    # sanity: stdlib tarfile agrees that the last occurrence is the one read
    with tarfile.open(fileobj=io.BytesIO(buf.getvalue()), mode="r:*") as tf:
        assert tf.extractfile(tf.getmember("REF-1/doc.docx")).read() == b"new bytes"


def test_parser_log_matched_by_containment_like_reference(spark):
    """Parity regression (file_helpers.py:88 is substring containment):
    a member named 'R1/parser.log.txt' must match the scan; endswith
    missed it and substituted the not-found default."""
    import io
    import tarfile as _tarfile

    from pyspark.sql import functions as F

    from ds_caselaw_ingester_spark.sources.tar import (
        explode_tar_members,
        scan_parser_log,
    )

    buf = io.BytesIO()
    with _tarfile.open(fileobj=buf, mode="w:gz") as tf:
        data = b"log line"
        info = _tarfile.TarInfo(name="R1/parser.log.txt")
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))
    archives = spark.createDataFrame(
        [("R1", buf.getvalue())], "consignment_ref string, content binary"
    )
    logs = scan_parser_log(explode_tar_members(archives)).collect()
    assert len(logs) == 1
    assert bytes(logs[0]["parser_log_bytes"]) == b"log line"
