"""Tar-package source operators (SURVEY.md §2.1 S7-S12).

The reference downloads a consignment `.tar.gz` and scans members
imperatively (file_helpers.py:24-115). Spark-first model:

- archives arrive as any (consignment_ref, content) DataFrame;
- ``explode_tar_members`` runs tarfile over each archive inside
  ``mapInPandas`` — Arrow-batched, executor-local, bytes never touch the
  driver — yielding one row per member with its tar ordinal;
- member *scans* (metadata / named-XML / parser.log) are then plain
  DataFrame filters + last-match-wins windows, NOT Python loops, so they
  compose with the rest of the plan and scale with partitioning.

Last-match-wins: the reference's linear scans overwrite on every match
(file_helpers.py:27-29, 79-81), so the LAST matching member wins — we
reproduce that with a max(member_index) window, never arbitrary first().
"""

from __future__ import annotations

import io
import tarfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


TAR_MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("consignment_ref", T.StringType(), False),
        T.StructField("member_name", T.StringType(), False),
        T.StructField("member_index", T.IntegerType(), False),
        T.StructField("content", T.BinaryType(), True),
    ]
)


def explode_tar_members(
    archives: DataFrame, ref_col: str = "consignment_ref", bin_col: str = "content"
) -> DataFrame:
    """(ref, tar.gz bytes) -> one row per regular member (S8)."""

    def _explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, blob in zip(pdf[ref_col], pdf[bin_col]):
                if blob is None:
                    continue
                with tarfile.open(fileobj=io.BytesIO(bytes(blob)), mode="r:*") as tf:
                    for idx, member in enumerate(tf.getmembers()):
                        if not member.isfile():
                            continue
                        fobj = tf.extractfile(member)
                        data = fobj.read() if fobj is not None else None
                        rows.append((ref, member.name, idx, data))
            yield pd.DataFrame(
                rows, columns=["consignment_ref", "member_name", "member_index", "content"]
            )

    return archives.select(ref_col, bin_col).mapInPandas(_explode, TAR_MEMBER_SCHEMA)


def _last_match(members: DataFrame, match: F.Column, out_name: str) -> DataFrame:
    """Filter to matching members, keep the LAST per consignment by tar
    order (reference scan semantics), return (consignment_ref, out_name)."""
    w = Window.partitionBy("consignment_ref").orderBy(F.col("member_index").desc())
    return (
        members.where(match)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("consignment_ref", F.col("content").alias(out_name))
    )


def scan_metadata(members: DataFrame) -> DataFrame:
    """S9: member whose name contains '-metadata.json'; missing ->
    no row (caller left-joins; a NULL struct is the
    FileNotFoundException branch, file_helpers.py:24-33)."""
    return _last_match(
        members, F.col("member_name").contains("-metadata.json"), "metadata_bytes"
    )


def scan_named_xml(members: DataFrame, xml_names: DataFrame) -> DataFrame:
    """S10: per-consignment named XML member (name from TRE metadata,
    ingester.py:207), last match wins; empty/NULL name -> no match
    (file_helpers.py:76-82)."""
    joined = members.join(xml_names, "consignment_ref").where(
        F.col("xml_name").isNotNull()
        & (F.col("xml_name") != "")
        & F.col("member_name").contains(F.col("xml_name"))
    )
    w = Window.partitionBy("consignment_ref").orderBy(F.col("member_index").desc())
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("consignment_ref", F.col("content").alias("xml_bytes"))
    )


def scan_parser_log(members: DataFrame) -> DataFrame:
    """S11 scan half: the parser.log member — CONTAINMENT, not suffix
    (file_helpers.py:88 is `"parser.log" in member.name`, so
    'REF/parser.log.txt' matches the reference; an endswith here missed
    it, substituting the not-found default for real log content)."""
    return _last_match(
        members, F.col("member_name").contains("parser.log"), "parser_log_bytes"
    )


def best_xml(
    consignments: DataFrame,
    named_xml: DataFrame,
    parser_logs: DataFrame,
) -> DataFrame:
    """S12 (file_helpers.py:98-115): prefer the named XML when it parses;
    else synthesize <error>-wrapped parser.log; else the not-found default.
    The validity probe is a genuine try-parse (the reference catches
    ParseError) — an Arrow-batched pandas UDF over stdlib ElementTree,
    executor-side; Spark's xpath_* functions raise on malformed XML so
    they can't express the fallback.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ds_caselaw_ingester_spark.functions.scalars import parser_log_xml

    @pandas_udf("boolean")
    def _parses(xml: pd.Series) -> pd.Series:
        import xml.etree.ElementTree as ET

        def ok(s: object) -> bool:
            if not isinstance(s, str) or not s.strip():
                return False
            try:
                ET.fromstring(s)
                return True
            except ET.ParseError:
                return False

        return xml.map(ok)

    base = (
        consignments.join(named_xml, "consignment_ref", "left")
        .join(parser_logs, "consignment_ref", "left")
        .withColumn("xml_text", F.col("xml_bytes").cast("string"))
        .withColumn("parser_log_text", F.col("parser_log_bytes").cast("string"))
    )
    parsed_ok = F.coalesce(_parses(F.col("xml_text")), F.lit(False))
    return base.select(
        "consignment_ref",
        F.when(parsed_ok, F.col("xml_text"))
        .otherwise(parser_log_xml(F.col("parser_log_text")))
        .alias("best_xml"),
        parsed_ok.alias("xml_was_valid"),
    )
