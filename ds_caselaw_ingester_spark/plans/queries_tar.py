"""Oracle-checked decomposition of the tar-package path (SURVEY.md §2.1
S7-S12, P11).

`tar_pipeline` (queries_etl.py) exercises the binary path end-to-end but
is rows-only (a tar.gz is not SQL-expressible). This query closes the
oracle gap at the path's decision points:

- ``tar_best_xml_select`` — the selection/fallback logic
  (file_helpers.py:76-115, ingester.py:215-223) over member rows
  synthesized from the ``documents`` table: named-XML scan with
  last-match-wins against a decoy member (S10), the genuine try-parse
  pandas UDF deciding valid vs fallback (S12), the 3-entity-escaped
  ``<error>`` parser-log synth (S11), and document classification of
  the chosen XML (P11). Validity is *constructed* (doc_id mod rules),
  so the oracle predicts what the real XML parser must decide.

At 100 TB: the plan is the production shape — the scans are
windows/joins, not Python loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.plans.registry import register
from ds_caselaw_ingester_spark.sources.catalog import table

# ---------------------------------------------------------------------------
# tar_best_xml_select — S10 + S11 + S12 + P11, value-checked
# ---------------------------------------------------------------------------

TAR_BEST_XML_ORACLE = """
SELECT 'C' || CAST(doc_id AS VARCHAR) AS consignment_ref,
       (doc_id % 7 <> 0 AND doc_id % 3 <> 1) AS xml_was_valid,
       CASE
         WHEN doc_id % 7 <> 0 AND doc_id % 3 = 0
           THEN '<judgment><p>j' || doc_id || '</p></judgment>'
         WHEN doc_id % 7 <> 0 AND doc_id % 3 = 2
           THEN '<doc name="pressSummary"><p>s</p></doc>'
         WHEN doc_id % 5 <> 0
           THEN '<error>log &lt;' || doc_id || '&gt; &amp; done</error>'
         ELSE '<error>parser.log not found</error>'
       END AS best_xml,
       CASE
         WHEN doc_id % 7 <> 0 AND doc_id % 3 = 0 THEN 'judgment'
         WHEN doc_id % 7 <> 0 AND doc_id % 3 = 2 THEN 'pressSummary'
         ELSE 'parserLog'
       END AS doc_kind
FROM documents
"""


@register(
    "tar_best_xml_select",
    TAR_BEST_XML_ORACLE,
    doc="Best-XML selection and fallback over synthesized member rows: "
    "named-XML scan with NULL-name short-circuit and last-match-wins "
    "against an earlier decoy member (S10, file_helpers.py:76-82), "
    "genuine ElementTree try-parse deciding valid vs fallback (S12, "
    "file_helpers.py:98-115), 3-entity-escaped <error> synth of the "
    "parser.log with the not-found default (S11, file_helpers.py:85-95), "
    "and classification of the chosen XML (P11, ingester.py:215-223). "
    "Validity is constructed from doc_id mod rules, so the oracle "
    "predicts what the real parser must decide.",
    survey_ops=("S10", "S11", "S12", "P11"),
)
def q_tar_best_xml_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_caselaw_ingester_spark.functions.scalars import classify_document_xml
    from ds_caselaw_ingester_spark.session import ensure_oracle_safe

    ensure_oracle_safe(spark)
    from ds_caselaw_ingester_spark.sources.tar import (
        best_xml,
        scan_named_xml,
        scan_parser_log,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    ref = F.concat(F.lit("C"), did)

    # TRE metadata's payload.xml name: absent (NULL) for doc_id % 7 == 0
    # -> the named scan must match nothing, even though a decoy member
    # whose NAME would match exists (file_helpers.py:76-82 empty-name
    # short-circuit).
    xml_name = F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("doc-"), did, F.lit(".xml"))
    )
    body = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("<judgment><p>j"), did, F.lit("</p></judgment>")),
        )
        .when(F.col("doc_id") % 3 == 1, F.lit("<judgment><p>broken"))
        .otherwise(F.lit('<doc name="pressSummary"><p>s</p></doc>'))
    )
    log_content = F.concat(F.lit("log <"), did, F.lit("> & done"))
    members = (
        docs.select(
            ref.alias("consignment_ref"),
            F.explode(
                F.array(
                    # ordinal 0: decoy whose NAME contains the xml name but
                    # whose content is a well-formed wrong document — if the
                    # last-match window broke, this valid decoy would win
                    # and the value check would catch it
                    F.struct(
                        F.concat(F.lit("pre/doc-"), did, F.lit(".xml.bak")).alias(
                            "member_name"
                        ),
                        F.lit(0).alias("member_index"),
                        F.lit('<doc name="pressSummary"><p>decoy</p></doc>').alias(
                            "content"
                        ),
                    ),
                    # ordinal 1: parser.log, absent for doc_id % 5 == 0
                    F.struct(
                        F.when(F.col("doc_id") % 5 != 0, F.lit("parser.log")).alias(
                            "member_name"
                        ),
                        F.lit(1).alias("member_index"),
                        log_content.alias("content"),
                    ),
                    # ordinal 2: the named XML member (the one that must win)
                    F.struct(
                        F.concat(F.lit("body/doc-"), did, F.lit(".xml")).alias(
                            "member_name"
                        ),
                        F.lit(2).alias("member_index"),
                        body.alias("content"),
                    ),
                )
            ).alias("m"),
        )
        .select(
            "consignment_ref",
            F.col("m.member_name").alias("member_name"),
            F.col("m.member_index").alias("member_index"),
            F.col("m.content").cast("binary").alias("content"),
        )
        .where(F.col("member_name").isNotNull())
    )
    xml_names = docs.select(ref.alias("consignment_ref"), xml_name.alias("xml_name"))
    named = scan_named_xml(members, xml_names)
    logs = scan_parser_log(members)
    consignments = docs.select(ref.alias("consignment_ref"))
    chosen = best_xml(consignments, named, logs)
    return chosen.select(
        "consignment_ref",
        "xml_was_valid",
        "best_xml",
        classify_document_xml(F.col("best_xml")).alias("doc_kind"),
    )
