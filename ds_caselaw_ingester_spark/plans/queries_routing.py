"""Routing / projection / aggregation queries: the reference's scalar and
CASE-dispatch operators (SURVEY.md §2.2 P1-P15, §2.5 C1-C6, §2.4 A2) over
the driver tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.functions.scalars import (
    consignment_ref_from_key,
    file_extension,
    modify_filename,
    parse_bool_string,
    upload_state,
)
from ds_caselaw_ingester_spark.operators.routing import (
    annotation_message,
    email_action,
    insert_or_update_route,
    will_publish,
)
from ds_caselaw_ingester_spark.plans.registry import register
from ds_caselaw_ingester_spark.session import ensure_oracle_safe
from ds_caselaw_ingester_spark.sources.catalog import table

# ---------------------------------------------------------------------------
# routing_matrix — C1 will_publish × C2 email × C3 insert/update × C4 × P15
# ---------------------------------------------------------------------------

ROUTING_ORACLE = """
WITH msgs AS (
  SELECT o_orderkey AS msg_id,
         CASE o_orderkey % 4 WHEN 0 THEN 'TDR' WHEN 1 THEN 'FCL'
                             WHEN 2 THEN 'FCL S3' ELSE 'SOMETHING_ELSE' END AS originator,
         o_custkey % 2 = 0 AS exists_in_db,
         o_orderkey % 3 = 0 AS auto_publish,
         o_totalprice > 50000 AS was_published,
         o_custkey % 5 = 0 AS error_on_existing,
         CASE o_custkey % 3 WHEN 0 THEN 'prod' WHEN 1 THEN 'staging'
                            ELSE 'dev' END AS environment
  FROM orders
),
acts AS (
  SELECT *,
    CASE WHEN originator = 'FCL' THEN 'none'
         WHEN originator = 'FCL S3' THEN (CASE WHEN auto_publish THEN 'none' ELSE 'bulk_stub' END)
         WHEN originator = 'TDR' THEN (CASE WHEN exists_in_db THEN 'email_updated' ELSE 'email_new' END)
         ELSE 'error' END AS base_action
  FROM msgs
)
SELECT msg_id, originator, environment,
  CASE WHEN originator = 'TDR' THEN FALSE
       WHEN originator = 'FCL S3' THEN auto_publish
       WHEN originator = 'FCL' THEN exists_in_db AND was_published
       ELSE NULL END AS will_publish,
  CASE WHEN base_action LIKE 'email%' AND environment <> 'prod'
       THEN 'suppressed:' || base_action
       ELSE base_action END AS email_action,
  CASE WHEN exists_in_db AND error_on_existing THEN 'error_existing'
       WHEN exists_in_db THEN 'update'
       ELSE 'insert' END AS write_route,
  (CASE WHEN exists_in_db THEN 'Updated' ELSE 'New' END)
    || ' document '
    || (CASE WHEN originator = 'TDR' THEN 'submitted by TDR user'
             ELSE 'uploaded by Find Case Law' END)
    AS annotation,
  CASE WHEN exists_in_db THEN 'updated' ELSE 'inserted' END AS upload_state
FROM acts
"""


@register(
    "routing_matrix",
    ROUTING_ORACLE,
    doc="Publish/email/insert-update decision ladders (ingester.py:424-483) "
    "with unknown-originator error routing and the non-prod notification "
    "suppression gate (ROLLBAR_ENV, ingester.py:288-290, 307-309).",
    survey_ops=("C1", "C2", "C3", "C4", "P15", "K12"),
)
def q_routing_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_oracle_safe(spark)
    o = table(spark, sf_dir, "orders")
    msgs = o.select(
        F.col("o_orderkey").alias("msg_id"),
        F.when(F.col("o_orderkey") % 4 == 0, F.lit("TDR"))
        .when(F.col("o_orderkey") % 4 == 1, F.lit("FCL"))
        .when(F.col("o_orderkey") % 4 == 2, F.lit("FCL S3"))
        .otherwise(F.lit("SOMETHING_ELSE"))
        .alias("originator"),
        (F.col("o_custkey") % 2 == 0).alias("exists_in_db"),
        (F.col("o_orderkey") % 3 == 0).alias("auto_publish"),
        (F.col("o_totalprice") > 50000).alias("was_published"),
        (F.col("o_custkey") % 5 == 0).alias("error_on_existing"),
        F.when(F.col("o_custkey") % 3 == 0, F.lit("prod"))
        .when(F.col("o_custkey") % 3 == 1, F.lit("staging"))
        .otherwise(F.lit("dev"))
        .alias("environment"),
    )
    is_tdr = F.col("originator") == "TDR"
    return msgs.select(
        "msg_id",
        "originator",
        "environment",
        will_publish(
            F.col("originator"), F.col("auto_publish"), F.col("exists_in_db"), F.col("was_published")
        ).alias("will_publish"),
        email_action(
            F.col("originator"),
            F.col("auto_publish"),
            F.col("exists_in_db"),
            environment=F.col("environment"),
        ).alias("email_action"),
        insert_or_update_route(F.col("exists_in_db"), F.col("error_on_existing")).alias(
            "write_route"
        ),
        annotation_message(is_tdr, F.col("exists_in_db")).alias("annotation"),
        upload_state(F.col("exists_in_db")).alias("upload_state"),
    )


# ---------------------------------------------------------------------------
# parse_bool_table — P1 over the full truthy/falsy/garbage/NULL domain
# ---------------------------------------------------------------------------

_BOOL_RAWS = ["y", "YES ", " true", "1", "On", "N", " no", "FALSE", "0", "off ", "maybe", ""]
_BOOL_LIST_SQL = "[" + ", ".join(f"'{s}'" for s in _BOOL_RAWS) + "]"

PARSE_BOOL_ORACLE = f"""
WITH raws AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN NULL
              ELSE {_BOOL_LIST_SQL}[CAST(doc_id % 12 AS INTEGER) + 1] END AS raw
  FROM documents
)
SELECT doc_id, raw,
  CASE WHEN lower(trim(raw)) IN ('y','yes','true','1','on') THEN TRUE
       WHEN lower(trim(raw)) IN ('n','no','false','0','off') THEN FALSE
       ELSE TRUE END AS parsed_default_true,
  CASE WHEN lower(trim(raw)) IN ('y','yes','true','1','on') THEN TRUE
       WHEN lower(trim(raw)) IN ('n','no','false','0','off') THEN FALSE
       ELSE FALSE END AS parsed_default_false
FROM raws
"""


@register(
    "parse_bool_table",
    PARSE_BOOL_ORACLE,
    doc="parse_bool_string truth table incl. garbage/empty/NULL fallback "
    "(lambda_function.py:32-47; tests/test_lambda_function.py:25-70).",
    survey_ops=("P1",),
)
def q_parse_bool_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_oracle_safe(spark)
    d = table(spark, sf_dir, "documents")
    raw = F.when(F.col("doc_id") % 13 == 0, F.lit(None).cast("string")).otherwise(
        F.element_at(F.array(*[F.lit(s) for s in _BOOL_RAWS]), (F.col("doc_id") % 12 + 1).cast("int"))
    )
    raws = d.select("doc_id", raw.alias("raw"))
    return raws.select(
        "doc_id",
        "raw",
        parse_bool_string(F.col("raw"), True).alias("parsed_default_true"),
        parse_bool_string(F.col("raw"), False).alias("parsed_default_false"),
    )


# ---------------------------------------------------------------------------
# filename_surgery — P12 modify_filename + P14 extension + S5 ref-from-key
#                    + S6 URL-decode (portable replace chain)
# ---------------------------------------------------------------------------

FILENAME_ORACLE = """
WITH files AS (
  SELECT doc_id,
         CASE CAST(doc_id % 5 AS INTEGER)
           WHEN 0 THEN 'TDR-2022-' || CAST(doc_id AS VARCHAR) || '.tar.gz'
           WHEN 1 THEN 'judgment-' || CAST(doc_id AS VARCHAR) || '.docx'
           WHEN 2 THEN 'NO_EXTENSION_' || CAST(doc_id AS VARCHAR)
           WHEN 3 THEN 'a.b.c-' || CAST(doc_id AS VARCHAR) || '.pdf'
           ELSE '.hidden-' || CAST(doc_id AS VARCHAR)
         END AS filename,
         'bulk/2010+Reported/%5B2010%5D/' || CAST(doc_id AS VARCHAR) || '.tar.gz' AS s3_key
  FROM documents
),
surgery AS (
  SELECT doc_id, filename, s3_key,
         CASE WHEN contains(filename, '.')
              THEN split_part(filename, '.', 1) || '_nodocx' || '.' ||
                   substr(filename, length(split_part(filename, '.', 1)) + 2)
              ELSE filename || '_nodocx' END AS renamed,
         lower(list_extract(string_split(filename, '.'), -1)) AS extension,
         split_part(list_extract(string_split(s3_key, '/'), -1), '.', 1) AS consignment_ref,
         replace(replace(replace(s3_key, '+', ' '), '%5B', '['), '%5D', ']') AS decoded_key
  FROM files
)
SELECT * FROM surgery
"""


@register(
    "filename_surgery",
    FILENAME_ORACLE,
    doc="modify_filename suffix insertion (file_helpers.py:127-134), extension "
    "split (ingester.py:386), consignment-ref-from-key (messages.py:83-93), "
    "URL-decode of S3 keys (messages.py:96).",
    survey_ops=("P12", "P14", "S5", "S6"),
)
def q_filename_surgery(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_oracle_safe(spark)
    d = table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    filename = (
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("TDR-2022-"), did, F.lit(".tar.gz")))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("judgment-"), did, F.lit(".docx")))
        .when(F.col("doc_id") % 5 == 2, F.concat(F.lit("NO_EXTENSION_"), did))
        .when(F.col("doc_id") % 5 == 3, F.concat(F.lit("a.b.c-"), did, F.lit(".pdf")))
        .otherwise(F.concat(F.lit(".hidden-"), did))
    )
    s3_key = F.concat(F.lit("bulk/2010+Reported/%5B2010%5D/"), did, F.lit(".tar.gz"))
    files = d.select("doc_id", filename.alias("filename"), s3_key.alias("s3_key"))
    decoded = F.replace(
        F.replace(
            F.replace(F.col("s3_key"), F.lit("+"), F.lit(" ")), F.lit("%5B"), F.lit("[")
        ),
        F.lit("%5D"),
        F.lit("]"),
    )
    return files.select(
        "doc_id",
        "filename",
        "s3_key",
        modify_filename(F.col("filename"), "_nodocx").alias("renamed"),
        file_extension(F.col("filename")).alias("extension"),
        consignment_ref_from_key(F.col("s3_key")).alias("consignment_ref"),
        decoded.alias("decoded_key"),
    )


# ---------------------------------------------------------------------------
# properties_unpivot — K4/K5 property writes as an unpivot (stack)
# ---------------------------------------------------------------------------

PROPERTIES_ORACLE = """
WITH src AS (
  SELECT 'cust/' || CAST(c_custkey AS VARCHAR) AS uri,
         'org-' || CAST(c_nationkey AS VARCHAR) AS source_organisation,
         c_name AS source_name,
         lower(replace(c_name, '#', '-')) || '@example.com' AS source_email,
         'TDR-' || CAST(c_custkey AS VARCHAR) AS transfer_consignment_reference,
         CASE WHEN c_custkey % 10 = 0 THEN NULL
              ELSE '2024-01-' || lpad(CAST(CAST(c_custkey % 28 AS INTEGER) + 1 AS VARCHAR), 2, '0')
         END AS transfer_received_at
  FROM customer
),
unp AS (
  SELECT uri, 'source-organisation' AS name, source_organisation AS value FROM src
  UNION ALL SELECT uri, 'source-name', source_name FROM src
  UNION ALL SELECT uri, 'source-email', source_email FROM src
  UNION ALL SELECT uri, 'transfer-consignment-reference', transfer_consignment_reference FROM src
  UNION ALL SELECT uri, 'transfer-received-at', transfer_received_at FROM src
)
SELECT * FROM unp WHERE value IS NOT NULL
"""


@register(
    "properties_unpivot",
    PROPERTIES_ORACLE,
    doc="TDR metadata property writes as unpivot -> (uri, name, value) rows; "
    "absent values skipped (store_tdr_metadata ingester.py:327-348, "
    "store_parser_metadata :350-359).",
    survey_ops=("K4", "K5", "P8"),
)
def q_properties_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_oracle_safe(spark)
    c = table(spark, sf_dir, "customer")
    ck = F.col("c_custkey").cast("string")
    src = c.select(
        F.concat(F.lit("cust/"), ck).alias("uri"),
        F.concat(F.lit("org-"), F.col("c_nationkey").cast("string")).alias("source_organisation"),
        F.col("c_name").alias("source_name"),
        F.concat(F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("-"))), F.lit("@example.com")).alias(
            "source_email"
        ),
        F.concat(F.lit("TDR-"), ck).alias("transfer_consignment_reference"),
        F.when(F.col("c_custkey") % 10 == 0, F.lit(None).cast("string"))
        .otherwise(
            F.concat(
                F.lit("2024-01-"),
                F.lpad((F.col("c_custkey") % 28 + 1).cast("int").cast("string"), 2, "0"),
            )
        )
        .alias("transfer_received_at"),
    )
    unpivoted = src.selectExpr(
        "uri",
        """stack(5,
            'source-organisation', source_organisation,
            'source-name', source_name,
            'source-email', source_email,
            'transfer-consignment-reference', transfer_consignment_reference,
            'transfer-received-at', transfer_received_at
        ) AS (name, value)""",
    )
    return unpivoted.where(F.col("value").isNotNull())


# ---------------------------------------------------------------------------
# batch_failures — A2 partial-batch failure collection
# ---------------------------------------------------------------------------

BATCH_FAILURES_ORACLE = """
SELECT user_id AS batch_id,
       count(*) AS n_failed,
       string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS failed_ids
FROM events
WHERE event_type = 'error' OR event_id % 10 = 0
GROUP BY user_id
"""


@register(
    "batch_failures",
    BATCH_FAILURES_ORACLE,
    doc="ReportBatchItemFailures: collect failed message ids per batch "
    "(lambda_function.py:103-137) — filter + groupBy + ordered collect_list.",
    survey_ops=("A2", "C6"),
)
def q_batch_failures(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_oracle_safe(spark)
    e = table(spark, sf_dir, "events")
    failed = e.where((F.col("event_type") == "error") | (F.col("event_id") % 10 == 0))
    return failed.groupBy(F.col("user_id").alias("batch_id")).agg(
        F.count("*").alias("n_failed"),
        F.array_join(
            F.transform(F.sort_array(F.collect_list("event_id")), lambda x: x.cast("string")),
            ",",
        ).alias("failed_ids"),
    )
