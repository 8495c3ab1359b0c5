"""Scalar projections / predicates from the reference, as pure Column
functions (SURVEY.md §2.2, P1-P15). All JVM-side built-ins — no Python UDFs —
so every one stays inside whole-stage codegen and costs nothing extra at
100 TB scale.

Each function cites the reference behavior it reproduces
(/root/reference/src/ds_caselaw_ingester/...).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# P1 — parse_bool_string (lambda_function.py:32-47): case-insensitive,
# trimmed membership; anything unrecognized falls back to the default.
TRUTHY = ("y", "yes", "true", "1", "on")
FALSY = ("n", "no", "false", "0", "off")


def parse_bool_string(col: Column, default: bool) -> Column:
    """Reference lambda_function.py:32-47. NULL input -> default (the
    reference only receives strings; NULL means the env var was absent)."""
    norm = F.lower(F.trim(col))
    return (
        F.when(norm.isin(*TRUTHY), F.lit(True))
        .when(norm.isin(*FALSY), F.lit(False))
        .otherwise(F.lit(default))
    )


# P4 — Metadata.trimmed_uri (ingester.py:138-145)
CASELAW_ID_PREFIX = "https://caselaw.nationalarchives.gov.uk/id/"


def trimmed_uri(col: Column) -> Column:
    """Strip the id-URL prefix; empty result -> NULL (ingester.py:138-145)."""
    stripped = F.regexp_replace(col, "^" + CASELAW_ID_PREFIX.replace(".", "\\."), "")
    return F.nullif(F.trim(stripped), F.lit(""))


# P3 — Metadata.is_tdr (ingester.py:133-136)
def is_tdr(tdr_struct: Column) -> Column:
    """Presence of the parameters.TDR section means 'came from TDR'."""
    return tdr_struct.isNotNull()


# P5/P6 — INGESTER_OPTIONS defaults (ingester.py:147-162)
def option_with_default(col: Column, default: bool) -> Column:
    return F.coalesce(col, F.lit(default))


# P12 — modify_filename (file_helpers.py:127-134): insert an addition
# before the FIRST dot of the basename; no dot -> append.
# Edge cases pinned by reference tests/test_main.py:118-130.
def modify_filename(path: Column, addition: str) -> Column:
    dirname = F.when(
        path.contains("/"),
        F.concat(F.regexp_replace(path, "/[^/]*$", ""), F.lit("/")),
    ).otherwise(F.lit(""))
    basename = F.element_at(F.split(path, "/"), -1)
    stem = F.split(basename, "\\.", 2).getItem(0)
    ext_arr = F.split(basename, "\\.", 2)
    has_ext = F.size(ext_arr) > 1
    with_ext = F.concat(dirname, stem, F.lit(addition), F.lit("."), ext_arr.getItem(1))
    without_ext = F.concat(dirname, stem, F.lit(addition))
    return F.when(has_ext, with_ext).otherwise(without_ext)


# P14 — extension split (ingester.py:386)
def file_extension(filename: Column) -> Column:
    return F.lower(F.element_at(F.split(filename, "\\."), -1))


# S5 — consignment reference from an S3 key (messages.py:83-93):
# last path segment, up to the first dot.
def consignment_ref_from_key(key: Column) -> Column:
    return F.split(F.element_at(F.split(key, "/"), -1), "\\.", 2).getItem(0)


# S11 — XML-escape for parser-log synth (file_helpers.py:85-95):
# the three-entity escape (& first), then wrap in <error>.
def xml_escape(col: Column) -> Column:
    return F.regexp_replace(
        F.regexp_replace(F.regexp_replace(col, "&", "&amp;"), "<", "&lt;"),
        ">",
        "&gt;",
    )


def parser_log_xml(log_content: Column) -> Column:
    """Wrap escaped parser.log content; missing log -> default error doc
    (file_helpers.py:86)."""
    return F.coalesce(
        F.concat(F.lit("<error>"), xml_escape(log_content), F.lit("</error>")),
        F.lit("<error>parser.log not found</error>"),
    )


# P11 — document-type classifier (ingester.py:215-223; behavior pinned by
# tests/test_ingester.py:39-83). Root <judgment> -> judgment;
# <doc name="pressSummary"> -> pressSummary; <error> -> parserLog.
def classify_document_xml(xml: Column) -> Column:
    return (
        F.when(xml.rlike("<\\s*judgment[\\s>]"), F.lit("judgment"))
        .when(xml.rlike('<\\s*doc[^>]*name="pressSummary"'), F.lit("pressSummary"))
        .when(xml.rlike("<\\s*error[\\s>]"), F.lit("parserLog"))
        .otherwise(F.lit(None).cast("string"))
    )


# P15 — upload_state (ingester.py:509-511)
def upload_state(exists_in_db: Column) -> Column:
    return F.when(exists_in_db, F.lit("updated")).otherwise(F.lit("inserted"))
