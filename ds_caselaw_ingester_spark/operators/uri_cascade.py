"""URI-resolution cascade — the reference's central decision operator.

Reference behavior (/root/reference/src/ds_caselaw_ingester/ingester.py:513-539,
docs/uri_logic.md:7-47):

1. J1 slug lookup: resolve the message's candidate URI slug against the
   identifier index; >1 match -> MultipleResolutionsFoundError
   (ingester.py:524-526); exactly 1 -> (existing uri, exists=True).
2. J2 NCN lookup (only when J1 missed): resolve the extracted neutral
   citation against identifiers, post-filtered to the namespace expected
   for the document type (IDENTIFIER_CLASS_LOOKUP, ingester.py:51-55;
   ParserLog has no identifier class so the lookup is skipped);
   0 -> None, 1 -> uri, >1 -> MultipleResolutionsFoundError
   (ingester.py:485-507).
3. J3 fallback: neither hit -> fresh document id ``d-<uuid4>`` with
   exists=False (ingester.py:538). uuid4 is nondeterministic, which
   breaks oracle hashing and streaming replay; this engine derives the
   surrogate id from md5(msg_id) (documented substitution per
   SURVEY.md §7 "hard parts").
4. A1 cardinality errors are *data* here (status/error columns), not
   exceptions — a set-oriented engine quarantines the row instead of
   unwinding the batch (reference containment: lambda_function.py:131-136).
5. P15 upload_state: "updated" if the document exists else "inserted"
   (ingester.py:509-511).

Scale notes: the identifier index is a dimension table (small relative to
the message stream), so both lookups are **broadcast** left joins — no
shuffle of the 100 TB fact side. The pre-aggregation (groupBy slug/value)
shrinks the index to one row per key *before* the join, so the join also
carries the cardinality answer without a second pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Document type -> identifier namespace expected by the NCN lookup
# (reference IDENTIFIER_CLASS_LOOKUP, ingester.py:51-55: Judgment ->
# NeutralCitationNumber, PressSummary -> PressSummaryRelatedNCNIdentifier,
# ParserLog -> None).
EXPECTED_NAMESPACE = {
    "judgment": "ukncn",
    "pressSummary": "pressSummaryNcn",
    "parserLog": None,
}

STATUS_RESOLVED_SLUG = "resolved_slug"
STATUS_RESOLVED_NCN = "resolved_ncn"
STATUS_NEW = "new"
STATUS_ERR_SLUG = "error_multiple_slug"
STATUS_ERR_NCN = "error_multiple_ncn"


def expected_namespace_col(doc_kind: F.Column) -> F.Column:
    """Map document kind to the identifier namespace used by J2."""
    return (
        F.when(doc_kind == "judgment", F.lit("ukncn"))
        .when(doc_kind == "pressSummary", F.lit("pressSummaryNcn"))
        .otherwise(F.lit(None).cast("string"))
    )


def identifier_rows(docs: DataFrame, *carry: str) -> DataFrame:
    """C5 — set_document_identifiers (ingester.py:263-284): one typed
    (uri, namespace, value) row per document whose type has an identifier
    class and whose NCN is truthy. Falsy, not just null (reference:
    `if ncn:` — ingester.py:277): an empty-string cite must not write a
    bogus ('', ukncn) identifier row into the index J2 later probes.
    `docs` carries uri, doc_kind and extracted_ncn; `carry` columns lead
    the output."""
    ncn = F.col("extracted_ncn")
    return docs.where(
        F.col("doc_kind").isin("judgment", "pressSummary") & ncn.isNotNull() & (ncn != "")
    ).select(
        *carry,
        "uri",
        expected_namespace_col(F.col("doc_kind")).alias("namespace"),
        ncn.alias("value"),
    )


def resolve_uris(messages: DataFrame, identifiers: DataFrame) -> DataFrame:
    """Run the J1->J2->J3 cascade set-at-a-time.

    messages:    msg_id, doc_kind, slug_candidate (nullable),
                 ncn_candidate (nullable), expected_ns (nullable)
    identifiers: slug (nullable), value (nullable), namespace, uri

    Returns every column of `messages` (one row per input row) plus
    status, uri, exists_in_db and upload_state, so a caller reads the
    resolution beside its own columns without joining back on msg_id.
    """
    # J1 index: one row per slug carrying cardinality + a deterministic
    # representative uri (min — stable under duplicate identifier rows).
    slug_idx = (
        identifiers.where(F.col("slug").isNotNull())
        .groupBy("slug")
        .agg(F.count("*").alias("n_slug"), F.min("uri").alias("uri_slug"))
    )
    # J2 index: per (value, namespace) — the namespace equality in the join
    # condition reproduces the reference's post-filter by identifier type.
    ncn_idx = (
        identifiers.where(F.col("value").isNotNull())
        .groupBy("value", "namespace")
        .agg(F.count("*").alias("n_ncn"), F.min("uri").alias("uri_ncn"))
    )

    joined = messages.join(
        F.broadcast(slug_idx),
        messages["slug_candidate"] == slug_idx["slug"],
        "left",
    ).join(
        F.broadcast(ncn_idx),
        (messages["ncn_candidate"] == ncn_idx["value"])
        & (messages["expected_ns"] == ncn_idx["namespace"]),
        "left",
    )

    n_slug, n_ncn = F.col("n_slug"), F.col("n_ncn")
    status = (
        F.when(n_slug > 1, F.lit(STATUS_ERR_SLUG))
        .when(n_slug == 1, F.lit(STATUS_RESOLVED_SLUG))
        .when(n_ncn > 1, F.lit(STATUS_ERR_NCN))
        .when(n_ncn == 1, F.lit(STATUS_RESOLVED_NCN))
        .otherwise(F.lit(STATUS_NEW))
    )
    uri = (
        F.when(n_slug == 1, F.col("uri_slug"))
        .when(n_slug > 1, F.lit(None).cast("string"))
        .when(n_ncn == 1, F.col("uri_ncn"))
        .when(n_ncn > 1, F.lit(None).cast("string"))
        .otherwise(
            # deterministic surrogate for uuid4 (ingester.py:538) — see module doc
            # FULL 32-hex md5 (128 bits), not a truncation: a 12-hex (48-bit)
            # surrogate collides with ~50% probability around 20M new
            # documents (birthday bound) and the MERGE keyed on uri would
            # silently fuse two judgments. The reference uses uuid4 (122
            # bits); md5(msg_id) is the deterministic, oracle-replayable
            # equivalent at the same collision resistance.
            F.concat(F.lit("d-"), F.md5(F.col("msg_id").cast("string")))
        )
    )
    out = joined.select(
        *[messages[c] for c in messages.columns],
        status.alias("status"),
        uri.alias("uri"),
    )
    exists = (
        F.when(F.col("status").isin(STATUS_RESOLVED_SLUG, STATUS_RESOLVED_NCN), F.lit(True))
        .when(F.col("status") == STATUS_NEW, F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )
    upload_state = (
        F.when(F.col("status").isin(STATUS_RESOLVED_SLUG, STATUS_RESOLVED_NCN), F.lit("updated"))
        .when(F.col("status") == STATUS_NEW, F.lit("inserted"))
        .otherwise(F.lit("error"))
    )
    return out.withColumns({"exists_in_db": exists, "upload_state": upload_state})
