"""Conditional-routing operators — the reference's CASE-dispatch surface
(SURVEY.md §2.5 C1-C6). All pure `when/otherwise` ladders: JVM-side,
codegen'd, zero shuffle.

Errors are data: where the reference raises (RuntimeError on an unknown
originator, DocumentInsertionError on exists+error_on_existing), the
set-oriented engine emits an 'error' route and the row continues to the
quarantine branch (per-record containment, lambda_function.py:131-136).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ORIGINATOR_TDR = "TDR"
ORIGINATOR_FCL = "FCL"
ORIGINATOR_FCL_S3 = "FCL S3"


def will_publish(
    originator: Column,
    auto_publish: Column,
    exists_in_db: Column,
    was_published: Column,
) -> Column:
    """C1 (ingester.py:424-440): TDR -> never auto-publish; FCL S3 (bulk)
    -> INGESTER_OPTIONS.auto_publish; FCL (reparse) -> only if the document
    already exists AND was already published; unknown originator -> NULL
    (the reference raises RuntimeError — routed to quarantine here)."""
    return (
        F.when(originator == ORIGINATOR_TDR, F.lit(False))
        .when(originator == ORIGINATOR_FCL_S3, auto_publish)
        .when(originator == ORIGINATOR_FCL, exists_in_db & was_published)
        .otherwise(F.lit(None).cast("boolean"))
    )


def email_action(
    originator: Column,
    auto_publish: Column,
    exists_in_db: Column,
    environment: Column | str | None = None,
) -> Column:
    """C2 (ingester.py:442-457): FCL reparse -> no email; FCL S3 -> bulk
    notification iff not auto_publish (a stub in the reference,
    ingester.py:323-325); TDR -> 'updated' vs 'new' template by
    exists_in_db; unknown -> 'error'.

    environment: optional deployment environment, a column or a plain
    string. Outside 'prod' the reference logs the personalisation and
    returns WITHOUT sending (ROLLBAR_ENV gate, ingester.py:288-290,
    307-309; pinned by
    tests/test_notifications.py::test_do_not_send_..._on_staging) — here
    the would-be send surfaces as 'suppressed:<action>' so the decision
    stays observable while the notifications sink (which keys on the
    'email' prefix) writes nothing. Omitted -> prod behavior. A string
    gate is decided here, in Python, so the plan carries no comparison
    of two literals.
    """
    base = (
        F.when(originator == ORIGINATOR_FCL, F.lit("none"))
        .when(
            originator == ORIGINATOR_FCL_S3,
            F.when(auto_publish, F.lit("none")).otherwise(F.lit("bulk_stub")),
        )
        .when(
            originator == ORIGINATOR_TDR,
            F.when(exists_in_db, F.lit("email_updated")).otherwise(F.lit("email_new")),
        )
        .otherwise(F.lit("error"))
    )
    if isinstance(environment, Column):
        gate = base.startswith("email") & (environment != F.lit("prod"))
    elif environment in (None, "prod"):
        return base
    else:
        gate = base.startswith("email")
    return F.when(gate, F.concat(F.lit("suppressed:"), base)).otherwise(base)


# The six TDR keys personalise_email serialises into update_metadata,
# in the reference's fixed order (ingester.py:107-114); bool-typed keys
# render as bare true/false like json.dumps does.
PERSONALISATION_UPDATE_KEYS: tuple[tuple[str, str], ...] = (
    ("Judgment-Update", "bool"),
    ("Judgment-Update-Type", "str"),
    ("Judgment-Update-Details", "str"),
    ("Judgment-Neutral-Citation", "str"),
    ("Judgment-No-Neutral-Citation", "bool"),
    ("Judgment-Reference", "str"),
)


def _json_scalar(v: Column, kind: str) -> Column:
    """Render one value exactly as Python's json.dumps would: backslash
    and quote escaped, the named control escapes (\\b \\t \\n \\f \\r),
    and remaining C0 controls as \\u00XX (tests/test_notifications_gate.py
    property-checks this against json.dumps itself)."""
    if kind == "bool":
        return (
            F.when(v.isNull(), F.lit("null"))
            .when(v, F.lit("true"))
            .otherwise(F.lit("false"))
        )
    esc = v
    for raw, out in (
        ("\\", "\\\\"),
        ('"', '\\"'),
        ("\b", "\\b"),
        ("\t", "\\t"),
        ("\n", "\\n"),
        ("\f", "\\f"),
        ("\r", "\\r"),
    ):
        esc = F.replace(esc, F.lit(raw), F.lit(out))
    for code in (c for c in range(0x20) if c not in (0x08, 0x09, 0x0A, 0x0C, 0x0D)):
        esc = F.replace(esc, F.lit(chr(code)), F.lit(f"\\u{code:04x}"))
    return F.when(v.isNull(), F.lit("null")).otherwise(F.concat(F.lit('"'), esc, F.lit('"')))


def document_noun(doc_kind: Column) -> Column:
    """The human-readable document noun the reference exposes as
    `ingested_document_type_string` (ingester.py:220-223, backed by the
    public ds-caselaw-utils Document classes' `document_noun`): judgment
    -> 'judgment', pressSummary -> 'press summary', anything else falls
    back to the base-class noun 'document'."""
    return (
        F.when(doc_kind == "judgment", F.lit("judgment"))
        .when(doc_kind == "pressSummary", F.lit("press summary"))
        .otherwise(F.lit("document"))
    )


def personalisation_json(
    uri: Column,
    tdr: Column,
    base_url: str = "https://editor.example/",
    doctype: Column | None = None,
) -> Column:
    """P8/K12 — the personalise_email dict (ingester.py:100-125) as a JSON
    column for the notifications effect log. Key-for-key with the
    reference, including the 'unknown' defaults when the TDR section is
    absent and the indent=2 update_metadata blob its tests byte-pin
    (tests/test_notifications.py:14, 117-166). base_url models the
    EDITORIAL_UI_BASE_URL environment variable.

    doctype: optional document-noun column for NEW-judgment notifications —
    the reference appends personalisation['doctype'] AFTER building the
    base dict, and only in send_new_judgment_notification
    (ingester.py:305-306; pinned by tests/test_notifications.py:31-40), so
    the key serialises last and update-template payloads stay doctype-free.
    Pass a column that is NULL for non-new templates: to_json's default
    ignoreNullFields drops the key entirely for those rows, matching the
    reference's absent-key (not null-valued) payload.

    Known, deliberate divergence from CPython's json.dumps default: values
    are emitted as raw UTF-8 (ensure_ascii=False equivalent) rather than
    \\uXXXX-escaping codepoints > 0x7f. The parsed value is identical and
    every string the reference's tests byte-pin is pure ASCII; only a
    byte-for-byte diff of a payload containing non-ASCII (accents, £,
    em-dashes) would notice. Pinned by tests/test_notifications_gate.py.
    Pure string expressions — codegen'd, no UDF."""
    unk = lambda c: F.coalesce(c, F.lit("unknown"))  # noqa: E731
    parts = [
        F.concat(F.lit(f'"{key}": '), _json_scalar(tdr[key], kind))
        for key, kind in PERSONALISATION_UPDATE_KEYS
    ]
    # json.dumps({...}, indent=2): '{\n  "k": v,\n  "k2": v2\n}'
    update_metadata = F.concat(
        F.lit("{\n  "), F.concat_ws(",\n  ", *parts), F.lit("\n}")
    )
    fields = [
        F.concat(F.lit(base_url), F.lit("detail?judgment_uri="), uri).alias("url"),
        unk(tdr["Internal-Sender-Identifier"]).alias("consignment"),
        F.concat(
            unk(tdr["Contact-Name"]),
            F.lit(", "),
            unk(tdr["Source-Organization"]),
            F.lit(" <"),
            unk(tdr["Contact-Email"]),
            F.lit(">"),
        ).alias("submitter"),
        unk(tdr["Consignment-Completed-Datetime"]).alias("submitted_at"),
        update_metadata.alias("update_metadata"),
    ]
    if doctype is not None:
        # appended last, like the reference's post-build dict assignment
        fields.append(doctype.alias("doctype"))
    return F.to_json(F.struct(*fields))


def insert_or_update_route(exists_in_db: Column, error_on_existing: Column) -> Column:
    """C3 (ingester.py:459-483): exists & error_on_existing_document ->
    DocumentInsertionError (quarantine); exists -> update; else insert."""
    return (
        F.when(exists_in_db & error_on_existing, F.lit("error_existing"))
        .when(exists_in_db, F.lit("update"))
        .otherwise(F.lit("insert"))
    )


def annotation_message(is_tdr: Column, exists_in_db: Column) -> Column:
    """C4 (ingester.py:226-229, 245-248), exact reference wording: the
    VERB differs by submitter — TDR documents are "submitted by TDR
    user", everything else is "uploaded by Find Case Law" (review
    regression: a previous version emitted "submitted by a Find Case
    Law", disagreeing with both the reference and this repo's own
    metadata_probe oracle)."""
    tail = F.when(is_tdr, F.lit("submitted by TDR user")).otherwise(
        F.lit("uploaded by Find Case Law")
    )
    verb = F.when(exists_in_db, F.lit("Updated")).otherwise(F.lit("New"))
    return F.concat(verb, F.lit(" document "), tail)

