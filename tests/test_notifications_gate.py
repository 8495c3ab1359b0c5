"""Notification decision table incl. the non-prod suppression gate —
mirrors reference tests/test_notifications.py (send on prod, do-not-send
on staging, FCL no-email, S3 email-iff-not-publish, bulk stub)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.routing import email_action

CASES = [
    # originator, auto_publish, exists_in_db, environment -> expected
    ("TDR", False, True, "prod", "email_updated"),
    ("TDR", False, False, "prod", "email_new"),
    ("TDR", False, True, "staging", "suppressed:email_updated"),
    ("TDR", False, False, "staging", "suppressed:email_new"),
    ("TDR", False, False, "dev", "suppressed:email_new"),
    ("FCL", False, True, "prod", "none"),
    ("FCL", False, True, "staging", "none"),
    ("FCL S3", True, False, "prod", "none"),
    ("FCL S3", False, False, "prod", "bulk_stub"),
    ("FCL S3", False, False, "staging", "bulk_stub"),  # stub in every env
    ("WEIRD", False, False, "prod", "error"),
    ("WEIRD", False, False, "staging", "error"),
]


@pytest.fixture(scope="module")
def decision_rows(spark):
    df = spark.createDataFrame(
        [(i, o, a, e, env) for i, (o, a, e, env, _) in enumerate(CASES)],
        "i int, originator string, auto_publish boolean, exists_in_db boolean, env string",
    )
    out = df.select(
        "i",
        email_action(
            F.col("originator"),
            F.col("auto_publish"),
            F.col("exists_in_db"),
            environment=F.col("env"),
        ).alias("action"),
    ).collect()
    return {r.i: r.action for r in out}


@pytest.mark.parametrize("idx", range(len(CASES)))
def test_notification_decision(decision_rows, idx):
    assert decision_rows[idx] == CASES[idx][4], CASES[idx]


def test_string_environment_matches_the_column_gate(spark):
    """A plain-string environment (analyze's) is folded in Python: no
    literal-vs-literal comparison in the plan, the same decision as the
    column path on every case."""
    df = spark.createDataFrame(
        [(i, o, a, e) for i, (o, a, e, _, _) in enumerate(CASES)],
        "i int, originator string, auto_publish boolean, exists_in_db boolean",
    )
    for env in sorted({c[3] for c in CASES}):
        action = email_action(
            F.col("originator"), F.col("auto_publish"), F.col("exists_in_db"),
            environment=env,
        )
        assert "prod" not in str(action), action
        rows = {r.i: r.action for r in df.select("i", action.alias("action")).collect()}
        for i, (o, a, e, case_env, expected) in enumerate(CASES):
            if case_env == env:
                assert rows[i] == expected, CASES[i]


def test_no_environment_column_means_prod(spark):
    df = spark.createDataFrame([("TDR", False, True)], "o string, a boolean, e boolean")
    got = df.select(
        email_action(F.col("o"), F.col("a"), F.col("e")).alias("action")
    ).collect()[0].action
    assert got == "email_updated"


# ---------------------------------------------------------------------------
# personalisation payload JSON fidelity vs Python's json.dumps
# ---------------------------------------------------------------------------

NASTY_STRINGS = [
    "plain value",
    'has "quotes" inside',
    "back\\slash and \\\" mix",
    "newline\nand\ttab",
    "carriage\rreturn \f feed \b backspace",
    "low controls \x00\x01\x1f end",
    "unicode £ judgment — ok ✓",
    "",
]


def test_update_metadata_matches_json_dumps(spark):
    """The update_metadata blob must byte-match json.dumps(..., indent=2)
    for every value the TDR fields could carry, including control
    characters — one divergent escape breaks downstream json.loads
    round-trips of the effect log."""
    import json as pyjson

    from ds_caselaw_ingester_spark.operators.routing import (
        PERSONALISATION_UPDATE_KEYS,
        personalisation_json,
    )
    from ds_caselaw_ingester_spark.schemas import TDR_SCHEMA

    rows = []
    for i, s in enumerate(NASTY_STRINGS):
        tdr = {
            "Source-Organization": "Org",
            "Contact-Name": "Name",
            "Contact-Email": "e@example.com",
            "Internal-Sender-Identifier": f"TDR-{i}",
            "Consignment-Completed-Datetime": "2024-01-01T00:00:00Z",
            "Judgment-Update": (i % 2 == 0),
            "Judgment-Update-Type": s,
            "Judgment-Update-Details": s[::-1],
            "Judgment-Neutral-Citation": None,
            "Judgment-No-Neutral-Citation": None,
            "Judgment-Reference": s + '"',
        }
        rows.append((i, f"uri/{i}", tdr))
    df = spark.createDataFrame(
        rows,
        schema=__import__("pyspark").sql.types.StructType(
            [
                __import__("pyspark").sql.types.StructField(
                    "i", __import__("pyspark").sql.types.IntegerType()
                ),
                __import__("pyspark").sql.types.StructField(
                    "uri", __import__("pyspark").sql.types.StringType()
                ),
                __import__("pyspark").sql.types.StructField("tdr", TDR_SCHEMA),
            ]
        ),
    )
    out = {
        r.i: pyjson.loads(r.p)
        for r in df.select(
            "i", personalisation_json(F.col("uri"), F.col("tdr")).alias("p")
        ).collect()
    }
    for i, (_, _, tdr) in enumerate(rows):
        # ensure_ascii=False: the engine emits raw UTF-8 (valid JSON,
        # identical parsed value) where CPython's default would \uXXXX-
        # escape non-ASCII; every value the reference byte-pins is ASCII,
        # so the pinned strings are unaffected.
        expected = pyjson.dumps(
            {k: tdr[k] for k, _kind in PERSONALISATION_UPDATE_KEYS},
            indent=2,
            ensure_ascii=False,
        )
        assert out[i]["update_metadata"] == expected, (i, out[i]["update_metadata"])
