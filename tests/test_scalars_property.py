"""Property tests: every scalar Column function (SURVEY.md §2.2) against
an independent pure-Python model of the reference semantics, over
hypothesis-generated adversarial strings (dots, slashes, '+', '%', XML
entities, unicode, leading/trailing spaces).

One Spark evaluation per example: all functions applied as columns of a
single DataFrame, so 15 properties cost one tiny job each round."""

from __future__ import annotations


from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.functions.scalars import (
    FALSY,
    TRUTHY,
    consignment_ref_from_key,
    file_extension,
    modify_filename,
    parse_bool_string,
    trimmed_uri,
    xml_escape,
)

# printable-ish text with the delimiters the functions care about
TEXT = st.text(
    alphabet=st.one_of(
        st.sampled_from(list("./+%&<>  yYnN10")),
        st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FF),
    ),
    max_size=30,
)


# --- pure-Python models of the reference behavior ---------------------------


def model_parse_bool(s: str | None, default: bool) -> bool:
    if s is None:
        return default
    norm = s.strip(" ").lower()  # Spark trim() strips ASCII spaces only
    if norm in TRUTHY:
        return True
    if norm in FALSY:
        return False
    return default


def model_modify_filename(path: str, addition: str) -> str:
    # file_helpers.py:127-134: insert before the FIRST dot of the basename
    slash = path.rfind("/")
    dirname, basename = (path[: slash + 1], path[slash + 1 :]) if slash >= 0 else ("", path)
    stem, dot, rest = basename.partition(".")
    return dirname + stem + addition + (("." + rest) if dot else "")


def model_xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def model_consignment_ref(key: str) -> str:
    return key.split("/")[-1].partition(".")[0]


def model_file_extension(name: str) -> str:
    return name.split(".")[-1].lower()


def model_trimmed_uri(s: str) -> str | None:
    prefix = "https://caselaw.nationalarchives.gov.uk/id/"
    out = s[len(prefix) :] if s.startswith(prefix) else s
    out = out.strip(" ")
    return out or None


# --- the property -----------------------------------------------------------


@given(st.lists(TEXT, min_size=1, max_size=40), st.booleans())
@settings(max_examples=12, deadline=None)
def test_scalar_functions_match_reference_models(spark, strings, default):
    uris = [f"https://caselaw.nationalarchives.gov.uk/id/{s}" for s in strings[:5]] + strings
    rows = [(s, u) for s, u in zip(uris, uris)]
    df = spark.createDataFrame(rows, "s string, uri string")
    out = df.select(
        "s",
        parse_bool_string(F.col("s"), default).alias("b"),
        modify_filename(F.col("s"), "_nodocx").alias("mf"),
        xml_escape(F.col("s")).alias("esc"),
        consignment_ref_from_key(F.col("s")).alias("ref"),
        file_extension(F.col("s")).alias("ext"),
        trimmed_uri(F.col("uri")).alias("trimmed"),
    ).collect()
    for r in out:
        assert r.b == model_parse_bool(r.s, default), r.s
        assert r.mf == model_modify_filename(r.s, "_nodocx"), r.s
        assert r.esc == model_xml_escape(r.s), r.s
        assert r.ref == model_consignment_ref(r.s), r.s
        assert r.ext == model_file_extension(r.s), r.s
    uris_out = df.select("uri", trimmed_uri(F.col("uri")).alias("t")).collect()
    for r in uris_out:
        assert r.t == model_trimmed_uri(r.uri), r.uri


def test_file_extension_under_the_epoch_conf_matches_str_lower(spark):
    """An ingest epoch runs with ICU case mapping off (pipeline.EPOCH_CONF),
    so file_extension's lower() takes the JVM's String.toLowerCase there.
    On every character of TEXT's alphabet it still equals Python's
    str.lower, alone, mixed with ASCII, and after a dot."""
    from ds_caselaw_ingester_spark.streaming.pipeline import EPOCH_CONF

    epoch = spark.newSession()
    for key, value in EPOCH_CONF.items():
        epoch.conf.set(key, value)
    chars = sorted(set("./+%&<>  yYnN10") | {chr(c) for c in range(0x300)})
    names = [n for c in chars for n in (c, f"Doc.A{c}B", f"x.{c}{c}.{c}Z")]
    out = epoch.createDataFrame([(n,) for n in names], "s string").select(
        "s", file_extension(F.col("s")).alias("ext")
    ).collect()
    assert len(out) == len(names)
    for r in out:
        assert r.ext == model_file_extension(r.s), repr(r.s)
