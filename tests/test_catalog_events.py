"""The events reader must be type-adaptive: the driver's parquet has
shipped both as TIMESTAMP(NANOS) (readable only as int64 via the
nanosAsLong legacy conf) and as TIMESTAMP(MICROS). Round 4 regressed 9
queries when the layout flipped under a reader that assumed nanos
(VERDICT.md r4 'What's wrong' #1); these tests pin both branches.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampType

from ds_caselaw_ingester_spark.sources.catalog import table

UTC = dt.timezone.utc
STAMPS = [
    dt.datetime(2024, 1, 1, 0, 0, 0, 123456),
    dt.datetime(2024, 6, 15, 12, 30, 45, 999999),
    dt.datetime(2025, 12, 31, 23, 59, 59, 1),
]


def _write_events(tmpdir: str, ts_type: pa.DataType) -> str:
    """Write a minimal events.parquet with the driver's column set."""
    n = len(STAMPS)
    t = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(STAMPS, ts_type),
            "user_id": pa.array([7] * n, pa.int64()),
            "event_type": pa.array(["click"] * n, pa.string()),
            "value": pa.array([1.5] * n, pa.float64()),
            "props": pa.array(['{"k":1}'] * n, pa.string()),
        }
    )
    pq.write_table(t, os.path.join(tmpdir, "events.parquet"))
    return tmpdir


@pytest.mark.parametrize("ts_type", [pa.timestamp("us"), pa.timestamp("ns")], ids=["micros", "nanos"])
def test_events_reader_handles_both_layouts(spark, tmp_path, ts_type):
    sf_dir = _write_events(str(tmp_path), ts_type)
    df = table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    got = sorted(r.ts.replace(tzinfo=None) for r in df.select("ts").collect())
    # nanos layout truncates to micros — our STAMPS are micro-precision, so
    # both layouts must round-trip the exact same instants (session tz UTC).
    assert got == sorted(STAMPS)


def test_events_reader_micros_does_not_set_legacy_conf(spark, tmp_path):
    """Reading the current layout must not mutate session state as a side
    effect (ADVICE.md r4): the nanosAsLong conf stays untouched."""
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    sf_dir = _write_events(str(tmp_path), pa.timestamp("us"))
    table(spark, sf_dir, "events").collect()
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) in (None, "false")


def test_events_reader_legacy_read_restores_conf(spark, tmp_path):
    """A NANOS (legacy) read must restore the conf's prior value after
    the read — one legacy file must not leave the session silently
    loading every future TIMESTAMP(NANOS) column as int64 (VERDICT r5
    'What's missing' #4). The lazily-returned frame must still collect
    correctly after the restore (the conf is captured at read time)."""
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(conf)
    (tmp_path / "legacy").mkdir()
    (tmp_path / "modern").mkdir()
    legacy_dir = _write_events(str(tmp_path / "legacy"), pa.timestamp("ns"))
    modern_dir = _write_events(str(tmp_path / "modern"), pa.timestamp("us"))
    df_legacy = table(spark, legacy_dir, "events")
    # conf restored immediately — before any action on the legacy frame
    assert spark.conf.get(conf, None) in (None, "false")
    # legacy-then-modern in one session behaves like modern-only
    df_modern = table(spark, modern_dir, "events")
    got_modern = sorted(r.ts.replace(tzinfo=None) for r in df_modern.select("ts").collect())
    got_legacy = sorted(r.ts.replace(tzinfo=None) for r in df_legacy.select("ts").collect())
    assert got_modern == sorted(STAMPS)
    assert got_legacy == sorted(STAMPS)
    assert spark.conf.get(conf, None) in (None, "false")


def test_driver_events_table_loads(spark):
    """The real driver file at the smoke SF loads and has a timestamp ts."""
    df = table(spark, "/root/testdata/sf0.001", "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    assert df.limit(1).count() == 1


# Columns every query in the registry assumes exist, per table. A
# driver-side regeneration that drops or renames one should fail HERE
# with a readable message, not 9 queries deep (the round-4 lesson: the
# events.ts type flip silently broke 18% of the correctness surface).
EXPECTED_COLUMNS = {
    "region": {"r_regionkey", "r_name"},
    "nation": {"n_nationkey", "n_name", "n_regionkey"},
    "customer": {"c_custkey", "c_name", "c_nationkey", "c_acctbal"},
    "supplier": {"s_suppkey", "s_name", "s_nationkey"},
    "part": {"p_partkey", "p_name"},
    "orders": {"o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"},
    "lineitem": {
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_returnflag",
        "l_shipdate",
    },
    "events": {"event_id", "ts", "user_id", "event_type", "value", "props"},
    "documents": {"doc_id", "text", "n_chars"},
    "embeddings": {"vec_id", "embedding"},
}


@pytest.mark.parametrize("name", sorted(EXPECTED_COLUMNS))
def test_driver_table_schema_canary(spark, name):
    df = table(spark, "/root/testdata/sf0.001", name)
    missing = EXPECTED_COLUMNS[name] - set(df.columns)
    assert not missing, f"{name} lost expected columns: {missing}; has {df.columns}"


# ---------------------------------------------------------------------------
# spread_if_narrow — the production-entry partitioning guard
# ---------------------------------------------------------------------------

def test_spread_if_narrow_widens_a_single_partition_frame(spark):
    """A 1-partition frame (the compact-single-file shape that serialised
    semantic_dedup_auto's map stages 90 s -> 12.5 s at sf1) must come out
    at the session's full parallelism."""
    from ds_caselaw_ingester_spark.sources.catalog import spread_if_narrow

    narrow = spark.range(0, 10_000).coalesce(1)
    widened = spread_if_narrow(narrow, "id")
    assert widened.rdd.getNumPartitions() == (
        spark.sparkContext.defaultParallelism
    )
    # same rows, just redistributed
    assert widened.count() == 10_000


def test_spread_if_narrow_leaves_a_wide_frame_unchanged(spark):
    """An already-wide scan (the real-scale case) must NOT pay a
    gratuitous shuffle — the helper returns the frame object itself."""
    from ds_caselaw_ingester_spark.sources.catalog import spread_if_narrow

    n = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10_000, 1, n)
    assert spread_if_narrow(wide, "id") is wide


def test_semantic_dedup_auto_self_defends_against_narrow_input(spark):
    """The auto entry must produce identical verdicts on a 1-partition
    frame and a pre-spread frame (the repartition is a pure perf guard,
    never a semantic one)."""
    from pyspark.sql import functions as F

    from ds_caselaw_ingester_spark.operators.semdedup import semantic_dedup_auto
    from ds_caselaw_ingester_spark.sources.catalog import spread, table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    narrow = emb.coalesce(1)
    a = sorted(
        (r["vec_id"], r["is_duplicate"])
        for r in semantic_dedup_auto(narrow, "v", "vec_id").collect()
    )
    b = sorted(
        (r["vec_id"], r["is_duplicate"])
        for r in semantic_dedup_auto(spread(emb, "vec_id"), "v", "vec_id").collect()
    )
    assert a == b


def test_spread_if_narrow_skips_shuffled_lineage_without_rdd_probe(spark):
    """A frame downstream of an Exchange is already shuffle-sized; the
    guard must return it UNCHANGED without converting to RDD (which
    under AQE would materialize every upstream query stage just to read
    a partition count)."""
    from pyspark.sql import functions as F

    from ds_caselaw_ingester_spark.sources.catalog import spread_if_narrow

    shuffled = spark.range(0, 1000).groupBy((F.col("id") % 7).alias("k")).count()
    assert spread_if_narrow(shuffled, "k") is shuffled


def test_spread_if_narrow_small_parallelism_threshold():
    """At defaultParallelism 2-3 the 0.5 fraction rounds to 1 — the
    threshold must still widen a 1-partition frame (the exact narrow
    input the guard exists for). Pure threshold arithmetic, no session:
    parts >= max(2, int(n * fraction)) is the keep condition."""
    for n in (2, 3):
        assert not (1 >= max(2, int(n * 0.5)))  # 1-part frame must widen
    assert 2 >= max(2, int(2 * 0.5))  # already-full 2-core frame kept


# ---------------------------------------------------------------------------
# round-13 guard rollout (VERDICT r12 #3): every remaining corpus-scan
# production entry self-defends against a narrow (single-file) input,
# and the guard is a pure perf property — verdicts/rows identical
# narrow vs pre-spread.
# ---------------------------------------------------------------------------


def _docs_sf0001(spark):
    from ds_caselaw_ingester_spark.sources.catalog import table

    return table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )


def test_dsir_entries_narrow_equals_wide(spark):
    from ds_caselaw_ingester_spark.operators.dsir import (
        dsir_logratios,
        dsir_select,
        hashed_ngram_counts,
    )
    from ds_caselaw_ingester_spark.sources.catalog import spread

    docs = _docs_sf0001(spark)
    target = docs.limit(20)
    sel_n = sorted(
        tuple(r)
        for r in dsir_select(docs.coalesce(1), target, 25).collect()
    )
    sel_w = sorted(
        tuple(r)
        for r in dsir_select(spread(docs, "doc_id"), target, 25).collect()
    )
    assert sel_n == sel_w
    # logratios over narrow-vs-wide featurize inputs (the guard lives in
    # hashed_ngram_counts, which serves both public entries)
    rn, fn = dsir_logratios(
        hashed_ngram_counts(target.coalesce(1), "doc_id", "text"),
        hashed_ngram_counts(docs.coalesce(1), "doc_id", "text"),
    )
    rw, fw = dsir_logratios(
        hashed_ngram_counts(spread(target, "doc_id"), "doc_id", "text"),
        hashed_ngram_counts(spread(docs, "doc_id"), "doc_id", "text"),
    )
    assert fn == fw
    assert sorted(map(tuple, rn.collect())) == sorted(map(tuple, rw.collect()))


def test_word_frequencies_narrow_equals_wide(spark):
    from ds_caselaw_ingester_spark.operators.unigram_lm import word_frequencies
    from ds_caselaw_ingester_spark.sources.catalog import spread

    docs = _docs_sf0001(spark).limit(120)
    wf_n = word_frequencies(docs.coalesce(1), "text")
    wf_w = word_frequencies(spread(docs, "doc_id"), "text")
    assert sorted(map(tuple, wf_n.collect())) == sorted(
        map(tuple, wf_w.collect())
    )


def test_mix_corpus_narrow_equals_wide(spark):
    from pyspark.sql import functions as F

    from ds_caselaw_ingester_spark.operators.mixture import mix_corpus
    from ds_caselaw_ingester_spark.sources.catalog import spread

    docs = _docs_sf0001(spark).withColumn(
        "src",
        F.when(F.col("doc_id") % 2 == 0, F.lit("a")).otherwise(F.lit("b")),
    ).withColumn("tok", F.size(F.split(F.col("text"), r"\s+")))
    kw = dict(weights={"a": 0.7, "b": 0.3}, token_budget=30_000)
    out_n = sorted(
        (r["doc_id"], r["epoch"])
        for r in mix_corpus(docs.coalesce(1), "doc_id", "src", "tok", **kw)
        .select("doc_id", "epoch").collect()
    )
    out_w = sorted(
        (r["doc_id"], r["epoch"])
        for r in mix_corpus(
            spread(docs, "doc_id"), "doc_id", "src", "tok", **kw
        ).select("doc_id", "epoch").collect()
    )
    assert out_n == out_w


def test_vocab_entries_narrow_equals_wide(spark):
    from ds_caselaw_ingester_spark.operators.unigram_lm import (
        seed_vocab,
        word_frequencies,
    )
    from ds_caselaw_ingester_spark.operators.vocab import vocab_topk
    from ds_caselaw_ingester_spark.sources.catalog import spread

    docs = _docs_sf0001(spark).limit(150)
    tk_n = [tuple(r) for r in vocab_topk(docs.coalesce(1), "doc_id", "text", 30).collect()]
    tk_w = [tuple(r) for r in vocab_topk(spread(docs, "doc_id"), "doc_id", "text", 30).collect()]
    assert tk_n == tk_w
    wf = word_frequencies(docs, "text").localCheckpoint(eager=True)
    assert seed_vocab(wf.coalesce(1), max_vocab=300) == seed_vocab(
        spread(wf, "word"), max_vocab=300
    )


def test_footer_schema_matches_spark_inference(spark, tmp_path):
    """Round 15: table() supplies the scan schema from the parquet
    footer via pyarrow, driver-side and JOBLESS (spark.read.parquet
    without a schema schedules one footer-inference job per call —
    measured 0.13 s warm, paid by every query invocation). Pins the
    conversion EQUAL to Spark's own inference for every table x sf dir,
    so the jobless read can never silently drift from what
    spark.read.parquet would have planned — under both settings of
    spark.sql.parquet.inferTimestampNTZ.enabled, which decides how
    Spark infers the tz-less timestamps of orders and lineitem."""
    import os

    from conftest import SF_SMOKE

    from ds_caselaw_ingester_spark.sources.catalog import (
        TABLES,
        _footer_schema,
        _infer_ntz,
    )

    # a list whose elements are REQUIRED in the footer: Spark still
    # infers containsNull=True (file sources relax nullability)
    req = str(tmp_path / "required_items.parquet")
    item = pa.field("item", pa.int64(), nullable=False)
    pq.write_table(
        pa.table(
            {"xs": pa.array([[1, 2], [3]], type=pa.list_(item))},
            schema=pa.schema([pa.field("xs", pa.list_(item))]),
        ),
        req,
    )
    assert not pq.read_schema(req).field("xs").type.value_field.nullable

    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prior = spark.conf.get(key, None)
    try:
        for ntz in ("true", "false"):
            spark.conf.set(key, ntz)
            assert _infer_ntz(spark) is (ntz == "true")
            checked = 0
            for sf in ("sf0.001", "sf0.01", "sf0.1"):
                sf_dir = os.path.join(os.path.dirname(SF_SMOKE), sf)
                for t in TABLES:
                    p = f"{sf_dir}/{t}.parquet"
                    if not os.path.exists(p):
                        continue
                    want = spark.read.parquet(p).schema
                    assert _footer_schema(p, _infer_ntz(spark)) == want, (
                        ntz, sf, t,
                    )
                    if t != "events":  # events normalizes ts on read
                        assert table(spark, sf_dir, t).schema == want, (ntz, sf, t)
                    checked += 1
            assert checked > 0
            assert _footer_schema(req, _infer_ntz(spark)) == (
                spark.read.parquet(req).schema
            )
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_table_read_schedules_no_job(spark):
    """The footer-schema read is jobless at planning time — the point
    of it. A job re-appearing here would put one scheduling round-trip
    back into every registered query's construction."""
    import uuid

    from ds_caselaw_ingester_spark.sources.catalog import TABLES, table

    sc = spark.sparkContext
    g = f"cat-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(g, "table reads")
    try:
        for t in TABLES:
            table(spark, "/root/testdata/sf0.001", t)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(g)) == []


def test_footer_schema_unmodeled_returns_none(tmp_path):
    """Missing files and the legacy TIMESTAMP(NANOS) layout must return
    None so callers keep the inference path (error classes and the
    nanosAsLong conf dance unchanged)."""
    from ds_caselaw_ingester_spark.sources.catalog import _footer_schema

    assert _footer_schema(str(tmp_path / "missing.parquet")) is None
    legacy = _write_events(str(tmp_path), pa.timestamp("ns"))
    assert _footer_schema(os.path.join(legacy, "events.parquet")) is None
