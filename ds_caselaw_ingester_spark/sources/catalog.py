"""Table catalog over the driver's parquet test tables.

Reads supply the scan schema from the parquet FOOTER, read driver-side
via pyarrow (microseconds, no Spark job): ``spark.read.parquet`` without
a schema schedules one footer-inference JOB per call — measured 0.13 s
warm plus a scheduling round-trip, paid by EVERY query invocation
(optimization round 15; the suite-wide overhead profile put one such job
in all 50 registered queries). ``spark.read.schema(footer).parquet``
plans the identical scan (same ReadSchema, same pushdown) with zero
scheduled jobs. Anything the footer converter does not model — missing
file, directory inputs, exotic types, the legacy TIMESTAMP(NANOS)
events layout — falls back to plain inference, so behavior off the
happy path is byte-identical to before.

Catalyst still gets full predicate pushdown / column pruning into the
scan — at 100 TB the scan is the dominant cost and pruning unused
columns (especially wide text/binary columns on ``documents``) is the
single biggest win.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor
# (TPC-H region/nation are constant-size; customer/supplier grow slowly).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Column pruning happens automatically when the
    caller selects a subset; never ``select('*')`` into a wide pipeline.

    ``events.ts`` has shipped in two physical layouts, so the reader is
    type-adaptive on the *loaded* column type rather than assuming one:

    - parquet TIMESTAMP(MICROS) (current): reads natively as a timestamp
      (TIMESTAMP_NTZ when the file's isAdjustedToUTC is false). We cast to
      session-tz TimestampType; the session is pinned to UTC
      (session.py), so wall-clock values are unchanged and downstream
      window/date_trunc/unix_timestamp semantics match the previous
      layout's instant semantics exactly.
    - parquet TIMESTAMP(NANOS) (legacy): Spark can only read it via the
      ``nanosAsLong`` legacy conf, as raw int64 nanos. Only in this branch
      do we set that conf — and restore its prior value immediately after
      the read (the conf is captured into the relation at
      ``spark.read.parquet`` schema-inference time, so the returned lazy
      DataFrame stays valid) — and truncate nanos → microsecond
      TimestampType (the same truncation DuckDB applies). Neither branch
      leaves session state mutated: reading legacy-then-modern in one
      session behaves exactly like modern-only.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        return _read_events(spark, f"{sf_dir}/events.parquet")
    path = f"{sf_dir}/{name}.parquet"
    st = _footer_schema(path, _infer_ntz(spark))
    if st is None:
        return spark.read.parquet(path)
    return spark.read.schema(st).parquet(path)


def _infer_ntz(spark: SparkSession) -> bool:
    """The session's spark.sql.parquet.inferTimestampNTZ.enabled: whether
    Spark's parquet inference reads a tz-less timestamp as
    TimestampNTZType (the default) or as TimestampType."""
    conf = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    return str(conf).lower() == "true"


def _footer_schema(path: str, infer_ntz: bool = True):
    """Spark StructType from the parquet footer, read DRIVER-SIDE via
    pyarrow — no Spark job (see module docstring for the measured cost
    of the inference job this replaces). Returns None whenever the
    footer cannot be read (missing file, directory input, non-parquet)
    or contains a type outside the engine's modeled universe — callers
    then use plain ``spark.read.parquet``, so every off-happy-path
    behavior (error classes included) is unchanged. The conversion is
    pinned equal to Spark's own inference for every table × sf dir in
    tests/test_catalog_events.py. Fields and list elements are always
    nullable, matching Spark's file-relation rule (file sources relax
    all columns to nullable on read). timestamp[ns] deliberately
    returns None: that is the legacy events layout only readable
    through the nanosAsLong conf dance in _read_events. `infer_ntz` is
    the session's inferTimestampNTZ conf (see _infer_ntz): a tz-less
    timestamp[us] maps to TimestampNTZType when it is set, else to
    TimestampType, as Spark's own inference does."""
    try:
        import pyarrow.parquet as papq
        import pyarrow.types as pat

        pa_schema = papq.read_schema(path)
    except Exception:
        return None
    from pyspark.sql import types as T

    def conv(t):
        if pat.is_int32(t):
            return T.IntegerType()
        if pat.is_int64(t):
            return T.LongType()
        if pat.is_float64(t):
            return T.DoubleType()
        if pat.is_float32(t):
            return T.FloatType()
        if pat.is_string(t) or pat.is_large_string(t):
            return T.StringType()
        if pat.is_boolean(t):
            return T.BooleanType()
        if pat.is_date32(t):
            return T.DateType()
        if pat.is_binary(t) or pat.is_large_binary(t):
            return T.BinaryType()
        if pat.is_timestamp(t):
            if t.unit == "us":
                if t.tz or not infer_ntz:
                    return T.TimestampType()
                return T.TimestampNTZType()
            return None
        if pat.is_list(t) or pat.is_large_list(t):
            et = conv(t.value_type)
            if et is None:
                return None
            return T.ArrayType(et, containsNull=True)
        return None

    fields = []
    for f in pa_schema:
        dt = conv(f.type)
        if dt is None:
            return None
        fields.append(T.StructField(f.name, dt, nullable=True))
    return T.StructType(fields)


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    """Type-adaptive events read; see :func:`table`. Normalises ``ts`` to
    session-tz TimestampType regardless of the file's physical layout."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
    st = _footer_schema(path, _infer_ntz(spark))
    if st is not None:
        # modern layout, schema known from the footer: jobless read; the
        # ts normalization below is layout-driven and unchanged
        return _normalize_events_ts(spark.read.schema(st).parquet(path))
    try:
        df = spark.read.parquet(path)
    except Exception as exc:  # TIMESTAMP(NANOS) footer: unreadable without the legacy conf
        if "NANOS" not in str(exc) and "nanosAsLong" not in str(exc):
            raise
        # The conf is consumed while spark.read.parquet converts the
        # footer schema, so it can be restored immediately afterwards
        # (probed empirically: collect() on the returned frame succeeds
        # with the conf back off). try/finally keeps one failed legacy
        # read from leaving the session silently interpreting every
        # future TIMESTAMP(NANOS) column as int64.
        prior = spark.conf.get(NANOS_CONF, None)
        spark.conf.set(NANOS_CONF, "true")
        try:
            df = spark.read.parquet(path)
        finally:
            if prior is None:
                spark.conf.unset(NANOS_CONF)
            else:
                spark.conf.set(NANOS_CONF, prior)

    return _normalize_events_ts(df)


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Layout-driven ts normalization shared by the jobless footer-schema
    read and the inference fallback; see :func:`table`."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # Legacy nanos-as-int64 layout (or a session where the conf was
        # already on): truncate nanos to micros, matching DuckDB.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        # Session tz is UTC (session.py), so this cast is value-preserving;
        # it keeps one engine-wide timestamp type across both layouts.
        return df.withColumn("ts", df["ts"].cast(TimestampType()))
    return df


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition a small input across all cores before an explode-heavy
    stage. A compact parquet file arrives as 1-2 partitions; the
    downstream explode (shingles, n-grams, tokens) then runs on 1-2 cores.
    One cheap shuffle of the small pre-explode rows buys full parallelism
    for the expensive expansion. On a real cluster large inputs already
    arrive well-partitioned — this guards the small-file edge, it doesn't
    replace source partitioning."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *key_cols) if key_cols else df.repartition(n)


def spread_if_narrow(
    df: DataFrame, *key_cols: str, min_fraction: float = 0.5
) -> DataFrame:
    """spread(), but ONLY when the frame's planned partitioning cannot
    fill the cluster — the guard for PRODUCTION operator entries that
    accept an unseen frame. A single compact parquet file plans as 1-2
    partitions, and every downstream map-side stage (Arrow gate scans,
    centroid argmax, in-cell pair generation) then serialises on 1-2
    cores: semantic_dedup_auto measured 90 s vs 12.5 s at sf1 on
    exactly this (docs/SCALE.md round 11). An already-wide scan — the
    normal case at real scale, where the source arrives in thousands
    of splits — is returned UNCHANGED, so large inputs never pay a
    gratuitous corpus shuffle. Streaming frames are returned unchanged
    (no static partitioning to inspect; micro-batch frames inside
    foreachBatch are static and do get the guard).

    Lineage safety: a frame whose plan already contains an Exchange is
    returned unchanged WITHOUT inspecting its RDD — downstream of a
    shuffle the partitioning is shuffle-partitions-sized (or
    AQE-coalesced by bytes) and never inherits a narrow scan; and
    under AQE, `df.rdd` on a shuffled plan would MATERIALIZE every
    upstream query stage just to read a partition count (review
    finding, round 11). The `.rdd` probe below therefore only ever
    runs on exchange-free plans, where it is pure planning."""
    if df.isStreaming:
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    if n <= 1:
        return df
    # executedPlan, not sparkPlan: exchanges are inserted by
    # EnsureRequirements during plan preparation; under AQE toString()
    # renders the INITIAL adaptive plan without executing any stage
    plan = df._jdf.queryExecution().executedPlan().toString()
    # line-anchored OPERATOR match, not a bare substring: the plan text
    # embeds column/field names, so a user column literally named
    # "Exchange" would otherwise false-positive and silently skip the
    # widening (fail-safe direction, but avoidable). Tree lines prefix
    # the node name with only whitespace/box-art characters.
    if re.search(r"(?m)^[\s:+*-]*(?:Broadcast|Shuffle)?Exchange\b", plan):
        return df
    # max(2, ...): at defaultParallelism 2-3 the 0.5 fraction rounds to
    # 1, which would wave a 1-partition frame through on the exact
    # narrow input the guard exists to widen
    if df.rdd.getNumPartitions() >= max(2, int(n * min_fraction)):
        return df
    return df.repartition(n, *key_cols) if key_cols else df.repartition(n)
