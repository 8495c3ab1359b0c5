"""Relational analytics queries over the driver tables.

The reference has no aggregation/window/sort surface (SURVEY.md §2.8) —
these operators come with Spark and are exposed as first-class queries so
the engine's groupBy/join/window machinery is correctness-gated too.

Scale notes per query are in each docstring; the common rules:
- dimension joins are broadcast (region/nation/supplier/customer)
- aggregates are partial (map-side combine) by construction of groupBy
- doubles that passed through arithmetic are ROUND()ed in BOTH engines
  so the order-insensitive value hash is stable (summation order differs
  between engines; raw parquet doubles pass through bit-exact)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.plans.registry import register
from ds_caselaw_ingester_spark.session import ensure_oracle_safe
from ds_caselaw_ingester_spark.sources.catalog import table

# ---------------------------------------------------------------------------
# pricing_summary — TPC-H Q1 shape: scan-heavy groupBy with 8 aggregates
# ---------------------------------------------------------------------------

PRICING_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register(
    "pricing_summary",
    PRICING_ORACLE,
    doc="TPC-H Q1 shape: predicate pushdown to the parquet scan + partial "
    "(map-side) aggregation; the shuffle carries only |flag×status| groups.",
    survey_ops=("ext:agg",),
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_oracle_safe(spark)
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# revenue_by_nation — TPC-H Q5 shape: fact table + broadcast dim chain
# ---------------------------------------------------------------------------

REVENUE_NATION_ORACLE = """
SELECT n.n_name AS nation,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       count(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderstatus <> 'F'
GROUP BY n.n_name
"""


@register(
    "revenue_by_nation",
    REVENUE_NATION_ORACLE,
    doc="Fact-to-dim star join: lineitem shuffles once on l_orderkey; "
    "nation/region are constant-size and broadcast-hinted; customer "
    "grows with the corpus so its strategy is left to Catalyst/AQE "
    "(broadcast while it fits, shuffled hash join past that) — the "
    "100 TB fact side never re-shuffles either way.",
    survey_ops=("ext:join",),
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_oracle_safe(spark)
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    o = table(spark, sf_dir, "orders").where(F.col("o_orderstatus") != "F").select(
        "o_orderkey", "o_custkey"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = table(spark, sf_dir, "region").select("r_regionkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        # customer is corpus-growth: no hint (AQE broadcasts while small)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# top_orders_per_customer — window top-k (no global sort)
# ---------------------------------------------------------------------------

TOP_ORDERS_ORACLE = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3
"""


@register(
    "top_orders_per_customer",
    TOP_ORDERS_ORACLE,
    doc="Top-k per group via row_number window — one shuffle on the group "
    "key, no global sort; deterministic tie-break on o_orderkey.",
    survey_ops=("ext:window",),
)
def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_oracle_safe(spark)
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)


# ---------------------------------------------------------------------------
# events_hourly — event-time tumbling window as batch groupBy
# ---------------------------------------------------------------------------

EVENTS_HOURLY_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(sum(value), 3) AS total_value
FROM events
GROUP BY 1, 2
"""


@register(
    "events_hourly",
    EVENTS_HOURLY_ORACLE,
    doc="Tumbling event-time window (batch form of the streaming windowed "
    "agg in streaming/pipeline.py); hour rendered as UTC string for "
    "engine-portable hashing.",
    survey_ops=("ext:window-agg", "S1"),
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_oracle_safe(spark)
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 3).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# user_sessions — sessionization via lag + gap cumsum (tz-invariant)
# ---------------------------------------------------------------------------

SESSIONS_ORACLE = """
WITH with_gap AS (
  SELECT user_id, ts, event_id,
         floor(epoch(ts)) - floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS gap_s
  FROM events
),
marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END AS new_session
  FROM with_gap
),
sessions AS (
  SELECT user_id, event_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_n
  FROM marked
)
SELECT user_id,
       CAST(max(session_n) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM sessions
GROUP BY user_id
"""


@register(
    "user_sessions",
    SESSIONS_ORACLE,
    doc="Sessionization: lag(ts) gap > 30 min starts a session; cumulative "
    "sum over an ordered window. Arithmetic on epoch differences only — "
    "timezone-invariant.",
    survey_ops=("ext:sessionize",),
)
def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_oracle_safe(spark)
    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w_ord = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w_ord))
    marked = e.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0))
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sessions = marked.withColumn("session_n", F.sum("new_session").over(w_cum))
    return sessions.groupBy("user_id").agg(
        F.max("session_n").cast("bigint").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# revenue_rollup — ROLLUP (grouping sets) over nation × order-year
# ---------------------------------------------------------------------------

ROLLUP_ORACLE = """
SELECT coalesce(n_name, 'ALL') AS nation,
       coalesce(CAST(yr AS VARCHAR), 'ALL') AS order_year,
       round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n_orders
FROM (
  SELECT n.n_name, CAST(year(o.o_orderdate) AS INTEGER) AS yr, o.o_totalprice
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
GROUP BY ROLLUP (n_name, yr)
"""


@register(
    "revenue_rollup",
    ROLLUP_ORACLE,
    doc="ROLLUP grouping sets (nation, year) -> (nation) -> (): Spark "
    "expands grouping sets map-side, so the shuffle carries one partial "
    "row per (group, grouping-set) — subtotals cost no extra scan. "
    "Dimension joins (customer, nation) broadcast. Rollup NULLs are "
    "coalesced to 'ALL' so the oracle hash never depends on NULL "
    "grouping-marker conventions.",
    survey_ops=("ext:agg", "ext:grouping-sets"),
)
def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_oracle_safe(spark)
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice", "o_orderdate")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        # customer is corpus-growth: no hint (AQE broadcasts while small)
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select("n_name", F.year("o_orderdate").cast("int").alias("yr"), "o_totalprice")
    )
    return (
        joined.rollup("n_name", "yr")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .select(
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            F.coalesce(F.col("yr").cast("string"), F.lit("ALL")).alias("order_year"),
            "revenue",
            "n_orders",
        )
    )


# ---------------------------------------------------------------------------
# customers_without_orders — anti join (NOT EXISTS)
# ---------------------------------------------------------------------------

ANTI_JOIN_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
"""


# NOT @register-ed (round 7): the J4 coverage stays registered via
# existence_guard and the equi-join shape via revenue_by_nation /
# part_setops / fuzzy_part_match, so this slot was freed for
# strip_spans (the exact-substring detect -> cut pipeline,
# queries_dedup.py) under the driver's 50-row cap. The anti-join
# physical shape keeps its identical oracle gate in pytest
# (tests/test_oracle_parity.py::test_unregistered_anti_join_matches_oracle).
#
# Left-anti join (NOT EXISTS): customers with no URGENT order. Catalyst
# plans a hash anti-join on the key with the priority filter pushed to
# the orders scan — no fan-out, the probe side streams through once.
# The set-difference counterpart of the J4 existence guard
# (ingester.py:240).
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_oracle_safe(spark)
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    o = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.join(o, "c_custkey", "left_anti")


# ---------------------------------------------------------------------------
# part_setops — INTERSECT / EXCEPT over part-key sets
# ---------------------------------------------------------------------------

SETOPS_ORACLE = """
(SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
 INTERSECT
 SELECT l_partkey FROM lineitem WHERE l_discount > 0.05)
EXCEPT
SELECT l_partkey FROM lineitem WHERE l_tax = 0.0
"""


@register(
    "part_setops",
    SETOPS_ORACLE,
    doc="Set operators (INTERSECT then EXCEPT, distinct semantics): Spark "
    "plans them as hash aggregates + left-semi/anti joins on the key — "
    "each branch's filter is pushed to the parquet scan and the shuffle "
    "carries distinct keys only.",
    survey_ops=("ext:setops",),
)
def q_part_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_oracle_safe(spark)
    li = table(spark, sf_dir, "lineitem")
    returned = li.where(F.col("l_returnflag") == "R").select("l_partkey")
    discounted = li.where(F.col("l_discount") > 0.05).select("l_partkey")
    taxfree = li.where(F.col("l_tax") == 0.0).select("l_partkey")
    return returned.intersect(discounted).subtract(taxfree)


# ---------------------------------------------------------------------------
# top_orders_global — global sort + limit (top-k)
# ---------------------------------------------------------------------------

TOPK_ORACLE = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


# NOT @register-ed since round 8: the slot went to repetition_profile
# under the driver's 50-row cap. The TakeOrderedAndProject shape stays
# registry-covered by every per-query top-k tail (bm25_search,
# pq_adc_topk, hybrid_search) and this query keeps its identical DuckDB
# oracle gate in pytest
# (tests/test_oracle_parity.py::test_unregistered_top_orders_matches_oracle)
# plus its plan-shape assertion (test_plan_shapes.py).
def q_top_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_oracle_safe(spark)
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total"))
    )


# ---------------------------------------------------------------------------
# distinct_supplier_stats — distinct aggregation alongside plain aggs
# ---------------------------------------------------------------------------

DISTINCT_AGG_ORACLE = """
SELECT l_returnflag,
       count(DISTINCT l_suppkey) AS n_suppliers,
       count(DISTINCT l_partkey) AS n_parts,
       count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY l_returnflag
"""


# NOT @register-ed: the mixed-distinct aggregation shape stays covered
# in the registry by events_distinct_users_salted (exact distinct, plus
# the skew-safe variant) and three further ext:agg rows, so this slot
# was freed for decontam_flags under the driver's 50-row cap. The query
# keeps its oracle gate in pytest
# (tests/test_oracle_parity.py::test_unregistered_distinct_agg_matches_oracle).
#
# Mixed distinct + plain aggregation: Catalyst rewrites multiple
# COUNT(DISTINCT) via Expand (one stream per distinct column) with
# partial aggregation on (group, value) before the final merge —
# distinct state never concentrates on one node.
def q_distinct_supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_oracle_safe(spark)
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# events_distinct_users_salted — skew-safe exact distinct via salting
# ---------------------------------------------------------------------------

SALTED_DISTINCT_ORACLE = """
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY event_type
"""


@register(
    "events_distinct_users_salted",
    SALTED_DISTINCT_ORACLE,
    doc="Exact per-key distinct-user count via salted two-phase "
    "aggregation (operators/skew.py): the distinct-set of each hot "
    "event_type is sharded by pmod(hash(user_id), 16) into disjoint "
    "shards counted independently, then summed — a hot key's distinct "
    "state lands on 16 tasks instead of one. Result is hash-identical "
    "to the plain COUNT(DISTINCT) the oracle runs.",
    survey_ops=("ext:agg", "ext:skew-salting"),
)
def q_events_distinct_users_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_caselaw_ingester_spark.operators.skew import salted_distinct_count

    ensure_oracle_safe(spark)
    ev = table(spark, sf_dir, "events").select("event_type", "user_id", "value")
    out = salted_distinct_count(
        ev,
        ["event_type"],
        "user_id",
        "n_users",
        buckets=16,
        extra_algebraic={
            "n_events": F.count("*"),
            "sum_value": F.sum("value"),
        },
    )
    return out.select(
        "event_type", "n_users", "n_events", F.round("sum_value", 2).alias("sum_value")
    )


# ---------------------------------------------------------------------------
# purchase_asof_signup — backward as-of join (time-series custom operator)
# ---------------------------------------------------------------------------

ASOF_ORACLE = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
s AS (
  SELECT user_id, ts, event_id AS signup_event, value AS signup_value,
         CAST(floor(epoch(ts)) AS BIGINT) AS signup_epoch
  FROM events WHERE event_type = 'signup'
)
SELECT p.event_id, p.user_id, s.signup_event, s.signup_value,
       CAST(floor(epoch(p.ts)) AS BIGINT) - s.signup_epoch AS wait_s
FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
"""


@register(
    "purchase_asof_signup",
    ASOF_ORACLE,
    doc="Backward as-of join (operators/asof.py): each purchase gets the "
    "user's latest signup at-or-before it. Union + one keyed window "
    "(single shuffle, O(L+R) rows) instead of a range join whose "
    "intermediate is O(L x matches). Oracle uses DuckDB's native ASOF "
    "LEFT JOIN; epochs floor()ed in both engines.",
    survey_ops=("ext:asof-join",),
)
def q_purchase_asof_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_caselaw_ingester_spark.operators.asof import asof_join_backward

    ensure_oracle_safe(spark)
    ev = table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id",
        "ts",
        F.col("event_id").alias("signup_event"),
        F.col("value").alias("signup_value"),
        F.unix_timestamp("ts").alias("signup_epoch"),
    )
    joined = asof_join_backward(
        purchases, signups, key="user_id", left_ts="ts", right_ts="ts",
        right_tie="signup_event",
    )
    return joined.select(
        "event_id",
        "user_id",
        "signup_event",
        "signup_value",
        (F.unix_timestamp("ts") - F.col("signup_epoch")).alias("wait_s"),
    )


# ---------------------------------------------------------------------------
# event_value_percentiles — exact percentiles (ordered-set aggregate)
# ---------------------------------------------------------------------------

PERCENTILES_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value
FROM events
GROUP BY event_type
"""


@register(
    "event_value_percentiles",
    PERCENTILES_ORACLE,
    doc="Exact linear-interpolation percentiles per key (Spark percentile "
    "== DuckDB quantile_cont). Exact quantiles need the group's values "
    "on one reducer — fine for bounded per-key cardinality; at "
    "unbounded 100 TB scale swap in approx_percentile (t-digest, "
    "mergeable partials) and drop the oracle to a tolerance check.",
    survey_ops=("ext:agg", "ext:percentiles"),
)
def q_event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_oracle_safe(spark)
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


# ---------------------------------------------------------------------------
# event_props_stats — semi-structured JSON column extraction + aggregate
# ---------------------------------------------------------------------------

JSON_PROPS_ORACLE = """
SELECT event_type,
       CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_bucket,
       count(*) AS n,
       min(CAST(json_extract(props, '$.k') AS INTEGER)) AS min_k,
       max(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k
FROM events
WHERE json_extract(props, '$.k') IS NOT NULL
GROUP BY event_type, k_bucket
"""


@register(
    "event_props_stats",
    JSON_PROPS_ORACLE,
    doc="Semi-structured path: JSON property column extracted with "
    "get_json_object (JVM-side JSON path, no Python) and aggregated. "
    "At scale, repeated extraction from the same blob should hoist to "
    "one from_json projection — here a single path keeps the scan "
    "single-pass either way.",
    survey_ops=("ext:semi-structured",),
)
def q_event_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_caselaw_ingester_spark.sources.catalog import spread

    ensure_oracle_safe(spark)
    # events.parquet ships as ONE row group, so the scan (and the
    # per-row JSON path extraction after it) runs on one core no matter
    # how many byte-range splits Spark cuts; spread the narrow rows
    # first — keyed on the UNIQUE event_id, since props has only ~100
    # distinct values and hashing on it would land 3-4 keys per
    # partition — so extraction runs at full parallelism. Same
    # small-file guard as the envelope/dedup readers; multi-split
    # production inputs don't need it.
    ev = spread(
        table(spark, sf_dir, "events").select("event_id", "event_type", "props"),
        "event_id",
    )
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.where(k.isNotNull())
        .select("event_type", (k % 10).alias("k_bucket"), k.alias("k"))
        .groupBy("event_type", "k_bucket")
        .agg(F.count("*").alias("n"), F.min("k").alias("min_k"), F.max("k").alias("max_k"))
    )


# ---------------------------------------------------------------------------
# window_event_counts — point-in-interval range join via time bucketing
# ---------------------------------------------------------------------------

RANGE_JOIN_ORACLE = """
WITH w AS (
  SELECT i AS w_id,
         TIMESTAMP '2024-01-01 00:30:00' + INTERVAL (i*12) HOUR AS w_start,
         TIMESTAMP '2024-01-01 00:30:00' + INTERVAL (i*12) HOUR
           + INTERVAL 15 MINUTE AS w_end
  FROM (SELECT unnest(generate_series(0, 59)) AS i)
)
SELECT w.w_id,
       count(e.event_id) AS n_events,
       round(sum(e.value), 2) AS sum_value
FROM w LEFT JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY w.w_id
"""


@register(
    "window_event_counts",
    RANGE_JOIN_ORACLE,
    doc="Range join (operators/rangejoin.py): 60 fixed 15-minute windows "
    "x events, matched through an hour-bucket equi-join prefilter + the "
    "exact range predicate - O(points + interval cover) candidates "
    "instead of the cross-product a naive inequality join plans. Empty "
    "windows kept via a final left join (count 0, sum NULL, matching "
    "the oracle's LEFT JOIN).",
    survey_ops=("ext:range-join",),
)
def q_window_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_caselaw_ingester_spark.operators.rangejoin import point_in_interval_join

    ensure_oracle_safe(spark)
    base = F.unix_timestamp(F.to_timestamp(F.lit("2024-01-01 00:30:00")))
    w = spark.range(0, 60).select(
        F.col("id").cast("int").alias("w_id"),
        F.timestamp_seconds(base + F.col("id") * 12 * 3600).alias("w_start"),
        F.timestamp_seconds(base + F.col("id") * 12 * 3600 + 15 * 60).alias("w_end"),
    )
    ev = table(spark, sf_dir, "events").select("event_id", "ts", "value")
    matched = point_in_interval_join(ev, w, "ts", "w_start", "w_end", bucket_seconds=3600)
    counts = matched.groupBy("w_id").agg(
        F.count("event_id").alias("_n"), F.sum("value").alias("_sv")
    )
    return w.join(counts, "w_id", "left").select(
        "w_id",
        F.coalesce(F.col("_n"), F.lit(0)).alias("n_events"),
        F.round(F.col("_sv"), 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# fuzzy_part_match — edit-distance lookup (dirty strings vs catalog)
# ---------------------------------------------------------------------------

FUZZY_ORACLE = """
WITH probes AS (
  SELECT p_partkey AS probe_id, substr(p_name, 2) AS probe
  FROM part WHERE p_partkey % 97 = 0
)
SELECT pr.probe_id, pr.probe, p.p_partkey, p.p_name,
       levenshtein(pr.probe, p.p_name) AS dist
FROM probes pr JOIN part p ON levenshtein(pr.probe, p.p_name) <= 2
"""


@register(
    "fuzzy_part_match",
    FUZZY_ORACLE,
    doc="Edit-distance fuzzy lookup: deterministic 'typo' probes (first "
    "char dropped) matched against the part catalog with levenshtein <= 2 "
    "(JVM built-in in both engines, identical unit-cost semantics). Plan: "
    "PassJoin partition blocking — each DISTINCT catalog string splits "
    "into k+1 segments, and ed(s,r) <= k guarantees (pigeonhole) one "
    "segment appears in s exactly, within +-k of its position, so "
    "candidates come from an equi-join of k+1 signatures per catalog "
    "string against the probe side's substring windows, and EXACT "
    "levenshtein runs on survivors only. The big side fans out x(k+1) "
    "(vs ~len^2/2 deletion variants for SymSpell — 3 vs ~466 rows per "
    "30-char string, so only PassJoin ships, see operators/fuzzy.py; "
    "the naive broadcast cross product cost 230 s of a 320 s sf1 suite). "
    "The expansion back to id rows is driven by an EXPLICIT broadcast of "
    "the matched string pairs (bounded by distinct-pair count): without "
    "it AQE broadcasts the sub-threshold catalog side and streams the "
    "1-partition matched set, serialising the high-duplication row "
    "expansion onto one core (13.2 s -> 2.5 s at sf1). Exactness never "
    "depends on the blocking — it only generates candidates, the DP "
    "decides.",
    survey_ops=("ext:fuzzy-match",),
)
def q_fuzzy_part_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_caselaw_ingester_spark.operators.fuzzy import (
        passjoin_edit_distance_join,
    )
    from ds_caselaw_ingester_spark.sources.catalog import spread

    ensure_oracle_safe(spark)
    part = table(spark, sf_dir, "part").select("p_partkey", "p_name")
    probes = part.where(F.col("p_partkey") % 97 == 0).select(
        F.col("p_partkey").alias("probe_id"),
        F.substring("p_name", 2, 2_000_000).alias("probe"),
    )
    matched = passjoin_edit_distance_join(
        probes, part, "probe", "p_name", max_dist=2
    )
    # Expand string-level matches back to id-level rows. matched is
    # bounded by the distinct-pair count — broadcast it explicitly so the
    # catalog scan (spread: the local file is 1-2 row groups) stays the
    # streamed side and the duplicate-name row expansion parallelises.
    return (
        F.broadcast(matched)
        .join(spread(part), "p_name")
        .join(F.broadcast(probes), "probe")
        .select("probe_id", "probe", "p_partkey", "p_name", "dist")
    )


# ---------------------------------------------------------------------------
# daily_type_pivot — pivot (long -> wide conditional aggregation)
# ---------------------------------------------------------------------------

PIVOT_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       count(*) FILTER (event_type = 'click') AS n_click,
       count(*) FILTER (event_type = 'view') AS n_view,
       count(*) FILTER (event_type = 'purchase') AS n_purchase,
       count(*) FILTER (event_type = 'signup') AS n_signup,
       count(*) FILTER (event_type = 'error') AS n_error
FROM events
GROUP BY 1
"""


@register(
    "daily_type_pivot",
    PIVOT_ORACLE,
    doc="Pivot long->wide: groupBy(day).pivot(event_type, [explicit "
    "values]).count(). With the pivot values DECLARED, Spark plans one "
    "pass of conditional aggregates (no extra distinct-values job and no "
    "per-value scans) - same plan the oracle's FILTER clauses describe. "
    "Day rendered as a UTC string for engine-portable hashing.",
    survey_ops=("ext:pivot",),
)
def q_daily_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_oracle_safe(spark)
    types = ["click", "view", "purchase", "signup", "error"]
    ev = table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        "event_type",
    )
    wide = ev.groupBy("day").pivot("event_type", types).count()
    return wide.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types]
    )
