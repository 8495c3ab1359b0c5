"""Near-duplicate clustering: pair edges -> connected components ->
canonical-document selection.

The dedup operators (operators/dedup.py, plans/queries_dedup.py) emit
PAIRS (doc_a, doc_b). A training-data pipeline needs one step more:
group pairs into components and keep one canonical document per
component. This is iterative min-label propagation — the standard
Spark-side connected-components shape (each round is one keyed join +
one aggregation; no driver-side graph state, only a scalar convergence
count crosses to the driver per round).

Scale properties:
- Each round is one hop of neighbor-min propagation PLUS one pointer
  jump (label := label(label)), so path lengths halve per round and
  convergence is O(log diameter) — a 40-node chain converges in ~7
  rounds, not 40. Near-dup components are dense and tiny anyway (2-3
  rounds); `max_iter` bounds the pathological case and raises rather
  than silently returning a half-converged labeling.
- Each round shuffles the edge list once on the join key and the label
  frame twice (min-aggregation, jump join) — O(E + V) per round, no
  quadratic step.
- Lineage is truncated every round (localCheckpoint) so the plan does
  not grow with iterations — without this, round N replays rounds
  1..N-1 and the job is O(rounds²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Edge-count bound (symmetrised rows) below which the min-label fixpoint
# is computed driver-side from ONE bounded Arrow fetch instead of the
# iterative loop. The loop costs ~5 scheduled jobs (edge cache, label
# init checkpoint, per-round checkpoint + convergence count) — measured
# 1.9 s for 827 edges at sf0.1 with the pair pipeline already cached
# (optimization round 14), pure scheduling round-trips; on a busy
# cluster the same round-trips are per-batch latency for every streaming
# micro-batch that runs CC over a handful of pairs.
# connected_components(driver_threshold=0) selects the loop.
#
# Sized by the measured COMPUTE crossover of the numpy scatter-min
# propagation (_driver_min_label_np), not the collect budget (the same
# re-sizing change #12 applied to the kmeans/pq replay caps): the
# clean-host sweep shows the driver path ahead through at least 600k
# edges (random mixed-topology edges, checkpointed input, interleaved
# min of 3, driver vs loop: 1.18/5.74 s at 100k edges, 1.77/6.53 at
# 200k, 3.08/8.30 at 400k, 4.37/11.29 at 600k — the loop's wall grows
# too, so no crossover was reached). Cap sized to 800k sym rows (400k
# edges): a 2.7x measured advantage at the cap, bounded fetch footprint
# (~13 MB of long pairs; string ids proportionally more), and margin for
# host variance rather than extrapolating past the measured range.
CC_DRIVER_SYM_ROWS_MAX = 800_000


def _driver_min_label_np(a, b) -> tuple:
    """Vectorized min-label fixpoint over two id arrays screened by
    similarity._arrow_id_values (non-null ints or NUL-free strings):
    factorize node ids with np.unique (ascending sort = label order),
    then scatter-min label propagation with pointer jumping until no
    label moves. Exact, not approximate: component MEMBERSHIP is a
    property of the graph, not the algorithm, and because np.unique
    sorts ascending the minimum label INDEX in a component is the
    minimum node id — the identical fixpoint the distributed loop
    produces (pinned in tests/test_cluster.py). Returns (nodes,
    components) numpy arrays sorted by node."""
    import numpy as np

    ids = np.concatenate([a, b])
    uniq, inv = np.unique(ids, return_inverse=True)
    n_edges = len(a)
    u, v = inv[:n_edges], inv[n_edges:]
    labels = np.arange(len(uniq), dtype=np.int64)
    while True:
        mn = np.minimum(labels[u], labels[v])
        before = labels.copy()
        np.minimum.at(labels, u, mn)
        np.minimum.at(labels, v, mn)
        while True:  # pointer jumping: chase labels to their roots
            nxt = labels[labels]
            if np.array_equal(nxt, labels):
                break
            labels = nxt
        if np.array_equal(labels, before):
            break
    return uniq, uniq[labels]


def connected_components(
    edges: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 25,
    driver_threshold: "int | None" = None,
) -> DataFrame:
    """(id_a, id_b) undirected edges -> (node, component) where component
    is the MINIMUM node id reachable from `node` (deterministic labels —
    stable for tests, oracles, and reruns).

    Raises RuntimeError if not converged within max_iter rounds (an
    explicit failure beats silently wrong clusters; the small-graph
    driver path below is exact and needs no bound).

    driver_threshold: symmetrised-row bound for the driver-side numpy
    path (None -> CC_DRIVER_SYM_ROWS_MAX; <= 0 selects the distributed
    loop). The gate is ONE bounded Arrow fetch that is also the driver
    path's input. An oversized edge list, or ids the numpy path does
    not model (null, float or NUL-bearing ids — see
    similarity._arrow_id_values), run the distributed loop, which then
    counts the cached edges for its partition sizing. Both paths produce
    the identical min-label fixpoint (pinned in tests/test_cluster.py).
    """
    # The edge list is re-joined EVERY round of the distributed loop, so
    # it is materialised ONCE (e.persist, forced by the fetch or count
    # below — without it each unionAll branch replays the upstream
    # pair-producing pipeline; for neardup_clusters that's the whole
    # shingle->minhash->banding computation) and the symmetrised list is
    # cached PRE-PARTITIONED on the join key: a cached frame keeps its
    # hash partitioning, so every round's neighbor join shuffles only
    # the O(V) label frame, never the O(E) edges. At scale this is the
    # standard iterative-graph pattern — cache the static edge set once,
    # iterate only the labels.
    e = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).persist()
    spark = edges.sparkSession
    from ds_caselaw_ingester_spark.operators.similarity import (
        _arrow_id_values,
        _bounded_arrow,
    )

    if driver_threshold is None:
        driver_threshold = CC_DRIVER_SYM_ROWS_MAX
    # threshold counts SYMMETRISED rows; the fetch is of raw edges
    tbl = _bounded_arrow(e, driver_threshold // 2)
    if tbl is not None:
        a = _arrow_id_values(tbl.column("src").combine_chunks())
        b = _arrow_id_values(tbl.column("dst").combine_chunks())
        if a is not None and b is not None:
            # Small graph: the bounded fetch replaces the whole loop
            # (see CC_DRIVER_SYM_ROWS_MAX). The labels frame is created
            # in the caller's session — downstream joins plan under the
            # caller's conf, same contract as the loop's re-parented
            # result.
            from pyspark.sql import types as T

            e.unpersist()
            id_type = e.schema["src"].dataType
            schema = T.StructType(
                [
                    T.StructField("node", id_type, False),
                    T.StructField("component", id_type, False),
                ]
            )
            if not len(a):  # empty graph: the plain empty frame
                return spark.createDataFrame([], schema)
            import pandas as pd

            nodes, comps = _driver_min_label_np(a, b)
            # pandas -> Arrow -> JVM LocalTableScan: a list-of-tuples
            # createDataFrame would plan as a PythonRDD and every
            # consumer of the labels frame would round-trip a Python
            # worker per task
            return spark.createDataFrame(
                pd.DataFrame({"node": nodes, "component": comps}), schema
            )
    # the loop needs the edge count for its partition sizing; when the
    # fetch declined only the ids, it already holds the whole list
    sym_rows = 2 * (tbl.num_rows if tbl is not None else e.count())

    # Size-aware loop partitioning. AQE cannot re-plan cached or
    # checkpointed subtrees (canChangeCachedPlanOutputPartitioning is
    # off), so every per-round shuffle would otherwise run at the
    # session's spark.sql.shuffle.partitions even for a label frame of a
    # few thousand rows — on local mode that makes task scheduling, not
    # data, the round cost. Run the loop's shuffles at ~100k edge rows
    # per partition (measured knee on the iterative join+agg shape: p=8
    # beats both p=1, which serialises the row work, and p=64, which
    # pays 6 stages x 64 tasks of scheduling per round), never MORE than
    # the configured count — a big graph keeps the cluster setting, a
    # small one stops paying wide stages.
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    p = min(cur, max(1, (sym_rows + 99_999) // 100_000))

    # The small shuffle-partition count must come from the session conf:
    # it is the ONLY way to right-size the loop's aggregation exchanges
    # without losing map-side partial aggregation (an explicit pre-agg
    # repartition would satisfy the grouping's distribution and shuffle
    # RAW E+V rows instead of combined partials — strictly worse at
    # scale). The conf lives in a LOOP-SCOPED session (newSession: same
    # SparkContext, shared cache blocks, isolated SQLConf), so a caller
    # planning other queries concurrently never sees mis-sized
    # exchanges — the r9-verdict watch item. The materialised edge list
    # crosses into the loop session as a LogicalRDD over its execution
    # RDD (reads straight through `e`'s cache; no data movement), and
    # the symmetrised list is rebuilt there with an explicit
    # repartition(p, src) + persist, so the cached frame carries the
    # hash partitioning the per-round joins reuse — the plan shapes are
    # unchanged (pinned in tests/test_plan_shapes.py). Caches are
    # released in finally so a non-converging raise cannot leak the
    # O(E) edge frames.
    loop = spark.newSession()
    loop.conf.set("spark.sql.shuffle.partitions", str(p))
    sym = None
    try:
        # the cross-session hop rides SparkSession.internalCreateDataFrame
        # (package-private but stable since 2.x; reachable via py4j)
        e_loop = DataFrame(
            loop._jsparkSession.internalCreateDataFrame(
                e._jdf.queryExecution().toRdd(), e._jdf.schema(), False
            ),
            loop,
        )
        sym = (
            e_loop.unionAll(
                e_loop.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .repartition(p, "src")
            .persist()
        )
        labels = _min_label_loop(sym, max_iter)
        # re-parent the (localCheckpointed) labels into the CALLER's
        # session so downstream joins plan under the caller's conf
        labels = DataFrame(
            spark._jsparkSession.internalCreateDataFrame(
                labels._jdf.queryExecution().toRdd(),
                labels._jdf.schema(),
                False,
            ),
            spark,
        )
    finally:
        e.unpersist()
        if sym is not None:
            sym.unpersist()
    return labels


def _min_label_loop(sym: DataFrame, max_iter: int) -> DataFrame:
    """The pointer-jumping min-label fixpoint over a cached symmetric
    edge list (see connected_components, which sets the loop-scoped
    shuffle-partition count before calling this)."""
    # Initial labels fold the FIRST propagation round into the node
    # dedup itself: label(0) = min(node, min direct neighbor) is the
    # same groupBy the plain distinct would cost, and near-dup
    # components are mostly cliques — which are already at fixpoint
    # after this, so the loop runs one verification round instead of
    # work + verification.
    labels = (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("_mn"))
        .select("node", F.least(F.col("node"), F.col("_mn")).alias("component"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iter):
        # each node's candidate label: min over its own and its
        # neighbors' current labels. The own-label branch also carries
        # the PREVIOUS label through the aggregation (non-null only on
        # own rows), so the convergence check below is a scan of the
        # checkpointed result — no extra join-with-old-labels job.
        own = labels.select(
            "node", "component", F.col("component").alias("_old")
        )
        nbr_labels = sym.join(
            labels.select(F.col("node").alias("src"), F.col("component")), "src"
        ).select(
            F.col("dst").alias("node"),
            "component",
            F.lit(None).cast(dict(labels.dtypes)["component"]).alias("_old"),
        )
        propagated = (
            own.unionAll(nbr_labels)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min("_old").alias("_old"),
            )
        )
        # pointer jump: component ids are node ids, so re-resolve each
        # label through the propagated map (label := label(label)).
        # This is what turns linear chain convergence into logarithmic.
        jump = propagated.select(
            F.col("node").alias("component"), F.col("component").alias("_jumped")
        )
        new_labels = (
            propagated.join(jump, "component", "left")
            .select(
                "node",
                F.coalesce(F.col("_jumped"), F.col("component")).alias("component"),
                "_old",
            )
            .localCheckpoint(eager=True)
        )
        # labels only ever decrease (min-propagation + jump), so any
        # difference from _old is a change; cached scan, no shuffle.
        changed = (
            new_labels.where(F.col("component") != F.col("_old")).limit(1).count()
        )
        labels = new_labels.select("node", "component")
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def canonical_assignment(
    docs: DataFrame,
    pair_edges: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """The keep-one-per-cluster dedup decision: every document gets
    (doc_id, component, canonical_id, is_duplicate). Documents that
    appear in no pair are their own singleton component (left join +
    coalesce — the unpaired 99% of a real corpus never enters the
    component computation)."""
    comp = connected_components(pair_edges, id_a=id_a, id_b=id_b)
    out = docs.select(id_col).join(
        comp.select(F.col("node").alias(id_col), "component"), id_col, "left"
    )
    return out.select(
        id_col,
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
    ).withColumn("is_duplicate", F.col(id_col) != F.col("component"))


def quality_keep_one(
    docs: DataFrame,
    pair_edges: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Keep-one-per-cluster where the keeper is the HIGHEST-quality
    member, not the smallest id: (doc_id, component, keeper_id,
    is_duplicate). A production dedup keeps the best copy of a
    duplicated document (longest extraction, highest classifier score —
    any `score_col` the caller computed), while canonical_assignment's
    min-id rule keeps an arbitrary one; the components themselves are
    identical, only the representative changes.

    Deterministic selection: keeper = arg max score, ties broken by MIN
    id — expressed as one min(struct(-score, id)) aggregation so the
    shuffle carries map-side-combined partials (a row_number window over
    the component would shuffle every raw row to rank it). NULL and NaN
    scores are both treated as -inf (a finitely-scored member always
    beats an unscored one; an all-NULL/NaN component falls back to the
    min-id rule) — NaN needs the explicit nanvl because Spark's
    nan-aware ordering would otherwise rank -NaN ABOVE +inf and let a
    NaN-scored member lose even to NULLs, silently violating the
    scored-beats-unscored contract.

    Cost on top of the component computation: one extra groupBy on
    `component` plus a keeper-lookup join — both keyed on the SAME
    column the assignment join just produced, so at scale the exchange
    is reused across the three operators rather than re-shuffled.

    Plan shape (optimization round 14): the original composition
    (canonical_assignment over docs.select(id), then a SECOND join back
    to docs for the score) evaluated the corpus scan + labels join
    TWICE — once under the keeper aggregation and once under the final
    output join (measured: 8 parquet scans / 2 SortMergeJoin LeftOuter
    in the registered query's plan, plans/r14/). The score now rides
    the ONE assignment join, and the slim (id, component, score) result
    is materialized with an eager localCheckpoint — both consumers read
    the pinned rows, so the corpus is scanned once and the labels join
    runs once. The checkpoint stores three narrow columns per document
    (the same O(V) order the component labels already materialize in
    the CC loop). Ids are assumed unique (a dedup corpus's contract;
    duplicate ids would previously have fanned out in the double join).
    """
    comp = connected_components(pair_edges, id_a=id_a, id_b=id_b)
    scored = (
        docs.select(id_col, score_col)
        .join(comp.select(F.col("node").alias(id_col), "component"), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
            score_col,
        )
        .localCheckpoint(eager=True)
    )
    neg_inf = F.lit(float("-inf"))
    # nanvl first (NaN -> -inf), coalesce second (NULL -> -inf)
    clean = F.coalesce(
        F.nanvl(F.col(score_col).cast("double"), neg_inf), neg_inf
    )
    keepers = (
        scored.groupBy("component")
        .agg(
            F.min(
                F.struct(
                    (-clean).alias("_neg_score"),
                    F.col(id_col).alias("_id"),
                )
            ).alias("_best")
        )
        .select("component", F.col("_best._id").alias("keeper_id"))
    )
    return (
        scored.join(keepers, "component")
        .select(
            id_col,
            "component",
            "keeper_id",
            (F.col(id_col) != F.col("keeper_id")).alias("is_duplicate"),
        )
    )


def leakage_safe_split(
    docs: DataFrame,
    pair_edges: DataFrame,
    splits: "dict[str, float]",
    id_col: str = "doc_id",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    salt: str = "",
) -> DataFrame:
    """Deterministic train/validation/test assignment that near-dup
    leakage cannot cross: (doc_id, component, split). The split is a
    pure function of the document's NEAR-DUP COMPONENT, not the
    document — every member of a component draws the same
    hash-fraction, so two near-duplicate documents land in the same
    split by construction. Splitting per document (df.randomSplit, or
    hash_sample on the id) puts one copy of a duplicated document in
    train and another in validation, and the eval set silently scores
    memorization; splitting AFTER dedup still leaks whenever the
    dedup threshold is looser than "verbatim".

    splits: ordered {name: fraction} summing to 1 (±1e-9); assignment
    walks cumulative ranges over the fraction in INSERTION order, so
    {"train": .9, "val": .1} puts fraction<0.9 in train. Each range
    bound is round(cumulative sum, 12) — the exact constant a replayer
    writes nominally. The fraction
    is operators/sampling.py's 13-hex-md5 convention over
    salt||component (the same replayable arithmetic DuckDB can run:
    ('0x' || substr(md5(salt || component), 1, 13))::BIGINT / 16.0^13),
    so reruns, repartitionings, and engines agree row for row; `salt`
    re-draws the whole assignment without touching the data.

    Scale: one connected-components run over the pair edges (the
    unpaired bulk of the corpus never enters it — left join +
    coalesce, same as canonical_assignment) and one map-side md5 per
    row. No extra shuffle beyond the assignment join itself.

    BATCH-ONLY on purpose: under a growing stream the assignment is
    not stable — a document split to train today can join a component
    containing a val document tomorrow (a new arrival bridges the
    two), and its already-consumed split cannot be retracted. Splits
    are a decision over a CLOSED corpus; take them from a frozen copy
    of the corpus after the dedup index stops moving, not from inside
    a sink.
    """
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    if any(v < 0 for v in splits.values()):
        raise ValueError("split fractions must be non-negative")
    from ds_caselaw_ingester_spark.operators.sampling import hash_fraction

    assigned = canonical_assignment(docs, pair_edges, id_col=id_col, id_a=id_a, id_b=id_b)
    frac = hash_fraction(F.concat(F.lit(salt), F.col("component").cast("string")))
    # cumulative-range CASE in insertion order; the last branch is the
    # otherwise so float round-off at the top end cannot drop a row.
    # Bounds are micro-rounded (12 dp — the repo's replay convention):
    # a plain float cumsum makes 0.8+0.1 = 0.9000000000000001 while a
    # replayer writes the nominal 0.9, and the 52-bit md5 fraction CAN
    # land in that gap — rounding pins the operator and every replayer
    # to the same boundary constant.
    names = list(splits)
    expr = F.lit(names[-1])
    hi = 0.0
    conds = []
    for name in names[:-1]:
        hi = round(hi + splits[name], 12)
        conds.append((name, hi))
    for name, bound in reversed(conds):
        expr = F.when(frac < F.lit(bound), F.lit(name)).otherwise(expr)
    return assigned.select(id_col, "component", expr.alias("split"))
