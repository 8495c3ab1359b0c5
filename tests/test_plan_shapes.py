"""Physical-plan audits: the scale properties we rely on must be visible
in the explain output, and regressions should fail loudly.

- identifier/dimension lookups go BROADCAST (no shuffle of the fact side)
- scan-level predicate pushdown reaches the parquet source
- column pruning keeps wide text columns out of metadata-only plans
"""

from __future__ import annotations

from ds_caselaw_ingester_spark.plans.registry import all_specs


def _physical_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_uri_cascade_broadcasts_identifier_indexes(spark, sf_dir):
    df = all_specs()["uri_cascade"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan  # slug + ncn lookups
    assert "SortMergeJoin" not in plan, plan


def test_pricing_summary_pushes_filter_to_scan(spark, sf_dir):
    df = all_specs()["pricing_summary"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan
    # partial aggregation (map-side combine) before the exchange
    assert "HashAggregate" in plan and "Exchange" in plan


def test_revenue_by_nation_broadcasts_dims(spark, sf_dir):
    df = all_specs()["revenue_by_nation"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan  # customer, nation, region


def test_dedup_exact_prunes_text_from_scan_output(spark, sf_dir):
    """The join/aggregate side must not carry the raw text column — only
    doc_id + the 32-char hash go through the shuffle."""
    df = all_specs()["dedup_exact"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_schema, plan
    # text is read (needed for the hash) but lang/source/n_chars are pruned
    assert all("lang" not in l and "source" not in l for l in scan_schema), plan


def test_existence_guard_is_broadcast(spark, sf_dir):
    plan = _physical_plan(all_specs()["existence_guard"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_part_setops_pushes_branch_filters(spark, sf_dir):
    """Each set-op branch's filter reaches its own parquet scan."""
    plan = _physical_plan(all_specs()["part_setops"].fn(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]" in plan, plan
    assert "GreaterThan(l_discount" in plan, plan


def test_minhash_signature_agg_is_single_pass(spark, sf_dir):
    """The wide minhash signature must be ONE partial+final aggregation of
    shingle rows — no unpivot re-shuffle, no per-seed row explosion."""
    from ds_caselaw_ingester_spark.operators.dedup import doc_shingles, minhash_signatures
    from ds_caselaw_ingester_spark.sources.catalog import table
    import pyspark.sql.functions as F

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = minhash_signatures(doc_shingles(d, "doc_id", "text"), "doc_id")
    # simple mode: each node printed once (formatted repeats nodes in the
    # detail section, which breaks counting)
    plan = sigs._sc._jvm.PythonSQLUtils.explainString(sigs._jdf.queryExecution(), "simple")
    # one exchange for the groupBy(doc_id); nothing else shuffles
    assert plan.count("Exchange") == 1, plan
    # partial min() runs before the exchange: only 1 row/doc is shuffled
    assert "partial_min" in plan, plan
    # the affine (BIGINT) minhash hash-aggregates; the string-min design
    # forced SortAggregate (string agg buffers cannot hash-aggregate)
    assert "HashAggregate" in plan and "SortAggregate" not in plan, plan


def test_salted_distinct_shards_hot_keys(spark, sf_dir):
    """The salted distinct plan must shuffle on (key, salt) first — the
    hot key's distinct state spreads across shards — and only the tiny
    per-shard partials re-shuffle on the key."""
    df = all_specs()["events_distinct_users_salted"].fn(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert "_salt" in plan, plan
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert any("_salt" in l for l in exchanges), plan


def test_text_profile_is_one_shuffle_free_scan(spark, sf_dir):
    """The merged text profile (token/subword/lang/quality) must stay a
    single projection over one documents scan — the only exchange is the
    spread() repartition that parallelises the four-regex-per-row map
    work past the local file's 1-2 row groups (no aggregation/join
    shuffle may appear), and only the three needed columns are read."""
    df = all_specs()["text_profile"].fn(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert plan.count("Exchange") == 1, plan
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_schema and all(
        "struct<doc_id:bigint,text:string,n_chars:bigint>" in l for l in scan_schema
    ), plan


def test_analyze_broadcasts_identifiers_but_not_pub_state(spark):
    """J5 (published-flag lookup) joins the corpus-sized documents sink —
    it must carry NO broadcast hint (at 100 TB a hinted broadcast of it is
    an executor OOM); strategy is left to Catalyst/AQE. The identifier
    index lookups (J1/J2) are genuine dimensions and keep their hints."""
    import json

    from pyspark.sql import functions as F

    from ds_caselaw_ingester_spark.operators.ingest import analyze
    from ds_caselaw_ingester_spark.schemas import METADATA_SCHEMA

    messages = spark.createDataFrame(
        [("m1", "v2", "TDR-1", "TDR")],
        schema="message_id string, kind string, consignment_ref string, originator string",
    )
    metadata = spark.createDataFrame(
        [("TDR-1", json.dumps({"parameters": {}}))],
        schema="consignment_ref string, raw string",
    ).select("consignment_ref", F.from_json("raw", METADATA_SCHEMA).alias("metadata"))
    best_xmls = spark.createDataFrame(
        [("TDR-1", "<judgment/>", True)],
        schema="consignment_ref string, best_xml string, xml_was_valid boolean",
    )
    identifiers = spark.createDataFrame(
        [("s", "v", "ukncn", "u")],
        schema="slug string, value string, namespace string, uri string",
    )
    documents_state = spark.createDataFrame(
        [("u", True)], schema="uri string, is_published boolean"
    )
    df = analyze(messages, metadata, best_xmls, identifiers, documents_state)
    # hint audit happens pre-planning: the analyzed logical plan keeps
    # ResolvedHint nodes. Exactly the two identifier-index hints from
    # resolve_uris — none on the documents_state branch.
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 2, analyzed
    plan = _physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan  # J1/J2 still broadcast


def test_analyze_resolves_uris_in_one_pass(spark):
    """resolve_uris carries every enriched column, so the analysis is
    built once: one Window (the msg_id dedup) and no join keyed on
    msg_id (the self-join that brought the resolution back, over a
    second copy of the enriched subtree, is gone)."""
    import re

    from pyspark.sql import functions as F

    from ds_caselaw_ingester_spark.operators.ingest import analyze
    from ds_caselaw_ingester_spark.schemas import METADATA_SCHEMA

    messages = spark.createDataFrame(
        [("m1", "v2", "TDR-1", "TDR")],
        schema="message_id string, kind string, consignment_ref string, originator string",
    )
    metadata = spark.createDataFrame(
        [("TDR-1", '{"parameters": {}}')], schema="consignment_ref string, raw string"
    ).select("consignment_ref", F.from_json("raw", METADATA_SCHEMA).alias("metadata"))
    best_xmls = spark.createDataFrame(
        [("TDR-1", "<judgment/>", True)],
        schema="consignment_ref string, best_xml string, xml_was_valid boolean",
    )
    identifiers = spark.createDataFrame(
        [("s", "v", "ukncn", "u")],
        schema="slug string, value string, namespace string, uri string",
    )
    state = spark.createDataFrame([("u", True)], schema="uri string, is_published boolean")
    plan = _physical_plan(analyze(messages, metadata, best_xmls, identifiers, state))
    assert len(re.findall(r"^\(\d+\) Window$", plan, re.M)) == 1, plan
    join_keys = [l for l in plan.splitlines() if re.match(r"^(Left|Right) keys", l)]
    assert join_keys and not any("msg_id" in l for l in join_keys), plan


def test_fuzzy_match_has_no_cross_product(spark, sf_dir):
    """Candidate generation must be the variant equi-join — a
    BroadcastNestedLoopJoin (cross product with levenshtein post-filter)
    is the O(|probes| x |catalog|) plan that cost 230 s at sf1."""
    plan = _physical_plan(all_specs()["fuzzy_part_match"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_embedding_neardup_dedups_id_pairs_before_scoring(spark, sf_dir):
    """Candidate generation must be vector-free and the pair dedup must
    happen BEFORE any cosine: the bucket self-join and the distinct
    exchange carry only (vec_id/bucket) ids, and the distinct keys are
    bare (vec_a, vec_b) — scoring a pair once no matter how many LSH
    tables it collides in (the sf1 audit's 4x-redundant-flops fix)."""
    import re

    plan = _physical_plan(all_specs()["embedding_neardup"].fn(spark, sf_dir))
    keys = re.findall(r"Keys \[\d+\]: \[([^\]]*)\]", plan)
    # the lsh_neardup_pairs operator names the pair ids <id>_a/<id>_b
    assert any("vec_id_a" in k and "vec_id_b" in k for k in keys), plan
    assert not any("cosine" in k for k in keys), plan
    # every operator input that carries a bucket key is id-width only —
    # no raw vector (v/embedding) rides the candidate-generation side
    for line in plan.splitlines():
        if line.startswith("Input") and "bucket#" in line:
            assert " v#" not in line and "embedding#" not in line, line


def test_curation_queries_prune_scans_and_stay_projection_shaped(spark, sf_dir):
    """pii_scrub and doc_chunks must stay pure projections over one
    pruned documents scan (only the spread exchange — a 100 TB scrub or
    chunking pass must never shuffle corpus rows), and every curation
    query must read only (doc_id, text)."""
    for name in ("pii_scrub", "doc_chunks"):
        df = all_specs()[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        assert plan.count("Exchange") == 1, (name, plan)
        scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert scan_schema and all(
            "struct<doc_id:bigint,text:string>" in l for l in scan_schema
        ), (name, plan)


def test_decontam_flags_broadcasts_benchmark_grams(spark, sf_dir):
    """The registered decontamination row: benchmark gram set broadcast,
    no cartesian, and the corpus gram explode feeds a broadcast probe —
    the only hash exchanges are the bounded hit aggregation and the
    final id join."""
    plan = _physical_plan(all_specs()["decontam_flags"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_connected_components_never_touches_caller_conf(spark):
    """r10: the CC loop right-sizes spark.sql.shuffle.partitions in a
    LOOP-SCOPED session (spark.newSession), so the caller's conf is not
    merely restored — it is never written at all, even mid-loop. Pin
    that by making conf.set on the CALLER session raise for the key."""
    from ds_caselaw_ingester_spark.operators.cluster import connected_components

    before = spark.conf.get("spark.sql.shuffle.partitions")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long"
    )
    real_set = spark.conf.set

    def guarded_set(key, value):
        assert key != "spark.sql.shuffle.partitions", (
            "CC loop wrote the caller session's shuffle-partition conf"
        )
        return real_set(key, value)

    spark.conf.set = guarded_set
    try:
        got = connected_components(edges, driver_threshold=0)
        # the result must be consumable from the CALLER session: joins
        # against caller-session frames plan under the caller's conf
        nodes = spark.createDataFrame([(1,), (3,), (8,)], "node long")
        joined = {
            (r["node"], r["component"]) for r in got.join(nodes, "node").collect()
        }
        assert joined == {(1, 1), (3, 1), (8, 7)}
    finally:
        spark.conf.set = real_set
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_bm25_topk_is_takeordered_with_broadcast_stats(spark, sf_dir):
    """bm25_search must plan the global top-k as TakeOrderedAndProject
    (per-partition heap, never a full sort shuffle) and join the tiny
    term/corpus statistics by broadcast — the corpus-sized (doc, term)
    frame must not be the build side of anything."""
    from ds_caselaw_ingester_spark.plans.queries_text import q_bm25_search

    plan = _physical_plan(q_bm25_search(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_pq_encode_is_single_scan_no_exchange(spark, sf_dir):
    """PQ encoding must stay a map-side projection: codewords ride in
    the plan as literals, so encoding N vectors is one scan — no join,
    no shuffle, nothing data-sized crosses stage boundaries."""
    from pyspark.sql import functions as F

    from ds_caselaw_ingester_spark.operators.pq import pq_encode
    from ds_caselaw_ingester_spark.sources.catalog import table

    emb = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("c_id"), F.col("embedding").cast("array<double>").alias("v")
    )
    cb = {
        "m": 4,
        "k": 4,
        "subdim": 16,
        "books": [[[float(s * 4 + c)] * 16 for c in range(4)] for s in range(4)],
    }
    enc = pq_encode(emb, "v", "c_id", cb)
    plan = enc._sc._jvm.PythonSQLUtils.explainString(
        enc._jdf.queryExecution(), "simple"
    )
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_ivf_assign_keep_score_stays_shuffle_free(spark, sf_dir):
    """keep_score must not change the assignment's shape: still a pure
    map-side argmax (the score is already inside the sort struct)."""
    from pyspark.sql import functions as F

    from ds_caselaw_ingester_spark.operators.similarity import ivf_assign
    from ds_caselaw_ingester_spark.sources.catalog import table

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = [{"centroid_id": i, "cvec": [float(i + 1)] * 64} for i in range(4)]
    out = ivf_assign(emb, "v", "vec_id", cents, nprobe=1, keep_score=True)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert "Exchange" not in plan, plan
    assert "centroid_cos" in out.columns


def test_hybrid_search_multi_fuses_per_query(spark, sf_dir):
    """The multi-query fusion must rank WITHIN each query (a window
    partitioned by q_id — summing ranks across queries is the ADVICE-r7
    misuse this row exists to pin against) and never fall back to a
    non-broadcast cartesian: the only all-pairs step is the dense
    scorer's 3-row broadcast query side."""
    out = all_specs()["hybrid_search_multi"].fn(spark, sf_dir)
    plan = _physical_plan(out)
    assert "CartesianProduct" not in plan, plan
    # every rank window in the composition — both scorers' per-query
    # top-k and the fusion's final ranking — partitions by the query id
    specs = [
        s for s in plan.split("\n") if "windowspecdefinition" in s
    ]
    assert specs and all("q_id" in s for s in specs), plan
    assert {"q_id", "doc_id", "rrf_score", "rank"} == set(out.columns)


def test_hybrid_search_fusion_is_shortlist_bounded(spark, sf_dir):
    """The RRF fusion must never touch corpus-sized data: both scorers
    end in a TakeOrderedAndProject top-k (per-partition heap, no global
    sort shuffle), and the dense scorer's query side broadcasts. The
    localCheckpointed shortlists keep the fusion's own plan tiny.
    (Pinned on the single-query BM25 + dense rrf_fuse composition.)"""
    from operator_oracles import hybrid_search_frame

    plan = _physical_plan(hybrid_search_frame(spark, sf_dir))
    # the only rows reaching the fused groupBy are the two checkpointed
    # k-row shortlists (rrf_fuse materializes them for the rank check)
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_quality_keep_one_keeper_agg_is_partial(spark):
    """quality_keep_one's keeper selection must plan as a two-phase
    HashAggregate over min(struct(-score, id)) — map-side partial
    combine before the component exchange — and never as a row_number
    window (which would shuffle every raw row to rank it)."""
    from ds_caselaw_ingester_spark.operators.cluster import quality_keep_one

    docs = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(100)], "doc_id long, score double"
    )
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 100, 2)], "doc_a long, doc_b long"
    )
    plan = _physical_plan(quality_keep_one(docs, edges))
    assert "windowspecdefinition" not in plan, plan
    # partial_min of the keeper struct appears in a map-side HashAggregate
    assert "partial_min" in plan, plan


def test_hybrid_search_multi_construction_job_count_pinned(spark, sf_dir):
    """VERDICT r13 queue #2: round 13 removed hybrid_search_multi's
    per-invocation eager qterms checkpoint job (the queries frame is
    now pinned by a LAZY localCheckpoint materialized by the tf
    checkpoint's all_terms broadcast, operators/search.py). Nothing
    else pinned the scheduled-job count, so the removed job could
    silently return. Construction (building the DataFrame — eager
    checkpoints and broadcast collects run here) schedules exactly 6
    jobs on optimization-round-15 code: round 13 removed the eager
    qterms checkpoint job, round 14 made the dl checkpoint lazy
    (deterministic frame — nothing requires it pinned before the
    final action; operators/search.py), and round 15 removed the two
    parquet footer-inference jobs (documents + embeddings reads now
    take the jobless footer-schema path, sources/catalog.py). An eager
    qterms checkpoint would add one job per query set, an eager dl
    another, a schema-less read one per table. If this
    number changes, account for the delta deliberately — one extra
    scheduling round-trip per invocation is real latency on a busy
    cluster."""
    import uuid

    sc = spark.sparkContext
    group = f"hybrid-pin-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "hybrid_search_multi construction")
    try:
        df = all_specs()["hybrid_search_multi"].fn(spark, sf_dir)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 6, (
        f"hybrid_search_multi construction scheduled {len(jobs)} jobs "
        "(expected 6) — did the qterms or dl localCheckpoint go eager "
        "again, did a schema-less table read return, or did a new "
        "construction-time action appear?"
    )
    assert {"q_id", "doc_id", "rrf_score", "rank"} == set(df.columns)


def test_pq_adc_topk_construction_job_count_pinned(spark, sf_dir):
    """Optimization round 14: the encoded-index localCheckpoint in
    pq_adc_topk went eager -> lazy (queries_similarity.py) — the plan
    is truncated at construction either way, and the single consuming
    action materializes the pinned rows, so the eager variant's
    dedicated encode job was pure per-invocation scheduling latency.
    Construction schedules exactly 3 jobs on round-15 code (the
    bounded driver-side pq_fit probe + fixture/stats jobs; round 15
    removed the embeddings footer-inference job — the read now takes
    the jobless footer-schema path, sources/catalog.py). An eager
    encode checkpoint would make it 4, a schema-less read one more. If
    this number changes, account for the delta deliberately — one
    scheduling round-trip per invocation is real latency on a busy
    cluster."""
    import uuid

    sc = spark.sparkContext
    group = f"pq-pin-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "pq_adc_topk construction")
    try:
        df = all_specs()["pq_adc_topk"].fn(spark, sf_dir)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 3, (
        f"pq_adc_topk construction scheduled {len(jobs)} jobs "
        "(expected 3) — did the encoded-index localCheckpoint go "
        "eager again, did a schema-less table read return, or did a "
        "new construction-time action appear?"
    )
    assert {"q_id", "c_id", "cosine_adc", "rank"} == set(df.columns)


def test_strip_spans_detect_tower_evaluated_once(spark, sf_dir):
    """Optimization round 14: duplicate_spans pins its per-(gram, doc)
    frame with an eager localCheckpoint. Without it the optimizer
    column-prunes the frame's two consumers (gram totals, dup join
    probe) into two SEPARATE full corpus towers — the corpus tokenized,
    exploded and md5-hashed twice. With the pin, the registered
    strip_spans plan reads the detect result from the checkpointed RDD:
    the only parquet scans left are the final cut pass, and no
    posexplode Generate remains in the final plan (it ran exactly once,
    inside the checkpoint job)."""
    df = all_specs()["strip_spans"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    assert "Scan ExistingRDD" in plan, plan
    assert "posexplode" not in plan, (
        "detect-tower posexplode leaked back into the final plan — "
        "per_dg is being re-derived from lineage instead of the "
        "checkpoint:\n" + plan
    )
    # cut pass only: the 2-branch corpus union, scanned once per branch
    # (formatted explain prints each node twice: tree line + detail)
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2, plan


def _executed_node_metrics(df):
    """(nodeName, metrics) rows of df's OWN executed adaptive plan —
    caller must have run an action on df itself (collect, not a write,
    which builds a separate QueryExecution). Unwraps AQE stage nodes so
    runtime-reused subtrees appear as ReusedExchange leaves."""

    def _unwrap(node):
        n = node.nodeName()
        if n == "AdaptiveSparkPlan":
            return _unwrap(node.executedPlan())
        if "QueryStage" in n:
            return _unwrap(node.plan())
        return node

    out = []

    def walk(node):
        node = _unwrap(node)
        m = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m[kv._1()] = kv._2().value()
        out.append((node.nodeName(), m))
        ch = node.children().iterator()
        while ch.hasNext():
            walk(ch.next())

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_ngram_jaccard_single_tokenize_at_runtime(spark, sf_dir):
    """VERDICT r14 queue #5: ngram_jaccard_pairs' cost model relies on
    its three static towers over the inverted index (sizes, pairable,
    the common-gram aggregation) sharing ONE corpus
    tokenize/explode/groupBy(gram) pass at runtime via exchange reuse.
    The property exists ONLY in the executed plan — one innocent edit
    to a tower (a differing partial-aggregate buffer, a different
    column pruning) silently breaks it into separate full corpus
    passes, exactly what happened to strip_spans' per_dg before r14
    change #11. Pin on runtime METRICS (the static plan legitimately
    shows 3 towers / 6 scans that AQE dedupes): after execution, at
    most 2 parquet scans actually produced rows (the 2-branch
    planted-dup union, materialized once), at most 2 Generate nodes ran
    (ONE corpus gram explode + the in-bucket pair explode), and at
    least one exchange was runtime-reused. Pinned at sf0.1, not the
    sf0.001 fixture: at sf0.001 AQE turns one tower into a broadcast
    build whose canonical plan cannot reuse the shuffle exchange, so a
    third (tiny, harmless) explode runs — the property this pin guards
    is the one that holds at the scales where the explode is the
    cost."""
    df = all_specs()["ngram_jaccard_pairs"].fn(spark, "/root/testdata/sf0.1")
    df.collect()
    nodes = _executed_node_metrics(df)
    scans_run = sum(
        1 for n, m in nodes
        if n.startswith("Scan parquet") and m.get("numOutputRows", 0) > 0
    )
    generates_run = sum(
        1 for n, m in nodes
        if n == "Generate" and m.get("numOutputRows", 0) > 0
    )
    reused = sum(1 for n, _ in nodes if n == "ReusedExchange")
    assert scans_run <= 2, (scans_run, [n for n, _ in nodes])
    assert generates_run <= 2, (generates_run, [n for n, _ in nodes])
    assert reused >= 1, [n for n, _ in nodes]
