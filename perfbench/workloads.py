"""The workloads: set-up, the timed closed loop, and the output check.

Every workload is a closed loop with one client in one process: the next
operation starts only when the previous one has finished.

- ingest_trickle operations are streaming epochs.
  ``run_full_ingest_stream`` hard-codes ``trigger(availableNow=True)``,
  so one query drains a pre-written backlog with ``maxFilesPerTrigger=1``
  (one file = one epoch). It measures ``measured_epochs(seconds)``
  epochs, since a query cannot be stopped between epochs without
  interrupting one.
- batch operations are passes: one ``curate_corpus`` call forced through
  the noop sink, then one registered query from each ``plans.queries_*``
  module, each constructed and forced through the noop sink, in an order
  shuffled by the seed. Passes repeat while the next one is expected to
  end within ``seconds`` (at least one).

Neither workload runs an unrecorded warm-up operation: see the README's
"Run budget".
"""

from __future__ import annotations

import os
import random
from collections import Counter
from dataclasses import dataclass, field, replace
from datetime import datetime, timezone
from types import SimpleNamespace

from perfbench import gen, tables
from perfbench.measure import jobs_after, last_job_id, median, now
from perfbench.trace import Tracer

# SQS-sized epochs (the reference's 25-way Lambda concurrency), half of
# each resolving by NCN to a document seeded in set-up. `epochs` is set
# per run to the measured epochs.
TRICKLE = gen.IngestShape(msgs_per_epoch=25, epochs=0, update_share=0.5, seeded_docs=100)
# a 25-message epoch takes 15-25 s at local[4], the first of a session the longest
EPOCH_S = 20.0
CURATE = gen.CurateShape(n_docs=1200, n_families=48, family_size=5)
# One query from each of the eight plans.queries_* modules, picked among
# the cheaper ones so the queries add a few seconds to a pass.
SUITE = (
    "ngram_jaccard_pairs",  # queries_dedup
    "lambda_versions",  # queries_envelope
    "existence_guard",  # queries_etl
    "pricing_summary",  # queries_relational
    "parse_bool_table",  # queries_routing
    "frame_sample",  # queries_similarity
    "tar_best_xml_select",  # queries_tar
    "doc_chunks",  # queries_text
)
SUITE_SCALE = 0.01


@dataclass
class Result:
    op_s: "list[float]" = field(default_factory=list)  # one per measured operation
    items: int = 0  # messages or curated documents the measured operations consumed
    busy_s: float = 0.0  # wall the measured operations took, start to end
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    setup: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)


def measured_epochs(seconds: float) -> int:
    return max(1, round(seconds / EPOCH_S))


def _passes(seconds: float, one_pass) -> "list[float]":
    """Closed loop of passes while the next one is expected to end within
    `seconds` (at least one); returns their walls."""
    walls: list[float] = []
    t_start = now()
    while not walls or now() - t_start + median(walls) <= seconds:
        t0 = now()
        one_pass()
        walls.append(now() - t0)
    return walls


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


def _progress_time(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def run_ingest(spark, shape: gen.IngestShape, seed: int, seconds: float, trace: bool,
               work: str) -> Result:
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ds_caselaw_ingester_spark.operators.upsert import upsert_parquet_table_bucketed
    from ds_caselaw_ingester_spark.schemas import METADATA_SCHEMA
    from ds_caselaw_ingester_spark.sources import tar
    from ds_caselaw_ingester_spark.streaming.pipeline import (
        read_message_stream,
        run_full_ingest_stream,
    )

    res = Result()
    k = measured_epochs(seconds)
    shape = replace(shape, epochs=k)
    incoming, staging, ckpt, sinks = (
        os.path.join(work, d) for d in ("incoming", "staging", "ckpt", "sinks")
    )
    t = now()
    inputs = gen.make_ingest(shape, seed)
    files = gen.write_backlog(inputs, staging)
    res.setup["inputs_s"] = now() - t

    t = now()
    refs = sorted(inputs.archives)
    archives = spark.createDataFrame(
        pd.DataFrame({"consignment_ref": refs, "content": [inputs.archives[r] for r in refs]}),
        "consignment_ref string, content binary",
    )
    # metadata and best XML through the S9-S12 scans, as tar_pipeline
    # derives them; the stream itself gets the lazy member explode, so
    # the assets sink hashes real bytes every epoch
    scanned = tar.explode_tar_members(archives).localCheckpoint(eager=True)
    metadata = tar.scan_metadata(scanned).select(
        "consignment_ref",
        F.from_json(F.col("metadata_bytes").cast("string"), METADATA_SCHEMA).alias("metadata"),
    ).localCheckpoint(eager=True)
    xml_names = metadata.select(
        "consignment_ref", F.col("metadata.parameters.TRE.payload.xml").alias("xml_name")
    )
    best_xmls = tar.best_xml(
        archives.select("consignment_ref"),
        tar.scan_named_xml(scanned, xml_names),
        tar.scan_parser_log(scanned),
    ).localCheckpoint(eager=True)
    identifiers = spark.createDataFrame(
        inputs.identifiers, "slug string, value string, namespace string, uri string"
    )
    members = tar.explode_tar_members(archives)
    upsert_parquet_table_bucketed(
        spark.createDataFrame(
            inputs.seeded,
            T.StructType([
                T.StructField("uri", T.StringType()),
                T.StructField("xml", T.StringType()),
                T.StructField("doc_type", T.StringType()),
                T.StructField("is_published", T.BooleanType()),
            ]),
        ),
        os.path.join(sinks, "documents"),
    )
    os.makedirs(incoming)
    stream = read_message_stream(spark, incoming, max_files=1)
    res.setup["frames_s"] = now() - t

    # one query drains the measured epochs, whose files arrive just before
    # it starts; the set-up (the tar scans and the seeded MERGE through
    # the documents sink's path) is the only warm-up, see the README's
    # "Run budget"
    for f in files:
        os.rename(f, os.path.join(incoming, os.path.basename(f)))
    tracer = Tracer() if trace else None
    if tracer:
        first_job = last_job_id(spark)
        _install_ingest_wrappers(tracer, sinks)
    raised = False  # an epoch that raises fails every message of the run
    t0 = now()
    try:
        q = run_full_ingest_stream(
            stream, metadata, best_xmls, identifiers, sinks, ckpt,
            members=members, archives=archives,
        )
        try:
            q.awaitTermination()
        except Exception:  # noqa: BLE001 — a measured failure, not a crash
            raised = True
    finally:
        t1 = now()
        if tracer:
            tracer.restore()
    progress = [p for p in q.recentProgress if p.numInputRows > 0]
    if len(progress) != k and not raised:
        raise RuntimeError(f"expected {k} epochs, the query ran {len(progress)}")
    res.op_s = [p.durationMs["triggerExecution"] / 1000 for p in progress]
    res.items = sum(p.numInputRows for p in progress)
    res.busy_s = t1 - t0
    if tracer:
        _trace_epochs(spark, tracer, progress, first_job)
        res.layers = _ingest_layers(spark, tracer, t1 - t0, archives, sinks)
        res.spans = tracer.dump()

    drained = list(range(k))
    failed, detail = _check_ingest(inputs, drained, sinks)
    res.attempted = len(inputs.messages(drained))
    res.failed = res.attempted if raised else len(failed)
    res.correct = not (failed or raised) and detail.pop("tables_ok")
    res.detail.update(detail)
    res.detail["epochs_measured"] = k
    res.detail["msgs_per_epoch"] = shape.msgs_per_epoch
    return res


def _install_ingest_wrappers(tracer: Tracer, sinks: str) -> None:
    from ds_caselaw_ingester_spark.operators import compaction, ingest
    from ds_caselaw_ingester_spark.streaming import pipeline

    tracer.wrap(pipeline, "parse_messages")  # imported at the top of pipeline
    tracer.wrap(ingest, "analyze")
    tracer.wrap(ingest, "perform_ingest", keep_result=True)
    tracer.wrap(ingest, "upsert_parquet_table_bucketed")  # imported at the top of ingest
    for attr in ("recover_buckets", "read_parquet_or_none", "ensure_partitioned_layout",
                 "partition_file_snapshot", "swap_partition_dirs", "pin_partitioned_layout"):
        tracer.wrap(compaction, attr)  # imported at call time by pipeline and upsert

    root = sinks.rstrip("/") + "/"

    def sink_name(path: str) -> str:
        path = path[len("file:"):] if path.startswith("file:") else path
        if path.startswith(root):
            table = path[len(root):].split("/")[0].removesuffix(".tmp")
            return f"sink.{table}.write"
        return "parquet.write"

    tracer.wrap_parquet_writes(sink_name)


def _trace_epochs(spark, tracer: Tracer, progress, first_job: int) -> None:
    """Turn a query's epochs into spans: one epoch span per progress
    report (trigger start .. + triggerExecution), adopting the wrapper
    spans recorded inside it, and the query's Spark jobs attached by
    submission time."""
    top = [i for i, s in enumerate(tracer.spans) if s.parent is None and s.name != "epoch"]
    roots = []
    for p in progress:
        start = _progress_time(p.timestamp)
        i = tracer.add("epoch", start, start + p.durationMs["triggerExecution"] / 1000,
                       request=p.batchId)
        tracer.spans[i].result = dict(p.durationMs)
        tracer.adopt(i, top)
        roots.append(i)
    tracer.attach_jobs(jobs_after(spark, first_job), roots)


def _ingest_layers(spark, tracer: Tracer, wall: float, archives, sinks) -> dict:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ds_caselaw_ingester_spark.sources.tar import explode_tar_members

    # invalid messages go to the quarantine sink before perform_ingest
    # runs, so its returned counts miss them; add them per epoch
    dlq: Counter = Counter()
    if os.path.isdir(os.path.join(sinks, "quarantine")):
        dlq.update(_read_sink(sinks, "quarantine", "batch_id").column("batch_id").to_pylist())
    ep = [i for i, s in enumerate(tracer.spans) if s.name == "epoch"]
    per_epoch: dict[str, list[float]] = {}
    per_call: dict[str, list[float]] = {}
    attributed = 0.0
    for i in ep:
        d = tracer.spans[i].result
        engine = (d["triggerExecution"] - d.get("addBatch", 0)) / 1000
        attributed += engine
        sums: dict[str, float] = {"streaming.pipeline.engine_s": engine}
        jobs = tasks = 0
        for j in tracer.subtree(i):
            s = tracer.spans[j]
            jobs += len(s.jobs)
            tasks += sum(job.tasks for job in s.jobs)
            if j == i:
                continue
            self_s = tracer.self_time(j)
            attributed += self_s
            if s.name.startswith("sink."):
                sums[f"{s.name}_s"] = sums.get(f"{s.name}_s", 0.0) + s.duration
            else:
                per_call.setdefault(f"{s.name}_s", []).append(s.duration)
                if s.name == "operators.ingest.perform_ingest":
                    sums["operators.ingest.perform_ingest_self_s"] = self_s
                    for t, n in (s.result or {}).items():
                        sums[f"sink.{t}.rows"] = n
        q = "sink.quarantine.rows"
        sums[q] = sums.get(q, 0) + dlq[tracer.spans[i].request]
        sums["spark.jobs_per_epoch"] = jobs
        sums["spark.tasks_per_epoch"] = tasks
        for k, v in sums.items():
            per_epoch.setdefault(k, []).append(v)
    layers = {k: median(v) for k, v in per_call.items()}
    layers.update({k: median(v) for k, v in per_epoch.items()})
    docs = os.path.join(sinks, "documents")
    layers["operators.upsert.table_files"] = sum(
        f.endswith(".parquet") for _, _, fs in os.walk(docs) for f in fs
    )
    layers["_unattributed_frac"] = (wall - attributed) / wall

    # standalone explode of every archive: the share of the assets write
    # that is tar re-explosion (the stream's members frame is lazy)
    walls, rows = [], 0
    for _ in range(3):
        obs = Observation("members")
        t = now()
        explode_tar_members(archives).observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).format("noop").save()
        walls.append(now() - t)
        rows = obs.get["n"]
    layers["sources.tar.explode_tar_members_s"] = median(walls)
    layers["sources.tar.members_rows"] = rows
    return layers


def _read_sink(sinks: str, table: str, *cols):
    """A sink table read with pyarrow (no Spark job), partition columns included."""
    import pyarrow.dataset as ds

    path = os.path.join(sinks, table)
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=list(cols))


def _check_ingest(inputs: gen.IngestInputs, drained: "list[int]", sinks: str):
    """Per-message check of every sink against the generator's closed-form
    expectations, read back with pyarrow (no Spark job). Returns (ids of
    failed messages, detail)."""
    def read(table, *cols):
        if not os.path.isdir(os.path.join(sinks, table)):
            return []
        return [SimpleNamespace(**r) for r in _read_sink(sinks, table, *cols).to_pylist()]

    docs_rows = read("documents", "uri", "doc_type", "is_published")
    docs = {r.uri: (r.doc_type, r.is_published) for r in docs_rows}
    versions = Counter(r.uri for r in read("versions", "uri"))
    update_versions = sum(1 for r in read("versions", "annotation_type") if r.annotation_type == "update")
    identifiers = Counter(r.uri for r in read("identifiers", "uri"))
    properties = Counter(r.uri for r in read("properties", "uri"))
    copies = Counter(r.uri for r in read("asset_copies", "uri"))
    assets: dict[str, list] = {}
    for r in read("assets", "uri", "asset_kind", "content_md5"):
        assets.setdefault(r.uri, []).append((r.asset_kind, r.content_md5))
    notes = {r.msg_id: r.template for r in read("notifications", "msg_id", "template")}
    quarantined = Counter(r.message_id for r in read("quarantine", "message_id"))

    msgs = inputs.messages(drained)
    failed = set()
    for m in msgs:
        if not m.valid:
            if quarantined[m.message_id] != 1:
                failed.add(m.message_id)
            continue
        e = inputs.expected[m.message_id]
        u = e["uri"]
        ok = (
            docs.get(u) == (e["doc_type"], e["is_published"])
            and versions[u] == e["versions"]
            and identifiers[u] == e["identifiers"]
            and properties[u] == e["properties"]
            and notes.get(m.message_id) == e["notification"]
            and sorted(assets.get(u, [])) == e["assets"]
            and copies[u] == e["asset_copies"]
        )
        if not ok:
            failed.add(m.message_id)
    valid = [m for m in msgs if m.valid]
    expected_docs = len(inputs.seeded) + sum(1 for m in valid if not m.update)
    tables_ok = (
        len(docs_rows) == len(docs) == expected_docs  # documents.uri is unique
        and sum(versions.values()) == len(valid)
        and sum(quarantined.values()) == len(msgs) - len(valid)
        and sum(len(v) for v in assets.values()) == sum(len(inputs.expected[m.message_id]["assets"]) for m in valid)
    )
    published = sum(1 for m in valid if docs.get(m.uri, (None, False))[1])
    detail = {
        "tables_ok": tables_ok,
        "share_updates": update_versions / len(msgs),
        "share_invalid": sum(quarantined.values()) / len(msgs),
        "share_published": published / len(valid),
        "messages_checked": len(msgs),
    }
    return failed, detail


# ---------------------------------------------------------------------------
# batch: curate_corpus, then one registered query per plans module
# ---------------------------------------------------------------------------


def run_batch(spark, shape: gen.CurateShape, names: "tuple[str, ...]", seed: int,
              seconds: float, trace: bool, work: str) -> Result:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ds_caselaw_ingester_spark.operators import curation
    from ds_caselaw_ingester_spark.plans.oracle_check import check_query
    from ds_caselaw_ingester_spark.plans.registry import all_specs
    from ds_caselaw_ingester_spark.sources.catalog import table
    from tools.measure_sf10_composite import standard_gates

    res = Result()
    corpus, sf_dir = os.path.join(work, "corpus"), os.path.join(work, "tables")
    t = now()
    inputs = gen.make_curate(shape, seed)
    gen.write_curate(inputs, corpus)
    tables.write_tables(tables.make_tables(seed, SUITE_SCALE), sf_dir)
    res.setup["inputs_s"] = now() - t
    docs = table(spark, corpus, "documents")
    emb = table(spark, corpus, "embeddings")
    gates = standard_gates()  # the pass-all battery the repo's measurement tools share
    specs = all_specs()
    order = list(names)
    random.Random(seed).shuffle(order)
    raised: set[str] = set()
    last = []  # the keeper ids the latest pass's curate write observed
    tracer = Tracer() if trace else None

    def curate():
        # the write itself collects the keeper ids, so the check sees the
        # measured pass's own output without running it again
        obs = Observation("keepers")
        out = curation.curate_corpus(docs, embeddings=emb, **gates)
        out.observe(obs, F.collect_set("doc_id").alias("ids")).write.mode(
            "overwrite").format("noop").save()
        spark.catalog.clearCache()
        return obs

    def query(name: str) -> None:
        spec = specs[name]
        module = spec.fn.__module__.rsplit(".", 1)[-1]
        try:
            if tracer:
                tracer.request = order.index(name)
                df = tracer.call(f"plans.{module}.construct", spec.fn, spark, sf_dir)
                tracer.call(f"plans.{module}.execute",
                            df.write.mode("overwrite").format("noop").save)
            else:
                spec.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        except Exception:  # noqa: BLE001 — a query that raises is a measured failure
            raised.add(name)
        finally:
            # queries may persist() shared subtrees; later queries must
            # not run against earlier queries' cache residency
            spark.catalog.clearCache()

    def one_pass():
        if tracer is None:
            last[:] = [curate()]
            for name in order:
                query(name)
            return
        first_job = last_job_id(spark)
        root = len(tracer.spans)
        tracer.request = None
        _install_curate_wrappers(tracer)
        try:
            last[:] = [tracer.call("curate.pass", curate)]
        finally:
            tracer.restore()
        for name in order:
            query(name)
        roots = [root] + [i for i, s in enumerate(tracer.spans[root:], root)
                          if s.name.startswith("plans.")]
        tracer.attach_jobs(jobs_after(spark, first_job), roots)

    res.op_s = _passes(seconds, one_pass)
    res.items = shape.n_docs * len(res.op_s)
    res.busy_s = sum(res.op_s)

    # checks, outside the timed passes: the keepers of the last pass's
    # curate output, and each query against its DuckDB oracle
    keepers = set(last[0].get["ids"])
    extra = sum(max(0, len(keepers & set(f)) - 1) for f in inputs.families)
    foreign = len(keepers - set(inputs.doc_ids))
    mismatched = {}
    for name in order:
        if name in raised:
            continue
        try:
            r = check_query(spark, sf_dir, name, specs[name].fn, specs[name].oracle)
            if not r.ok:
                mismatched[name] = r.detail[:200]
        except Exception as e:  # noqa: BLE001
            mismatched[name] = f"raised: {e}"[:200]
        spark.catalog.clearCache()
    if tracer:
        res.layers = _batch_layers(tracer, res.op_s, len(keepers) / shape.n_docs)
        res.spans = tracer.dump()

    # an operation is an input document or a query
    res.attempted = shape.n_docs + len(order)
    res.failed = extra + foreign + len(raised | set(mismatched))
    res.correct = res.failed == 0 and bool(keepers)
    res.detail.update(
        keepers=len(keepers), planted_families=len(inputs.families),
        family_extra_keepers=extra, foreign_keepers=foreign, queries=order,
        raised=sorted(raised), oracle_mismatch=mismatched, passes_measured=len(res.op_s),
    )
    return res


def _install_curate_wrappers(tracer: Tracer) -> None:
    from pyspark.sql.readwriter import DataFrameWriter

    from ds_caselaw_ingester_spark.operators import curation, semdedup, similarity

    tracer.wrap(curation, "curate_corpus")
    tracer.wrap(curation, "apply_quality_gates")
    for attr in ("chunk_documents", "canonical_assignment", "doc_shingles", "lsh_bands",
                 "lsh_candidate_pairs", "minhash_signatures", "scrub_text", "alpha_ratio",
                 "tokens"):
        tracer.wrap(curation, attr)  # imported at the top of curation
    tracer.wrap(similarity, "kmeans_fit")  # imported at call time
    tracer.wrap(semdedup, "semantic_dedup")
    tracer.wrap(DataFrameWriter, "save", name="curate.write")


def _batch_layers(tracer: Tracer, walls: "list[float]", keep_frac: float) -> dict:
    """Per-pass means over the traced passes: curate layer times, the
    curate pass's job/shuffle/spill totals, and per plans module the
    construct and execute times, jobs and shuffle-write bytes."""
    sums: dict[str, float] = {"curate.jobs": 0, "curate.shuffle_bytes": 0, "curate.spill_bytes": 0}

    def add(key, v):
        sums[key] = sums.get(key, 0) + v

    attributed = 0.0
    for i, s in enumerate(tracer.spans):
        if s.name.startswith("plans."):
            add(f"{s.name}_s", s.duration)
            module = s.name.rsplit(".", 1)[0]
            add(f"{module}.jobs", len(s.jobs))
            add(f"{module}.shuffle_bytes", sum(j.shuffle_write_bytes for j in s.jobs))
        else:  # a curate pass and its subtree
            add("curate.jobs", len(s.jobs))
            add("curate.shuffle_bytes", sum(j.shuffle_write_bytes for j in s.jobs))
            add("curate.spill_bytes", sum(j.spill_bytes for j in s.jobs))
            if s.name == "curate.pass":
                continue
            add(f"{s.name}_s", s.duration)
            if s.name == "operators.curation.curate_corpus":
                add("operators.curation.curate_corpus_self_s", tracer.self_time(i))
        attributed += tracer.self_time(i)
    layers = {k: v / len(walls) for k, v in sums.items()}
    layers["operators.curation.keep_frac"] = keep_frac
    layers["_unattributed_frac"] = (sum(walls) - attributed) / sum(walls)
    return layers


WORKLOADS = {
    "ingest_trickle": lambda spark, *a: run_ingest(spark, TRICKLE, *a),
    "batch": lambda spark, *a: run_batch(spark, CURATE, SUITE, *a),
}


def run(spark, name: str, seed: int, seconds: float, trace: bool, work: str) -> Result:
    return WORKLOADS[name](spark, seed, seconds, trace, work)
