"""Streaming ingest pipeline (SURVEY.md §2.7).

Reference delivery model: SNS -> SQS long-poll -> Lambda, at-least-once,
partial-batch failure reporting, DLQ after max receives
(terraform/main.tf:3-26; template.yml:62-69, 106-107). Spark-first
re-expression:

- source: ``readStream`` over a message directory (files = the queue);
  in production Kafka/Kinesis — same plan either way.
- the batch analyze plan (parse -> classify -> cascade -> route) runs
  unchanged inside ``foreachBatch`` — batch/streaming parity by
  construction.
- at-least-once + replay safety: checkpointing + idempotent upsert sinks
  (operators/upsert.py MERGE keyed on uri — redelivery is a no-op-or-
  update, exactly like the reference re-running an ingest).
- partial-batch failure: the quarantine split (C6) writes failed rows to
  a DLQ table instead of failing the trigger.
- no watermarks: the reference has no event-time logic (§2.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.schemas import SQS_RECORD_SCHEMA
from ds_caselaw_ingester_spark.sources.messages import KIND_INVALID, parse_messages


def read_message_stream(spark: SparkSession, path: str, max_files: int = 1) -> DataFrame:
    """File-arrival stream of JSON SQS records. maxFilesPerTrigger is the
    analog of the SQS batch size (default 1, template.yml:62-65)."""
    raw = (
        spark.readStream.schema(SQS_RECORD_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .json(path)
    )
    return raw.select(
        F.col("messageId").alias("message_id"),
        F.col("eventSource").alias("event_source"),
        F.col("body"),
    )


# Off by default: AQE then leaves a cached plan's output partitioning
# alone, and every frame an epoch persists keeps
# spark.sql.shuffle.partitions partitions however few rows it holds —
# far more partitions than the epoch has rows on a wide session.
CACHED_PLAN_REPARTITION = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

# On by default: the JVM's first ICU case mapping (an epoch's first is
# file_extension's lower() in the asset fan-out) loads
# CollationAwareUTF8String, whose static initializer title-cases all
# 1,114,112 code points, about 1.1 s in one task on the epoch's
# critical path. Off, lower() runs UTF8String.toLowerCase (JDK tables).
ICU_CASE_MAPPINGS = "spark.sql.icu.caseMappings.enabled"

# The conf of every epoch's session clone (see _set_epoch_conf).
EPOCH_CONF = {CACHED_PLAN_REPARTITION: "true", ICU_CASE_MAPPINGS: "false"}


def _set_epoch_conf(batch_df: DataFrame) -> None:
    """Set EPOCH_CONF on the session of an epoch's DataFrame: AQE may
    then coalesce the frames the epoch persists, so each sink write runs
    as many tasks, and leaves as many files, as its rows need; and case
    mapping skips ICU, so the epoch never builds ICU's title-case table.

    foreachBatch hands every epoch a DataFrame of the query's private
    clone of the caller's session (cloned when the query starts), so the
    conf set here reaches neither the caller's session nor any batch
    plan built outside the stream."""
    for key, value in EPOCH_CONF.items():
        batch_df.sparkSession.conf.set(key, value)


def run_full_ingest_stream(
    records: DataFrame,
    metadata: DataFrame,
    best_xmls: DataFrame,
    identifiers: DataFrame,
    sink_root: str,
    checkpoint_dir: str,
    members: DataFrame | None = None,
    environment: str = "prod",
    archives: DataFrame | None = None,
):
    """The COMPLETE reference pipeline under streaming delivery: each
    micro-batch runs analyze (parse -> classify -> cascade -> route) and
    perform_ingest (all K13 effect tables) — batch/streaming parity by
    construction, since both phases are the batch plans unchanged.

    Replay safety (at-least-once redelivery, the SQS model):
    - documents: MERGE keyed on uri — redelivery converges by key;
    - every append sink: epoch-keyed dynamic partition overwrite
      (perform_ingest batch_id) — a redelivered epoch replaces its own
      partition instead of appending duplicates.

    documents_state (J5 exists/published lookups) is re-read from the
    documents sink at each batch start — AFTER per-bucket crash
    recovery, since the bucketed MERGE can crash leaving a kb=N.old
    backup that partition discovery would read as a partition VALUE,
    doubling every uri in that bucket and fanning the analysis join out
    to contradictory is_published rows — so a batch sees every earlier
    batch's writes exactly once (the streaming analog of the reference
    checking MarkLogic per message).

    Invalid messages (unclassifiable / missing reference) go to the
    `quarantine/` DLQ with their message_id, for a
    ReportBatchItemFailures-style redrive; analyze() drops them, so
    they are handed to perform_ingest, which writes them and the routing
    errors in ONE epoch-keyed overwrite. Two writes would each replace
    the other's `batch_id=<epoch>` partition, losing the parse-invalid
    rows whenever an epoch also had a routing error.

    Per-epoch caches: each epoch persists its parsed messages, and
    perform_ingest its analysis and asset fan-out. AQE does not change a
    cached plan's output partitioning by default, so an epoch cached
    under far more shuffle partitions than it has rows ran one task per
    partition in every sink write and left up to one file per partition
    in every append sink (884 tasks per 25-message epoch at local[4]
    with 32 shuffle partitions). _set_epoch_conf turns
    ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` on, and
    ICU case mapping off, for the query's own session clone only: the
    caller's session, and every batch plan and oracle run in it, keep
    their conf. localCheckpoint would size the frames as well, but its
    blocks are never released, so a long-running stream would leak every
    epoch's data; persist + unpersist frees them when the epoch ends.

    Every job of an epoch runs in the query's job group and is labelled
    ``ingest.<step>`` (messages, analysis, then one label per sink
    table; see perform_ingest), so a job's description says which step
    launched it even while the sink writes overlap. The documents state
    read launches no job (compaction.read_buckets).
    """
    from ds_caselaw_ingester_spark.operators.compaction import (
        local_path,
        read_parquet_or_none,
        recover_buckets,
    )
    from ds_caselaw_ingester_spark.operators.ingest import (
        analyze,
        job_description,
        perform_ingest,
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        _set_epoch_conf(batch_df)
        docs_path = f"{sink_root}/documents"
        recover_buckets(local_path(docs_path))
        docs = read_parquet_or_none(spark, docs_path)
        # ONLY the first-batch case (no documents table yet) runs with
        # empty state; read_parquet_or_none propagates any other read
        # failure — silently treating a corrupt table as "first batch"
        # would flip exists_in_db/was_published for every message.
        state = (
            docs.select("uri", "is_published")
            if docs is not None
            else spark.createDataFrame([], "uri string, is_published boolean")
        )
        msgs = parse_messages(batch_df).persist()
        try:
            # Fill the cache before analyze: the analysis plan reads
            # `msgs` at several sites, and AQE fills a still-empty cache
            # from each of them in its own job (7 more jobs per
            # 25-message epoch).
            with job_description(spark, "ingest.messages"):
                msgs.write.format("noop").mode("overwrite").save()
            a = analyze(
                msgs, metadata, best_xmls, identifiers, state, environment=environment
            )
            perform_ingest(
                a,
                sink_root,
                members=members,
                batch_id=epoch_id,
                archives=archives,
                invalid=msgs.where(F.col("kind") == KIND_INVALID),
            )
        finally:
            msgs.unpersist()

    return (
        records.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
