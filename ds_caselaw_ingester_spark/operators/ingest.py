"""The end-to-end ingest plan: the reference's `Ingest` object (analyze
phase, ingester.py:178-210) and `perform_ingest` (execute phase,
ingester.py:542-575) as composable DataFrame stages.

Analyze (pure, one row per message — all lookups are joins):
    parse_messages (S1-S6)
      -> metadata join + projections (P3-P10, S9)
      -> document classification from best XML (P11, S12)
      -> URI cascade (J1-J3, A1)
      -> routing decisions (C1-C5, P15)

Execute (the K13 effects; the batch, not the effect, is the unit of
atomicity — each effect converges under redelivery on its own, so they
run concurrently and a failed batch is retried whole):
    documents MERGE (K1/K2+K3) | versions append | identifiers append
    (C5) | properties (K4/K5) | notifications (K12) | quarantine (C6) |
    asset fan-out (K6-K10, save_files_to_s3) -> publish asset-copies (K11)
The reference's per-message order (perform_ingest, ingester.py:540-575)
is kept as data, in the asset rows' `effect_seq`.
External notifications (K12) are modeled as an appended `notifications`
effect-log table — observable, replayable, idempotent.

At 100 TB: analyze is shuffle-light — the only wide exchanges are the
identifier-index broadcasts (tiny) and the metadata join keyed on
consignment_ref; execute shuffles each sink once on `uri`.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor, wait
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.functions.scalars import (
    classify_document_xml,
    trimmed_uri,
    upload_state,
)
from ds_caselaw_ingester_spark.operators.routing import (
    annotation_message,
    email_action,
    insert_or_update_route,
    will_publish,
)
from ds_caselaw_ingester_spark.operators.upsert import upsert_parquet_table_bucketed
from ds_caselaw_ingester_spark.operators.uri_cascade import (
    expected_namespace_col,
    identifier_rows,
    resolve_uris,
)
from ds_caselaw_ingester_spark.sources.messages import KIND_INVALID

# The independent effects perform_ingest runs at once, one thread each.
_EFFECTS = 7


def analyze(
    messages: DataFrame,
    metadata: DataFrame,
    best_xmls: DataFrame,
    identifiers: DataFrame,
    documents_state: DataFrame,
    environment: str = "prod",
) -> DataFrame:
    """Build the fully-resolved analysis record per message.

    messages:        parse_messages() output (message_id, kind,
                     consignment_ref, originator, ...)
    metadata:        (consignment_ref, metadata struct) — parsed TRE json
    best_xmls:       (consignment_ref, best_xml, xml_was_valid) — S12
    identifiers:     (slug, value, namespace, uri) index
    documents_state: (uri, is_published) current sink state (J5)
    environment:     deployment environment; outside 'prod' editorial
                     notifications are suppressed (ingester.py:288-290)
    """
    m = metadata.select(
        "consignment_ref",
        F.col("metadata.parameters.TRE.reference").alias("tre_reference"),
        F.col("metadata.parameters.TRE.payload.filename").alias("source_filename"),
        F.col("metadata.parameters.TRE.payload.images").alias("images"),
        F.col("metadata.parameters.PARSER.uri").alias("parser_uri"),
        F.col("metadata.parameters.PARSER.cite").alias("extracted_ncn"),  # P9
        F.col("metadata.parameters.PARSER.parser_run_id").alias("parser_run_id"),
        F.col("metadata.parameters.TDR").alias("tdr"),
        F.col("metadata.parameters.INGESTER_OPTIONS.auto_publish").alias("opt_auto_publish"),
        F.col("metadata.parameters.INGESTER_OPTIONS.error_on_existing_document").alias(
            "opt_error_on_existing"
        ),
    )
    # P10: S3-path consignment ref is overwritten by the TRE reference;
    # V2 path keeps the message reference (messages.py:33-34, 84-93)
    ref = F.when(
        (F.col("kind") == "s3") & F.col("tre_reference").isNotNull(),
        F.col("tre_reference"),
    ).otherwise(F.col("consignment_ref"))
    doc_kind = classify_document_xml(F.col("best_xml"))  # P11
    enriched = (
        messages.where(F.col("kind") != "invalid")
        .join(m, "consignment_ref", "left")
        .join(best_xmls, "consignment_ref", "left")
        .withColumns(
            {
                # The PRE-override reference survives as
                # raw_consignment_ref: the reference snapshots it at
                # Ingest.__init__ (ingester.py:193) BEFORE the TRE update
                # (:206) and every FILE operation — tar filename,
                # copy_file member paths {ref}/parser.log,
                # {ref}/{source}, {ref}/{image} — reads the snapshot
                # (:364-413). Tar members are keyed by the archive
                # filename stem, so asset joins keyed on the
                # post-override ref would probe 'TRE-X/parser.log'
                # against member 'X/parser.log' and silently miss
                # (review finding).
                "raw_consignment_ref": F.col("consignment_ref"),
                "consignment_ref": ref,
                "is_tdr": F.col("tdr").isNotNull(),  # P3
                "auto_publish": F.coalesce(F.col("opt_auto_publish"), F.lit(False)),  # P5
                "error_on_existing": F.coalesce(
                    F.col("opt_error_on_existing"), F.lit(False)
                ),  # P6
                "doc_kind": doc_kind,
                "slug_candidate": trimmed_uri(F.col("parser_uri")),  # P4
                "ncn_candidate": F.col("extracted_ncn"),
                "expected_ns": expected_namespace_col(doc_kind),
                "msg_id": F.coalesce(F.col("message_id"), ref),
            }
        )
    )
    # msg_id must be UNIQUE within the batch: an at-least-once source can
    # deliver the same message_id twice in one micro-batch (and
    # direct-SNS rows fall back to the shared consignment_ref), and every
    # sink would then get one row per copy. First-wins per msg_id
    # mirrors the reference, where a redelivery re-runs the SAME work
    # idempotently rather than twice in one invocation.
    w_dedup = Window.partitionBy("msg_id").orderBy(
        F.col("message_id").asc_nulls_last()
    )
    enriched = (
        enriched.withColumn("_rn", F.row_number().over(w_dedup))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    # one pass: resolve_uris keeps every enriched column beside its
    # status, uri and exists_in_db
    analysis = resolve_uris(enriched, identifiers)
    # J5 — published-flag lookup. documents_state is the full corpus-sized
    # sink table, NOT a dimension: never broadcast-hint it (at 100 TB that
    # is an executor OOM). Leave the strategy to Catalyst/AQE — with the
    # 2-column projection AQE still broadcasts when the batch's state
    # slice is genuinely small, and falls back to a shuffled hash join
    # keyed on `uri` otherwise.
    pub_state = documents_state.select(
        F.col("uri"), F.col("is_published").alias("was_published")
    )
    analysis = analysis.join(pub_state, "uri", "left").withColumn(
        "was_published", F.coalesce(F.col("was_published"), F.lit(False))
    )
    return analysis.select(
        "msg_id",
        "message_id",
        "kind",
        "consignment_ref",
        "raw_consignment_ref",
        "originator",
        "doc_kind",
        "status",
        "uri",
        "exists_in_db",
        "is_tdr",
        "auto_publish",
        "error_on_existing",
        "source_filename",
        "images",
        "extracted_ncn",
        "parser_run_id",
        "best_xml",
        "tdr",
        will_publish(
            F.col("originator"),
            F.col("auto_publish"),
            F.col("exists_in_db"),
            F.col("was_published"),
        ).alias("will_publish"),
        email_action(
            F.col("originator"),
            F.col("auto_publish"),
            F.col("exists_in_db"),
            environment=environment,
        ).alias("email_action"),
        insert_or_update_route(F.col("exists_in_db"), F.col("error_on_existing")).alias(
            "write_route"
        ),
        annotation_message(F.col("is_tdr"), F.col("exists_in_db")).alias("annotation"),
        upload_state(F.col("exists_in_db")).alias("upload_state"),
    )


@contextmanager
def job_description(spark: SparkSession, text: str):
    """Label every Spark job this thread submits inside the block
    (``spark.job.description``, shown with the job and its SQL
    execution), then restore the previous label."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def perform_ingest(
    analysis: DataFrame,
    sink_root: str,
    batch_id: int,
    members: DataFrame | None = None,
    archives: DataFrame | None = None,
    invalid: DataFrame | None = None,
) -> dict[str, int]:
    """Execute phase: apply every effect of the batch (K13) and return
    the row count of each effect table (``Observation`` metrics computed
    by the write itself, so no sink plan runs twice). For documents that
    is the rows offered to the MERGE: two messages resolving to one uri
    offer two and leave one (upsert_parquet_table_bucketed).

    The batch, not the effect, is the unit of atomicity. The seven
    effects write disjoint tables, none reads another's output, and each
    converges under redelivery on its own: the documents MERGE by `uri`,
    every append by its `batch_id` overwrite. So they run concurrently
    and a failed batch is retried whole; the reference's per-message
    order (ingester.py:540-575) is kept as data (`effect_seq` in the
    asset rows), and no reader can see a write order once a batch has
    completed or been replayed.

    Execution: `analysis` is persisted and filled by one noop write on a
    worker thread while this thread builds every sink frame (plan
    construction takes about as long as the fill). Then a pool of seven
    threads runs one effect each: the assets -> asset_copies chain
    (the longest, submitted first), the documents MERGE, versions,
    identifiers, properties, notifications and quarantine. The workers
    inherit the caller's job group (a stopped stream cancels their jobs)
    and label their jobs ``ingest.<table>``. Every effect is waited for
    before `analysis` is released, also when one fails; the first
    failure is then raised.

    Rows routed to error states (cascade cardinality errors, C3
    error_existing, unknown originator) are quarantined, not written —
    per-record containment. invalid: optional parse_messages rows with
    kind='invalid'; analyze() drops them, so they join the routing
    errors in the ONE quarantine write, with status 'invalid' (two
    dynamic overwrites of one ``batch_id=<n>`` partition would each
    replace the other's rows); counts['quarantine'] counts both.

    members: optional exploded tar members (explode_tar_members output):
    they gate the parser.log asset on a parser.log member existing
    (reference suppress(FileNotFoundException), ingester.py:396-405) and
    give the asset rows the `content_md5` of the member bytes the
    reference copies (operators/assets.py). archives: optional raw
    (consignment_ref, content) frame; with it the tar asset row's
    content_md5 is the md5 of the whole tar.gz (ingester.py:373-380).

    batch_id: the foreachBatch epoch. Append sinks are dynamic partition
    OVERWRITES of the `batch_id=<n>` partition, so a redelivered epoch
    replaces its own rows instead of appending duplicates.

    Caches: `analysis` (read by every sink) and the asset fan-out (read
    by two) are persisted and released before returning. A cached plan
    keeps its output partitioning unless
    ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` is on,
    so a batch cached under far more shuffle partitions than it has rows
    runs one task per partition in every sink and leaves up to one file
    per partition in every append. run_full_ingest_stream turns the conf
    on for its epochs' session clone; it is not a localCheckpoint
    because local checkpoints are never released.
    """
    from pyspark import inheritable_thread_target
    from pyspark.sql import Observation

    from ds_caselaw_ingester_spark.operators.assets import asset_rows, publish_copies
    from ds_caselaw_ingester_spark.operators.routing import (
        document_noun,
        personalisation_json,
    )

    spark = analysis.sparkSession
    counts: dict[str, int] = {}

    def effect(name: str, df: DataFrame, write) -> "Callable[[], None]":
        """The action that runs write(df observed) and records its count."""
        obs = Observation(f"ingest_{name}")
        observed = df.observe(obs, F.count(F.lit(1)).alias("n"))

        def run() -> None:
            with job_description(spark, f"ingest.{name}"):
                write(observed)
            counts[name] = obs.get["n"]

        return run

    def append(name: str, df: DataFrame) -> "Callable[[], None]":
        path = f"{sink_root}/{name}"
        return effect(
            name,
            df.withColumn("batch_id", F.lit(int(batch_id))),
            lambda d: d.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path),
        )

    analysis = analysis.persist()
    pool = ThreadPoolExecutor(max_workers=_EFFECTS, thread_name_prefix="ingest")

    def submit(fn: "Callable[[], None]") -> Future:
        # the wrapper gives the worker its own copy of this thread's local
        # properties (the stream's job group among them) and session tags;
        # one copy shared by two workers would share their job labels too
        return pool.submit(inheritable_thread_target(spark)(fn))

    def fill() -> None:
        with job_description(spark, "ingest.analysis"):
            analysis.write.format("noop").mode("overwrite").save()

    futures = [submit(fill)]
    try:
        # A row errors out of the happy path when resolution errored, the
        # insert-vs-update gate refused, OR the routing ladder hit an
        # unknown originator (email_action == 'error'; the reference
        # raises RuntimeError there, failing the message into the DLQ —
        # ingester.py's originator dispatch). Review regression: the third
        # clause was missing, so unknown-originator rows sailed through
        # every sink while their 'error' action was silently dropped by
        # the notifications filter — no quarantine row, no operator signal.
        bad = (
            F.col("status").startswith("error")
            | (F.col("write_route") == "error_existing")
            | (F.col("email_action") == "error")
        )
        # not cached: a filter over the cached analysis (caching it measured neutral)
        ok = analysis.where(~bad)

        # K6-K10 — asset fan-out (reference save_files_to_s3), then K11 —
        # publish: copy every asset under the published uri's prefix
        # private -> public (docs/workflow.md:169-175); unpublish is the
        # is_published=false flag the documents MERGE writes.
        assets = asset_rows(
            ok.select(
                "uri",
                # PRE-override ref: file operations use the Ingest.__init__
                # snapshot in the reference (see analyze), and tar members
                # are keyed by the archive filename stem — the post-P10 TRE
                # ref would miss every member join and misname the tar
                F.col("raw_consignment_ref").alias("ref"),
                "source_filename",
                "images",
            ),
            ["uri"],
            members=members,
            archives=archives,
        )
        write_assets = append("assets", assets)
        pub_uris = ok.where(F.col("will_publish") == F.lit(True)).select("uri")
        write_copies = append("asset_copies", publish_copies(assets, pub_uris))

        def asset_chain() -> None:
            # persisted: two writes read the fan-out, and left lazy its
            # whole plan (md5 over every member and archive) runs twice
            assets.persist()
            try:
                write_assets()
                write_copies()
            finally:
                assets.unpersist()

        # K1/K2 — documents upsert: partition-pruned MERGE (only the
        # key-hash buckets this batch touches are read and rewritten —
        # O(touched buckets) per batch, not O(table))
        docs = ok.select(
            "uri",
            F.col("best_xml").alias("xml"),
            F.col("doc_kind").alias("doc_type"),
            F.col("will_publish").alias("is_published"),
        )

        # versions append (annotation payload, P7/C4)
        versions = ok.select(
            "uri",
            F.col("annotation").alias("annotation_message"),
            F.col("auto_publish").alias("annotation_automated"),
            F.when(F.col("exists_in_db"), F.lit("update")).otherwise(F.lit("insert")).alias(
                "annotation_type"
            ),
        )

        # C5 — identifiers: only types with an identifier class AND an NCN
        idents = identifier_rows(ok)

        # K4/K5 — properties (TDR rows only; parser-run-id iff present)
        tdr_props = ok.where(F.col("is_tdr")).selectExpr(
            "uri",
            """stack(5,
                'source-organisation', tdr['Source-Organization'],
                'source-name', tdr['Contact-Name'],
                'source-email', tdr['Contact-Email'],
                'transfer-consignment-reference', tdr['Internal-Sender-Identifier'],
                'transfer-received-at', tdr['Consignment-Completed-Datetime']
            ) AS (name, value)""",
        ).where(F.col("value").isNotNull())
        parser_props = ok.where(F.col("parser_run_id").isNotNull()).select(
            "uri", F.lit("parser-run-id").alias("name"), F.col("parser_run_id").alias("value")
        )

        # K12 — notifications effect log, with the personalise_email
        # payload the reference sends per message (ingester.py:100-125).
        # New-judgment sends carry an extra trailing 'doctype' key
        # (ingester.py:305-306); update sends stay doctype-free.
        notifications = ok.where(F.col("email_action").startswith("email")).select(
            "msg_id",
            "uri",
            F.col("email_action").alias("template"),
            personalisation_json(
                F.col("uri"),
                F.col("tdr"),
                doctype=F.when(
                    F.col("email_action") == "email_new",
                    document_noun(F.col("doc_kind")),
                ),
            ).alias("personalisation_json"),
        )

        # C6 — quarantine/DLQ: routing errors and parse-invalid messages
        q = analysis.where(bad).select("msg_id", "message_id", "status", "write_route")
        if invalid is not None:
            q = q.unionByName(
                invalid.select(
                    F.coalesce(F.col("message_id"), F.col("consignment_ref")).alias("msg_id"),
                    "message_id",
                    F.lit(KIND_INVALID).alias("status"),
                    F.lit(None).cast("string").alias("write_route"),
                )
            )

        effects = [
            asset_chain,
            effect(
                "documents",
                docs,
                lambda d: upsert_parquet_table_bucketed(d, f"{sink_root}/documents", key="uri"),
            ),
            append("versions", versions),
            append("identifiers", idents),
            append("properties", tdr_props.unionByName(parser_props)),
            append("notifications", notifications),
            append("quarantine", q),
        ]
        futures[0].result()
        futures += [submit(e) for e in effects]
    finally:
        # no write may still be reading `analysis` when it is released
        wait(futures)
        pool.shutdown()
        analysis.unpersist()
    for f in futures:
        f.result()
    return counts
