"""Asset effect derivation — the reference's `save_files_to_s3`
(ingester.py:361-418) and publish asset-copy (docs/workflow.md:169-175)
as set-oriented fan-outs.

One input row (uri, ref, source_filename, images[]) fans out to the
asset rows the reference writes imperatively:

    seq 1  tar         uri/{ref}.tar.gz, '_nodocx' inserted when no source
    seq 2  source_doc  uri/{uri with '/'->'_'}.{ext}, skipped when no source
    seq 3  parser_log  uri/parser.log, gated on a parser.log member
                       existing (suppress(FileNotFoundException),
                       ingester.py:396-405)
    seq 4  image       uri/{image} per element of the TRE images list

`effect_seq` carries the reference's write order (K13) as data. All
expressions are built-in (codegen'd, zero Python); the only shuffle a
consumer pays is whatever it does next — the fan-out itself is map-side.

Content fidelity: the reference copies actual object bytes — the whole
archive for the tar row (ingester.py:373-380) and the tar member at
`{ref}/{filename}` for source-doc / parser.log / images via copy_file
(ingester.py:383-418, file_helpers.py:36-73). When the exploded member
rows (sources/tar.py explode_tar_members) and/or the archive frame are
supplied, each asset row carries `content_md5` of exactly those bytes,
so sink rows — and the K11 publish copies derived from them — are
byte-verifiable. The hash is computed JVM-side (F.md5 over binary) and
attached by one keyed left join; member bytes never widen the fan-out
rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.functions.scalars import file_extension, modify_filename


def member_hash_index(members: DataFrame) -> DataFrame:
    """(ref, member_name, content_md5) — one row per member path, LAST
    occurrence wins when a tar contains duplicate names (Python tarfile's
    getmember returns the last member too, so the reference's copy_file
    reads the same bytes). The md5 runs where the bytes already live, in
    the partial aggregate; only the 32-char hash shuffles.

    member_index is REQUIRED: it is the archive ordinal that makes
    'last occurrence wins' deterministic. explode_tar_members always
    supplies it; a frame without it would silently rank duplicate names
    by a constant (arbitrary pick, varying across runs), so that is a
    hard error rather than a fallback."""
    if "member_index" not in members.columns:
        raise ValueError(
            "member_hash_index requires a member_index column (the archive "
            "ordinal from explode_tar_members) to make last-occurrence-wins "
            "deterministic for duplicate member names"
        )
    return members.groupBy(
        F.col("consignment_ref").alias("ref"), "member_name"
    ).agg(F.max_by(F.md5(F.col("content")), F.col("member_index")).alias("content_md5"))


def asset_rows(
    src: DataFrame,
    id_cols: list[str],
    members: DataFrame | None = None,
    archives: DataFrame | None = None,
) -> DataFrame:
    """K6-K10 fan-out. `src` needs columns: uri, ref, source_filename,
    images (array<string>, NULL/empty -> no image rows) plus `id_cols`.
    Output: id_cols + (effect_seq, asset_kind, s3_key), plus content_md5
    when `members` is given.

    members: optional exploded tar members (explode_tar_members output).
    With them the parser.log row is gated on the tar holding a member
    whose name contains 'parser.log' (the reference's containment scan;
    it suppresses FileNotFoundException, ingester.py:396-405), and the
    source-doc / parser-log / image rows carry md5 of the member at
    `{ref}/{filename}`, the exact path the reference's copy_file reads.
    Without them every row is emitted and none carries content.
    archives: optional (consignment_ref, content) raw archive frame — the
    tar row then carries md5 of the whole archive, which is what the
    reference stores (it copies the original tar.gz, not a member).

    One pass: each src row becomes an array of entry structs (tar,
    source, parser.log, one per image; absent entries dropped) that
    `inline` fans out, then one left join on (ref, is_tar, member) to a
    single md5 index: member_hash_index rows plus the whole-archive
    digests (is_tar, member ''). The parser.log gate rides in the same
    index: every member containing 'parser.log' also indexes
    `{ref}/parser.log` (ranked below any real member of that name, so
    its md5 is NULL only when that exact member is missing), and a
    parser.log row that finds no index row is dropped. The tar is
    exploded once for both.
    """
    uri, ref = F.col("uri"), F.col("ref")

    def entry(seq: int, kind: str, s3_key: Column, member: Column) -> Column:
        return F.struct(
            F.lit(seq).alias("effect_seq"),
            F.lit(kind).alias("asset_kind"),
            s3_key.alias("s3_key"),
            F.lit(seq == 1).alias("_is_tar"),
            member.alias("_member"),
        )

    tar_file = F.concat(ref, F.lit(".tar.gz"))
    tar_name = F.when(
        F.col("source_filename").isNull(), modify_filename(tar_file, "_nodocx")
    ).otherwise(tar_file)
    source_key = F.concat(
        uri,
        F.lit("/"),
        F.replace(uri, F.lit("/"), F.lit("_")),
        F.lit("."),
        file_extension(F.col("source_filename")),
    )
    images = F.transform(
        F.coalesce(F.col("images"), F.array().cast("array<string>")),
        lambda img: entry(
            4, "image", F.concat(uri, F.lit("/"), img), F.concat(ref, F.lit("/"), img)
        ),
    )
    entries = F.concat(
        F.array(
            entry(1, "tar", F.concat(uri, F.lit("/"), tar_name), F.lit("")),
            F.when(
                F.col("source_filename").isNotNull(),
                entry(
                    2,
                    "source_doc",
                    source_key,
                    F.concat(ref, F.lit("/"), F.col("source_filename")),
                ),
            ),
            entry(
                3,
                "parser_log",
                F.concat(uri, F.lit("/parser.log")),
                F.concat(ref, F.lit("/parser.log")),
            ),
        ),
        images,
    )
    fanned = src.select(
        *[F.col(c) for c in id_cols],
        ref.alias("_ref"),
        F.inline(F.filter(entries, lambda e: e.isNotNull())),
    )
    out_cols = ["effect_seq", "asset_kind", "s3_key"]
    if members is None:
        return fanned.select(*[F.col(c) for c in id_cols], *out_cols)

    log_gate = F.when(
        F.col("member_name").contains("parser.log"),
        F.struct(
            F.concat(F.col("consignment_ref"), F.lit("/parser.log")).alias("member_name"),
            F.lit(-1).alias("member_index"),
            F.lit(None).cast("binary").alias("content"),
        ),
    )
    gated = members.select(
        "consignment_ref",
        F.inline(
            F.filter(
                F.array(F.struct("member_name", "member_index", "content"), log_gate),
                lambda e: e.isNotNull(),
            )
        ),
    )
    index = member_hash_index(gated).select(
        F.col("ref").alias("_ref"),
        F.lit(False).alias("_is_tar"),
        F.col("member_name").alias("_member"),
        "content_md5",
    )
    if archives is not None:
        index = index.unionByName(
            archives.select(
                F.col("consignment_ref").alias("_ref"),
                F.lit(True).alias("_is_tar"),
                F.lit("").alias("_member"),
                F.md5(F.col("content")).alias("content_md5"),
            )
        )
    joined = fanned.join(
        index.withColumn("_hit", F.lit(True)), ["_ref", "_is_tar", "_member"], "left"
    ).where((F.col("effect_seq") != 3) | F.col("_hit").isNotNull())
    return joined.select(*[F.col(c) for c in id_cols], *out_cols, "content_md5")


def publish_copies(assets: DataFrame, publish_uris: DataFrame) -> DataFrame:
    """K11 asset-copy: on publish, every asset under the document's prefix
    is copied private -> public (docs/workflow.md:169-175). `publish_uris`
    is the (uri) set being published this batch; a left-semi join keeps
    only their assets and emits one copy row per asset, however often a
    uri repeats in the set. content_md5 (when the asset rows carry it)
    rides along, so each copy row pins the bytes copied."""
    extra = ["content_md5"] if "content_md5" in assets.columns else []
    return assets.join(publish_uris.select("uri"), "uri", "left_semi").select(
        "uri",
        "s3_key",
        F.lit("unpublished").alias("from_bucket"),
        F.lit("published").alias("to_bucket"),
        *extra,
    )
