"""Streaming semantic dedup: the maintained cell index + per-epoch pair
log must converge to the batch operator's decisions — pairs found
across micro-batch boundaries, replace semantics on re-ingestion, and
crash-recoverable index swaps."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import few_shuffle_partitions as _few_shuffle_partitions
from ds_caselaw_ingester_spark.streaming.semdedup_sink import (
    apply_semdedup_batch,
    run_semdedup_stream,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    planted = emb.where(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.lit(0.0)), F.slice(F.col("v"), 2, F.size(F.col("v")) - 1)
        ).alias("v"),
    )
    return emb, planted


@pytest.fixture(scope="module")
def quantizer(spark, corpus):
    from ds_caselaw_ingester_spark.operators.similarity import kmeans_fit

    emb, _ = corpus
    return kmeans_fit(
        emb.where(F.col("vec_id") % 4 == 0), "v", "vec_id", k=8, max_iter=2
    )


def _all_pairs(spark, pairs_path):
    return {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(pairs_path).collect()
    }


def test_two_batches_find_cross_batch_pairs(spark, corpus, quantizer, tmp_path):
    """Bases arrive in batch 1, their planted near-dups in batch 2: the
    pair log must contain the cross-batch (base, planted) pairs, and
    the union over epochs must equal the one-shot recompute's pair
    set."""
    from ds_caselaw_ingester_spark.operators.semdedup import (
        semantic_dedup_incremental,
        semdedup_build_index,
    )

    emb, planted = corpus
    idx = str(tmp_path / "index")
    prs = str(tmp_path / "pairs")
    apply_semdedup_batch(
        emb, idx, prs, "v", "vec_id", quantizer, threshold=0.9, epoch_id=0
    )
    apply_semdedup_batch(
        planted, idx, prs, "v", "vec_id", quantizer, threshold=0.9, epoch_id=1
    )
    got = _all_pairs(spark, prs)
    # cross-batch: every planted near-dup that shares its base's cell
    # must appear — compute the expectation with the batch operator
    full = semdedup_build_index(
        emb.unionByName(planted), "v", "vec_id", quantizer
    )
    empty = full.limit(0)
    ref, _ = semantic_dedup_incremental(
        empty, emb.unionByName(planted), "v", "vec_id", quantizer, threshold=0.9
    )
    want = {(r["id_a"], r["id_b"]) for r in ref.collect()}
    assert got == want and got
    cross_batch = {(a, b) for a, b in got if b == a + 100000}
    assert cross_batch  # pairs spanning the two micro-batches

    # index holds exactly one row per id
    index = spark.read.parquet(idx)
    assert index.count() == emb.count() + planted.count()


def test_epoch_replay_is_idempotent(spark, corpus, quantizer, tmp_path):
    """Redelivery of a micro-batch (same epoch_id) must converge: the
    epoch's pair directory is overwritten, not double-appended, and the
    index keeps one row per id (replace semantics)."""
    emb, planted = corpus
    idx = str(tmp_path / "index")
    prs = str(tmp_path / "pairs")
    apply_semdedup_batch(
        emb, idx, prs, "v", "vec_id", quantizer, threshold=0.9, epoch_id=0
    )
    apply_semdedup_batch(
        planted, idx, prs, "v", "vec_id", quantizer, threshold=0.9, epoch_id=1
    )
    first = _all_pairs(spark, prs)
    n_index = spark.read.parquet(idx).count()
    # redeliver epoch 1
    apply_semdedup_batch(
        planted, idx, prs, "v", "vec_id", quantizer, threshold=0.9, epoch_id=1
    )
    assert _all_pairs(spark, prs) == first
    assert spark.read.parquet(idx).count() == n_index


def test_index_crash_between_renames_recovers(spark, corpus, quantizer, tmp_path):
    """The per-cell swap inherits recover_buckets: a crash that leaves a
    cell partition only in `centroid_id=N.old` must be restored by the
    next batch, never read around or bootstrapped over."""
    emb, planted = corpus
    idx = str(tmp_path / "index")
    prs = str(tmp_path / "pairs")
    apply_semdedup_batch(
        emb, idx, prs, "v", "vec_id", quantizer, threshold=0.9, epoch_id=0
    )
    n0 = spark.read.parquet(idx).count()
    # crash point: one cell moved aside, its replacement never renamed in
    cells = sorted(e for e in os.listdir(idx) if e.startswith("centroid_id="))
    victim = os.path.join(idx, cells[0])
    os.rename(victim, victim + ".old")
    apply_semdedup_batch(
        planted, idx, prs, "v", "vec_id", quantizer, threshold=0.9, epoch_id=1
    )
    index = spark.read.parquet(idx)
    assert index.count() == n0 + planted.count()
    assert not any(e.endswith(".old") for e in os.listdir(idx))
    # the probe ran against the RECOVERED index: cross-batch pairs exist
    assert any(b == a + 100000 for a, b in _all_pairs(spark, prs))


def test_increment_rewrites_only_touched_cells(spark, corpus, quantizer, tmp_path):
    """The scale contract: an increment touching c cells swaps exactly
    those c partition directories — untouched cells keep their exact
    file lists (same names, sizes, mtimes: never rewritten, relisted
    sizes can't silently change)."""
    emb, planted = corpus
    idx = str(tmp_path / "index")
    prs = str(tmp_path / "pairs")
    apply_semdedup_batch(
        emb, idx, prs, "v", "vec_id", quantizer, threshold=0.9, epoch_id=0
    )

    def _cell_state(d):
        out = {}
        for e in os.listdir(d):
            if e.startswith("centroid_id="):
                p = os.path.join(d, e)
                out[e] = {
                    f: (os.path.getsize(os.path.join(p, f)),
                        os.path.getmtime(os.path.join(p, f)))
                    for f in os.listdir(p) if f.endswith(".parquet")
                }
        return out

    before = _cell_state(idx)
    assert len(before) > 1  # the contract is vacuous on a 1-cell index
    # a genuinely small increment: three planted near-dups
    inc = planted.orderBy("vec_id").limit(3)
    from ds_caselaw_ingester_spark.operators.semdedup import semdedup_build_index

    want_touched = {
        f"centroid_id={r['centroid_id']}"
        for r in semdedup_build_index(inc, "v", "vec_id", quantizer)
        .select("centroid_id").distinct().collect()
    }
    assert len(want_touched) < len(before)  # strict subset, or no test
    apply_semdedup_batch(
        inc, idx, prs, "v", "vec_id", quantizer, threshold=0.9, epoch_id=1
    )
    after = _cell_state(idx)
    for cell, files in before.items():
        if cell in want_touched:
            assert after[cell] != files, f"{cell} should have been swapped"
        else:
            assert after[cell] == files, f"{cell} was rewritten needlessly"


def test_reingested_id_moving_cells_leaves_no_stale_row(
    spark, corpus, quantizer, tmp_path
):
    """Replace semantics across cells: re-delivering an id with a
    DIFFERENT embedding that lands in another cell must remove the old
    row from its original cell (the superseded-id probe adds that cell
    to the touched set), keeping exactly one index row per id."""
    emb, _ = corpus
    idx = str(tmp_path / "index")
    prs = str(tmp_path / "pairs")
    apply_semdedup_batch(
        emb, idx, prs, "v", "vec_id", quantizer, threshold=0.9, epoch_id=0
    )
    n0 = spark.read.parquet(idx).count()
    # pick a victim id and re-ingest it with another id's embedding —
    # guaranteed a valid vector, very likely a different cell; the
    # contract (one row per id, new cell = donor's cell) holds either way
    two = emb.orderBy("vec_id").limit(2).collect()
    victim, donor = two[0], two[1]
    moved = spark.createDataFrame(
        [(victim["vec_id"], donor["v"])], "vec_id long, v array<double>"
    )
    apply_semdedup_batch(
        moved, idx, prs, "v", "vec_id", quantizer, threshold=0.9, epoch_id=1
    )
    index = spark.read.parquet(idx)
    assert index.count() == n0  # replaced, not duplicated
    rows = index.where(F.col("vec_id") == victim["vec_id"]).collect()
    assert len(rows) == 1
    donor_cell = index.where(F.col("vec_id") == donor["vec_id"]).collect()[0][
        "centroid_id"
    ]
    assert rows[0]["centroid_id"] == donor_cell


def test_semdedup_sink_detects_concurrent_writer(
    spark, corpus, quantizer, tmp_path, monkeypatch
):
    """Single-writer contract, detected: a file appearing in a touched
    cell between the snapshot and the swap must abort the batch loudly
    with the index untouched — a silent swap would drop the other
    writer's rows."""
    import ds_caselaw_ingester_spark.streaming.semdedup_sink as sink_mod

    emb, planted = corpus
    idx = str(tmp_path / "index")
    prs = str(tmp_path / "pairs")
    apply_semdedup_batch(
        emb, idx, prs, "v", "vec_id", quantizer, threshold=0.9, epoch_id=0
    )

    def _cells():
        return {
            d: sorted(
                e for e in os.listdir(os.path.join(idx, d))
                if e != "intruder.parquet"
            )
            for d in os.listdir(idx)
            if d.startswith("centroid_id=")
        }

    before = _cells()
    real_incremental = sink_mod.semantic_dedup_incremental

    def incremental_and_race(*args, **kwargs):
        # the concurrent writer: a file in every cell dir after the
        # sink took its snapshot, before the swap
        for d in os.listdir(idx):
            if d.startswith("centroid_id=") and not d.endswith(".old"):
                with open(os.path.join(idx, d, "intruder.parquet"), "wb") as f:
                    f.write(b"x")
        return real_incremental(*args, **kwargs)

    monkeypatch.setattr(
        sink_mod, "semantic_dedup_incremental", incremental_and_race
    )
    with pytest.raises(RuntimeError, match="another writer"):
        apply_semdedup_batch(
            planted, idx, prs, "v", "vec_id", quantizer, threshold=0.9,
            epoch_id=1,
        )
    assert not os.path.exists(idx + ".tmp")
    assert _cells() == before


def test_streaming_end_to_end_matches_batch(spark, corpus, quantizer, tmp_path):
    """Real readStream run (file source, one file per trigger): the
    union of per-epoch pair logs equals the one-shot recompute."""
    import time

    from ds_caselaw_ingester_spark.operators.semdedup import (
        semantic_dedup_incremental,
        semdedup_build_index,
    )

    emb, planted = corpus
    src = str(tmp_path / "src")
    emb.coalesce(1).write.parquet(os.path.join(src, "b0"))
    planted.coalesce(1).write.parquet(os.path.join(src, "b1"))
    idx = str(tmp_path / "index")
    prs = str(tmp_path / "pairs")
    with _few_shuffle_partitions(spark):
        stream = (
            spark.readStream.schema("vec_id long, v array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = run_semdedup_stream(
            stream, idx, prs, str(tmp_path / "ckpt"), "v", "vec_id",
            quantizer, threshold=0.9,
        )
        q.awaitTermination(180)
    got = _all_pairs(spark, prs)
    full_corpus = emb.unionByName(planted)
    empty = semdedup_build_index(
        full_corpus, "v", "vec_id", quantizer
    ).limit(0)
    ref, _ = semantic_dedup_incremental(
        empty, full_corpus, "v", "vec_id", quantizer, threshold=0.9
    )
    assert got == {(r["id_a"], r["id_b"]) for r in ref.collect()} and got


def test_auto_bootstrap_trains_persists_and_warns_on_growth(
    spark, corpus, tmp_path, caplog, monkeypatch
):
    """centroids='auto': the first batch derives k from its own size × the
    growth margin, persists the quantizer beside the index, and later
    batches reload it (cells stay comparable). When the corpus outgrows
    the bootstrap sizing (10×+ past the margin), the sink WARNs instead
    of silently cliffing into quadratic cells."""
    import json
    import logging

    import ds_caselaw_ingester_spark.streaming.semdedup_sink as sink_mod
    from ds_caselaw_ingester_spark.operators.sizing import semdedup_num_clusters

    emb, planted = corpus
    idx = str(tmp_path / "index")
    prs = str(tmp_path / "pairs")
    first = emb.where(F.col("vec_id") % 2 == 0)
    apply_semdedup_batch(
        first, idx, prs, "v", "vec_id", "auto", threshold=0.9, epoch_id=0
    )
    qpath = os.path.join(idx, sink_mod._QUANTIZER_FILE)
    assert __import__("os").path.exists(qpath)
    cents = json.load(open(qpath))
    n0 = first.count()
    want_k = max(1, min(semdedup_num_clusters(int(n0 * 10.0)), n0))
    assert len(cents) == want_k
    # second batch reloads the SAME quantizer: cross-batch pairs appear
    apply_semdedup_batch(
        planted, idx, prs, "v", "vec_id", "auto", threshold=0.9, epoch_id=1
    )
    assert any(b == a + 100000 for a, b in _all_pairs(spark, prs))
    # index cells all come from the persisted quantizer's id space
    index = spark.read.parquet(idx)
    assert index.count() == n0 + planted.count()
    cids = {r["centroid_id"] for r in index.select("centroid_id").distinct().collect()}
    assert cids <= {c["centroid_id"] for c in cents}

    # growth WARN wiring: shrink the persisted quantizer to k=1 and
    # lower the factor so the ~330-row test index (rule-derived k=4,
    # min-k clamped) counts as outgrown — the rule's own numbers are
    # pinned in test_sizing.py; this pins that the sink CHECKS it after
    # every swap and surfaces the retrain remedy.
    one = cents[:1]
    json.dump(one, open(qpath, "w"))
    monkeypatch.setattr(sink_mod, "GROWTH_WARN_FACTOR", 2.0)
    with caplog.at_level(logging.WARNING, logger=sink_mod.__name__):
        apply_semdedup_batch(
            planted.limit(5).select(
                (F.col("vec_id") + 777000).alias("vec_id"), "v"
            ),
            idx, prs, "v", "vec_id", "auto", threshold=0.9, epoch_id=2,
            growth_check_every=1,  # the check is amortized by default
        )
    assert any("grown" in r.message for r in caplog.records), caplog.records


def test_flat_index_and_missing_quantizer_are_refused(
    spark, corpus, quantizer, tmp_path
):
    """Review regressions (r8): (a) a FLAT index from the
    pre-partitioned sink must be refused, not bootstrapped over into a
    mixed layout; (b) cell partitions without the quantizer sidecar
    must refuse 'auto' instead of training an incomparable fresh
    quantizer."""
    import ds_caselaw_ingester_spark.streaming.semdedup_sink as sink_mod
    from ds_caselaw_ingester_spark.operators.semdedup import semdedup_build_index

    emb, planted = corpus
    # (a) flat layout
    flat = str(tmp_path / "flat_index")
    semdedup_build_index(emb, "v", "vec_id", quantizer).write.parquet(flat)
    with pytest.raises(ValueError, match="FLAT"):
        apply_semdedup_batch(
            planted, flat, str(tmp_path / "p1"), "v", "vec_id", quantizer,
            epoch_id=0,
        )
    # (b) partitioned index, sidecar lost
    idx = str(tmp_path / "index")
    apply_semdedup_batch(
        emb, idx, str(tmp_path / "p2"), "v", "vec_id", "auto", epoch_id=0
    )
    os.remove(os.path.join(idx, sink_mod._QUANTIZER_FILE))
    with pytest.raises(ValueError, match="quantizer"):
        apply_semdedup_batch(
            planted, idx, str(tmp_path / "p2"), "v", "vec_id", "auto",
            epoch_id=1,
        )


def test_quantizer_retrain_loop_end_to_end(
    spark, corpus, tmp_path, caplog, monkeypatch
):
    """The under-partitioning WARN's documented remedy, exercised end
    to end (r8 verdict item): grow a stream past GROWTH_WARN_FACTOR,
    retrain offline (retrain_semdedup_index — re-sized k-means over the
    index's own vectors, atomic index+quantizer swap), restart the
    stream with centroids='auto', and pin that the restarted stream's
    pair decisions on the rebuilt index match the batch operator's
    probe of the same increment against the same rebuilt index."""
    import logging

    import ds_caselaw_ingester_spark.operators.sizing as sizing_mod
    import ds_caselaw_ingester_spark.streaming.semdedup_sink as sink_mod
    from ds_caselaw_ingester_spark.operators.semdedup import (
        semantic_dedup_incremental,
    )
    from ds_caselaw_ingester_spark.streaming.semdedup_sink import (
        retrain_semdedup_index,
    )

    emb, planted = corpus
    idx = str(tmp_path / "index")
    prs = str(tmp_path / "pairs")
    # 1. bootstrap from a small first batch with NO growth margin — the
    # stream then genuinely outgrows its quantizer when the rest lands
    first = emb.where(F.col("vec_id") < 24)
    apply_semdedup_batch(
        first, idx, prs, "v", "vec_id", "auto", threshold=0.9, epoch_id=0,
        bootstrap_growth=1.0, growth_check_every=0,
    )
    k0 = len(sink_mod._load_quantizer(idx))
    # sizing stand-in: the real rule's 1000-vector target cell never
    # trips at test scale — model the same shape at 1/100 scale
    monkeypatch.setattr(
        sizing_mod,
        "semdedup_num_clusters",
        lambda n, **kw: max(4, n // 10),
    )
    # 2. the corpus grows; the amortized growth check fires the WARN
    rest = emb.where(F.col("vec_id") >= 24)
    with caplog.at_level(logging.WARNING, logger=sink_mod.__name__):
        apply_semdedup_batch(
            rest, idx, prs, "v", "vec_id", "auto", threshold=0.9, epoch_id=1,
            growth_check_every=1,
        )
    assert any("Retrain the quantizer" in r.message for r in caplog.records)
    # 3. offline remedy (stream quiesced): retrain + rebuild + swap
    cents_new = retrain_semdedup_index(spark, idx, "v", "vec_id")
    assert len(cents_new) > k0  # actually re-sized
    reloaded = sink_mod._load_quantizer(idx)
    assert {c["centroid_id"] for c in reloaded} == {
        c["centroid_id"] for c in cents_new
    }
    n_before = spark.read.parquet(idx).count()
    assert n_before == first.count() + rest.count()  # rebuild lost nothing
    # 4. expected decisions for the next increment: the batch operator
    # probing the SAME rebuilt index under the new quantizer
    rebuilt = spark.read.parquet(idx).withColumn(
        "centroid_id", F.col("centroid_id").cast("long")
    )
    ref, _ = semantic_dedup_incremental(
        rebuilt, planted, "v", "vec_id", cents_new, threshold=0.9
    )
    want = {(r["id_a"], r["id_b"]) for r in ref.collect()}
    # 5. restart: 'auto' must load the retrained quantizer and emit
    # exactly those pairs
    apply_semdedup_batch(
        planted, idx, prs, "v", "vec_id", "auto", threshold=0.9, epoch_id=2,
        growth_check_every=0,
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(
            os.path.join(prs, "epoch=2")
        ).collect()
    }
    assert got == want and got
    # planted near-dups pair with their bases across the retrain
    assert any(b == a + 100000 for a, b in got)


def test_retraining_marker_locks_out_stream_and_heals(
    spark, corpus, quantizer, tmp_path, monkeypatch
):
    """The ADVICE r9 crash window: retrain_semdedup_index crashing
    between commit_swap's two renames leaves the index momentarily
    MISSING — a restarted stream must refuse to run (it would silently
    bootstrap a fresh index over the orphaned .retrain-old), and
    re-running the retrain must heal and lift the lockout."""
    from ds_caselaw_ingester_spark.operators import compaction as comp_mod
    from ds_caselaw_ingester_spark.streaming.semdedup_sink import (
        retrain_semdedup_index,
    )

    emb, planted = corpus
    idx = str(tmp_path / "index")
    prs = str(tmp_path / "pairs")
    apply_semdedup_batch(
        emb, idx, prs, "v", "vec_id", quantizer, threshold=0.9, epoch_id=0
    )
    n0 = spark.read.parquet(idx).count()

    # crash INSIDE commit_swap, after local -> old but before tmp -> local
    real_commit = comp_mod.commit_swap

    def _crashing_commit(local, tmp, old):
        os.rename(local, old)
        raise RuntimeError("injected crash between commit_swap's renames")

    # retrain imports commit_swap inside the function body — patch the
    # source module it imports from
    monkeypatch.setattr(comp_mod, "commit_swap", _crashing_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        retrain_semdedup_index(spark, idx, "v", "vec_id", k=4)
    assert os.path.exists(idx + ".retraining")
    assert not os.path.exists(idx)  # the dangerous state: local missing

    # a restarted stream must refuse loudly, NOT bootstrap a fresh index
    with pytest.raises(RuntimeError, match="unfinished retrain"):
        apply_semdedup_batch(
            planted, idx, prs, "v", "vec_id", "auto", threshold=0.9, epoch_id=1
        )
    assert not os.path.exists(idx)  # nothing was written

    # the documented remedy: re-run the retrain; recover_swap heals the
    # half-finished rename, the marker is lifted, the stream proceeds
    monkeypatch.setattr(comp_mod, "commit_swap", real_commit)
    retrain_semdedup_index(spark, idx, "v", "vec_id", k=4)
    assert not os.path.exists(idx + ".retraining")
    assert spark.read.parquet(idx).count() == n0  # no history loss
    apply_semdedup_batch(
        planted, idx, prs, "v", "vec_id", "auto", threshold=0.9, epoch_id=1
    )
    assert spark.read.parquet(idx).count() == n0 + planted.count()


def test_pca_projected_stream_pins_projection(spark, corpus, tmp_path):
    """pca_model on the streaming sink (round 10): batches project
    map-side before assignment/probe/indexing, pair decisions equal the
    batch operator over manually pre-projected vectors, the projection
    fingerprint is pinned at bootstrap (restart without the model, with
    a different model, or adding one to a raw index all refuse), and
    the retrain swap carries the pin."""
    from ds_caselaw_ingester_spark.operators.pca import pca_fit, pca_project
    from ds_caselaw_ingester_spark.operators.semdedup import (
        semantic_dedup_incremental,
        semdedup_build_index,
    )
    from ds_caselaw_ingester_spark.operators.similarity import kmeans_fit
    from ds_caselaw_ingester_spark.streaming.semdedup_sink import (
        retrain_semdedup_index,
    )

    emb, planted = corpus
    dim = len(emb.first()["v"])
    model = pca_fit(emb, "v", dim, k=16)

    def proj(df):
        return pca_project(df, "v", model, out_col="_p").select(
            "vec_id", F.col("_p").alias("v")
        )

    quant = kmeans_fit(proj(emb.where(F.col("vec_id") % 4 == 0)), "v",
                       "vec_id", k=8, max_iter=2)
    idx, prs = str(tmp_path / "idx"), str(tmp_path / "pairs")
    apply_semdedup_batch(
        emb, idx, prs, "v", "vec_id", quant, threshold=0.9, epoch_id=0,
        pca_model=model,
    )
    apply_semdedup_batch(
        planted, idx, prs, "v", "vec_id", quant, threshold=0.9, epoch_id=1,
        pca_model=model,
    )
    got = _all_pairs(spark, prs)
    # oracle: the batch incremental operator over manually projected
    # vectors (one shot, empty index)
    full = proj(emb.unionByName(planted))
    ref, _ = semantic_dedup_incremental(
        semdedup_build_index(full, "v", "vec_id", quant).limit(0),
        full, "v", "vec_id", quant, threshold=0.9,
    )
    want = {(r["id_a"], r["id_b"]) for r in ref.collect()}
    assert got == want and got
    # the stored index holds PROJECTED (16-dim) vectors
    assert len(spark.read.parquet(idx).first()["v"]) == 16

    # drift lockouts
    with pytest.raises(ValueError, match="no pca_model"):
        apply_semdedup_batch(
            planted, idx, prs, "v", "vec_id", quant, threshold=0.9, epoch_id=2
        )
    other = pca_fit(emb.where(F.col("vec_id") % 2 == 0), "v", dim, k=8)
    with pytest.raises(ValueError, match="different model"):
        apply_semdedup_batch(
            planted, idx, prs, "v", "vec_id", quant, threshold=0.9,
            epoch_id=2, pca_model=other,
        )

    # the retrain reads the index's own projected vectors and carries
    # the pin through its whole-directory swap
    n_before = spark.read.parquet(idx).count()
    retrain_semdedup_index(spark, idx, "v", "vec_id", k=6)
    assert os.path.exists(os.path.join(idx, "_pca.json"))
    assert spark.read.parquet(idx).count() == n_before
    # and the stream continues under the same model via 'auto'
    more = planted.select((F.col("vec_id") + 500000).alias("vec_id"), "v")
    apply_semdedup_batch(
        more, idx, prs, "v", "vec_id", "auto", threshold=0.9, epoch_id=3,
        pca_model=model,
    )
    assert spark.read.parquet(idx).count() == n_before + more.count()


def test_pca_on_raw_index_refuses(spark, corpus, quantizer, tmp_path):
    """Adding a projection to an index built from raw vectors must
    refuse — the cells live in the raw space."""
    from ds_caselaw_ingester_spark.operators.pca import pca_fit

    emb, planted = corpus
    idx, prs = str(tmp_path / "idx"), str(tmp_path / "pairs")
    apply_semdedup_batch(
        emb, idx, prs, "v", "vec_id", quantizer, threshold=0.9, epoch_id=0
    )
    dim = len(emb.first()["v"])
    model = pca_fit(emb, "v", dim, k=16)
    with pytest.raises(ValueError, match="WITHOUT a PCA projection"):
        apply_semdedup_batch(
            planted, idx, prs, "v", "vec_id", quantizer, threshold=0.9,
            epoch_id=1, pca_model=model,
        )


def test_retrain_partitioning_guard_is_pure_perf(spark, corpus, tmp_path,
                                                 monkeypatch):
    """Round 12 (VERDICT r11 #4): retrain_semdedup_index wraps its index
    read in spread_if_narrow; the widening must never change the
    retrained centroids — pinned by running the SAME retrain with the
    guard active and with it monkeypatched to identity over two copies
    of one index."""
    import shutil

    from ds_caselaw_ingester_spark.sources import catalog as cat
    from ds_caselaw_ingester_spark.streaming.semdedup_sink import (
        retrain_semdedup_index,
    )

    emb, _ = corpus
    first = emb.where(F.col("vec_id") < 48)
    idx_a = str(tmp_path / "idx_a")
    prs = str(tmp_path / "prs")
    apply_semdedup_batch(
        first, idx_a, prs, "v", "vec_id", "auto", threshold=0.9, epoch_id=0,
        bootstrap_growth=1.0, growth_check_every=0,
    )
    idx_b = str(tmp_path / "idx_b")
    shutil.copytree(idx_a, idx_b)

    cents_guarded = retrain_semdedup_index(spark, idx_a, "v", "vec_id", k=4)
    monkeypatch.setattr(cat, "spread_if_narrow", lambda df, *c, **kw: df)
    cents_identity = retrain_semdedup_index(spark, idx_b, "v", "vec_id", k=4)
    assert cents_guarded == cents_identity


def test_null_embedding_batch_survives_and_is_not_indexed(spark, corpus,
                                                          tmp_path):
    """Round-12 review finding: ivf_assign now emits null-centroid rows
    for NULL embeddings, and the sink's touched-cell sort / partition
    swap address cells by integer id — so semdedup_build_index must
    EXCLUDE unjudgeable vectors. A micro-batch containing a null
    embedding plus normal vectors must commit its epoch (no TypeError
    from sorting None against ints), index the normal vectors, and
    leave the null-embedding id out of the index entirely."""
    from ds_caselaw_ingester_spark.operators.semdedup import (
        semdedup_build_index,
    )

    emb, _ = corpus
    first = emb.where(F.col("vec_id") < 24)
    nulled = emb.where(F.col("vec_id") < 32).withColumn(
        "v", F.when(F.col("vec_id") == 25, F.lit(None)).otherwise(F.col("v"))
    )
    idx, prs = str(tmp_path / "idx"), str(tmp_path / "prs")
    apply_semdedup_batch(
        first, idx, prs, "v", "vec_id", "auto", threshold=0.9, epoch_id=0,
        bootstrap_growth=1.0, growth_check_every=0,
    )
    # the null-carrying increment commits without aborting
    apply_semdedup_batch(
        nulled.where(F.col("vec_id") >= 24), idx, prs, "v", "vec_id",
        "auto", threshold=0.9, epoch_id=1, growth_check_every=0,
    )
    indexed = {
        r["vec_id"] for r in spark.read.parquet(idx).select("vec_id").collect()
    }
    assert 25 not in indexed          # unjudgeable vector excluded
    assert {24, 26, 27}.issubset(indexed)  # its batch still indexed

    # operator-level contract: build_index drops null-centroid rows
    cents = [{"centroid_id": 0, "cvec": [1.0] * 64},
             {"centroid_id": 1, "cvec": [-1.0] * 64}]
    built = semdedup_build_index(
        nulled.select("vec_id", "v"), "v", "vec_id", cents
    )
    ids = {r["vec_id"] for r in built.collect()}
    assert 25 not in ids and 24 in ids
