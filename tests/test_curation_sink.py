"""Streaming curation sink: the epoch/bucket-partitioned band log's
crash, replay, compaction, pruning, and layout invariants, on the
surrogate ingest sequence that orders any id space (uuid-keyed
corpora — the reference's own fallback URIs are `d-<uuid>`,
ingester.py:538).

Equivalence contract pinned here: streamed keep decisions ==
arrival-order full recompute (curate_corpus over the same documents
keyed by their ingest sequence), epoch by epoch."""

from __future__ import annotations

import os
import string

import pytest
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.curation import (
    SEQ_COL,
    curate_corpus,
    curate_increment_seq,
    curation_band_index_seq,
)
from ds_caselaw_ingester_spark.streaming.curation_sink import (
    apply_curation_batch,
    compact_index_epochs,
    migrate_index_to_bucketed,
    rebuild_index_meta,
    run_curation_stream,
)

CHUNK_KW = dict(min_tokens=8, min_alpha_ratio=0.5, chunk_tokens=32, overlap=4)


def _text(tag: str) -> str:
    """12 distinct pure-alpha tokens namespaced by `tag` — passes the
    structural gate, shares no shingles across tags."""
    return " ".join(f"w{tag}{c * 3}" for c in string.ascii_lowercase[:12])


# uuid-ish hex ids, deliberately NOT in arrival order: epoch-1 ids sort
# below some epoch-0 ids, so only the ingest sequence can order them
EPOCH0 = [
    ("d-7f3a", _text("basea")),
    ("d-20c9", _text("baseb")),
    ("d-e11d", _text("basec")),
    ("d-91b4", _text("based")),
]
EPOCH1 = [
    ("d-05aa", _text("basea")),  # dup of a base doc -> tainted, dropped
    ("d-c777", _text("newp")),  # new-new pair: arrival order keeps d-44fe
    ("d-44fe", _text("newp")),
    ("d-ab01", _text("unique1")),
    ("d-0001", "too short"),  # gated out, never indexed
]
EPOCH2 = [
    ("d-33dd", _text("newp")),  # dups an epoch-1 DROPPED doc -> still dropped
    ("d-ff02", _text("unique2")),
]
EXPECT_KEPT = {
    0: {"d-7f3a", "d-20c9", "d-e11d", "d-91b4"},
    1: {"d-44fe", "d-ab01"},
    2: {"d-ff02"},
}


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def _kept(spark, chunks_path, epoch):
    d = os.path.join(chunks_path, f"epoch={epoch}")
    return {r["doc_id"] for r in spark.read.parquet(d).select("doc_id").collect()}


def _index_rows(spark, index_path):
    return {
        tuple(r)
        for r in spark.read.option("basePath", index_path)
        .parquet(index_path)
        .drop("epoch", "bucket")
        .collect()
    }


def _apply(spark, rows, idx, chk, epoch, **kw):
    merged = {**CHUNK_KW, "n_buckets": 8, **kw}
    apply_curation_batch(
        _df(spark, rows), idx, chk, epoch_id=epoch, **merged
    )


def test_seq_epochs_match_arrival_order_recompute(spark, tmp_path):
    """The headline contract: per-epoch streamed keepers equal the
    full arrival-order recompute's keepers ∩ that epoch's ids — on a
    uuid-keyed corpus whose ids carry no arrival order."""
    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    for e, rows in enumerate([EPOCH0, EPOCH1, EPOCH2]):
        _apply(spark, rows, idx, chk, e)
    for e in range(3):
        assert _kept(spark, chk, e) == EXPECT_KEPT[e], f"epoch {e}"
    # independent oracle: curate_corpus over the same docs keyed by
    # their ingest sequence (epoch order, id order within an epoch)
    arrival = []
    for rows in [EPOCH0, EPOCH1, EPOCH2]:
        arrival += [doc_id for doc_id, _ in sorted(rows)]
    seq_of = {doc_id: i for i, doc_id in enumerate(arrival)}
    texts = dict(EPOCH0 + EPOCH1 + EPOCH2)
    seq_docs = spark.createDataFrame(
        [(seq_of[d], texts[d]) for d in arrival], "doc_id long, text string"
    )
    recompute = curate_corpus(seq_docs, **CHUNK_KW)
    kept_seqs = {r["doc_id"] for r in recompute.select("doc_id").distinct().collect()}
    kept_ids = {d for d, s in seq_of.items() if s in kept_seqs}
    assert kept_ids == EXPECT_KEPT[0] | EXPECT_KEPT[1] | EXPECT_KEPT[2]


def test_streaming_end_to_end_uuid_ids(spark, tmp_path):
    """run_curation_stream over a file source, three availableNow
    passes = three epochs; same keep decisions as the batch contract."""
    src = str(tmp_path / "src")
    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    ckpt = str(tmp_path / "ckpt")  # ONE checkpoint: epoch ids continue
    for e, rows in enumerate([EPOCH0, EPOCH1, EPOCH2]):
        _df(spark, rows).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("doc_id string, text string")
            .option("maxFilesPerTrigger", 1000)
            .parquet(src)
        )
        q = run_curation_stream(stream, idx, chk, ckpt, n_buckets=8, **CHUNK_KW)
        q.awaitTermination(120)
        q.stop()
        assert _kept(spark, chk, e) == EXPECT_KEPT[e], f"epoch {e}"


def test_replay_last_epoch_idempotent(spark, tmp_path):
    """A checkpointed foreachBatch may re-run the last epoch after a
    crash: re-applying the identical batch must reproduce byte-for-set
    identical index rows, chunks, and sidecar."""
    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    _apply(spark, EPOCH0, idx, chk, 0)
    _apply(spark, EPOCH1, idx, chk, 1)
    before_idx = _index_rows(spark, idx)
    before_kept = _kept(spark, chk, 1)
    with open(idx + ".seqmeta.json") as f:
        before_meta = f.read()
    _apply(spark, EPOCH1, idx, chk, 1)  # replay
    assert _index_rows(spark, idx) == before_idx
    assert _kept(spark, chk, 1) == before_kept
    with open(idx + ".seqmeta.json") as f:
        assert f.read() == before_meta


def test_compaction_clamps_and_survives_replay(spark, tmp_path):
    """ADVICE r8 (high) regression: compaction called with upto_epoch
    beyond the highest on-disk epoch must never fold INTO an epoch id
    the stream can still rewrite. Post-fix: the fold target stays
    strictly below the newest directory, a replay of the newest epoch
    leaves the folded index intact, and probe results are unchanged."""
    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    for e, rows in enumerate([EPOCH0, EPOCH1, EPOCH2]):
        _apply(spark, rows, idx, chk, e)
    all_rows = _index_rows(spark, idx)
    # the natural "fold everything" call a maintenance job would make
    folded = compact_index_epochs(spark, idx, upto_epoch=99)
    assert folded == 2  # epochs 0 and 1; epoch 2 (newest) never folded
    assert sorted(
        e for e in os.listdir(idx) if e.startswith("epoch=")
    ) == ["epoch=1", "epoch=2"]
    assert _index_rows(spark, idx) == all_rows
    # crash-replay of the newest epoch after compaction: pre-fix this
    # destroyed the folded index; post-fix it must converge
    _apply(spark, EPOCH2, idx, chk, 2)
    assert _index_rows(spark, idx) == all_rows
    # and future epochs still probe the identical row set
    extra = [("d-zz01", _text("basea"))]  # dups an epoch-0 base doc
    _apply(spark, extra, idx, chk, 3)
    assert _kept(spark, chk, 3) == set()
    assert compact_index_epochs(spark, idx, upto_epoch=99) == 2  # 1,2 -> 2


def test_crashed_first_delta_write_converges(spark, tmp_path):
    """ADVICE r8 (medium) regression: a crash during the very first
    delta write leaves epoch=0/ holding only the committer's
    _temporary dir; the replay must fall through to the empty-index
    branch instead of wedging on schema inference."""
    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    os.makedirs(os.path.join(idx, "epoch=0", "_temporary", "0"))
    _apply(spark, EPOCH0, idx, chk, 0)
    assert _kept(spark, chk, 0) == EXPECT_KEPT[0]
    _apply(spark, EPOCH1, idx, chk, 1)
    assert _kept(spark, chk, 1) == EXPECT_KEPT[1]


def test_probe_reads_only_touched_buckets(spark, tmp_path):
    """The r8 weak item, behaviorally pinned: a poison (non-parquet)
    file planted in an UNTOUCHED bucket of an earlier epoch is never
    opened by the probe; the same poison in a TOUCHED bucket fails the
    read — proving the prune is directory-level and the test is not
    vacuous."""
    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    _apply(spark, EPOCH0, idx, chk, 0)
    # epoch 1 duplicates d-7f3a's text exactly -> its band keys (text-
    # derived) equal that doc's, so its touched buckets are exactly the
    # buckets holding d-7f3a's band rows
    e0 = spark.read.parquet(os.path.join(idx, "epoch=0"))
    # bucket is a partition column of the epoch dir read
    touched = {
        r["bucket"]
        for r in e0.where(F.col("doc_id") == "d-7f3a").select("bucket").collect()
    }
    untouched = {
        r["bucket"] for r in e0.select("bucket").distinct().collect()
    } - touched
    assert untouched, "corpus too small to leave an untouched bucket"
    poison = os.path.join(
        idx, "epoch=0", f"bucket={sorted(untouched)[0]}", "poison.parquet"
    )
    with open(poison, "w") as f:
        f.write("this is not parquet")
    dup = [("e-0001", _text("basea"))]
    _apply(spark, dup, idx, chk, 1)  # must succeed: poison bucket pruned
    assert _kept(spark, chk, 1) == set()  # dup of base -> dropped
    os.remove(poison)
    touched_poison = os.path.join(
        idx, "epoch=0", f"bucket={sorted(touched)[0]}", "poison.parquet"
    )
    with open(touched_poison, "w") as f:
        f.write("this is not parquet")
    with pytest.raises(Exception):
        _apply(spark, [("e-0002", _text("basea"))], idx, chk, 2)


def test_layout_guards(spark, tmp_path):
    """Changing n_buckets against a pinned layout, or probing an index
    whose sidecar pins a key other than the ingest sequence (an
    id-keyed index has no _seq to compare), raises instead of silently
    missing history."""
    import json

    from ds_caselaw_ingester_spark.streaming.curation_sink import _layout_path

    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    _apply(spark, EPOCH0, idx, chk, 0)
    with pytest.raises(ValueError, match="n_buckets"):
        _apply(spark, EPOCH1, idx, chk, 1, n_buckets=16)
    with open(_layout_path(idx)) as f:
        layout = json.load(f)
    assert layout["key_mode"] == "seq"
    with open(_layout_path(idx), "w") as f:
        json.dump({**layout, "key_mode": "id"}, f)
    with pytest.raises(ValueError, match="rebuild_curation_index"):
        _apply(spark, EPOCH1, idx, chk, 1)


def _write_flat_id_index(spark, idx):
    """An r8-era index: one flat epoch directory of (doc_id, band,
    band_key) rows keyed by the id, no _seq and no bucket= layout."""
    from ds_caselaw_ingester_spark.operators.curation import _bands, gate_documents

    base = spark.createDataFrame(
        [(10, _text("la")), (11, _text("lb"))], "doc_id long, text string"
    )
    _bands(gate_documents(base), "doc_id", "text").write.parquet(
        os.path.join(idx, "epoch=0")
    )
    return base


def test_legacy_flat_index_refused_then_rebuilt(spark, tmp_path):
    """An r8-era flat, id-keyed epoch log is refused with the rebuild
    pointer; after rebuild_curation_index from the corpus the stream
    resumes and still pairs new docs with the rebuilt base rows."""
    from ds_caselaw_ingester_spark.streaming.curation_sink import (
        rebuild_curation_index,
    )

    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    base = _write_flat_id_index(spark, idx)
    nxt = spark.createDataFrame([(20, _text("la"))], "doc_id long, text string")
    kw = {**CHUNK_KW, "n_buckets": 8}
    with pytest.raises(ValueError, match="rebuild_curation_index"):
        apply_curation_batch(nxt, idx, chk, epoch_id=1, **kw)
    rebuild_curation_index(
        base, idx, n_buckets=8,
        min_tokens=CHUNK_KW["min_tokens"],
        min_alpha_ratio=CHUNK_KW["min_alpha_ratio"],
    )
    apply_curation_batch(nxt, idx, chk, epoch_id=1, **kw)
    assert _kept(spark, chk, 1) == set()  # 20 dups rebuilt base 10


def test_migration_refuses_index_without_seq(spark, tmp_path):
    """migrate_index_to_bucketed re-buckets a seq-keyed index only: an
    epoch without _seq (an id-keyed r8 index) raises with the rebuild
    pointer before anything under the index is rewritten."""
    idx = str(tmp_path / "idx")
    _write_flat_id_index(spark, idx)
    before = sorted(os.listdir(os.path.join(idx, "epoch=0")))
    with pytest.raises(ValueError, match="rebuild_curation_index"):
        migrate_index_to_bucketed(spark, idx, n_buckets=8)
    assert sorted(os.listdir(os.path.join(idx, "epoch=0"))) == before
    assert not os.path.exists(idx + ".layout.json")


def test_missing_sidecar_raises_then_rebuilds(spark, tmp_path):
    """A lost seqmeta sidecar must fail loud (a silent None base-max
    would restart the sequence at 0 and collide); rebuild_index_meta
    recovers the exact per-epoch maxima from the index."""
    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    _apply(spark, EPOCH0, idx, chk, 0)
    _apply(spark, EPOCH1, idx, chk, 1)
    with open(idx + ".seqmeta.json") as f:
        original = f.read()
    os.remove(idx + ".seqmeta.json")
    with pytest.raises(RuntimeError, match="rebuild_index_meta"):
        _apply(spark, EPOCH2, idx, chk, 2)
    rebuilt = rebuild_index_meta(spark, idx)
    import json

    assert rebuilt == json.loads(original)
    _apply(spark, EPOCH2, idx, chk, 2)
    assert _kept(spark, chk, 2) == EXPECT_KEPT[2]


def test_batch_api_seq_contract_on_uuid_corpus(spark, tmp_path):
    """curate_increment_seq (the batch API) on the uuid corpus: its
    keepers equal the arrival-order recompute ∩ new ids, and its delta
    chains into a second increment."""
    base = _df(spark, EPOCH0)
    index = curation_band_index_seq(
        base, min_tokens=8, min_alpha_ratio=0.5
    ).localCheckpoint(eager=True)
    inc = _df(spark, EPOCH1)
    chunks, delta = curate_increment_seq(
        inc, index, chunk_tokens=32, overlap=4, min_tokens=8, min_alpha_ratio=0.5
    )
    assert {r["doc_id"] for r in chunks.select("doc_id").distinct().collect()} == (
        EXPECT_KEPT[1]
    )
    assert set(delta.columns) == {"doc_id", SEQ_COL, "band", "band_key"}
    # chain: the union index serves the next increment
    index2 = index.unionByName(delta).localCheckpoint(eager=True)
    chunks2, _ = curate_increment_seq(
        _df(spark, EPOCH2), index2, chunk_tokens=32, overlap=4,
        min_tokens=8, min_alpha_ratio=0.5,
    )
    assert {r["doc_id"] for r in chunks2.select("doc_id").distinct().collect()} == (
        EXPECT_KEPT[2]
    )


def test_assign_seq_is_global_rank_without_single_partition(spark):
    """The surrogate seq must equal the global id rank (offset by
    start) under ANY input partitioning, and must not funnel the
    increment through a one-partition window (the scale hazard the
    range-partitioned composition exists to avoid)."""
    from ds_caselaw_ingester_spark.operators.curation import _assign_seq

    rows = [(f"d-{i:04x}", f"t{i}") for i in range(997)]
    import random

    random.Random(9).shuffle(rows)
    for parts in (1, 7):
        df = spark.createDataFrame(rows, "doc_id string, text string").repartition(
            parts
        )
        got = {
            r["doc_id"]: r["_seq"]
            for r in _assign_seq(df, "doc_id", start=100).collect()
        }
        want = {
            d: 100 + i for i, d in enumerate(sorted(x[0] for x in rows))
        }
        assert got == want


def test_gate_param_drift_raises(spark, tmp_path):
    """The gate params are pinned with the layout: a restarted stream
    with different thresholds must raise (its keep decisions would
    silently diverge from every recompute) rather than probe an index
    gated under other rules."""
    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    _apply(spark, EPOCH0, idx, chk, 0)
    with pytest.raises(ValueError, match="gate"):
        _apply(spark, EPOCH1, idx, chk, 1, min_tokens=5)
    # unchanged params keep working
    _apply(spark, EPOCH1, idx, chk, 1)
    assert _kept(spark, chk, 1) == EXPECT_KEPT[1]


def test_quality_gates_in_stream_match_recompute(spark, tmp_path):
    """The stream curates to the SAME standard as the nightly
    composite: with Gopher repetition caps passed to the sink, a
    repetitive doc is dropped at arrival exactly as the arrival-order
    curate_corpus recompute drops it, and changing the gate config on
    restart raises via the pinned fingerprint."""
    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    caps = {"top_2gram_char_frac": 0.5}
    repetitive = ("d-rep1", "spam ham " * 12)  # one bigram dominates
    e0 = EPOCH0
    e1 = [repetitive, ("d-ok99", _text("fresh"))]
    qg = {"repetition_caps": caps}
    for e, rows in enumerate([e0, e1]):
        _apply(spark, rows, idx, chk, e, quality_gates=qg)
    assert _kept(spark, chk, 1) == {"d-ok99"}
    # the repetitive doc was gated, not deduped: it must not be indexed
    idx_ids = {
        r["doc_id"]
        for r in spark.read.option("basePath", idx).parquet(idx)
        .select("doc_id").distinct().collect()
    }
    assert "d-rep1" not in idx_ids
    # arrival-order recompute under the SAME caps agrees
    arrival = [d for d, _ in sorted(e0)] + [d for d, _ in sorted(e1)]
    texts = dict(e0 + e1)
    seq_docs = spark.createDataFrame(
        [(i, texts[d]) for i, d in enumerate(arrival)], "doc_id long, text string"
    )
    rec = curate_corpus(seq_docs, repetition_caps=caps, **CHUNK_KW)
    kept_seqs = {r["doc_id"] for r in rec.select("doc_id").distinct().collect()}
    kept_ids = {d for i, d in enumerate(arrival) if i in kept_seqs}
    assert kept_ids == EXPECT_KEPT[0] | {"d-ok99"}
    # gate-config drift (different caps, or caps removed) raises
    with pytest.raises(ValueError, match="gate"):
        _apply(spark, EPOCH2, idx, chk, 2,
               quality_gates={"repetition_caps": {"top_2gram_char_frac": 0.9}})
    with pytest.raises(ValueError, match="gate"):
        _apply(spark, EPOCH2, idx, chk, 2)


def test_bucket_saturation_warns(spark, tmp_path, caplog):
    """A micro-batch whose band keys touch EVERY bucket makes the probe
    read unpruned — the documented n_buckets-undersized condition must
    WARN (the operator keeps working; the log line is how an operator
    discovers the sizing is wrong before the index grows)."""
    import logging

    import ds_caselaw_ingester_spark.streaming.curation_sink as sink_mod

    idx = str(tmp_path / "idx")
    chk = str(tmp_path / "chunks")
    # n_buckets=1: any non-empty batch saturates; epoch 0 must warn
    with caplog.at_level(logging.WARNING, logger=sink_mod.__name__):
        _apply(spark, EPOCH0, idx, chk, 0, n_buckets=1)
    assert any("touches all" in r.message for r in caplog.records), (
        caplog.records
    )
    # and a comfortably-sized layout stays quiet
    caplog.clear()
    idx2 = str(tmp_path / "idx2")
    with caplog.at_level(logging.WARNING, logger=sink_mod.__name__):
        _apply(spark, EPOCH0, idx2, chk + "2", 0, n_buckets=4096)
    assert not any("touches all" in r.message for r in caplog.records)


def test_gate_change_rebuild_loop(spark, tmp_path):
    """The gate-retrain loop end-to-end (the curation analog of the
    SemDeDup quantizer retrain): index built under gate A -> running a
    batch under gate B raises -> rebuild_curation_index under B ->
    a FRESH-checkpoint restart (epoch ids back at 0) probes the
    rebuilt epoch=-1 history, so near-dups of pre-rebuild documents
    are still caught; and a crashed rebuild (marker left behind) makes
    the next batch refuse loudly instead of running on a partial
    index."""
    from ds_caselaw_ingester_spark.streaming.curation_sink import (
        rebuild_curation_index,
    )

    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    _apply(spark, EPOCH0, idx, chk, 0)
    _apply(spark, EPOCH1, idx, chk, 1)

    # gate B (stricter min_tokens) must refuse the drifted layout
    with pytest.raises(ValueError, match="gate params"):
        _apply(spark, EPOCH2, idx, chk, 2, min_tokens=10)

    # offline rebuild from the full corpus under gate B; note the
    # rebuild re-decides membership: EVERY gated doc is indexed (the
    # band log keeps dropped docs too — the delta contract)
    n = rebuild_curation_index(
        _df(spark, EPOCH0 + EPOCH1), idx,
        min_tokens=10, min_alpha_ratio=0.5, n_buckets=8,
    )
    assert n > 0
    assert sorted(
        e for e in os.listdir(idx) if e.startswith("epoch=")
    ) == ["epoch=-1"]

    # fresh checkpoint: the restarted stream's FIRST batch is epoch 0
    # again; a dup of a pre-rebuild doc must still be dropped, a new
    # unique doc kept
    chk2 = str(tmp_path / "chunks2")
    batch = [("d-zz10", _text("basea")), ("d-zz11", _text("unique9"))]
    _apply(spark, batch, idx, chk2, 0, min_tokens=10)
    assert _kept(spark, chk2, 0) == {"d-zz11"}

    # crashed rebuild: marker present -> every batch refuses
    with open(idx + ".rebuilding", "w") as f:
        f.write("1")
    with pytest.raises(RuntimeError, match="unfinished rebuild"):
        _apply(spark, EPOCH2, idx, chk2, 1, min_tokens=10)
    # re-running the rebuild converges and clears the marker
    rebuild_curation_index(
        _df(spark, EPOCH0 + EPOCH1), idx,
        min_tokens=10, min_alpha_ratio=0.5, n_buckets=8,
    )
    assert not os.path.exists(idx + ".rebuilding")
    _apply(spark, EPOCH2, idx, chk2, 1, min_tokens=10)
    assert _kept(spark, chk2, 1) == {"d-ff02"}


def test_chunk_compaction_preserves_rows_and_clamps(spark, tmp_path):
    """compact_chunk_epochs: the folded chunk log holds the identical
    row set, the newest epoch is never folded (a replay may rewrite
    it), and re-running after a replay converges — the chunks-side
    mirror of test_compaction_clamps_and_survives_replay."""
    from ds_caselaw_ingester_spark.streaming.curation_sink import (
        compact_chunk_epochs,
    )

    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    for e, rows in enumerate([EPOCH0, EPOCH1, EPOCH2]):
        _apply(spark, rows, idx, chk, e)

    def _rows():
        return {
            tuple(r)
            for r in spark.read.option("basePath", chk)
            .parquet(chk).drop("epoch").collect()
        }

    before = _rows()
    assert compact_chunk_epochs(spark, chk, upto_epoch=99) == 2  # 0,1 -> 1
    assert sorted(
        e for e in os.listdir(chk) if e.startswith("epoch=")
    ) == ["epoch=1", "epoch=2"]
    assert _rows() == before
    # replay of the newest epoch after compaction still converges
    _apply(spark, EPOCH2, idx, chk, 2)
    assert _rows() == before
    # with only one epoch below the newest, the clamp refuses to fold
    assert compact_chunk_epochs(spark, chk, upto_epoch=99) == 0
    # a further epoch unblocks it: 1,2 -> 2, rows still identical
    extra = [("d-zz20", _text("unique3"))]
    _apply(spark, extra, idx, chk, 3)
    after = _rows()
    assert compact_chunk_epochs(spark, chk, upto_epoch=99) == 2
    assert sorted(
        e for e in os.listdir(chk) if e.startswith("epoch=")
    ) == ["epoch=2", "epoch=3"]
    assert _rows() == after


def test_compaction_preserves_rebuilt_epoch(spark, tmp_path):
    """Review regression: folding sources that include the rebuild's
    epoch=-1 must target -1, never a non-negative epoch — otherwise a
    fresh-checkpoint restart (the mode rebuild_curation_index blesses)
    probes `epoch < 0`, sees nothing, and its epoch-0 overwrite
    destroys the folded history."""
    from ds_caselaw_ingester_spark.streaming.curation_sink import (
        compact_index_epochs,
        rebuild_curation_index,
    )

    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    rebuild_curation_index(
        _df(spark, EPOCH0), idx, n_buckets=8,
        min_tokens=CHUNK_KW["min_tokens"],
        min_alpha_ratio=CHUNK_KW["min_alpha_ratio"],
    )
    # fresh-checkpoint stream: epochs 0 and 1
    _apply(spark, EPOCH1, idx, chk, 0)
    _apply(spark, EPOCH2, idx, chk, 1)
    all_rows = _index_rows(spark, idx)
    assert compact_index_epochs(spark, idx, upto_epoch=99) == 2  # -1,0
    # the fold target is -1 — the rebuilt partition id survives
    assert sorted(
        e for e in os.listdir(idx) if e.startswith("epoch=")
    ) == ["epoch=-1", "epoch=1"]
    assert _index_rows(spark, idx) == all_rows
    # the disaster-recovery mode: ANOTHER fresh checkpoint, epoch 0 —
    # its probe (epoch < 0) must see the folded history, so a dup of a
    # rebuilt base is rejected and the overwrite cannot destroy it
    chk2 = str(tmp_path / "chunks2")
    _apply(spark, [("d-zz30", _text("basea"))], idx, chk2, 0)
    assert _kept(spark, chk2, 0) == set()
    assert _index_rows(spark, idx) >= all_rows


def test_rebuild_recurates_chunks(spark, tmp_path):
    """Review regression (data-loss trap): rebuild_curation_index
    (chunks_path=...) must not merely DELETE the old-gate chunks — the
    rebuilt index contains every gated doc, so historical documents
    can never re-chunk through the restarted stream (each would be a
    near-dup of its own epoch=-1 band rows). The rebuild itself must
    write the new-gate keepers' chunks to chunks/epoch=-1."""
    from ds_caselaw_ingester_spark.streaming.curation_sink import (
        rebuild_curation_index,
    )

    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    _apply(spark, EPOCH0, idx, chk, 0)
    _apply(spark, EPOCH1, idx, chk, 1)
    assert os.path.isdir(os.path.join(chk, "epoch=1"))
    rebuild_curation_index(
        _df(spark, EPOCH0 + EPOCH1), idx, n_buckets=8,
        min_tokens=CHUNK_KW["min_tokens"],
        min_alpha_ratio=CHUNK_KW["min_alpha_ratio"],
        chunks_path=chk,
        chunk_tokens=CHUNK_KW["chunk_tokens"], overlap=CHUNK_KW["overlap"],
    )
    # old per-epoch dirs replaced by exactly the rebuilt corpus
    assert sorted(
        e for e in os.listdir(chk) if e.startswith("epoch=")
    ) == ["epoch=-1"]
    # the rebuild restarts the canonical order in ID order (arrival
    # history is not reconstructible from a corpus snapshot — the
    # docstring's contract), so the basea cluster's keeper flips from
    # arrival-order d-7f3a to id-order minimum d-05aa; every other
    # cluster's minima coincide
    expected = (EXPECT_KEPT[0] | EXPECT_KEPT[1]) - {"d-7f3a"} | {"d-05aa"}
    assert _kept(spark, chk, -1) == expected
    # fresh-checkpoint restart: a dup of rebuilt history is rejected
    # (empty epoch), a new unique doc chunks normally
    _apply(spark, EPOCH2, idx, chk, 0)
    assert _kept(spark, chk, 0) == EXPECT_KEPT[2]


def test_compaction_refuses_lost_sidecar(spark, tmp_path):
    """Review regression: compacting an index whose .seqmeta.json was
    lost must raise (like the batch path), not fabricate a sidecar
    entry that would bypass the batch guard and restart seqs at 0."""
    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    _apply(spark, EPOCH0, idx, chk, 0)
    _apply(spark, EPOCH1, idx, chk, 1)
    _apply(spark, EPOCH2, idx, chk, 2)
    os.remove(idx + ".seqmeta.json")
    with pytest.raises(RuntimeError, match="seqmeta"):
        compact_index_epochs(spark, idx, upto_epoch=99)
    # the documented recovery unblocks it
    rebuild_index_meta(spark, idx)
    assert compact_index_epochs(spark, idx, upto_epoch=99) == 2


def test_auto_n_buckets_bootstraps_and_pins(spark, tmp_path):
    """n_buckets='auto' (r9 queue #4): the first batch derives the
    bucket count from its own size × BOOTSTRAP_GROWTH via the
    block-sized sizing rule and pins it in the layout sidecar; later
    'auto' batches load the pinned value instead of re-deriving; keep
    decisions match the fixed-count runs."""
    import json

    from ds_caselaw_ingester_spark.operators.sizing import curation_n_buckets
    from ds_caselaw_ingester_spark.streaming.curation_sink import (
        BOOTSTRAP_GROWTH,
        _layout_path,
    )

    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    _apply(spark, EPOCH0, idx, chk, 0, n_buckets="auto")
    want = curation_n_buckets(int(len(EPOCH0) * BOOTSTRAP_GROWTH))
    with open(_layout_path(idx)) as f:
        assert json.load(f)["n_buckets"] == want
    _apply(spark, EPOCH1, idx, chk, 1, n_buckets="auto")
    with open(_layout_path(idx)) as f:
        assert json.load(f)["n_buckets"] == want
    for e in range(2):
        assert _kept(spark, chk, e) == EXPECT_KEPT[e], f"epoch {e}"


def test_auto_n_buckets_refuses_unpinned_history(spark, tmp_path):
    """'auto' over an index with committed epochs but no layout sidecar
    must raise (re-deriving a fresh count would probe history bucketed
    under an unknown B), while the explicit original count still
    works — the SemDeDup missing-quantizer guard, transplanted."""
    import os as _os

    import pytest as _pytest

    from ds_caselaw_ingester_spark.streaming.curation_sink import _layout_path

    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    _apply(spark, EPOCH0, idx, chk, 0, n_buckets=8)
    _os.remove(_layout_path(idx))
    with _pytest.raises(ValueError, match="no layout sidecar"):
        _apply(spark, EPOCH1, idx, chk, 1, n_buckets="auto")
    # the documented recovery: pass the explicit original count
    _apply(spark, EPOCH1, idx, chk, 1, n_buckets=8)
    assert _kept(spark, chk, 1) == EXPECT_KEPT[1]


def test_auto_n_buckets_from_projected_docs(spark, tmp_path):
    """run_curation_stream(n_buckets='auto', projected_docs=N) resolves
    the bucket count from the sizing rule BEFORE the first batch — the
    grow-into-corpus path — and pins it in the sidecar."""
    import json

    from ds_caselaw_ingester_spark.operators.sizing import curation_n_buckets
    from ds_caselaw_ingester_spark.streaming.curation_sink import _layout_path

    src = str(tmp_path / "src")
    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    ckpt = str(tmp_path / "ckpt")
    projected = 500_000_000  # a corpus the floor rule does NOT flatten
    want = curation_n_buckets(projected)
    assert want > 8  # non-vacuous: proves the rule, not the floor
    _df(spark, EPOCH0).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1000)
        .parquet(src)
    )
    q = run_curation_stream(
        stream, idx, chk, ckpt, n_buckets="auto",
        projected_docs=projected, **CHUNK_KW,
    )
    q.awaitTermination(120)
    q.stop()
    with open(_layout_path(idx)) as f:
        assert json.load(f)["n_buckets"] == want
    assert _kept(spark, chk, 0) == EXPECT_KEPT[0]


def test_auto_n_buckets_bootstrap_warns_at_pin_time(spark, tmp_path, caplog):
    """ADVICE r10: the first-batch auto-bootstrap pins a bucket count
    for the index's LIFE — the pin must be announced (batch size,
    derived count) with the projected_docs remedy in the message, so a
    degenerate maxFilesPerTrigger=1 cold start is never silent."""
    import logging

    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    with caplog.at_level(logging.WARNING,
                         logger="ds_caselaw_ingester_spark.streaming.curation_sink"):
        _apply(spark, EPOCH0, idx, chk, 0, n_buckets="auto")
    msgs = [r.getMessage() for r in caplog.records]
    assert any(
        "bootstrapped from the FIRST micro-batch" in m
        and "projected_docs" in m
        and "migrate_index_to_bucketed" in m
        for m in msgs
    ), msgs


def test_undersized_pin_warns_and_migration_recovers(spark, tmp_path,
                                                     caplog, monkeypatch):
    """VERDICT r10 #7: when the index's cumulative kept-doc count
    implies the sizing rule would choose >= 4x the pinned bucket count,
    a later epoch WARNs naming migrate_index_to_bucketed; the named
    migration under the larger count lets the stream continue with
    dedup intact. The sizing rule is monkeypatched to simulate the
    ~50M-doc corpus the real rule needs to trip (exercising the guard's
    wiring, not the arithmetic the sizing tests already pin)."""
    import logging

    from ds_caselaw_ingester_spark.operators import sizing as S

    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    _apply(spark, EPOCH0, idx, chk, 0, n_buckets="auto")  # pins min_b=8

    real = S.curation_n_buckets

    def huge_corpus_rule(projected_docs, **kw):
        # what the rule would return once the stream has grown far past
        # the bootstrap margin (>= 4 * the pinned 8)
        return 64 if not kw else real(projected_docs, **kw)

    monkeypatch.setattr(S, "curation_n_buckets", huge_corpus_rule)
    with caplog.at_level(logging.WARNING,
                         logger="ds_caselaw_ingester_spark.streaming.curation_sink"):
        _apply(spark, EPOCH1, idx, chk, 1, n_buckets="auto")
    msgs = [r.getMessage() for r in caplog.records]
    assert any(
        "sizing rule would choose n_buckets=64" in m
        and "migrate_index_to_bucketed" in m
        for m in msgs
    ), msgs
    monkeypatch.setattr(S, "curation_n_buckets", real)

    # the named remedy: rebuild under the larger count, stream continues
    assert migrate_index_to_bucketed(spark, idx, n_buckets=64) > 0
    _apply(spark, EPOCH2, idx, chk, 2, n_buckets="auto")
    assert _kept(spark, chk, 2) == EXPECT_KEPT[2]


def _df_long(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_undersize_guard_held_count_is_index_cardinality(spark, tmp_path):
    """The undersize guard reads the index's doc count as mx+1 from the
    dense ingest sequence. Pin that against the index itself (its
    distinct _seq count) over a three-batch corpus with gating and
    dedup drops, and pin the kept ids per epoch to the literal id-order
    answer: the ids arrive in increasing order, so the sequence follows
    the id and the keep decisions are the min-id ones. (`held` counts
    docs the INDEX holds — every gate-passing doc, tainted ones
    included, since a later dup of a DROPPED doc must still find it —
    not the smaller set of docs whose chunks were kept.)"""
    import json

    b0 = [(10, _text("xa")), (11, _text("xb")), (12, _text("xc"))]
    b1 = [
        (20, _text("xa")),      # dup of base 10 -> dropped
        (21, _text("pairp")),   # new-new pair: min id keeps 21
        (22, _text("pairp")),
        (23, "too short"),      # gated out
    ]
    b2 = [(30, _text("pairp")), (31, _text("xz"))]  # 30 dups a dropped doc

    idx, chk = str(tmp_path / "idx"), str(tmp_path / "chunks")
    for epoch, rows in enumerate((b0, b1, b2)):
        apply_curation_batch(
            _df_long(spark, rows), idx, chk, epoch_id=epoch, n_buckets=8,
            **CHUNK_KW,
        )
    with open(idx + ".seqmeta.json") as f:
        meta = json.load(f)
    held = max(int(v) for v in meta["epochs"].values()) + 1
    indexed = (
        spark.read.option("basePath", idx).parquet(idx)
        .select(SEQ_COL).distinct().count()
    )
    # every gate-passing doc is index-held (3 in b0, 3 in b1 — 23 is
    # gated out — and 2 in b2), dropped-by-dedup or not
    assert held == indexed == 8, (held, indexed)
    assert {e: _kept(spark, chk, e) for e in range(3)} == {
        0: {10, 11, 12},
        1: {21},
        2: {31},
    }
