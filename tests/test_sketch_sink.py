"""Streaming HLL rollup sink: the maintained register table must
converge to the batch hll_registers over everything streamed whatever
the micro-batch boundaries, redelivered batches must be an ALGEBRAIC
no-op (register max is idempotent — the sink has no epoch sidecar on
purpose), and the stored-state estimate must equal batch hll_distinct.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.sketches import (
    hll_distinct,
    hll_registers,
)
from ds_caselaw_ingester_spark.streaming.sketch_sink import (
    apply_sketch_batch,
    sink_estimate,
)

SF = "/root/testdata/sf0.001"


def _registers(spark, path):
    return {
        (r["event_type"], r["j"]): r["M"]
        for r in spark.read.parquet(path).collect()
    }


def _batch_registers(df):
    return {
        (r["event_type"], r["j"]): r["M"]
        for r in hll_registers(df, ["event_type"], "user_id", p=8).collect()
    }


def test_batches_converge_to_batch_registers(spark, tmp_path):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    path = str(tmp_path / "regs")
    apply_sketch_batch(ev.where("event_id % 2 = 0"), path, ["event_type"], "user_id")
    apply_sketch_batch(ev.where("event_id % 2 = 1"), path, ["event_type"], "user_id")
    assert _registers(spark, path) == _batch_registers(ev)


def test_redelivery_is_algebraic_noop(spark, tmp_path):
    """Crash-after-commit replay: max-merging the same batch twice is
    byte-identical state — the property that lets this sink skip the
    drift sink's epoch sidecar."""
    ev = spark.read.parquet(f"{SF}/events.parquet").where("event_id % 3 = 0")
    path = str(tmp_path / "regs")
    apply_sketch_batch(ev, path, ["event_type"], "user_id")
    once = _registers(spark, path)
    apply_sketch_batch(ev, path, ["event_type"], "user_id")  # redelivered
    assert _registers(spark, path) == once


def test_empty_batch_is_noop(spark, tmp_path):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    path = str(tmp_path / "regs")
    apply_sketch_batch(ev, path, ["event_type"], "user_id")
    once = _registers(spark, path)
    apply_sketch_batch(ev.where("1 = 0"), path, ["event_type"], "user_id")
    assert _registers(spark, path) == once


def test_sink_estimate_equals_batch_hll_distinct(spark, tmp_path):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    path = str(tmp_path / "regs")
    for i in range(3):
        apply_sketch_batch(
            ev.where(f"event_id % 3 = {i}"), path, ["event_type"], "user_id"
        )
    got = {
        r["event_type"]: r.asDict()
        for r in sink_estimate(spark, path, ["event_type"]).collect()
    }
    want = {
        r["event_type"]: r.asDict()
        for r in hll_distinct(ev, ["event_type"], "user_id", p=8).collect()
    }
    assert got == want


def test_mismatched_identity_is_refused(spark, tmp_path):
    """Registers at a different p (bucket space) or hashed column
    max-merge without a schema error; the sidecar guard must refuse
    both, and the stored table must be unchanged."""
    import pytest

    ev = spark.read.parquet(f"{SF}/events.parquet")
    path = str(tmp_path / "regs")
    apply_sketch_batch(ev, path, ["event_type"], "user_id", p=8)
    once = _registers(spark, path)
    with pytest.raises(ValueError, match="refusing"):
        apply_sketch_batch(ev, path, ["event_type"], "user_id", p=4)
    with pytest.raises(ValueError, match="refusing"):
        apply_sketch_batch(ev, path, ["event_type"], "event_id", p=8)
    assert _registers(spark, path) == once


def test_sink_estimate_reads_p_from_sidecar(spark, tmp_path):
    """Estimating at the wrong m is the same corruption class the
    write guard refuses: the default path must take p from the
    sidecar, an explicit conflicting p must raise, and a sidecar-less
    table must demand an explicit p."""
    import os

    import pytest

    ev = spark.read.parquet(f"{SF}/events.parquet")
    path = str(tmp_path / "regs")
    apply_sketch_batch(ev, path, ["event_type"], "user_id", p=4)
    est = {r["event_type"]: r["est_distinct"]
           for r in sink_estimate(spark, path, ["event_type"]).collect()}
    want = {r["event_type"]: r["est_distinct"]
            for r in hll_distinct(ev, ["event_type"], "user_id", p=4).collect()}
    assert est == want
    with pytest.raises(ValueError, match="p=4"):
        sink_estimate(spark, path, ["event_type"], p=8)
    os.remove(os.path.join(path, "_hll_meta"))  # pre-sidecar table
    with pytest.raises(ValueError, match="pass p explicitly"):
        sink_estimate(spark, path, ["event_type"])
    est2 = {r["event_type"]: r["est_distinct"]
            for r in sink_estimate(spark, path, ["event_type"], p=4).collect()}
    assert est2 == want
