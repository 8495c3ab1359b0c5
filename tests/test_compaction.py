"""The per-partition swap protocol: an emptied touched partition is
removed, and the layout guard validates legacy tables before pinning."""

from __future__ import annotations


def test_swap_partition_dirs_removes_emptied_partition(tmp_path):
    """A touched partition value with NO rows in the materialized tmp
    (the increment emptied it) must end with the partition directory
    REMOVED — the correct post-state, not data loss — while untouched
    partitions are never opened."""
    import os

    from ds_caselaw_ingester_spark.operators.compaction import (
        recover_buckets,
        swap_partition_dirs,
    )

    local = str(tmp_path / "tbl")
    tmp = local + ".tmp"
    for b, names in [(0, ["a.parquet"]), (1, ["b.parquet"]), (2, ["c.parquet"])]:
        d = os.path.join(local, f"kb={b}")
        os.makedirs(d)
        for n in names:
            open(os.path.join(d, n), "w").write("x")
    # tmp holds a replacement for kb=0 and NOTHING for kb=1 (emptied)
    os.makedirs(os.path.join(tmp, "kb=0"))
    open(os.path.join(tmp, "kb=0", "new.parquet"), "w").write("y")
    swap_partition_dirs(local, tmp, [0, 1], "kb")
    assert os.listdir(os.path.join(local, "kb=0")) == ["new.parquet"]
    assert not os.path.exists(os.path.join(local, "kb=1"))  # emptied
    assert os.listdir(os.path.join(local, "kb=2")) == ["c.parquet"]  # untouched
    assert not os.path.exists(tmp)
    # idempotent recovery afterwards is a no-op
    recover_buckets(local)
    assert sorted(os.listdir(local)) == ["kb=0", "kb=2"]


def test_layout_guard_validates_legacy_tables_and_pins_after_write(tmp_path):
    """Review regressions (r8, second pass): a sidecar-less legacy table
    must validate its on-disk partition VALUES before adoption (kb=40
    under n_buckets=32 proves a larger legacy modulus — raise), and the
    sidecar is pinned by the WRITER after a successful swap, so an
    aborted first batch pins nothing."""
    import json
    import os

    import pytest

    from ds_caselaw_ingester_spark.operators.compaction import (
        ensure_partitioned_layout,
        pin_partitioned_layout,
    )

    # legacy table hashed under 64: kb=40 exists
    legacy = str(tmp_path / "legacy")
    for b in (3, 40):
        d = os.path.join(legacy, f"kb={b}")
        os.makedirs(d)
        open(os.path.join(d, "x.parquet"), "w").write("x")
    with pytest.raises(ValueError, match="outside"):
        ensure_partitioned_layout(legacy, "kb", 32)
    # under the true modulus the table adopts a sidecar
    ensure_partitioned_layout(legacy, "kb", 64)
    meta = json.load(open(legacy + ".layout.json"))
    assert meta == {"col": "kb", "n_buckets": 64}

    # empty path: ensure pins NOTHING (aborted first batch), the writer
    # pins after the swap, and a later modulus change raises
    fresh = str(tmp_path / "fresh")
    ensure_partitioned_layout(fresh, "kb", 8)
    assert not os.path.exists(fresh + ".layout.json")
    pin_partitioned_layout(fresh, "kb", 8)
    with pytest.raises(ValueError, match="bucket"):
        ensure_partitioned_layout(fresh, "kb", 16)
