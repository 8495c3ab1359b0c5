"""Property tests for the round-8 machinery: the touched-partition swap
state machine preserves exactly the intended post-state from any crash
point recover_buckets can see; the occupancy guard's healthy bound is
tight at the boundary."""

from __future__ import annotations

import os

from hypothesis import given, settings
from hypothesis import strategies as st

# ---------------------------------------------------------------------------
# occupancy guard boundary
# ---------------------------------------------------------------------------


@given(
    st.integers(min_value=1, max_value=10**7),
    st.integers(min_value=1, max_value=512),
)
@settings(max_examples=200, deadline=None)
def test_occupancy_guard_boundary(n_rows, occ):
    """Uniform buckets at exactly the target occupancy always pass; one
    bucket holding everything fails once the corpus is large enough
    that its quadratic bound exceeds warn_factor x the healthy bound."""
    from ds_caselaw_ingester_spark.operators.sizing import occupancy_guard

    # perfectly uniform layout at occupancy `occ`
    n_buckets = max(1, n_rows // max(1, occ))
    rows = n_buckets * occ
    uniform = {
        "n_buckets": n_buckets,
        "n_rows": rows,
        "max_occupancy": occ,
        "mean_occupancy": float(occ),
        "candidate_bound": n_buckets * occ * (occ - 1) // 2,
    }
    if occ <= 64:  # at/below target: candidate bound <= healthy bound
        assert occupancy_guard(uniform)
    hot = {
        "n_buckets": 1,
        "n_rows": n_rows,
        "max_occupancy": n_rows,
        "mean_occupancy": float(n_rows),
        "candidate_bound": n_rows * (n_rows - 1) // 2,
    }
    healthy = max(1.0, n_rows * 64 / 2.0)
    expect_ok = hot["candidate_bound"] <= 4.0 * healthy
    assert occupancy_guard(hot) == expect_ok


# ---------------------------------------------------------------------------
# swap state machine: every crash point of swap_partition_dirs leaves a
# state recover_buckets restores to the intended post-state
# ---------------------------------------------------------------------------


@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=5),
        st.booleans(),
        min_size=1, max_size=6,
    ),
    st.integers(min_value=0, max_value=20),
)
@settings(max_examples=120, deadline=None)
def test_swap_crash_points_recover(tmp_path_factory, touched_has_tmp, crash_step):
    """Simulate swap_partition_dirs over `touched` partitions where some
    have replacement data in tmp and some were emptied, crashing after
    `crash_step` rename/rmtree operations; recover_buckets must then
    yield, for every touched partition: the NEW data if its swap had
    fully installed the replacement, else either old or new complete
    data — NEVER a missing partition that had data on both sides, and
    never a lingering .old."""
    import shutil

    base = tmp_path_factory.mktemp("swap")
    local, tmp = str(base / "t"), str(base / "t.tmp")
    touched = sorted(touched_has_tmp)
    for b in touched:
        d = os.path.join(local, f"kb={b}")
        os.makedirs(d)
        open(os.path.join(d, "old.parquet"), "w").write("old")
        if touched_has_tmp[b]:
            td = os.path.join(tmp, f"kb={b}")
            os.makedirs(td)
            open(os.path.join(td, "new.parquet"), "w").write("new")

    # re-implement the swap loop with a crash counter (the real function
    # has no injection hook; the operation sequence is identical)
    ops = 0

    class Crash(Exception):
        pass

    def step():
        nonlocal ops
        ops += 1
        if ops > crash_step:
            raise Crash

    try:
        os.makedirs(local, exist_ok=True)
        for b in touched:
            src = os.path.join(tmp, f"kb={b}")
            dst = os.path.join(local, f"kb={b}")
            old = dst + ".old"
            step(); shutil.rmtree(old, ignore_errors=True)
            if os.path.exists(dst):
                step(); os.rename(dst, old)
            if os.path.exists(src):
                step(); os.rename(src, dst)
            step(); shutil.rmtree(old, ignore_errors=True)
        step(); shutil.rmtree(tmp, ignore_errors=True)
        crashed = False
    except Crash:
        crashed = True

    from ds_caselaw_ingester_spark.operators.compaction import recover_buckets

    recover_buckets(local)
    assert not any(e.endswith(".old") for e in os.listdir(local))
    for b in touched:
        d = os.path.join(local, f"kb={b}")
        if touched_has_tmp[b]:
            # data existed on both sides: partition must exist with a
            # complete copy (old before its swap, new after)
            assert os.path.isdir(d), f"kb={b} lost"
            files = set(os.listdir(d))
            assert files in ({"old.parquet"}, {"new.parquet"}), files
        else:
            # emptied partition: old copy until its rmtree, gone after;
            # both states are legitimate — what must NEVER happen is a
            # half state (.old leftovers are cleaned by recovery)
            if os.path.isdir(d):
                assert set(os.listdir(d)) == {"old.parquet"}
    if not crashed:
        # completed swap: exact intended post-state
        for b in touched:
            d = os.path.join(local, f"kb={b}")
            if touched_has_tmp[b]:
                assert set(os.listdir(d)) == {"new.parquet"}
            else:
                assert not os.path.exists(d)
