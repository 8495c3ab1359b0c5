"""Property tests for the round-7 machinery: the sizing rules keep their
occupancy invariants over the whole input range, and the swap-recovery
state machine never deletes the only copy from ANY crash state."""

from __future__ import annotations

import os

from hypothesis import given, settings
from hypothesis import strategies as st

from ds_caselaw_ingester_spark.operators.sizing import (
    LSH_TARGET_OCCUPANCY,
    duplication_scaled_df_cap,
    lsh_num_planes,
    semdedup_num_clusters,
)

# ---------------------------------------------------------------------------
# sizing invariants
# ---------------------------------------------------------------------------


@given(st.integers(min_value=1, max_value=10**13))
def test_lsh_occupancy_invariant(n):
    """Inside the clamp region, expected occupancy n/2^planes stays in
    (target/2, target] — the derivation ceil(log2(n/target)) promises
    exactly this band; outside it the clamp binds."""
    p = lsh_num_planes(n)
    assert 4 <= p <= 24
    occ = n / (1 << p)
    raw_would_be = lsh_num_planes(n, min_planes=0, max_planes=10**6)
    if raw_would_be == p:  # clamp not binding
        assert occ <= LSH_TARGET_OCCUPANCY
        if p > 0:
            assert occ > LSH_TARGET_OCCUPANCY / 2


@given(st.integers(min_value=1, max_value=10**13))
def test_semdedup_cell_invariant(n):
    k = semdedup_num_clusters(n)
    assert 4 <= k <= 1 << 16
    if 4 < k < 1 << 16:  # clamp not binding
        assert (n + 999) // 1000 == k


@given(st.integers(min_value=0, max_value=10**9))
def test_df_cap_monotone_and_floored(typical_df):
    cap = duplication_scaled_df_cap(typical_df)
    assert cap >= 50
    assert duplication_scaled_df_cap(typical_df + 1) >= cap


# ---------------------------------------------------------------------------
# recover_swap: state-machine safety over every crash state
# ---------------------------------------------------------------------------


def _mk(path, content):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "data"), "w") as f:
        f.write(content)


def _read(path):
    with open(os.path.join(path, "data")) as f:
        return f.read()


@given(st.booleans(), st.booleans(), st.booleans())
@settings(max_examples=8, deadline=None)
def test_recover_swap_never_deletes_the_only_copy(has_local, has_tmp, has_old):
    """For every combination of {local, tmp, old} existing (the sole
    writer's crash states): after recovery, if ANY complete copy
    existed, a complete copy exists at `local` — and it is the newest
    available (tmp supersedes old)."""
    import shutil
    import tempfile

    from ds_caselaw_ingester_spark.operators.compaction import recover_swap

    base = tempfile.mkdtemp()
    try:
        local, tmp, old = (
            os.path.join(base, "t"),
            os.path.join(base, "t.tmp"),
            os.path.join(base, "t.old"),
        )
        if has_local:
            _mk(local, "local")
        if has_tmp:
            _mk(tmp, "tmp")
        if has_old:
            _mk(old, "old")
        recover_swap(local, tmp, old)
        if has_local:
            # an existing local always survives recovery untouched
            assert _read(local) == "local"
        elif has_old and has_tmp:
            # crash between renames: tmp is the finished successor
            assert _read(local) == "tmp"
        elif has_old:
            # crash after moving aside: the backup is restored
            assert _read(local) == "old"
        else:
            assert not os.path.exists(local)
        # no recovery path leaves a backup or staging dir behind when
        # local holds a copy (stale dirs would poison the next run)
        if os.path.exists(local):
            assert not os.path.exists(old)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# parse_messages is TOTAL: arbitrary bodies never throw, they classify
# ---------------------------------------------------------------------------

import json as _json

import pytest


@pytest.fixture(scope="module")
def _parse_spark(spark):
    return spark


def test_parse_messages_total_over_hostile_bodies(spark):
    """The poison-message class, swept: malformed JSON, wrong shapes,
    empty Records, missing keys, nulls — every row must come out with a
    kind in {v2, s3, invalid} and NEVER abort the batch (under ANSI
    mode a single throwing expression fails the whole trigger and the
    checkpoint replays it forever)."""
    from ds_caselaw_ingester_spark.sources.messages import parse_messages

    bodies = [
        "not json at all",
        "",
        "{}",
        _json.dumps({"Message": "also not json"}),
        _json.dumps({"Message": "{}"}),
        _json.dumps({"Message": _json.dumps({"Records": []})}),
        _json.dumps({"Message": _json.dumps({"Records": [{}]})}),
        _json.dumps({"Message": _json.dumps({"Records": [{"eventSource": "aws:s3"}]})}),
        _json.dumps({"Message": _json.dumps(
            {"Records": [{"eventSource": "aws:s3", "s3": {}}]})}),
        _json.dumps({"Message": _json.dumps({"parameters": {}})}),
        _json.dumps({"Message": _json.dumps({"parameters": {"reference": "  "}})}),
        _json.dumps({"Message": _json.dumps({"parameters": None})}),
        _json.dumps({"Message": None}),
        None,
    ]
    records = spark.createDataFrame(
        [(f"m{i}", "aws:sqs", b) for i, b in enumerate(bodies)],
        "message_id string, event_source string, body string",
    )
    rows = parse_messages(records).collect()
    assert len(rows) == len(bodies)
    assert {r["kind"] for r in rows} <= {"v2", "s3", "invalid"}
    # nothing with a missing/blank reference may classify as ingestable
    for r in rows:
        if r["kind"] in ("v2", "s3"):
            assert r["consignment_ref"]


# ---------------------------------------------------------------------------
# exact-substring spans vs a pure-Python model
# ---------------------------------------------------------------------------


def _py_duplicate_spans(texts, n, min_count=2):
    """Reference model of duplicate_spans: corpus n-gram counts, per-doc
    duplicated positions, gaps-and-islands merge with gap > n."""
    from collections import Counter

    toks = {d: t.split() for d, t in texts.items()}
    cnt = Counter()
    for ts in toks.values():
        for i in range(len(ts) - n + 1):
            cnt[" ".join(ts[i : i + n])] += 1
    spans = []
    for d, ts in toks.items():
        dup = [
            i + 1
            for i in range(len(ts) - n + 1)
            if cnt[" ".join(ts[i : i + n])] >= min_count
        ]
        start = last = None
        for p in dup:
            if start is None:
                start, last = p, p
            elif p - last > n:
                spans.append((d, start, last + n - 1, last + n - start))
                start, last = p, p
            else:
                last = p
        if start is not None:
            spans.append((d, start, last + n - 1, last + n - start))
    return spans


def _py_strip(texts, spans):
    covered = {}
    for d, s, e, _ in spans:
        covered.setdefault(d, set()).update(range(s, e + 1))
    out = {}
    for d, t in texts.items():
        if d not in covered:
            out[d] = t
        else:
            ts = t.split()
            out[d] = " ".join(
                tok for i, tok in enumerate(ts, 1) if i not in covered[d]
            )
    return out


@settings(max_examples=15, deadline=None)
@given(
    st.dictionaries(
        st.integers(min_value=1, max_value=9),
        st.lists(st.sampled_from("abc"), max_size=14).map(" ".join),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=2, max_value=4),
)
def test_span_detect_and_cut_match_python_model(spark, texts, n):
    """A 3-letter alphabet forces dense window collisions — within and
    across documents, overlapping, adjacent, and whole-doc spans all
    occur. The Spark detect AND cut must equal the model exactly, and
    the cut's own invariant must hold: every ORIGINAL window surviving
    the cut is corpus-unique (the reason the pass terminates)."""
    from ds_caselaw_ingester_spark.operators.dedup import (
        duplicate_spans,
        strip_spans,
    )

    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    spans = duplicate_spans(docs, "doc_id", "text", n=n)
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in spans.collect()
    }
    assert got == set(_py_duplicate_spans(texts, n))

    stripped = {
        r["doc_id"]: r["text"]
        for r in strip_spans(docs, "doc_id", "text", spans).collect()
    }
    assert stripped == _py_strip(texts, _py_duplicate_spans(texts, n))

    # invariant: no window of the ORIGINAL tokenisation survives twice
    from collections import Counter

    cnt = Counter()
    for t in texts.values():
        ts = t.split()
        for i in range(len(ts) - n + 1):
            cnt[" ".join(ts[i : i + n])] += 1
    covered = {}
    for d, s, e, _ in got:
        covered.setdefault(d, set()).update(range(s, e + 1))
    for d, t in stripped.items():
        orig = texts[d].split()
        kept_ts = t.split()
        # kept positions come from the span coverage — GROUND TRUTH, not
        # a greedy subsequence walk: with a 3-letter alphabet the kept
        # sequence embeds into the original many ways, and the leftmost
        # embedding can map a cross-gap pair onto covered-but-equal
        # tokens that WERE contiguous, spuriously failing the check
        # (found on 'a b c c a a b c c b', n=2: kept = positions 5,10
        # but greedy mapped them to 1,2)
        pos_map = [
            i for i in range(1, len(orig) + 1) if i not in covered.get(d, set())
        ]
        assert [orig[i - 1] for i in pos_map] == kept_ts
        for i in range(len(kept_ts) - n + 1):
            if pos_map[i + n - 1] - pos_map[i] == n - 1:  # contiguous
                assert cnt[" ".join(kept_ts[i : i + n])] == 1
