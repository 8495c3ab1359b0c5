"""Connected components / canonical dedup assignment: randomized
equivalence against a pure-Python union-find, plus the end-to-end
pairs->clusters path on the planted near-dup corpus."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from ds_caselaw_ingester_spark.operators.cluster import (
    canonical_assignment,
    connected_components,
)


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # relabel every node to the min of its component
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return {n: min([r] + members) for r, members in comp.items() for n in members}


@pytest.mark.parametrize("seed", [7, 40, 1234])
def test_components_match_union_find(spark, seed):
    rng = random.Random(seed)
    n_nodes, n_edges = 200, 260  # several multi-node components + chains
    edges = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _union_find_components(edges)

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.node: r.component for r in connected_components(df).collect()
    }
    assert got == expected


def test_long_chain_converges_and_labels_min(spark):
    """A 40-node path graph is the worst diameter case for label
    propagation; min-label doubling must still converge well inside
    max_iter and label every node with the chain head."""
    edges = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.node: r.component
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert got == {i: 0 for i in range(41)}


def test_nonconvergence_raises(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(40)], "doc_a long, doc_b long")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2, driver_threshold=0)
    # the raise path must restore the loop-scoped conf too (finally)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_canonical_assignment_end_to_end(spark, sf_dir):
    """documents + planted near-dup pairs -> every planted copy marked
    duplicate of its source; untouched docs are singleton canonicals."""
    from ds_caselaw_ingester_spark.plans.registry import all_specs

    # keep real near-dups only: LSH banding admits false-positive
    # candidates whose signature agreement is low — exactly what a
    # production dedup would threshold away before clustering
    pairs = (
        all_specs()["minhash_lsh_pairs"]
        .fn(spark, sf_dir)
        .where(F.col("est_jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    docs = spark.createDataFrame(
        [(i,) for i in range(0, 100)] + [(i + 1000000000,) for i in range(0, 100, 10)],
        "doc_id long",
    )
    out = {r.doc_id: r for r in canonical_assignment(docs, pairs).collect()}

    # expected assignment from an independent union-find over the SAME
    # pairs (the corpus contains organic exact duplicates beyond the
    # planted ones — e.g. identical short texts — so components are
    # computed, not assumed)
    edge_list = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    expected = _union_find_components(edge_list)
    for r in out.values():
        want = expected.get(r.doc_id, r.doc_id)  # unpaired -> singleton
        assert r.component == want, (r, want)
        assert r.is_duplicate == (want != r.doc_id)

    # and the planted copies specifically must share their source's
    # component and be marked duplicates
    for i in range(0, 100, 10):
        assert out[i + 1000000000].component == out[i].component
        assert out[i + 1000000000].is_duplicate


def test_quality_keep_one_duckdb_replay(spark):
    """quality_keep_one's selection rule (arg max score, ties -> min id,
    NULL score loses to any scored member, all-NULL component -> min id)
    replayed by DuckDB over the SAME components. Components come from
    the already-tested connected_components; the oracle re-derives the
    keeper per component with an explicit ORDER BY, so the
    min(struct(-score, id)) encoding is pinned against the plain-SQL
    statement of the rule."""
    import duckdb

    from ds_caselaw_ingester_spark.operators.cluster import quality_keep_one

    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (30, 31), (50, 51), (60, 61)]
    docs = [
        # component {1,2,3}: min id is LOW quality — keeper must be 2
        (1, 0.1), (2, 0.9), (3, 0.5),
        # component {10,11}: exact score tie — keeper = min id 10
        (10, 0.7), (11, 0.7),
        # component {20,21}: min id unscored — scored 21 wins
        (20, None), (21, 0.2),
        # component {30,31}: all NULL — falls back to min id 30
        (30, None), (31, None),
        # singleton, keeper of itself even when unscored
        (40, None),
        # component {50,51}: NaN counts as unscored — finite 51 wins
        (50, float("nan")), (51, 0.01),
        # component {60,61}: NaN vs NULL — the case that DISCRIMINATES
        # the nanvl fix: both map to -inf, tie-break -> min id 60.
        # Pre-fix, -NaN sorted above +inf in Spark's nan-aware struct
        # ordering, so the NULL member 61 won — a NaN-scored doc losing
        # to an unscored one
        (60, float("nan")), (61, None),
    ]
    docs_df = spark.createDataFrame(docs, "doc_id long, score double")
    edges_df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.doc_id: (r.component, r.keeper_id, r.is_duplicate)
        for r in quality_keep_one(docs_df, edges_df).collect()
    }

    comp = _union_find_components(edges)
    con = duckdb.connect()
    con.execute("create table docs(doc_id bigint, score double)")
    con.executemany("insert into docs values (?, ?)", docs)
    con.execute("create table comp(doc_id bigint, component bigint)")
    con.executemany(
        "insert into comp values (?, ?)",
        [(d, comp.get(d, d)) for d, _ in docs],
    )
    oracle = con.execute(
        """
        with ranked as (
          select c.doc_id, c.component, d.score,
                 row_number() over (
                   partition by c.component
                   order by coalesce(
                     case when isnan(d.score) then NULL else d.score end,
                     -1e308) desc, c.doc_id asc
                 ) as rk
          from comp c join docs d using (doc_id)
        ),
        keepers as (select component, doc_id as keeper_id from ranked where rk = 1)
        select r.doc_id, r.component, k.keeper_id,
               r.doc_id <> k.keeper_id as is_duplicate
        from ranked r join keepers k using (component)
        """
    ).fetchall()
    want = {r[0]: (r[1], r[2], r[3]) for r in oracle}
    assert got == want
    # spot-pin the cases the rule exists for
    assert got[1] == (1, 2, True) and got[3] == (1, 2, True)
    assert got[10] == (10, 10, False) and got[11] == (10, 10, True)
    assert got[20] == (20, 21, True)
    assert got[30] == (30, 30, False)
    assert got[40] == (40, 40, False)
    assert got[50] == (50, 51, True) and got[51] == (50, 51, False)
    assert got[60] == (60, 60, False) and got[61] == (60, 60, True)


def test_leakage_safe_split_duckdb_replay(spark):
    """leakage_safe_split: every near-dup component is wholly inside one
    split (the property the operator exists for), the per-row assignment
    is replayed exactly by DuckDB's statement of the md5 arithmetic, the
    realized fractions track the requested ones on a singleton-heavy
    corpus, and a re-salt re-draws the assignment."""
    import duckdb
    import pytest

    from ds_caselaw_ingester_spark.operators.cluster import leakage_safe_split

    edges = [(i, i + 5000) for i in range(0, 400, 4)]  # 100 two-doc clusters
    docs_df = spark.createDataFrame(
        [(i,) for i in range(2000)] + [(i + 5000,) for i in range(0, 400, 4)],
        "doc_id long",
    )
    edges_df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = leakage_safe_split(docs_df, edges_df, splits, salt="s1").collect()
    got = {r.doc_id: (r.component, r.split) for r in out}

    # no component straddles a split
    for a, b in edges:
        assert got[a] == got[b]

    # exact DuckDB replay of component -> fraction -> range walk
    con = duckdb.connect()
    con.execute("create table assign(doc_id bigint, component bigint)")
    con.executemany(
        "insert into assign values (?, ?)", [(d, c) for d, (c, _) in got.items()]
    )
    oracle = dict(
        con.execute(
            """
            select doc_id,
                   case when f < 0.8 then 'train'
                        when f < 0.9 then 'val'
                        else 'test' end
            from (select doc_id,
                         ('0x' || substr(md5('s1' || component), 1, 13))::BIGINT
                           / 16.0 ** 13 as f
                  from assign)
            """
        ).fetchall()
    )
    assert {d: s for d, (_, s) in got.items()} == oracle

    # realized fractions near requested (2100 docs, binomial tolerance)
    from collections import Counter

    c = Counter(s for _, s in got.values())
    n = len(got)
    assert abs(c["train"] / n - 0.8) < 0.05
    assert abs(c["val"] / n - 0.1) < 0.04
    assert abs(c["test"] / n - 0.1) < 0.04

    # re-salt re-draws; same salt is a fixpoint
    out2 = {r.doc_id: r.split for r in
            leakage_safe_split(docs_df, edges_df, splits, salt="s2").collect()}
    assert any(out2[d] != s for d, (_, s) in got.items())
    out1b = {r.doc_id: r.split for r in
             leakage_safe_split(docs_df, edges_df, splits, salt="s1").collect()}
    assert out1b == {d: s for d, (_, s) in got.items()}

    with pytest.raises(ValueError, match="sum to 1"):
        leakage_safe_split(docs_df, edges_df, {"train": 0.5, "val": 0.4})


@pytest.mark.parametrize("seed", [3, 91])
def test_keeper_and_split_match_python_model_on_random_graphs(spark, seed):
    """quality_keep_one and leakage_safe_split against a pure-Python
    model (union-find + the same arg-max/md5 rules) on a random graph
    with random scores including NULLs and exact ties — the structured
    DuckDB replays pin the rules on curated cases; this pins them on
    adversarially messy ones."""
    import hashlib
    import random

    from ds_caselaw_ingester_spark.operators.cluster import (
        leakage_safe_split,
        quality_keep_one,
    )

    rng = random.Random(seed)
    n = 150
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(120)]
    edges = [(a, b) for a, b in edges if a != b]
    # coarse scores force ties; ~1/4 NULL
    docs = [
        (i, None if rng.random() < 0.25 else float(rng.randrange(4)))
        for i in range(n)
    ]
    comp_of = _union_find_components(edges)
    comp = {i: comp_of.get(i, i) for i in range(n)}
    members: dict[int, list[int]] = {}
    for i, c in comp.items():
        members.setdefault(c, []).append(i)
    score = dict(docs)
    want_keeper = {
        c: min(ms, key=lambda i: (-(score[i] if score[i] is not None else float("-inf")), i))
        for c, ms in members.items()
    }

    docs_df = spark.createDataFrame(docs, "doc_id long, score double")
    edges_df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: r for r in quality_keep_one(docs_df, edges_df).collect()}
    for i in range(n):
        assert got[i].component == comp[i]
        assert got[i].keeper_id == want_keeper[comp[i]], (i, got[i])
        assert got[i].is_duplicate == (i != want_keeper[comp[i]])

    splits = {"train": 0.7, "val": 0.3}
    out = {r.doc_id: r.split for r in
           leakage_safe_split(docs_df, edges_df, splits, salt="z").collect()}
    for i in range(n):
        frac = int(hashlib.md5(f"z{comp[i]}".encode()).hexdigest()[:13], 16) / 16.0**13
        assert out[i] == ("train" if frac < 0.7 else "val"), (i, comp[i], frac)


def test_driver_and_loop_paths_agree(spark):
    """Optimization round 14: small edge sets take a driver-side
    numpy fast path (one bounded Arrow fetch) instead of the iterative
    loop. Both paths must produce the IDENTICAL min-label fixpoint —
    pinned here on a mixed graph (cliques, a chain, singleton-adjacent
    pairs, unordered/duplicate edges)."""
    import random

    rng = random.Random(20140817)
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    edges += [(200, 201), (201, 202), (202, 203)]  # chain
    edges += [(b, a) for a, b in edges[:10]]  # reversed duplicates
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    from ds_caselaw_ingester_spark.operators.cluster import (
        connected_components,
    )

    via_driver = {
        (r.node, r.component)
        for r in connected_components(df).collect()  # under threshold
    }
    via_loop = {
        (r.node, r.component)
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert via_driver == via_loop
    # and the driver path must also hold for an id type that is not
    # numeric (the operator is generic over orderable ids)
    sdf = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "doc_a string, doc_b string"
    )
    got = {
        (r.node, r.component) for r in connected_components(sdf).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")
    }


def test_driver_path_empty_edges(spark):
    """Zero pairs (a clean corpus increment) must yield an EMPTY labels
    frame with the right schema on the driver path — downstream left
    joins then make every doc its own singleton."""
    from ds_caselaw_ingester_spark.operators.cluster import (
        connected_components,
    )

    df = spark.createDataFrame([], "doc_a long, doc_b long")
    out = connected_components(df)
    assert out.columns == ["node", "component"]
    assert out.count() == 0


def test_driver_min_label_np_matches_union_find():
    """Optimization round 14: the driver CC fast path factorizes ids and
    runs a numpy scatter-min label propagation (C-speed); this pins
    fixpoint equality with the pure-Python union-find oracle above on
    random graphs at several densities, string ids, self-loops,
    duplicate and reversed edges."""
    import numpy as np

    from ds_caselaw_ingester_spark.operators.cluster import (
        _driver_min_label_np,
    )

    rng = random.Random(20260818)
    for n_nodes, n_edges in ((10, 4), (50, 50), (120, 150), (300, 900)):
        a = [rng.randrange(n_nodes) for _ in range(n_edges)]
        b = [rng.randrange(n_nodes) for _ in range(n_edges)]
        a += [7]  # self-loop
        b += [7]
        a += a[:5]  # duplicates
        b += b[:5]
        got = _driver_min_label_np(np.array(a), np.array(b))
        assert dict(zip(got[0].tolist(), got[1].tolist())) == (
            _union_find_components(list(zip(a, b)))
        )

    # string ids (numpy '<U' sort == Python lexicographic sort)
    sa = [f"doc-{rng.randrange(40):03d}" for _ in range(60)]
    sb = [f"doc-{rng.randrange(40):03d}" for _ in range(60)]
    got = _driver_min_label_np(np.array(sa, dtype=str), np.array(sb, dtype=str))
    assert dict(zip(got[0].tolist(), got[1].tolist())) == (
        _union_find_components(list(zip(sa, sb)))
    )


def test_cc_arrow_fetch_execution_failure_propagates(spark, monkeypatch):
    """ADVICE r14: an AttributeError/TypeError raised from INSIDE
    toArrow is a real execution failure and must PROPAGATE — the bounded
    fetch has no except around the call and no collect() fallback that
    would silently re-run the query."""
    import pytest

    from ds_caselaw_ingester_spark.operators.cluster import (
        connected_components,
    )

    df = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")

    def _boom(self):
        raise AttributeError("executor died mid-fetch")

    monkeypatch.setattr(type(df), "toArrow", _boom)
    with pytest.raises(AttributeError, match="executor died"):
        connected_components(df)


def test_cc_declined_large_graph_takes_distributed_loop(spark, monkeypatch):
    """Ids the numpy path declines (float ids here) take the distributed
    loop at ANY size — under the default threshold too, where the graph
    would otherwise fit the driver path. A spy on _min_label_loop proves
    the path."""
    from ds_caselaw_ingester_spark.operators import cluster

    edges = [(float(i), float(i + 1)) for i in range(0, 40, 2)] + [
        (10.0, 11.0)
    ]
    df = spark.createDataFrame(edges, "doc_a double, doc_b double")

    calls = []
    real_loop = cluster._min_label_loop

    def _spy(sym, max_iter):
        calls.append(max_iter)
        return real_loop(sym, max_iter)

    monkeypatch.setattr(cluster, "_min_label_loop", _spy)
    got = {
        (r.node, r.component)
        for r in cluster.connected_components(df).collect()
    }
    assert len(calls) == 1
    # pairs {2i, 2i+1} with min-label 2i; the duplicate (10,11) edge
    # changes nothing
    exp = {(float(i), float(i - (i % 2))) for i in range(40)}
    assert got == exp


def test_cc_null_id_matches_loop(spark):
    """An edge list with a null id declines the numpy path and takes the
    distributed loop, so the default threshold returns the loop's labels
    (driver_threshold=0). A driver-side union-find used to raise
    TypeError here, comparing None with int."""
    df = spark.createDataFrame(
        [(1, 2), (2, None), (5, 6)], "doc_a long, doc_b long"
    )
    via_default = {
        (r.node, r.component) for r in connected_components(df).collect()
    }
    via_loop = {
        (r.node, r.component)
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert via_default == via_loop == {
        (1, 1), (2, 1), (5, 5), (6, 5), (None, 1)
    }


def test_cc_nul_string_ids_keep_exact_semantics(spark):
    """Review-found hazard: numpy's fixed-width '<U' storage pads with
    trailing NULs, so ids "a" and "a\\x00" would silently merge on the
    numpy path. Pins that NUL-bearing (and null) string ids are declined
    by the id screen (helper-level), and that the default path's labels
    still equal the distributed loop's end-to-end."""
    import pyarrow as pa

    from ds_caselaw_ingester_spark.operators.similarity import (
        _arrow_id_values,
    )

    assert _arrow_id_values(pa.array(["a", "a\x00"])) is None
    assert _arrow_id_values(pa.array(["a", None])) is None
    assert _arrow_id_values(pa.array(["a", "b"])).tolist() == ["a", "b"]

    df = spark.createDataFrame(
        [("a", "c"), ("a\x00", "b"), ("x", "y")],
        "doc_a string, doc_b string",
    )
    via_driver = {
        (r.node, r.component) for r in connected_components(df).collect()
    }
    via_loop = {
        (r.node, r.component)
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert via_driver == via_loop
    # "a" and "a\x00" are DISTINCT nodes in distinct components
    assert ("a\x00", "a\x00") in via_driver and ("b", "a\x00") in via_driver
    assert ("a", "a") in via_driver and ("c", "a") in via_driver
