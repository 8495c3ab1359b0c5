"""The benchmark's own tests: deterministic inputs (ingest backlog,
curate corpus, query tables), a tiny ingest run that matches the
generator's expectations, a tiny batch run whose checks pass, and measurement helpers that
launch no Spark job.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import os

import pytest

from perfbench import gen

TINY = gen.IngestShape(msgs_per_epoch=12, epochs=2, update_share=0.5, seeded_docs=40)


def _same_tree(a, b) -> bool:
    cmp = filecmp.dircmp(a, b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not (cmp.left_only or cmp.right_only or mismatch or errors)


def test_same_seed_gives_byte_identical_ingest_inputs(tmp_path):
    a, b, c = (gen.make_ingest(TINY, s) for s in (7, 7, 8))
    gen.write_backlog(a, tmp_path / "a")
    gen.write_backlog(b, tmp_path / "b")
    gen.write_backlog(c, tmp_path / "c")
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert a.archives == b.archives and a.expected == b.expected
    assert not _same_tree(tmp_path / "a", tmp_path / "c")
    mtimes = [os.path.getmtime(p) for p in sorted((tmp_path / "a").iterdir())]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


def test_ingest_mix_per_epoch():
    inputs = gen.make_ingest(TINY, 3)
    for batch in inputs.epochs:
        assert len(batch) == 12
        assert sum(not m.valid for m in batch) == 12 // gen.INVALID_EVERY
        assert sum(m.update for m in batch) == 6
        assert {m.originator for m in batch if m.valid} == set(gen.ORIGINATORS)
    updated = [m.uri for m in inputs.messages(range(TINY.epochs)) if m.update]
    assert len(updated) == len(set(updated))  # each seeded document updated once


def test_same_seed_gives_byte_identical_curate_inputs(tmp_path):
    shape = gen.CurateShape(n_docs=60, n_families=4, family_size=3, dim=8)
    gen.write_curate(gen.make_curate(shape, 5), tmp_path / "a")
    gen.write_curate(gen.make_curate(shape, 5), tmp_path / "b")
    gen.write_curate(gen.make_curate(shape, 6), tmp_path / "c")
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")
    fams = gen.make_curate(shape, 5).families
    assert len(fams) == 4 and all(len(f) == 3 for f in fams)


def test_same_seed_gives_byte_identical_query_tables(tmp_path):
    from perfbench import tables

    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        tables.write_tables(tables.make_tables(seed, scale=0.001), tmp_path / d)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from ds_caselaw_ingester_spark.session import get_spark

    return get_spark("perfbench-tests")


def test_tiny_run_matches_expectations(spark, tmp_path):
    from perfbench.workloads import run_ingest

    # seconds=0 and tracing on: one traced epoch
    res = run_ingest(spark, TINY, seed=3, seconds=0, trace=True, work=str(tmp_path))
    assert res.correct, res.detail
    assert res.failed == 0 and res.attempted == TINY.msgs_per_epoch
    assert res.detail["messages_checked"] == TINY.msgs_per_epoch
    assert len(res.op_s) == 1 and res.spans
    assert res.layers["sink.versions.rows"] > 0
    assert res.layers["sink.quarantine.rows"] == TINY.msgs_per_epoch // gen.INVALID_EVERY
    assert res.layers["spark.jobs_per_epoch"] > 0


def test_tiny_batch_run_is_correct(spark, tmp_path):
    from perfbench.workloads import SUITE, run_batch

    shape = gen.CurateShape(n_docs=200, n_families=8, family_size=3)
    res = run_batch(spark, shape, SUITE, seed=3, seconds=0, trace=True, work=str(tmp_path))
    assert res.correct, res.detail
    assert res.failed == 0 and res.attempted == shape.n_docs + len(SUITE)
    assert res.detail["family_extra_keepers"] == 0 and not res.detail["oracle_mismatch"]
    assert res.layers["curate.jobs"] > 0
    modules = {k.split(".")[1] for k in res.layers if k.startswith("plans.")}
    assert len(modules) == len(SUITE)  # one query per plans.queries_* module


def test_measurement_helpers_launch_no_spark_job(spark):
    from perfbench.measure import RssSampler, jobs_after, last_job_id

    spark.range(10).count()  # the store then holds at least one job
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    with RssSampler(interval_s=0.01) as rss:
        last = last_job_id(spark)
        jobs = jobs_after(spark, -1)
    assert rss.peak > 0 and last >= 0 and jobs
    assert set(tracker.getJobIdsForGroup()) == before
