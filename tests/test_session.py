"""The session's execution width comes from the host, or from the one
override, SPARK_GRAFT_CPUS, read when the session is built."""

from __future__ import annotations

import os

import pytest

from ds_caselaw_ingester_spark.session import execution_width


@pytest.mark.skipif(not hasattr(os, "sched_getaffinity"), reason="no affinity call")
def test_width_defaults_to_the_cpus_this_process_may_use(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert execution_width() == len(os.sched_getaffinity(0))


def test_width_falls_back_to_cpu_count_without_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delattr(os, "sched_getaffinity", raising=False)
    monkeypatch.setattr(os, "cpu_count", lambda: 3)
    assert execution_width() == 3


def test_width_override_is_read_at_call_time(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert execution_width() == 6


@pytest.mark.parametrize("bad", ["0", "-1", "abc", "4.5", ""])
def test_bad_width_override_is_refused(monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        execution_width()


def test_fixture_session_has_one_shuffle_partition_per_core(spark):
    sc = spark.sparkContext
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(sc.defaultParallelism)
    assert sc.defaultParallelism == execution_width()
