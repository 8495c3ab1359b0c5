"""bench.py's contract: the last stdout line is the one the driver
parses, and it must stay whole inside the driver's 2,000-character tail
capture with every query in it; the per-query layer split goes to
BENCH_LAST.json only, adds up to the recorded wall, and launches no
Spark job of its own."""

from __future__ import annotations

import json

import bench
from ds_caselaw_ingester_spark.plans.registry import all_specs


def _result(i: int) -> dict:
    return {
        "min_s": round(0.5 + 0.037 * i, 3),
        "spread": round(0.01 * (i % 14), 3),
        "flagged": False,
        "layers": {"construct_s": 0.1, "action_s": round(0.4 + 0.037 * i, 3),
                   "jobs": 12, "tasks": 140, "shuffle_write_bytes": 123456789,
                   "spill_bytes": 0},
    }


def test_stdout_last_line_carries_every_query_within_the_capture():
    names = sorted(all_specs())
    results = {n: _result(i) for i, n in enumerate(names)}
    results[names[0]].update(flagged=True, spread=0.412)  # 9 samples, no agreement
    results[names[-1]] = None  # every sample failed
    out = bench.summarize(results, 0.1)
    out["paired"] = {"paired_vs": "BENCH_r15.json", "host_factor_median_ratio": 1.1,
                     "n_compared": 48, "top_residuals_vs_host_factor": {}}

    lines = bench.stdout_lines(out)
    last = json.loads(lines[-1])
    assert set(last["queries"]) == set(names)
    assert last["queries"][names[-1]] == -1.0 and last["errors"] == [names[-1]]
    assert last["suite_spread"]["flagged"] == [names[0]]
    assert "layers" not in last and "spread" not in last and "paired" not in last
    assert set(out["layers"]) == set(names[:-1])
    tail = "\n".join(lines) + "\n"
    assert len(lines[-1]) + 1 <= bench.TAIL_CAPTURE, len(lines[-1])
    assert json.loads(tail[-bench.TAIL_CAPTURE:].splitlines()[-1]) == last
    assert json.loads(lines[0])["host_factor_median_ratio"] == 1.1


def test_measure_query_layers_add_up_and_add_no_jobs(spark, sf_correctness_dir):
    spec = all_specs()["pq_adc_topk"]
    r = bench.measure_query(spark, spec, sf_correctness_dir)
    layers = r["layers"]
    # each of the three figures is rounded to the millisecond
    assert abs(layers["construct_s"] + layers["action_s"] - r["min_s"]) < 0.0016
    assert layers["tasks"] >= layers["jobs"] > 0

    sc = spark.sparkContext
    group = "unmeasured-pq_adc_topk"
    sc.setJobGroup(group, spec.name)
    try:
        spec.fn(spark, sf_correctness_dir).write.mode("overwrite").format("noop").save()
    finally:
        sc.setJobGroup(None, None)
        spark.catalog.clearCache()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert layers["jobs"] == len(sc.statusTracker().getJobIdsForGroup(group))


def test_subset_run_writes_layers_for_exactly_the_names_given(
    spark, sf_dir, tmp_path, monkeypatch, capsys
):
    names = ["pricing_summary", "revenue_rollup"]
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setattr(bench, "BENCH_LAST", str(tmp_path / "BENCH_LAST.json"))
    bench.main(names)
    art = json.loads((tmp_path / "BENCH_LAST.json").read_text())
    assert sorted(art["layers"]) == names
    assert sorted(art["queries"]) == names
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sorted(last["queries"]) == names and "layers" not in last


def test_auto_pairing_picks_the_newest_baseline_of_the_same_width(tmp_path, capsys):
    """A run pairs only with a baseline recorded at its own width, the
    newest by round; with none it prints one stderr line and skips."""
    for name, cpus in (("BENCH_r14.json", 32), ("BENCH_r15.json", 32),
                       ("BENCH_r14_c8.json", 8), ("BENCH_r15_c8.json", 8),
                       ("BENCH_r9_c4.json", 4), ("BENCH_LAST.json", 4)):
        (tmp_path / name).write_text(json.dumps({"cpus": cpus, "tail": ""}))
    names = sorted(p.name for p in tmp_path.iterdir())
    pick = lambda w: bench.pick_baseline(str(tmp_path), names, w)  # noqa: E731
    assert pick(32) == str(tmp_path / "BENCH_r15.json")
    assert pick(8) == str(tmp_path / "BENCH_r15_c8.json")
    assert pick(4) == str(tmp_path / "BENCH_r9_c4.json")
    assert pick(16) is None

    capsys.readouterr()
    assert bench._paired_summary({"a": 1.0}, set(), 0.1, width=3) is None
    err = capsys.readouterr().err.splitlines()
    assert len(err) == 1 and "3 cpus" in err[0], err
