"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test tables) on the package's session, local[N] with
N shuffle partitions (N = $SPARK_GRAFT_CPUS, else the CPUs this process
may run on; BENCH_r15 and earlier ran 32 shuffle partitions at every core
count), and prints the full JSON line {"metric", "value", "unit",
"queries", "sf", ...}, then a paired host-factor line vs the newest
committed BENCH_r*.json, then a minimal tail line with the suite total
(see the capture-window notes below for why three lines).

Each query is forced end-to-end with the noop sink (full computation of
every output column, no driver collect, no disk write) — the honest
measure of plan cost.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ds_caselaw_ingester_spark.plans.registry import all_specs  # noqa: E402
from ds_caselaw_ingester_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0
    spark = get_spark("bench")
    specs = all_specs()

    # Warm the Python worker pool once before timing: the first Arrow/pandas
    # task in a session pays worker fork + pandas import (~5 s across the
    # pool) — a session fixed cost, not a query cost. Steady-state numbers
    # are what scale to a long-lived cluster.
    import pandas as _pd  # noqa: F401

    def _ident(it):
        yield from it

    spark.range(0, 64, 1, 32).mapInPandas(_ident, "id long").write.mode(
        "overwrite"
    ).format("noop").save()

    # Fixed pre-suite JIT/codegen warm-up (round 14, r13 queue #3;
    # NEUTRALIZED in round 15 per the r14 verdict): the whole-sweep host
    # "regimes" on identical code (48.6-59.8 s, docs/SCALE.md round-13
    # postscript) trace to C2 JIT + Janino codegen state at sampling
    # time. Round 14 warmed the JVM by running the five largest-plan
    # queries once, unrecorded — which systematically deflated exactly
    # the five queries being credited relative to the prior round's
    # artifact (r14 verdict, "What's wrong" #2). Round 15 replaces that
    # with a FIXED SYNTHETIC plan over spark.range that exercises the
    # same engine surfaces (whole-stage codegen compile, hash aggregate,
    # sort-merge + broadcast join, window, explode, AQE shuffle stages,
    # the noop sink) without touching any registered query or the input
    # parquet: every query's recorded samples now start from the same
    # neutral JVM state, and no query gets a private warm-up. Per-query
    # codegen still lands on each query's own first sample — the
    # min-of-samples escalation (two fastest within SPREAD_TARGET, up
    # to MAX_SAMPLES) absorbs it, exactly as it does for the 45
    # queries round 14 never warmed.
    try:
        from pyspark.sql import Window as _W
        from pyspark.sql import functions as _F

        _a = (
            spark.range(0, 200_000, 1, 32)
            .select(
                (_F.col("id") % 997).alias("k"),
                (_F.col("id") % 31).alias("g"),
                _F.concat(_F.lit("w"), (_F.col("id") % 113).cast("string")).alias("s"),
                (_F.col("id") * 2.5).alias("v"),
            )
        )
        _agg = _a.groupBy("k").agg(
            _F.sum("v").alias("sv"), _F.count("*").alias("c"),
            _F.collect_set("g").alias("gs"),
        )
        _b = spark.range(0, 997, 1, 8).select(
            _F.col("id").alias("k"), (_F.col("id") % 7).alias("b")
        )
        _w = _W.partitionBy("b").orderBy(_F.desc("sv"))
        _warm = (
            _agg.join(_b, "k")
            .withColumn("rn", _F.row_number().over(_w))
            .where(_F.col("rn") <= 50)
            .select("k", "b", "sv", "c", _F.explode("gs").alias("g"))
            .groupBy("g").agg(_F.avg("sv").alias("m"))
        )
        _warm.write.mode("overwrite").format("noop").save()
    except Exception as e:  # noqa: BLE001 — warm-up must not gate
        print(f"bench: synthetic warm-up failed: {e}", file=sys.stderr)
    finally:
        spark.catalog.clearCache()

    # Each query is sampled until its two FASTEST samples agree within
    # SPREAD_TARGET (or MAX_SAMPLES is hit) and the MIN is reported:
    # this VM shows bursty multi-second host stalls that land on random
    # queries, and rounds 10/11 each needed a judge to hand-adjudicate a
    # ~25% phantom suite delta caused by them. Escalating until the two
    # best samples REPRODUCE each other bounds the claim "min is the
    # plan's cost" per query; a query that exhausts MAX_SAMPLES still
    # above the target is explicitly FLAGGED in the artifact (its min is
    # still the defensible plan cost, but cross-round deltas on it are
    # host noise until proven otherwise). `spread` records the two-best
    # agreement, not the all-samples max: one stalled outlier among five
    # samples says nothing about the min's reproducibility.
    #
    # MAX_SAMPLES raised 5 -> 9 in round 13: the r12 flag on
    # hybrid_search_multi was a WARM-UP artifact, not plan instability —
    # repeated sweeps (docs/SCALE.md round-13) show its cost declining
    # MONOTONICALLY over the first ~5 samples (cold Janino codegen + JIT
    # across the suite's largest stage/job count), so a 5-sample window
    # ends with its two fastest samples on different points of the
    # decline curve. Converged queries still stop at 2 samples — the
    # higher cap costs extra wall time ONLY for queries that would
    # otherwise be flagged.
    SPREAD_TARGET = 0.15
    MAX_SAMPLES = 9

    def _agreement(samples: "list[float]") -> float:
        s = sorted(samples)
        return (s[1] - s[0]) / s[0] if len(s) >= 2 and s[0] > 0 else 0.0

    def _run_query(spec) -> "float | None":
        t0 = time.time()
        try:
            df = spec.fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            return round(time.time() - t0, 3)
        except Exception as e:  # noqa: BLE001
            print(f"bench: {spec.name} failed: {e}", file=sys.stderr)
            return None
        finally:
            # queries may persist() shared subtrees; drop them so later
            # queries aren't squeezed by earlier queries' cache residency
            spark.catalog.clearCache()

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    flagged: list[str] = []
    for name, spec in sorted(specs.items()):
        samples: list[float] = []
        while True:
            dt = _run_query(spec)
            if dt is None:
                break  # keep any earlier good sample (visible -1 if none)
            samples.append(dt)
            if len(samples) >= 2 and _agreement(samples) <= SPREAD_TARGET:
                break
            if len(samples) >= MAX_SAMPLES:
                break
        if not samples:
            timings[name] = -1.0
        elif len(samples) < 2:
            # Succeeded once, then failed on the re-sample: the min was
            # never REPRODUCED, so recording spread 0.0 would make an
            # unreproduced one-sample cost read as perfectly reproducible
            # in the artifact. Record spread as null and flag it.
            timings[name] = min(samples)
            spreads[name] = None
            flagged.append(name)
        else:
            timings[name] = min(samples)
            spreads[name] = round(_agreement(samples), 3)
            if _agreement(samples) > SPREAD_TARGET:
                flagged.append(name)

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # failed queries must be VISIBLE in the JSON artifact: a silent
    # exclusion shrinks the headline total, so a regression that breaks
    # a query reads as a speedup when comparing BENCH_r{N}.json files
    errors = sorted(n for n, t in timings.items() if t < 0)
    vals = sorted(v for v in spreads.values() if v is not None)
    suite_spread = {
        # agreement of each query's two fastest samples, summarized:
        # a judge reads median/p90 to decide whether cross-round totals
        # are comparable at all, and `flagged` lists the queries whose
        # min never reproduced within SPREAD_TARGET even at MAX_SAMPLES
        # — deltas on those are host noise until a paired run says
        # otherwise
        "target": SPREAD_TARGET,
        "max_samples": MAX_SAMPLES,
        "median": round(vals[len(vals) // 2], 3) if vals else 0.0,
        "p90": round(vals[int(len(vals) * 0.9)], 3) if vals else 0.0,
        "flagged": sorted(flagged),
    }
    out = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # per-query agreement of the two fastest samples (see above)
        "spread": spreads,
        "suite_spread": suite_spread,
    }
    if errors:
        out["errors"] = errors

    # Output contract (round 15, per the r14 verdict "What's wrong" #1):
    # the driver parses the LAST stdout line, so the LAST line printed is
    # the COMPLETE one-line JSON with the `queries` map. Round 14 printed
    # a slim summary line last and the driver's per-query PERF comparison
    # ran blind (PERF_r14.json per_query: {}). Defenses against the
    # bounded tail-capture window (BENCH_r09/r10 lost the total to it):
    #   1. The FULL summary (full-precision timings + complete spread map)
    #      is written to BENCH_LAST.json in the repo — a committed file can
    #      never be truncated by an output-capture window.
    #   2. The stdout line drops `spread` ENTIRELY and rounds per-query
    #      timings to 4 decimals: measured 1.3 KB for the 50-query suite,
    #      inside the window with margin.
    #   3. A minimal line {"value","sf","n_queries"} prints BEFORE the
    #      full line, and the paired-comparison diagnostic goes to
    #      stderr: a tail capture therefore always ENDS with the full
    #      queries-bearing line, and if the window ever shrinks below
    #      ~1.4 KB the loss is the leading minimal line, not the map.
    # Paired comparison vs a previous round's artifact. Cross-round
    # totals from different sessions conflate host speed with plan
    # changes (rounds 10 and 11 each lost a judge-hour to exactly
    # that); the paired protocol instead estimates the HOST FACTOR as
    # the median per-query ratio new_min/old_min and reports each
    # query's residual vs that factor — a plan regression stands out
    # from uniform host scaling. Queries flagged unreproducible in
    # EITHER artifact are excluded from the factor estimate.
    #
    # `--paired OLD.json` pins the baseline explicitly; with no flag
    # the sweep AUTO-PAIRS against the newest committed BENCH_r*.json
    # in the repo (the current round's artifact is written by the
    # driver only AFTER this run, so the newest on disk is always a
    # prior round).
    explicit = sys.argv[2] if (
        len(sys.argv) >= 3 and sys.argv[1] == "--paired"
    ) else None
    paired = _paired_summary(timings, set(flagged), sf, explicit)
    if paired:
        out["paired"] = paired

    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LAST.json"),
        "w",
    ) as f:
        json.dump(out, f, separators=(",", ":"))
        f.write("\n")
    line = {k: v for k, v in out.items() if k not in ("spread", "paired")}
    line["queries"] = {n: round(t, 4) for n, t in timings.items()}
    if paired:
        # diagnostic, not the artifact: stderr so the queries-bearing
        # line stays the last stdout line (the driver parses the last)
        print(json.dumps(paired, separators=(",", ":")), file=sys.stderr)
    tail = {"metric": out["metric"], "value": total, "unit": "sec", "sf": sf,
            "n_queries": len(timings),
            "spread_median": suite_spread["median"],
            "n_flagged": len(flagged)}
    if paired:
        tail["host_factor_median_ratio"] = paired["host_factor_median_ratio"]
    if errors:
        tail["errors"] = errors
    print(json.dumps(tail, separators=(",", ":")))
    print(json.dumps(line, separators=(",", ":")))


def _load_old_queries(path: str) -> "tuple[dict, set, float | None]":
    """Per-query mins + flagged set + sf from a prior artifact.

    Handles both shapes: bench.py's own output / BENCH_LAST.json
    ({"queries": {...}, "suite_spread": {...}}), and the driver's
    BENCH_r{N}.json wrapper whose "tail" field holds the captured
    stdout (the full JSON line is re-parsed out of it).
    """
    with open(path) as f:
        old = json.load(f)
    if "queries" not in old:
        best = {}
        for ln in str(old.get("tail", "")).splitlines():
            ln = ln.strip()
            if not ln.startswith("{"):
                continue
            try:
                d = json.loads(ln)
            except ValueError:
                continue
            if isinstance(d, dict) and "queries" in d:
                best = d
        old = best
    old_q = old.get("queries", {})
    old_flagged = set((old.get("suite_spread") or {}).get("flagged", []))
    return old_q, old_flagged, old.get("sf")


def _paired_summary(
    timings: dict,
    flagged: set,
    sf: float,
    paired_path: "str | None" = None,
) -> "dict | None":
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    if paired_path is None:
        # Candidates are restricted to git-TRACKED artifacts: the
        # driver commits BENCH_r{N}.json at round end, so an untracked
        # current-round artifact sitting in the working tree would
        # otherwise become its own baseline on a re-run within the
        # round (host factor ~1.0, residuals meaningless).
        import subprocess

        names = None
        try:
            out = subprocess.run(
                ["git", "ls-files", "BENCH_r*.json"],
                cwd=here,
                capture_output=True,
                text=True,
                timeout=10,
            )
            if out.returncode == 0:
                names = [ln for ln in out.stdout.splitlines() if ln.strip()]
        except (OSError, subprocess.SubprocessError):
            names = None
        if names is None:  # not a git checkout — fall back to the glob
            names = [
                os.path.basename(p)
                for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
            ]
        cands = []
        for name in names:
            m = re.match(r"BENCH_r(\d+)\.json$", os.path.basename(name))
            if m:
                cands.append((int(m.group(1)), os.path.join(here, name)))
        if not cands:
            return None
        paired_path = max(cands)[1]
        print(
            f"bench: auto-paired baseline = {os.path.basename(paired_path)}",
            file=sys.stderr,
        )
    try:
        old_q, old_flagged, old_sf = _load_old_queries(paired_path)
    except (OSError, ValueError) as e:
        print(f"bench: paired baseline unreadable: {e}", file=sys.stderr)
        return None
    if old_sf is not None and old_sf != sf:
        # an sf1 sweep auto-pairing against the driver's sf0.1 artifact
        # would report a ~10x "host factor" — refuse mismatched scales
        print(
            f"bench: paired baseline {paired_path} is sf={old_sf}, "
            f"this run is sf={sf} — skipping the pair",
            file=sys.stderr,
        )
        return None
    ratios = {
        n: timings[n] / old_q[n]
        for n in timings
        if n in old_q and old_q[n] > 0 and timings[n] > 0
        and n not in flagged and n not in old_flagged
    }
    if not ratios:
        return None
    rs = sorted(ratios.values())
    host_factor = rs[len(rs) // 2]
    resid = {
        n: round(r / host_factor, 3)
        for n, r in sorted(
            ratios.items(), key=lambda kv: -abs(kv[1] - host_factor)
        )
    }
    top = dict(list(resid.items())[:10])
    return {
        "paired_vs": os.path.basename(paired_path),
        "host_factor_median_ratio": round(host_factor, 3),
        "n_compared": len(ratios),
        "top_residuals_vs_host_factor": top,
    }


if __name__ == "__main__":
    main()
