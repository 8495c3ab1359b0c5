"""End-to-end benchmark of caselaw-spark: the ingest stream, curation,
the registered query suite, and a traced per-layer split. See
perfbench/README.md.

    python3 perfbench/run.py --workload ingest_trickle --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the root of a checkout. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer metrics. The line above
it is a JSON record of everything else measured (set-up parts, input
shares, environment, failed_frac, peak RSS; for a traced run also the
unattributed share, the tracing overhead and every span).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "ds_caselaw_ingester_spark"


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _environment(work: str) -> None:
    """Host-faithful settings: only the core count is set (the program
    defaults to 32); every Spark conf stays at the program's default.
    Temporary files stay inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Python workers import the package by name, whatever their cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/ — run from a checkout of the program",
              file=sys.stderr)
        return 2
    spec = _spec()
    sys.path.insert(0, ROOT)
    from perfbench import measure, workloads

    if workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    spark = None
    try:
        with measure.RssSampler() as rss:
            from ds_caselaw_ingester_spark.session import get_spark

            t = time.time()
            spark = get_spark("perfbench")
            session_s = time.time() - t
            res = workloads.run(spark, workload, seed, seconds, trace, work)
            env = {
                "nproc": len(os.sched_getaffinity(0)),
                "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
                "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            }
        import numpy
        import pyarrow
        import pyspark

        env.update(pyspark=pyspark.__version__, pyarrow=pyarrow.__version__, numpy=numpy.__version__)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))

    e2e = {
        "op_p50_s": measure.median(res.op_s),
        "items_per_s": res.items / res.busy_s if res.busy_s else 0.0,
        "setup_s": session_s + sum(res.setup.values()),
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    failed_frac = res.failed / res.attempted if res.attempted else 1.0
    detail = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "operations": len(res.op_s), "failed_frac": failed_frac,
        # reported, not bounded: the JVM heap's growth makes it vary by a
        # third between runs of the same code
        "peak_rss_mb": rss.peak / 2**20,
        "setup_parts_s": {"session_s": session_s, **res.setup},
        **res.detail, "environment": env,
        **({"end_to_end": e2e} if trace else {}),
        **{k.lstrip("_"): v for k, v in res.layers.items() if k.startswith("_")},
    }
    if trace:
        detail["note"] = ("end_to_end here is traced; spans of lazy functions measure plan "
                          "construction only, their execution lands in the span of the "
                          "action that forces it")
        detail["spans"] = res.spans
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {n: {"value": float(res.layers.get(n, 0.0)), "unit": units[n]} for n in names}
        detail["layers_not_run"] = sorted(n for n in names if n not in res.layers)
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps(detail))
    print(json.dumps({"correct": bool(res.correct), "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


def _run_child(workload: str, seed: int, seconds: float, trace: bool):
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(int(trace))],
        capture_output=True, text=True, check=False,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode or len(lines) < 2:
        print(f"{workload}: FAILED (exit {out.returncode})\n{out.stderr[-2000:]}")
        return None, None
    return json.loads(lines[-1]), json.loads(lines[-2])


def run_all(seed: int, seconds: float, trace: bool) -> int:
    """Every workload in its own process, one row per workload and metric.
    With tracing, each workload runs untraced and then traced, and the
    tracing overhead is the traced run's op_p50_s over the untraced
    one's, minus 1."""
    from perfbench.workloads import WORKLOADS

    status = 0
    for w in WORKLOADS:
        res, detail = _run_child(w, seed, seconds, False)
        if res is None:
            status = 1
            continue
        print(f"{w}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} failed_frac={detail['failed_frac']:.4f} "
              f"peak_rss_mb={detail['peak_rss_mb']:.0f}")
        for name, m in res["metrics"].items():
            print(f"  {name:58s} {m['value']:14.4f} {m['unit']}")
        status |= 0 if res["correct"] else 1
        if not trace:
            continue
        tres, tdetail = _run_child(w, seed, seconds, True)
        if tres is None:
            status = 1
            continue
        overhead = tdetail["end_to_end"]["op_p50_s"] / res["metrics"]["op_p50_s"]["value"] - 1
        print(f"  traced: correct={tres['correct']} tracing_overhead={overhead:+.3f} "
              f"unattributed_frac={tdetail['unattributed_frac']:.3f} spans={len(tdetail['spans'])}")
        for name, m in tres["metrics"].items():
            print(f"  {name:58s} {m['value']:14.4f} {m['unit']}")
        status |= 0 if tres["correct"] else 1
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload == "all":
        sys.path.insert(0, ROOT)
        return run_all(a.seed, a.seconds, bool(a.trace))
    return run_one(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
