"""Dev loop: run parity for all (or named) registered queries in ONE Spark
session. Usage: python tools/parity_run.py [sf_dir] [name ...]"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ds_caselaw_ingester_spark.plans.oracle_check import check_query  # noqa: E402
from ds_caselaw_ingester_spark.plans.registry import all_specs  # noqa: E402
from ds_caselaw_ingester_spark.session import get_spark  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and args[0].startswith("/") else "/root/testdata/sf0.001"
    names = [a for a in args if not a.startswith("/")]
    specs = all_specs()
    if names:
        specs = {n: specs[n] for n in names}
    spark = get_spark("parity_run")
    failures = 0
    for name, spec in sorted(specs.items()):
        t0 = time.time()
        try:
            r = check_query(spark, sf_dir, name, spec.fn, spec.oracle)
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: EXCEPTION {type(e).__name__}: {str(e).splitlines()[0][:200]}")
            failures += 1
            continue
        tag = "ok" if r.ok else "FAIL"
        print(
            f"[{tag}] {name}: rows={r.spark_rows} oracle={r.oracle_rows} "
            f"({time.time()-t0:.1f}s) {r.detail if not r.ok else ''}"
        )
        failures += 0 if r.ok else 1
    print(f"done: {len(specs)-failures}/{len(specs)} passing")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
