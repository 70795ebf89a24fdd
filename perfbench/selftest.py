#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (a few hundred simulations,
the sf0.001 test tables). It shows that:

1. every named metric is emitted with its unit, traced and untraced;
2. a flipped byte in a CSV file, or a wrong golden digest, drives
   ``error_rate`` above 0;
3. the exact counts are equal across two traced runs, and the traced
   layers reconcile with the untraced wall time within the stated
   residual, with every job claimed by a layer;
4. the reconciliation fails when a layer's span is dropped.

    python3 perfbench/selftest.py

Exits 0 when every check passes. Takes about ten minutes on 4 cores, most
of it JVM start-up: every run is a fresh session.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run as bench  # noqa: E402

#: Counts that must repeat exactly between two runs of the same seed.
EXACT = (
    "registry.build_jobs", "tables.schema_jobs", "spark.jobs", "spark.stages",
    "spark.tasks", "spark.exchanges", "mc.battery.sims", "mc.battery.model_calls",
    "mc.battery.tasks", "mc.sinks.csv_jobs", "mc.sinks.parquet_files",
)
SEED = 7


def flip_first_csv_byte(out_dir: str) -> None:
    path = os.path.join(out_dir, "0.txt")
    with open(path, "r+b") as fh:
        first = fh.read(1)
        fh.seek(0)
        fh.write(b"T" if first == b"H" else b"H")


def main() -> int:
    bench._isolate_environment()
    failures: list[str] = []

    def check(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    def tiny(workload: str, trace: bool, **kw) -> dict:
        return bench.run(workload, SEED, 0, trace, size="tiny", **kw)

    for workload in bench.WORKLOADS:
        plain = tiny(workload, False)
        check(set(plain["metrics"]) == set(bench.END_TO_END),
              f"{workload}: every end-to-end metric emitted")
        check(plain["failed"] == 0 and plain["metrics"]["ok_rate"] == 1.0,
              f"{workload}: no failed op")
        a, b = tiny(workload, True), tiny(workload, True)
        names = bench.per_layer_names()
        check(list(a["metrics"]) == names and all(
            bench.unit_of(n) for n in names), f"{workload}: every per-layer metric emitted with a unit")
        check(a["metrics"]["error_rate"] == 0.0, f"{workload}: traced error_rate is 0")
        diff = {k: (a["metrics"][k], b["metrics"][k]) for k in EXACT
                if a["metrics"][k] != b["metrics"][k]}
        check(not diff, f"{workload}: exact counts repeat across two runs {diff or ''}")
        for r in (a, b):
            m = r["metrics"]
            check(abs(m["reconcile.residual_pct"]) <= bench.RESIDUAL_BOUND_PCT
                  and m["reconcile.unattributed_jobs"] == 0,
                  f"{workload}: layers reconcile with wall time (residual "
                  f"{m['reconcile.residual_pct']:.2f}%, bound {bench.RESIDUAL_BOUND_PCT}%; "
                  f"{m['reconcile.unattributed_jobs']} unclaimed jobs)")

    # On mc_demo1_csv every job runs inside the CSV export, so the export's
    # span, nested in simulate's, goes too.
    for workload, spans in (("mc_demo1_csv", ("simulate", "sink.csv")), ("query_mix", ("build",))):
        m = tiny(workload, True, drop=spans)["metrics"]
        check(abs(m["reconcile.residual_pct"]) > bench.RESIDUAL_BOUND_PCT
              and m["reconcile.unattributed_jobs"] > 0,
              f"{workload}: dropping the {'+'.join(spans)} span fails the reconciliation (residual "
              f"{m['reconcile.residual_pct']:.2f}%, "
              f"{m['reconcile.unattributed_jobs']} unclaimed jobs)")

    flipped = tiny("mc_demo1_csv", False, tamper=flip_first_csv_byte)
    check(flipped["failed"] == flipped["attempted"] and flipped["metrics"]["ok_rate"] == 0.0,
          "mc_demo1_csv: a flipped CSV byte fails every op")
    for workload, wrong in (("mc_demo2_parquet", {"rows": "0" * 64}),
                            ("query_mix", dict.fromkeys(bench.querymix.QUERIES, "0" * 64))):
        bad = tiny(workload, False, golden=wrong)
        check(bad["failed"] > 0 and bad["metrics"]["ok_rate"] < 1.0,
              f"{workload}: a wrong golden digest fails the op "
              f"(error_rate {bad['failed'] / bad['attempted']:.2f})")

    print(json.dumps({"selftest_failures": failures}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
