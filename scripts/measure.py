#!/usr/bin/env python
"""Re-measure named bench-suite entries in isolation.

Usage:
    python scripts/measure.py LABEL NAME [NAME ...]

NAME is any key of ``bench.make_suite`` (a registry ``bench=`` alias
or one of the scale-path entries). Each entry is timed the way
bench.py times it (the builder plus its ``.count()``) at every row-
count tier bench.py knows: $SPARK_GRAFT_SF_DIR plus the ladder
directories that exist. Per tier: one discarded warm-up, then
$SPARK_GRAFT_BENCH_RUNS passes, with the shared operator caches
cleared after every pass and the loadavg and spin probe recorded
before it. The result carries the per-tier minimum and the
least-squares scaling exponent over the tiers.

Each DataFrame entry's formatted physical plan is written to
plans/LABEL/NAME.txt so plan claims are auditable without running
Spark; the results go to stdout (one JSON line per entry) and to
plans/LABEL/measure.json.
"""

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from structa_spark.operators._cache import clear_caches  # noqa: E402


def _tiers():
    """Directory -> scale factor: $SPARK_GRAFT_SF_DIR plus each
    ladder directory that exists."""
    tiers = {bench.SF_DIR: bench.sf_of(bench.SF_DIR)}
    for d in (bench.LADDER_DIR, bench.LADDER_UP_DIR):
        if os.path.isdir(d):
            tiers.setdefault(d, bench.sf_of(d))
    return tiers


def _formatted_plan(spark, df):
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution
        .ExplainMode.fromString("formatted"))


def _measure(fn):
    # discarded warm-up: codegen, class loading, cache fills
    _, _, err = bench.time_entry(fn)
    clear_caches()
    passes, rows, loads, spins = [], None, [], []
    for _ in range(bench.N_RUNS if err is None else 0):
        loads.append(bench.loadavg())
        spins.append(bench.spin_ms())
        t, n, err = bench.time_entry(fn)
        clear_caches()
        passes.append(t)
        rows = n if n is not None else rows
    return {"min": bench.minimum(passes), "median": bench.median(passes),
            "passes": passes, "rows": rows, "loadavg": loads,
            "spin_ms": spins, "error": err}


def main():
    label, names = sys.argv[1], sys.argv[2:]
    spark = bench.session()
    tiers = _tiers()
    suites = {d: bench.make_suite(spark, d) for d in tiers}
    plans_dir = os.path.join(REPO, "plans", label)
    os.makedirs(plans_dir, exist_ok=True)

    out = {"protocol": (f"per tier: discarded warm-up, then "
                        f"{bench.N_RUNS} passes of the bench action; "
                        "shared caches cleared between passes; "
                        "loadavg and spin-ms per pass"),
           "tiers": tiers}
    for name in names:
        spark.sparkContext.setJobDescription(f"measure:{name}")
        fn = suites[bench.SF_DIR][name]
        entry = {}
        if hasattr(fn, "_df"):
            path = os.path.join(plans_dir, f"{name}.txt")
            with open(path, "w") as fh:
                fh.write(_formatted_plan(spark, fn._df()))
            entry["plan"] = os.path.relpath(path, REPO)
        entry["tiers"] = {d: _measure(suite[name])
                          for d, suite in suites.items()}
        entry["min"] = entry["tiers"][bench.SF_DIR]["min"]
        entry["exponent"] = bench.loglog_slope(
            (tiers[d], t["min"]) for d, t in entry["tiers"].items())
        out[name] = entry
        print(json.dumps({name: entry}), flush=True)
        spark.sparkContext.setJobDescription(None)

    with open(os.path.join(plans_dir, "measure.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
