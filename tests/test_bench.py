"""Bench harness guardrail: the per-round BENCH gate once zeroed out
because one query crashed the whole run. This executes bench.py
end-to-end (toy scale, one pass) and pins the contract the round
driver depends on: rc 0, one parseable JSON line, every suite entry
timed, no errors."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_end_to_end_toy_scale(tmp_path):
    medians = tmp_path / "BENCH_medians.json"
    full = tmp_path / "BENCH_local.json"
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
               SPARK_GRAFT_CPUS="8",
               SPARK_GRAFT_BENCH_RUNS="1",
               # keep the toy-scale artifacts out of the repo root —
               # the driver's real run owns those files
               SPARK_GRAFT_MEDIANS_PATH=str(medians),
               SPARK_GRAFT_FULL_PATH=str(full),
               # the toy run must not climb to the local sf1 fixture
               SPARK_GRAFT_BENCH_LADDER_UP="0",
               # toy-scale fast path: the warm-up/fingerprint pass and
               # the doclen ladder measure the box, not the contract
               # this test pins (rc 0, one JSON line, every query
               # timed, artifacts written) — the driver's real run
               # keeps both. Round 9's only red was this test timing
               # out at 900 s with them on (772 s standalone, an 83%
               # duty cycle any co-tenant load tipped over).
               SPARK_GRAFT_BENCH_WARMUP="0",
               SPARK_GRAFT_BENCH_DOCLEN="0")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, timeout=1800, env=env,
        cwd=REPO)
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = proc.stdout.strip().splitlines()[-1]
    out = json.loads(line)
    assert out["metric"] == "headline_suite_seconds"
    assert out["unit"] == "sec"
    assert isinstance(out["value"], (int, float))
    assert "errors" not in out, out.get("errors")
    missing = [q for q, t in out["queries"].items() if t is None]
    assert not missing, f"untimed queries: {missing}"
    assert len(out["queries"]) >= 20
    # the medians artifact carries the same per-query numbers
    side = json.loads(medians.read_text())
    assert side["queries"] == out["queries"]
    # the full-result artifact is the stdout JSON, byte-equivalent —
    # stdout truncation can no longer lose the medians/ladder blocks
    assert json.loads(full.read_text()) == out


def test_suite_is_the_registry_tags_plus_scale_paths(spark):
    # builds the suite without running it: the 114 names recorded in
    # BENCH_r12.json, 107 of them bench= aliases (register() rejects
    # a repeated alias) that each resolve to a registered query
    sys.path.insert(0, REPO)
    import bench
    from structa_spark.queries import BENCH, REGISTRY

    with open(os.path.join(REPO, "BENCH_r12.json")) as fh:
        recorded = json.load(fh)["parsed"]["queries"]
    suite = bench.make_suite(spark, "/root/testdata/sf0.001")
    assert sorted(suite) == sorted(recorded)
    assert len(suite) == 114
    assert len(BENCH) == 107
    assert set(BENCH.values()) <= set(REGISTRY)
    for alias, name in BENCH.items():
        assert suite[alias]._df.func is REGISTRY[name][0], alias


def test_plan_fingerprint_ignores_lambda_counter(spark):
    # each build names its lambda variables from a JVM-wide counter
    # (x_1, then x_2, ...); the fingerprint must see the same plan
    import re

    from pyspark.sql import functions as F

    sys.path.insert(0, REPO)
    import bench

    def build(k):
        return spark.range(3).select(
            F.transform(F.array("id"), lambda x: x + k).alias("a"))

    a, b = build(1), build(1)
    raw = [re.sub(r"#\d+", "#",
                  d._jdf.queryExecution().optimizedPlan().toString())
           for d in (a, b)]
    assert raw[0] != raw[1]
    assert bench.plan_fingerprint(a) == bench.plan_fingerprint(b)
    assert bench.plan_fingerprint(a) != bench.plan_fingerprint(build(2))
