#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The suite is every query registered with a ``bench=`` alias
(structa_spark/queries.py) plus the engine pillars at their *scale
path* (LSH/approx variants, not the quadratic oracle paths the
registry pins):
  profile_lineitem   - the structure-inference engine itself
  profile_documents  - the same over the text corpus
  minhash_candidates - LSH near-dup candidate pairs (documents)
  simhash_pairs      - simhash bucketed near-dups
  neardup_lsh        - SRP-bucketed embedding near-dups
  containment        - LSH candidates verified over the full corpus
  winnow_overlap     - full-corpus winnowing overlap

Other knobs: SPARK_GRAFT_BENCH_RUNS (timed passes, default 3),
SPARK_GRAFT_BENCH_WARMUP / _LADDER_UP / _DOCLEN (0 skips that block),
SPARK_GRAFT_LADDER_DIR / SPARK_GRAFT_LADDER_UP_DIR (the lower and
upper row-count tiers), SPARK_GRAFT_FULL_PATH /
SPARK_GRAFT_MEDIANS_PATH (where the artifacts land).
"""

import functools
import hashlib
import json
import math
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
LADDER_DIR = os.environ.get("SPARK_GRAFT_LADDER_DIR",
                            "/root/testdata/sf0.01")
# the OPTIONAL local sf1 fixture (scripts/gen_sf1.py, 10x sf0.1,
# gitignored); fresh clones skip the upper tier silently
LADDER_UP_DIR = os.environ.get(
    "SPARK_GRAFT_LADDER_UP_DIR",
    os.path.join(REPO, "spark-warehouse", "sf1"))

# a pass does not start while the 1-minute loadavg exceeds this
# (reruns above it are methodology noise by the established
# adjudication protocol)
MAX_LOADAVG = 10.0
# wall-clock budget for the whole upper tier (measured ~200 s for the
# full suite at sf1): once exceeded, the remaining queries record as
# skipped — partial 3-point evidence beats a lost bench window
LADDER_UP_BUDGET = 300.0
# extra alternated passes for a doc-length op reading super-linear
DOCLEN_RETRIES = 4


def session():
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder
             .master(f"local[{CPUS}]")
             .config("spark.sql.shuffle.partitions", CPUS)
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions.enabled",
                     "true")
             .config("spark.driver.memory", "48g")
             # TIMESTAMP_NTZ columns are normalized via a session-tz
             # cast (sources/tables.py); pin UTC so epochs match the
             # oracle's naive-as-UTC reading on any machine
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .appName("structa-spark-bench")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _df_entry(build):
    """Suite entry timing ``build().count()``. ``_df`` exposes the
    builder so the warm-up pass can fingerprint the optimized plan
    without re-running the (possibly model-building) query."""
    def thunk():
        return build().count()
    thunk._df = build
    return thunk


def _profile_entry(spark, sf_dir, table):
    """Suite entry timing the profiler's multi-job inference loop.
    There is no one DataFrame to fingerprint, so ``_fp`` hashes the
    RENDERED profile instead (a result fingerprint: stable across
    boxes, changes when the inference pipeline changes)."""
    from structa_spark import analyze
    from structa_spark.sources.tables import load_table

    def thunk():
        return analyze(load_table(spark, sf_dir, table)).row_count

    def fingerprint():
        p = analyze(load_table(spark, sf_dir, table))
        return "render:" + hashlib.md5(
            p.render().encode()).hexdigest()[:16]

    thunk._fp = fingerprint
    return thunk


def make_suite(spark, sf_dir):
    """Entry name -> thunk for every bench query at ``sf_dir``."""
    from structa_spark.operators import dedup, similarity
    from structa_spark.queries import BENCH, REGISTRY
    from structa_spark.sources.tables import load_table

    def docs():
        return load_table(spark, sf_dir, "documents")

    def containment():
        # LSH candidates verified with array_intersect over the full
        # table — never the labeled quadratic oracle slice the
        # registry query uses
        d = docs()
        return dedup.containment_pairs(
            d, threshold=0.5, candidates=dedup.minhash_candidates(d))

    suite = {
        "profile_lineitem": _profile_entry(spark, sf_dir, "lineitem"),
        "profile_documents": _profile_entry(spark, sf_dir, "documents"),
        "minhash_candidates": _df_entry(
            lambda: dedup.minhash_candidates(docs())),
        "simhash_pairs": _df_entry(
            lambda: dedup.simhash_near_duplicates(docs())),
        "neardup_lsh": _df_entry(
            lambda: similarity.embedding_near_duplicates(
                load_table(spark, sf_dir, "embeddings"),
                threshold=0.9, use_lsh=True)),
        "containment": _df_entry(containment),
        # the registry query pins a 150-doc oracle slice; the scale
        # path runs the whole corpus with the stop-gram posting cap
        "winnow_overlap": _df_entry(
            lambda: dedup.winnow_overlap_pairs(
                docs(), min_shared=8, max_postings=100)),
    }
    for alias, name in BENCH.items():
        suite[alias] = _df_entry(
            functools.partial(REGISTRY[name][0], spark, sf_dir))
    return suite


def time_entry(fn):
    """Run one suite entry: ``(seconds, rows, error)``. ``rows`` is
    the entry's int result (the ``.count()`` / profile row count) —
    for pair-emitting queries the emitted-pair count, so a cross-tier
    time-per-pair fit can separate output growth from a super-linear
    plan. One bad query must not zero the suite, so a failure comes
    back as ``(None, None, message)``."""
    t0 = time.time()
    try:
        res = fn()
    except Exception as exc:
        return None, None, f"{type(exc).__name__}: {exc}"[:500]
    return (round(time.time() - t0, 3),
            res if isinstance(res, int) else None, None)


def run_tier(suite, budget=None):
    """One pass over ``suite``: ``(times, rows, skipped)``. Once
    ``budget`` seconds have elapsed the remaining entries are
    recorded as skipped (time None)."""
    times, rows, skipped = {}, {}, []
    t0 = time.time()
    for name, fn in suite.items():
        if budget is not None and time.time() - t0 > budget:
            skipped.append(name)
            times[name] = None
            continue
        times[name], n, _ = time_entry(fn)
        if n is not None:
            rows[name] = n
    return times, rows, skipped


def loglog_slope(points):
    """Least-squares slope of log(t) on log(x) over the ``(x, t)``
    points where both are set: the scaling exponent (~1.0 linear,
    ~2.0 quadratic). None with fewer than two distinct x."""
    pts = [(math.log(x), math.log(t)) for x, t in points if x and t]
    if len(pts) < 2:
        return None
    mx = sum(x for x, _ in pts) / len(pts)
    my = sum(y for _, y in pts) / len(pts)
    denom = sum((x - mx) ** 2 for x, _ in pts)
    if not denom:
        return None
    return round(sum((x - mx) * (y - my) for x, y in pts) / denom, 2)


def loadavg():
    try:
        return round(os.getloadavg()[0], 1)
    except OSError:
        return None


def gate_on_load():
    """Wait (bounded, ~2 min) for external load to drain before a
    pass, then proceed and let the recorded loadavg show it."""
    for _ in range(6):
        load = loadavg()
        if load is None or load <= MAX_LOADAVG:
            return load
        time.sleep(20)
    return loadavg()


def spin_ms():
    """Single-threaded fixed-work probe (~10 ms on quiet hardware):
    measures the CPU throughput actually available to this VM at this
    instant. The 1-minute loadavg cannot see co-tenant CPU steal —
    round 11 measured four runs of identical code with
    indistinguishable per-query loadavg vectors (medians 5.4-5.65)
    spreading 97.3-138.5 s total — but a fixed busy loop can: its
    wall time scales directly with steal and frequency capping."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300000):
        acc += i
    if acc < 0:  # never true; pins `acc` as observable work
        print(acc)
    return round((time.perf_counter() - t0) * 1000.0, 2)


def plan_fingerprint(df):
    """md5 of the OPTIMIZED plan with expression IDs, object
    addresses and lambda-variable counters normalized out."""
    s = df._jdf.queryExecution().optimizedPlan().toString()
    s = re.sub(r"#\d+", "#", s)          # expression IDs
    s = re.sub(r"@[0-9a-f]+", "@", s)    # object addresses
    # lambda variables are named from a JVM-wide counter (x_57), so
    # the raw name depends on how many lambdas the entries built
    # before this one; renumber them by first appearance instead
    seen = {}
    s = re.sub(r"(?<=lambda )(\w+?)_\d+\b",
               lambda m: seen.setdefault(
                   m.group(0), f"{m.group(1)}_{len(seen)}"), s)
    return hashlib.md5(s.encode()).hexdigest()[:16]


# Per-query parallelism signal (round 12, VERDICT r11 item 2): at
# sf0.1 nearly every query sits on the session floor, so wall-clock
# ratios across core counts cannot distinguish "parallelises at
# scale" from "floor-bound at this SF". The EXECUTED task counts can:
# after each warm-up execution the max tasks-in-one-stage among the
# stages that query just ran is read from the app status store (a
# stage-id watermark scopes the read to this query's jobs regardless
# of which driver thread submitted them). Warm-up only, outside every
# timed region.
def _stage_list(spark):
    # AppStatusStore.stageList(statuses, details, withSummaries,
    # unsortedQuantiles, taskStatus): empty statuses = all stages
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    return spark.sparkContext._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())


def _max_stage_id(spark):
    try:
        sl = _stage_list(spark)
        return max((sl.apply(i).stageId() for i in range(sl.size())),
                   default=-1)
    except Exception:
        return None


def _max_tasks_since(spark, watermark):
    if watermark is None:
        return None
    try:
        sl = _stage_list(spark)
        return max((sl.apply(i).numTasks() for i in range(sl.size())
                    if sl.apply(i).stageId() > watermark),
                   default=None)
    except Exception:
        return None


def sf_of(d):
    m = re.search(r"sf([0-9.]+)", os.path.basename(d.rstrip("/")))
    try:
        return float(m.group(1)) if m else None
    except ValueError:
        return None


def median(vals):
    vals = sorted(v for v in vals if v is not None)
    if not vals:
        return None
    mid = len(vals) // 2
    if len(vals) % 2:
        return vals[mid]
    return round((vals[mid - 1] + vals[mid]) / 2, 3)


def minimum(vals):
    vals = [v for v in vals if v is not None]
    return min(vals) if vals else None


def _warm_jvm(spark):
    """Amortize class loading once, as a long-lived production
    session would: the parquet vectorized reader, codegen/Janino,
    ObjectHashAggregate (sketches), window exec and higher-order
    function classes. Each query still compiles its own code."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    warm = spark.read.parquet(f"{SF_DIR}/region.parquet")
    (warm.select("*", F.explode(F.split(F.lit("a b"), " ")).alias("t"))
     .groupBy("t")
     .agg(F.percentile_approx(F.length("t"), F.lit(0.5), F.lit(100)),
          F.hll_sketch_estimate(F.hll_sketch_agg(F.col("t"), F.lit(12))),
          F.min("t"), F.count(F.lit(1)))
     .withColumn("r", F.row_number().over(
         Window.partitionBy("t").orderBy("t")))
     .collect())


def _doclen_ladder(spark):
    """The sf ladder scales ROW COUNT, but the fixture documents are
    short, so a gram builder that is quadratic IN DOCUMENT LENGTH is
    invisible to every sf number (the round-5 blind spot: a 115x HOF
    re-derivation survived five rounds of green benches). This times
    the token-pipeline operators over synthetic corpora at FIXED row
    count and 4x token lengths; linear operators read ~<=1.0 and a
    quadratic gram shape trends toward 2.0."""
    from pyspark.sql import functions as F

    from structa_spark.operators import dedup, text
    from structa_spark.operators import sampling as _sampling

    def _docs(n_docs, n_tokens):
        words = ["alpha", "beta", "gamma", "delta", "epsilon",
                 "zeta", "eta", "theta", "iota", "kappa"]
        rows = [(d, " ".join(
            words[(d * 7 + i * 3) % len(words)] + str((d + i) % 97)
            for i in range(n_tokens))) for d in range(n_docs)]
        df = (spark.createDataFrame(rows, "doc_id int, text string")
              .repartition(int(CPUS)))
        df.persist().count()
        return df

    doclen_ops = {
        "shingle_explode": lambda d: d.select(
            F.explode(dedup.word_shingles(F.col("text"), 3))
            .alias("s")).count(),
        "span_dup": lambda d: dedup.span_dup_per_doc(d, n=5)
            .agg(F.sum("n_spans")).collect(),
        "dsir_features": lambda d: _sampling._hashed_ngram_counts(
            d, 1024, "doc_id", "text").count(),
        "bigram_nll": lambda d: text.bigram_logprob(
            d, persist=False).agg(F.sum("n_bigrams")).collect(),
        "fingerprint": lambda d: text.fingerprint(d, k=8)
            .agg(F.sum("fingerprint")).collect(),
        "winnow": lambda d: dedup.winnow_fingerprints(
            d, k=8, w=16).count(),
        "chunk_windows": lambda d: text.chunk_windows(
            d, 32, 16).count(),
        # line-rule batteries: the synthetic docs are one long
        # line, which still scales the split/filter/reassemble
        # path these share — a super-linear regexp or HOF shape
        # shows up exactly like the gram builders above
        "c4_lines": lambda d: text.c4_clean_lines(d)
            .agg(F.sum("n_kept_lines")).collect(),
        "gopher_quality": lambda d: text.gopher_quality_flags(d)
            .agg(F.sum("n_words")).collect(),
    }
    # N_RUNS alternated passes per size, per-op MIN: load spikes
    # inflate single passes 10-20x (a measured winnow pass went 50s ->
    # 5.6s within one session as external load drained), which fakes
    # a quadratic exponent. Contention only ever adds time, and
    # alternating sizes keeps a monotone load drift from biasing one
    # size.
    frames = {n: _docs(200, n) for n in (2000, 8000)}
    passes = {n: {name: [] for name in doclen_ops} for n in frames}

    def run(name, n_tok):
        passes[n_tok][name].append(time_entry(
            functools.partial(doclen_ops[name], frames[n_tok]))[0])

    def mins_and_exps():
        mins = {n: {name: minimum(vals) for name, vals in per.items()}
                for n, per in passes.items()}
        exps = {}
        for name in doclen_ops:
            e = loglog_slope((n, mins[n].get(name)) for n in frames)
            if e is not None:
                exps[name] = e
        return mins, exps

    loads = []
    for _ in range(N_RUNS):
        # when an exponent reads super-linear, this shows whether
        # external contention (not the operator) owned the run
        loads.append(loadavg())
        for n_tok in frames:
            for name in doclen_ops:
                run(name, n_tok)
    mins, exps = mins_and_exps()
    # targeted re-measure: a contention spike during one op's
    # 8000-token passes fakes a super-linear exponent (round 6
    # recorded fingerprint at 1.14 under loadavg 24; a quiet-box
    # min-of-7 read 0.95). Any op reading > 1.0 gets a FIXED number of
    # extra passes — never stopping early when the exponent first dips
    # under 1.0, which would asymmetrically nudge marginal readings
    # downward. A REAL quadratic keeps failing however many minimums
    # are taken; pre/post-retry exponents ship so it is auditable.
    flagged = sorted(n for n, e in exps.items() if e > 1.0)
    pre_retry = {n: exps[n] for n in flagged}
    for name in flagged:
        for _ in range(DOCLEN_RETRIES):
            for n_tok in frames:
                run(name, n_tok)
    if flagged:
        mins, exps = mins_and_exps()
    for df in frames.values():
        df.unpersist()
    return {
        "n_docs": 200,
        "n_tokens": [2000, 8000],
        "aggregation": f"per-op min of {N_RUNS} alternated passes",
        "queries": {str(k): v for k, v in mins.items()},
        "passes": {str(k): v for k, v in passes.items()},
        "loadavg_per_pass": loads,
        "exponents": exps,
        "retry": {
            "flagged": flagged,
            "extra_passes_each": DOCLEN_RETRIES,
            "pre_retry_exponents": pre_retry,
            "post_retry_exponents": {n: exps.get(n) for n in flagged},
        },
    }


def _write_json(path, obj):
    try:
        with open(path, "w") as fh:
            json.dump(obj, fh, indent=1)
    except OSError:
        pass  # a read-only checkout must not fail the bench


def main():
    spark = session()
    suite = make_suite(spark, SF_DIR)
    _warm_jvm(spark)

    # DISCARDED warm-up pass over the whole suite: the first-ever
    # execution of each query pays one-time codegen + class loading
    # + shared-cache materialization, and a cold first pass has read
    # 3-4x the steady-state total (288.7 s vs 83.5/68.3 s in the
    # round-8 artifact). It doubles as the fingerprint pass:
    # fingerprint changed => the plan changed; unchanged => box noise.
    fingerprints = {}
    task_counts = {}
    if os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0":
        for name, fn in suite.items():
            wm = _max_stage_id(spark)
            try:
                if hasattr(fn, "_df"):
                    df = fn._df()
                    fingerprints[name] = plan_fingerprint(df)
                    df.count()
                else:
                    # the profile call doubles as the warm-up execution
                    fingerprints[name] = fn._fp()
            except Exception:
                pass  # the timed passes report the error properly
            mt = _max_tasks_since(spark, wm)
            if mt is not None:
                task_counts[name] = mt
        # a missing fingerprint is a wiring bug in the suite
        missing_fp = sorted(set(suite) - set(fingerprints))
        if missing_fp:
            print(f"WARNING: no fingerprint for {missing_fp}",
                  file=sys.stderr)

    # MIN of N_RUNS passes per query: contention only ever ADDS time
    # (round 10 recorded fuzzy_decontam at 28.67 s in one pass vs
    # 1.89/2.58 in the others), so the minimum is the noise-robust
    # estimator for algorithmic cost; medians and all raw passes ship
    # alongside. Each pass is gated on the loadavg, and the loadavg
    # and spin probe sampled before every query ship in the artifact.
    #
    # Pass ORDER alternates (forward / reversed / half-rotated): in a
    # single long-lived session, later queries inherit JVM/GC pressure
    # from earlier ones (round 7 measured unchanged code drifting
    # 1.0-1.5x non-uniformly), so alternation spreads the position
    # effect across passes.
    names = list(suite)
    all_runs, all_loads, all_spins = [], [], []
    errors = {}
    emitted = {}
    for r in range(N_RUNS):
        if r % 3 == 1:
            order = list(reversed(names))
        elif r % 3 == 2:
            mid = len(names) // 2
            order = names[mid:] + names[:mid]
        else:
            order = names
        gate_on_load()
        run, run_load, run_spin = {}, {}, {}
        for name in order:
            run_load[name] = loadavg()
            run_spin[name] = spin_ms()
            run[name], rows, err = time_entry(suite[name])
            if err is not None:
                errors[name] = err
            elif name not in emitted and rows is not None:
                emitted[name] = rows
        all_runs.append(run)
        all_loads.append(run_load)
        all_spins.append(run_spin)

    times = {name: minimum([run[name] for run in all_runs])
             for name in suite}
    medians = {name: median([run[name] for run in all_runs])
               for name in suite}
    total = round(sum(t for t in times.values() if t is not None), 3)
    # errors only for queries with NO successful pass; a transient
    # single-pass failure is reported separately so a valid median is
    # never contradicted by a stale error entry
    flaky = {name: sum(1 for run in all_runs if run[name] is None)
             for name in suite
             if times[name] is not None
             and any(run[name] is None for run in all_runs)}
    errors = {name: msg for name, msg in errors.items()
              if times[name] is None}
    out = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": times,
        "aggregation": (f"per-query MIN of {N_RUNS} loadavg-gated "
                        "order-alternated passes after a discarded "
                        "warm-up pass (contention only adds time; "
                        "medians shipped alongside for continuity "
                        "with rounds <= 10)"),
        "medians": medians,
        "plan_fingerprints": fingerprints,
        "passes": all_runs,
        "loadavg_per_query": all_loads,
        "spin_ms_per_query": all_spins,
        "rows_emitted": emitted,
        "max_tasks_per_stage": task_counts,
        "max_loadavg_gate": MAX_LOADAVG,
        "runs": [round(sum(t for t in run.values() if t is not None), 3)
                 for run in all_runs],
        "sf": SF_DIR,
        "cpus": int(CPUS),
    }
    if flaky:
        out["failed_passes"] = flaky
    if errors:
        out["errors"] = errors

    # scale ladder: one extra pass at a smaller scale factor and the
    # per-query scaling exponent. A linear operator reads ~1.0 minus
    # fixed-overhead compression (the job-launch floor dominates
    # small-SF timings, biasing exponents LOW); anything trending
    # clearly above ~1.3 is the 100x alarm.
    sf_main, sf_small = sf_of(SF_DIR), sf_of(LADDER_DIR)
    small = {}
    if (os.path.isdir(LADDER_DIR)
            and sf_main and sf_small and sf_main > sf_small):
        small, small_emitted, _ = run_tier(make_suite(spark, LADDER_DIR))
        exponents = {}
        for name in suite:
            e = loglog_slope([(sf_small, small.get(name)),
                              (sf_main, times.get(name))])
            if e is not None:
                exponents[name] = e
        out["ladder"] = {
            "sf_dir": LADDER_DIR,
            "scale_ratio": sf_main / sf_small,
            "queries": small,
            "rows_emitted": small_emitted,
            "exponents": exponents,
        }

    # upper ladder tier: a third row-count point above the main SF
    # turns the two-point exponent into a least-squares fit and
    # exercises AQE at real partition counts
    sf_up = sf_of(LADDER_UP_DIR)
    if (os.environ.get("SPARK_GRAFT_BENCH_LADDER_UP", "1") != "0"
            and os.path.isdir(LADDER_UP_DIR)
            and sf_main and sf_up and sf_up > sf_main):
        up, up_emitted, skipped = run_tier(
            make_suite(spark, LADDER_UP_DIR), budget=LADDER_UP_BUDGET)
        exps3 = {}
        for name in suite:
            e = loglog_slope([(sf_small, small.get(name)),
                              (sf_main, times.get(name)),
                              (sf_up, up.get(name))])
            if e is not None:
                exps3[name] = e
        out["ladder_up"] = {
            "sf_dir": LADDER_UP_DIR,
            "sf": sf_up,
            "queries": up,
            "rows_emitted": up_emitted,
            "exponents_3pt": exps3,
        }
        if skipped:
            out["ladder_up"]["skipped_on_budget"] = skipped

    if os.environ.get("SPARK_GRAFT_BENCH_DOCLEN", "1") != "0":
        out["doclen_ladder"] = _doclen_ladder(spark)

    # the COMPLETE result also lands on disk (a truncated stdout
    # capture once lost a round's medians block), and medians +
    # exponents land in their own small file
    _write_json(os.environ.get("SPARK_GRAFT_FULL_PATH",
                               os.path.join(REPO, "BENCH_local.json")),
                out)
    _write_json(os.environ.get("SPARK_GRAFT_MEDIANS_PATH",
                               os.path.join(REPO, "BENCH_medians.json")), {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "aggregation": out["aggregation"],
        "sf": out["sf"],
        "queries": times,
        "medians": medians,
        "loadavg_per_query": all_loads,
        "spin_ms_per_query": all_spins,
        "rows_emitted": emitted,
        "max_tasks_per_stage": task_counts,
        "exponents": out.get("ladder", {}).get("exponents"),
        "exponents_3pt": out.get("ladder_up", {}).get("exponents_3pt"),
        "doclen_exponents": out.get("doclen_ladder",
                                    {}).get("exponents"),
        "plan_fingerprints": fingerprints,
    })

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
