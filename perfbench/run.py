#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, closed loop, one
long-lived Spark session in this process.

    python3 perfbench/run.py --workload profile_files --seed 1 \\
        --seconds 8 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench/`` and checked against the truth the generator
planted. With ``--trace 0`` the last line of standard output is a JSON
object with the end-to-end metrics; with ``--trace 1`` it holds the
per-layer metrics, and the spans are written to
``.perfbench/spans-<workload>-<seed>.jsonl``. The lines before it list
every metric by name with its unit. See perfbench/README.md.
"""

import time

_STARTED = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import spans  # noqa: E402
from counters import (SparkCounters, loadavg, spin_ms,  # noqa: E402
                      vm_hwm_mb)
from workloads import RUNGS, WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: driver heap, fixed (-Xms = -Xmx). With a growable 4 GB heap, runs of
#: one seed varied by +-35% in warm latency and by 1.9-3.0 GB in peak
#: RSS, as G1 grew the heap by different amounts from run to run.
DRIVER_MEMORY = "2g"
#: the run stops sending requests after this long, whatever --seconds
#: says, so that it always ends inside the 180 s a run may take
HARD_STOP_S = 140.0

#: per-request layer metrics, in report order
REQUEST_LAYER = (
    ["request.self_s", "sources.sniff_s", "sources.read_s",
     "sources.read_stages", "analyzer.analyze_s", "analyzer.stages",
     "analyzer.tasks", "analyzer.slot_busy_ratio", "analyzer.driver_cpu_s",
     "analyzer.codegen_compiles", "analyzer.codegen_compile_s",
     "analyzer.executor_run_s", "analyzer.executor_cpu_s", "analyzer.gc_s",
     "analyzer.input_mb", "analyzer.shuffle_write_mb", "analyzer.spill_mb",
     "model.merge_s", "model.render_s"]
    + ["operators.%s.%s" % (r, k) for r in RUNGS
       for k in ("build_s", "stages", "executor_run_s", "shuffle_write_mb",
                 "rows_out")]
    + ["sinks.write_s", "sinks.stages", "sinks.files_written",
       "sinks.bytes_written"])

END_TO_END = {
    "setup_s": "s", "cold_request_s": "s", "request_p50_s": "s",
    "request_tail_s": "s", "records_per_s": "records/s",
    "driver_peak_rss_mb": "MB",
}


def process_age_s() -> float:
    """Seconds since this process was started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def make_session(workdir: str):
    """``local[nproc]`` session sized for a 4-core host that other
    tenants share, with every scratch directory inside ``workdir``;
    runs one trivial job."""
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    local, tmp = os.path.join(workdir, "local"), os.path.join(workdir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit starts first would otherwise
    # write its perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData")
    spark = (SparkSession.builder.master("local[%d]" % cores)
             .appName("perfbench")
             .config("spark.driver.memory", DRIVER_MEMORY)
             .config("spark.sql.shuffle.partitions", str(cores))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.local.dir", local)
             .config("spark.sql.warehouse.dir",
                     os.path.join(workdir, "warehouse"))
             .config("spark.driver.extraJavaOptions",
                     "-Djava.io.tmpdir=%s -XX:-UsePerfData -Xms%s"
                     % (tmp, DRIVER_MEMORY))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()          # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def tail(values: list) -> tuple:
    """(value, percentile) of the highest percentile that leaves at
    least ten samples beyond it. Below forty samples that percentile
    sits at or under p75, so the rule becomes: at least a quarter of
    the samples beyond it (nearest rank). Below four samples it is the
    maximum."""
    v = sorted(values)
    n = len(v)
    beyond = min(10, n // 4)
    return v[n - 1 - beyond], 100.0 * (n - beyond) / n


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


class Run:
    """One run of one workload: the cold request, then warm requests
    until ``seconds`` have passed."""

    def __init__(self, args, spark, workdir):
        self.args = args
        self.counters = SparkCounters(spark)
        self.hooks = spans.Hooks(self.counters if args.trace else None)
        self.hooks.install(traced=bool(args.trace))
        self.wl = WORKLOADS[args.workload](
            spark, self.hooks, random.Random(args.seed), workdir)
        self.attempted = self.failed = 0
        self.warm = []               # (wall s, records, traced)
        self.cold_s = None
        self.layers = []             # per traced request
        self.cache = []              # (cells held, bytes held) per pass
        self.self_time_violations = 0

    def one(self, seq: int, traced: bool, small: bool = False) -> tuple:
        """Send one request; (wall s, input records), or None when it
        failed or its output was wrong."""
        wl, hooks = self.wl, self.hooks
        inp = wl.prepare(seq, small)
        self.attempted += 1
        try:
            with hooks.request(seq, traced):
                t0 = time.perf_counter()
                out = wl.request(inp)
                wall = time.perf_counter() - t0
            layer = rows_out = None
            if traced:
                layer = self.layer_metrics(seq, inp)
                rows_out = wl.rows_out(out)
                layer.update(("operators.%s.rows_out" % rung, n)
                             for rung, n in rows_out.items())
            bad = wl.verify(inp, out, rows_out)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if self.args.trace:
            from structa_spark import registered_cells

            self.cache.append((sum(registered_cells().values()),
                               self.counters.storage_bytes()))
        print("request %d%s: %.3f s%s" % (seq, " traced" if traced else "",
                                           wall, " WRONG" if bad else ""),
              file=sys.stderr)
        if bad:
            print("request %d: wrong output: %s" % (seq, "; ".join(bad)),
                  file=sys.stderr)
            self.failed += 1
            return None
        if layer is not None:
            self.layers.append(layer)
        return wall, wl.records(inp)

    def layer_metrics(self, seq: int, inp) -> dict:
        req = self.hooks.request_spans(seq)
        root = req[0]
        wall = root.end - root.start
        selfs = spans.self_times(req)
        if sum(v for k, v in selfs.items() if k != "request") > wall:
            self.self_time_violations += 1
        stages = spans.stage_totals(
            req, self.counters.stages_since(root.wm[0]))
        m = {"request.self_s": selfs["request"]}
        m["sources.sniff_s"] = selfs.get("sources.sniff", 0.0)
        m["sources.read_s"] = selfs.get("sources.read", 0.0)
        m["sources.read_stages"] = stages.get(
            "sources.read", {}).get("stages", 0)
        an = [s for s in req if s.name == "analyzer.analyze"]
        a_s = selfs.get("analyzer.analyze", 0.0)
        ast = stages.get("analyzer.analyze", {})
        m["analyzer.analyze_s"] = a_s
        for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "gc_s", "input_mb", "shuffle_write_mb", "spill_mb"):
            m["analyzer." + k] = ast.get(k, 0)
        m["analyzer.slot_busy_ratio"] = (
            ast.get("executor_run_s", 0.0) / (a_s * self.counters.cores)
            if a_s else 0.0)
        m["analyzer.driver_cpu_s"] = sum(s.cpu[1] - s.cpu[0] for s in an)
        m["analyzer.codegen_compiles"] = sum(s.cg[1][0] - s.cg[0][0]
                                             for s in an)
        m["analyzer.codegen_compile_s"] = sum(s.cg[1][1] - s.cg[0][1]
                                              for s in an)
        m["model.merge_s"] = selfs.get("model.merge", 0.0)
        m["model.render_s"] = selfs.get("model.render", 0.0)
        for rung in RUNGS:
            name = "operators." + rung
            st = stages.get(name, {})
            m[name + ".build_s"] = selfs.get(name, 0.0)
            m[name + ".stages"] = st.get("stages", 0)
            m[name + ".executor_run_s"] = st.get("executor_run_s", 0.0)
            m[name + ".shuffle_write_mb"] = st.get("shuffle_write_mb", 0.0)
            m[name + ".rows_out"] = 0
        m["sinks.write_s"] = selfs.get("sinks.write", 0.0)
        m["sinks.stages"] = stages.get("sinks.write", {}).get("stages", 0)
        m["sinks.files_written"], m["sinks.bytes_written"] = \
            self.wl.written(inp)
        return m

    def go(self) -> None:
        """The cold request, the workload's unmeasured warm-up requests,
        then warm requests in whole rounds of the workload's input cycle
        until ``--seconds`` have passed and at least the workload's
        ``rounds`` were sent. A traced run sends at least two rounds and
        traces every other one, so traced and untraced requests see the
        same mix of inputs and their difference is the tracing
        overhead."""
        args, cycle = self.args, self.wl.cycle
        min_warm = cycle * max(self.wl.rounds, 2 if args.trace else 1)
        got = self.one(0, traced=False)
        if got:
            self.cold_s = got[0]
        for seq in range(1, 1 + self.wl.warmup):
            self.one(seq, traced=False, small=True)
        first = 1 + self.wl.warmup
        begin = time.perf_counter()
        n = 0
        while True:
            traced = bool(args.trace) and n // cycle % 2 == 0
            got = self.one(first + n, traced)
            n += 1
            if got:
                self.warm.append((got[0], got[1], traced))
            now = time.perf_counter()
            if now - _STARTED > HARD_STOP_S:
                break
            if now - begin >= args.seconds and n >= min_warm \
                    and n % cycle == 0:
                break


def end_to_end(run, setup_s, rss_mb) -> dict:
    walls = [w for w, _, _ in run.warm]
    tail_s, tail_p = tail(walls) if walls else (0.0, 0.0)
    return {
        "setup_s": setup_s,
        "cold_request_s": run.cold_s or 0.0,
        "request_p50_s": median(walls),
        "request_tail_s": tail_s,
        "records_per_s": (sum(r for _, r, _ in run.warm) / sum(walls)
                          if walls else 0.0),
        "driver_peak_rss_mb": rss_mb,
    }, tail_p


def per_layer(run, spins, load) -> dict:
    """Every per-layer metric: the median over traced requests of the
    per-request values, then run-level figures. A layer the workload
    never calls reads 0."""
    out = {k: median([layer[k] for layer in run.layers])
           for k in REQUEST_LAYER}
    traced = [w for w, _, t in run.warm if t]
    plain = [w for w, _, t in run.warm if not t]
    out["trace.request_p50_s"] = median(traced)
    out["trace.overhead_s"] = (median(traced) - median(plain)
                               if traced and plain else 0.0)
    out["trace.bookkeeping_s"] = (run.hooks.bookkeeping_s / len(traced)
                                  if traced else 0.0)
    out["cache.cells_held"] = max((c for c, _ in run.cache), default=0)
    out["cache.bytes_held"] = max((b for _, b in run.cache), default=0)
    out["host.spin_ms"] = median(spins)
    out["host.loadavg"] = load
    return out


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("ratio"):
        return "ratio"
    if name.endswith("bytes_written") or name.endswith("bytes_held"):
        return "bytes"
    if name == "host.loadavg":
        return "load"
    return "count"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "structa_spark", "__init__.py")):
        print("perfbench: no structa_spark package beside %s" % HERE,
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()

    out_dir = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(out_dir, "work-%d" % os.getpid())
    os.makedirs(workdir)
    spark = None
    try:
        spark = make_session(workdir)
        setup_s = process_age_s()
        spins = [spin_ms()]
        run = Run(args, spark, workdir)
        run.go()
        spins.append(spin_ms())
        rss_mb = vm_hwm_mb(run.counters.jvm_pid()) + vm_hwm_mb()
        load = loadavg()
        run.hooks.uninstall()
        if args.trace:
            run.hooks.dump(os.path.join(
                out_dir, "spans-%s-%d.jsonl" % (args.workload, args.seed)))
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    e2e, tail_p = end_to_end(run, setup_s, rss_mb)
    n_warm = len(run.warm)
    error_rate = run.failed / run.attempted
    print("workload %s  seed %d  warm requests %d  trace %d"
          % (args.workload, args.seed, n_warm, args.trace))
    for name, value in e2e.items():
        note = ""
        if name == "request_tail_s":
            note = "  (p%.1f of %d warm requests)" % (tail_p, n_warm)
        print("  %-34s %14.4f %s%s" % (name, value, END_TO_END[name], note))
    print("  %-34s %14.4f ratio  (%d of %d requests failed or wrong)"
          % ("error_rate", error_rate, run.failed, run.attempted))
    if args.trace:
        metrics = per_layer(run, spins, load)
        for name, value in metrics.items():
            print("  %-34s %14.4f %s" % (name, value, unit_of(name)))
        print("  self-time check: %d traced requests, %d with layer self "
              "times above the request wall time"
              % (len(run.layers), run.self_time_violations))
        result = {k: {"value": v, "unit": unit_of(k)}
                  for k, v in metrics.items()}
    else:
        print("  host.spin_ms %.2f  host.loadavg %.2f" % (median(spins), load))
        result = {k: {"value": v, "unit": END_TO_END[k]}
                  for k, v in e2e.items()}
    correct = run.failed == 0 and run.self_time_violations == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
