"""kgforge benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload build_pages --seed 1 --seconds 1 --trace 0

Run from the root of a kgforge source tree. `--trace 0` measures the
end-to-end metrics with tracing off; `--trace 1` makes the separate
traced run that prints the per-layer metrics and its own overhead. The
last stdout line is the result object; the line before it is a report
with every metric's quartiles and sample count, the correctness checks
and the environment. Spark logs go to stderr. Spans of a traced run are
written to .bench_out/. Exit status: 0 when every operation succeeded and
every check passed, 1 otherwise, 2 when the tree holds no kgforge sources.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from procstat import PeakRss, host_cpu_times, steal_frac, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("build_pages", "serve_mixed")
# a run must end within 180 s; the traced build run skips its last build
# when that build would end past this point
TRACE_BUDGET_S = 165
# per-operation samples; the report gives each as median, quartiles, count
SAMPLES = ("read_ms", "read_cpu_ms", "write_ms", "write_cpu_ms")
END_TO_END = [
    ("setup_s", "s"),
    ("write_cpu_ms", "ms"),
    ("read_cpu_ms", "ms"),
]


def summary(values: list[float]) -> dict:
    """Median, quartiles and sample count (never a minimum)."""
    if not values:
        return {"median": None, "q1": None, "q3": None, "n": 0}
    if len(values) == 1:
        q1 = q3 = values[0]
    else:
        q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "n": len(values)}


def p90(values: list[float]) -> float | None:
    """The 90th percentile, only once at least ten samples lie beyond it."""
    if len(values) < 100:
        return None
    return statistics.quantiles(values, n=10)[-1]


class Run:
    """Operation and failure bookkeeping shared by both workloads."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.last_cpu_ms = 0.0

    def op(self, fn, *args):
        """Call fn; an exception or a falsy check counts as a failure.
        Returns fn's result, or None when it raised. Leaves the CPU time
        this process, the JVM and the Python workers spent in the call in
        `last_cpu_ms`."""
        self.attempted += 1
        c0 = tree_cpu_s(os.getpid())
        try:
            out = fn(*args)
            self.last_cpu_ms = (tree_cpu_s(os.getpid()) - c0) * 1e3
        except Exception:  # any failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        if isinstance(out, tuple) and out and out[-1] is False:
            self.failed += 1
        return out


# ------------------------------------------------------------- environment
def prepare_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the Python workers import kgforge from this tree
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path[:0] = [ROOT]


def start_spark(work: str, cpus: int):
    from kgforge.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            # keep every job's record so traced spans can be attributed
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def environment(spark, cpus: int) -> dict:
    digest = hashlib.sha256()
    src = os.path.join(ROOT, "kgforge")
    for dirpath, dirnames, files in os.walk(src):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    digest.update(f.encode() + b"\0" + fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=30)
        commit = r.stdout.strip() or None
    return {
        "commit": commit,
        "kgforge_sources_sha256": digest.hexdigest()[:16],
        "nproc": os.cpu_count(),
        "cpus_used": cpus,
        "spark": spark.version,
        "python": platform.python_version(),
    }


# ------------------------------------------------------------------ build
def run_build(spark, args, run: Run, work: str, t_setup0: float,
              session_s: float) -> dict:
    from build_workload import BuildPages

    wl = BuildPages(spark, args.seed, work)
    res = {"params": wl.params, "session_s": session_s,
           "setup_s": time.perf_counter() - t_setup0}
    if args.trace:
        return trace_build(spark, wl, run, res, t_setup0)

    d = wl.fresh_dir()
    built = run.op(_build_checked, wl, d)
    if built is None:
        return res
    chk, _, ok = built
    res["checks"] = chk
    if not ok:
        return res
    build_s = chk["build_s"]
    res["write_cpu_ms"] = [run.last_cpu_ms]
    reruns, res["read_cpu_ms"] = _reruns(wl, d, chk["hash"], run, args.seconds)
    total = build_s + sum(reruns)
    res.update({
        "write_ms": [build_s * 1e3],
        "read_ms": [r * 1e3 for r in reruns],
        "ops_per_s": (1 + len(reruns)) / total,
        "build_s": summary([build_s]),
        "rerun_s": summary(reruns),
        "triples_per_s": chk["triples"] / build_s,
        "triple_precision": chk["precision"],
        "triple_recall": chk["recall"],
    })
    return res


def _build_checked(wl, d: str):
    build_s, out = wl.run(d)
    chk = wl.check_build(out)
    chk["build_s"] = build_s
    return chk, out, chk["ok"]


def _reruns(wl, d: str, build_hash: str, run: Run, seconds: float,
            tracer=None) -> tuple[list[float], list[float]]:
    """Re-invoke run_pipeline on the committed dir until `seconds` pass;
    returns the wall seconds and CPU ms of each."""
    times: list[float] = []
    cpu_ms: list[float] = []
    t_end = time.perf_counter() + seconds
    while True:
        def one():
            if tracer is None:
                dt, out = wl.run(d)
            else:
                with tracer.span("bench:rerun", "bench"):
                    dt, out = wl.run(d)
            return dt, wl.check_rerun(out, build_hash)

        r = run.op(one)
        if r is not None and r[1]:
            times.append(r[0])
            cpu_ms.append(run.last_cpu_ms)
        if time.perf_counter() >= t_end or tracer is not None:
            return times, cpu_ms


def trace_build(spark, wl, run: Run, res: dict, t_setup0: float) -> dict:
    """Untraced cold build (the warm-up), traced warm build and traced
    rerun, then an untraced warm build; overhead = traced - untraced warm.
    When the host is so slow that the last build would not finish within
    TRACE_BUDGET_S of the start, it is skipped and the cold build is the
    untraced reference (the report says which)."""
    from layers import build_layer_metrics, instrument_build
    from spans import Tracer

    cold = run.op(_build_checked, wl, wl.fresh_dir())
    tracer = Tracer(spark, f"build-{os.getpid()}")
    accumulators = instrument_build(tracer, spark)
    d = wl.fresh_dir()
    try:
        with tracer.span("bench:build", "bench") as build_root:
            traced = run.op(_build_checked, wl, d)
        with tracer.span("bench:reruns", "bench") as rerun_root:
            _reruns(wl, d, traced[0]["hash"] if traced else "", run, 0,
                    tracer=tracer)
    finally:
        tracer.restore()
    if cold is None or traced is None:
        return res
    untraced_s, res["untraced_reference"] = cold[0]["build_s"], "cold"
    # an untraced warm build takes no longer than the traced one
    elapsed = time.perf_counter() - t_setup0
    if elapsed + traced[0]["build_s"] < TRACE_BUDGET_S:
        warm = run.op(lambda: (wl.run(wl.fresh_dir())[0], True))
        if warm is None:
            return res
        untraced_s, res["untraced_reference"] = warm[0], "warm"
    m = build_layer_metrics(tracer, accumulators, build_root, rerun_root,
                            wl.stage_walls(cold[1]))
    m["session.start_s"] = res["session_s"]
    m["session.warmup_s"] = cold[0]["build_s"]
    m["trace.untraced_s"] = untraced_s
    m["trace.traced_s"] = traced[0]["build_s"]
    m["trace.overhead_s"] = traced[0]["build_s"] - untraced_s
    res["checks"] = {"cold": cold[0], "traced": traced[0],
                     "same_triples": cold[0]["hash"] == traced[0]["hash"]}
    if not res["checks"]["same_triples"]:
        run.failed += 1
    res["per_layer"] = m
    res["tracer"] = tracer
    return res


# ------------------------------------------------------------------ serve
def run_serve(spark, args, run: Run, work: str, t_setup0: float,
              session_s: float) -> dict:
    from serve_workload import CYCLE, WARMUP, ServeMixed

    wl = ServeMixed(spark, args.seed, work)
    res = {"params": wl.params, "session_s": session_s}
    loaded = run.op(lambda: (None, wl.load()))
    t_warm = time.perf_counter()
    _serve_cycles(wl, run, WARMUP, 1)
    res["warmup_s"] = time.perf_counter() - t_warm
    res["setup_s"] = time.perf_counter() - t_setup0
    if loaded is None:
        return res

    t0 = time.perf_counter()
    ops = _serve_cycles(wl, run, CYCLE, None, args.seconds)
    wall = time.perf_counter() - t0
    by_read = ops.pop("by_read")
    n_cycles = len(ops["write_ms"]) // CYCLE.count("write")
    res.update(ops)
    res.update({
        "ops_per_s": (len(ops["read_ms"]) + len(ops["write_ms"])) / wall,
        "read_by_query_ms": {k: summary(v) for k, v in by_read.items()},
        "read_p90_ms": p90(ops["read_ms"]),
        "read_samples": len(ops["read_ms"]),
    })
    if args.trace:
        from layers import instrument_serve, serve_layer_metrics
        from spans import Tracer

        tracer = Tracer(spark, f"serve-{os.getpid()}")
        instrument_serve(tracer)
        t1 = time.perf_counter()
        try:
            with tracer.span("bench:serve", "bench") as root:
                _serve_cycles(wl, run, CYCLE, n_cycles, tracer=tracer)
        finally:
            tracer.restore()
        traced_s = time.perf_counter() - t1
        m = serve_layer_metrics(tracer, root)
        m["session.start_s"] = res["session_s"]
        m["session.warmup_s"] = res["warmup_s"]
        m["trace.untraced_s"] = wall
        m["trace.traced_s"] = traced_s
        m["trace.overhead_s"] = traced_s - wall
        res["per_layer"] = m
        res["tracer"] = tracer
    return res


def _serve_cycles(wl, run: Run, cycle: tuple, n_cycles: int | None,
                  seconds: float = 0, tracer=None):
    """Whole cycles of `cycle`: `n_cycles` of them, or as many as start
    within `seconds`. Returns wall and CPU ms of each successful read
    and write, and read wall ms by query."""
    out = {"read_ms": [], "read_cpu_ms": [], "write_ms": [],
           "write_cpu_ms": [], "by_read": {}}
    t_end = time.perf_counter() + seconds
    done = 0
    while (done < n_cycles) if n_cycles is not None else (
            done == 0 or time.perf_counter() < t_end):
        for op in cycle:
            if tracer is None:
                r = run.op(wl.write) if op == "write" else run.op(wl.read, op)
            elif op == "write":
                with tracer.span("bench:write", "serve.write"):
                    r = run.op(wl.write)
            else:
                with tracer.span(f"bench:{op}", "serve.read"):
                    r = run.op(wl.read, op, tracer)
            if r is None or not r[1]:
                continue
            kind = "write" if op == "write" else "read"
            out[f"{kind}_ms"].append(r[0] * 1e3)
            out[f"{kind}_cpu_ms"].append(run.last_cpu_ms)
            if kind == "read":
                out["by_read"].setdefault(op, []).append(r[0] * 1e3)
        done += 1
    return out


# ------------------------------------------------------------------- main
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kgforge", "__init__.py")):
        print(f"perfbench: no kgforge sources under {ROOT}", file=sys.stderr)
        return 2

    t_setup0 = time.perf_counter()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    host0 = host_cpu_times()
    rss = PeakRss(os.getpid()).start()
    cpus = len(os.sched_getaffinity(0))
    run = Run()
    spark = start_spark(work, cpus)
    session_s = time.perf_counter() - t_setup0
    env: dict = {}
    try:
        env.update(environment(spark, cpus))
        runner = run_build if args.workload == "build_pages" else run_serve
        res = runner(spark, args, run, work, t_setup0, session_s)
        tracer = res.pop("tracer", None)
        if tracer is not None:
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    finally:
        stop_spark(spark)
        peak = rss.stop()
        env["steal_frac"] = steal_frac(host0, host_cpu_times())
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass

    correct = run.failed == 0 and run.attempted > 0 and (
        "per_layer" in res if args.trace else bool(res.get("write_ms")))
    if args.trace:
        from layers import PER_LAYER

        metrics = {name: {"value": float(res.get("per_layer", {}).get(name, 0.0)),
                          "unit": unit} for name, unit in PER_LAYER}
    else:
        values = {
            "setup_s": res.get("setup_s"),
            "write_cpu_ms": summary(res.get("write_cpu_ms", []))["median"],
            "read_cpu_ms": summary(res.get("read_cpu_ms", []))["median"],
        }
        metrics = {name: {"value": values[name], "unit": unit}
                   for name, unit in END_TO_END}
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "env": env,
        "failed_frac": run.failed / max(run.attempted, 1),
        "peak_rss_mb": peak,
        **{k: (summary(v) if k in SAMPLES else v) for k, v in res.items()},
    }
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
