#!/usr/bin/env python3
"""Benchmark of the spark-graft engine, run from outside through its
public entry points (``session.get_spark``, ``plans.CATALOG[name].fn``,
``pipeline.daily_run`` and ``pipeline.model_http_response``).

One run, from the root of a checkout:

    python3 perfbench/run.py --workload olap_headline --seed 1 --seconds 10 --trace 0

prints an environment line and, as its last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` gives
the end-to-end metrics (timed with tracing off); ``--trace 1`` gives the
per-layer metrics and writes the spans to ``perfbench/out/``.
``--smoke`` runs on the tiny inputs; without ``--workload`` it runs all
four workloads in one session with every output check on.  Every
workload, untraced then traced, with the tracing overhead:

    python3 perfbench/run.py --all [--smoke] [--seed 1] [--seconds 10]

See perfbench/README.md for the workloads, metrics and baseline.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_engineering_individual_assignment_spark"
sys.path.insert(0, HERE)


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["daily_elt", "olap_headline", "neardup_x10",
                                           "media_neardup"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, same checks")
    ap.add_argument("--all", action="store_true",
                    help="run every workload untraced and traced; print a table")
    args = ap.parse_args(argv)
    if not (args.all or args.smoke) and args.workload is None:
        ap.error("--workload is required (or --all, or --smoke for all four)")
    if args.trace and args.workload is None:
        ap.error("--trace 1 needs --workload")
    return args


def _engine_root() -> None:
    """The engine must come from this checkout, never from elsewhere."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        sys.exit(f"perfbench: no {PACKAGE}/ package next to perfbench/ in {ROOT}")
    sys.path.insert(0, ROOT)
    import importlib

    pkg = importlib.import_module(PACKAGE)
    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) != ROOT:
        sys.exit(f"perfbench: {PACKAGE} imported from {pkg.__file__}, not from {ROOT}")


def _environ(work: str, trace: bool) -> str | None:
    """Launcher settings: cores, scratch dirs inside the checkout, and
    (traced run only) the event log.  Returns the event-log dir."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    # -XX:-UsePerfData: the JVM's perf-counter file would go to /tmp
    java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    submit = ["--conf", "spark.ui.showConsoleProgress=false",
              "--driver-java-options", f"'{java_opts}'"]
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{log_dir}",
                   "--conf", "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's own short-lived JVM
    return log_dir


def _stop(spark) -> None:
    """Stop Spark, then end the JVM and wait for it (its Python workers
    are stopped by the context)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway, SparkContext._jvm = None, None
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _result(runs, units, metrics) -> dict:
    return {
        "correct": all(ctx.failed == 0 for _, ctx, _ in runs),
        "attempted": sum(ctx.attempted for _, ctx, _ in runs),
        "failed": sum(ctx.failed for _, ctx, _ in runs),
        "metrics": {k: {"value": v, "unit": units[k.rsplit("/", 1)[-1]]}
                    for k, v in metrics.items()},
    }


def run_one(args) -> int:
    """One session; one workload, or (smoke only) all four in turn."""
    import probes
    import workloads

    names = [args.workload] if args.workload else list(workloads.WORKLOADS)
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        log_dir = _environ(work, bool(args.trace))
        steal0 = probes.steal_jiffies()
        t_start = time.perf_counter()
        from data_engineering_individual_assignment_spark.session import get_spark

        spark = get_spark("perfbench")
        runs = []
        try:
            spark.sparkContext.setLogLevel("ERROR")
            env = probes.environment(spark)
            tree = probes.ProcessTree(spark.sparkContext._gateway.proc.pid)
            for name in names:
                ctx = workloads.Context(
                    spark=spark, tree=tree, work=work,
                    profile=workloads.PROFILES["smoke" if args.smoke else "bench"],
                    seed=args.seed, seconds=args.seconds,
                    tracer=probes.Tracer() if args.trace else None,
                )
                out = workloads.run(ctx, name, t_start)
                out["end_to_end"] = workloads.end_to_end(ctx, out["setup_s"])
                out["peak_rss_mb"] = tree.peak_rss_mb()
                runs.append((name, ctx, out))
                t_start = time.perf_counter()
        finally:
            _stop(spark)
        env["steal_delta_jiffies"] = probes.steal_jiffies() - steal0
        for name, ctx, out in runs:
            out["env"] = {**env, "passes": ctx.passes, "phases": ctx.phases}
            print(json.dumps({"env": out["env"], "workload": name, "seed": args.seed,
                              "peak_rss_mb": {"value": out["peak_rss_mb"], "unit": "MB"}}))
            for problem in ctx.problems:
                print(f"perfbench: {name} FAILED {problem}", file=sys.stderr)
        if args.trace:
            name, ctx, out = runs[0]
            metrics = workloads.per_layer(ctx, name, probes.event_log_stats(log_dir),
                                          out["peak_rss_mb"])
            ctx.tracer.dump(
                os.path.join(HERE, "out", f"trace-{name}-s{args.seed}.json"),
                {"env": out["env"], "workload": name, "seed": args.seed,
                 "end_to_end": out["end_to_end"], "per_layer": metrics,
                 "checks": out["report"], "problems": ctx.problems,
                 "samples": [{"pass": s.pass_no, "op": s.name, "s": s.s,
                              "build_s": s.build_s, "cpu": vars(s.cpu),
                              "cache": s.cache, "layers": s.layers} for s in ctx.samples]})
            result = _result(runs, workloads.LAYER_UNITS, metrics)
        elif len(runs) == 1:
            result = _result(runs, workloads.END_TO_END, runs[0][2]["end_to_end"])
        else:
            for name, ctx, out in runs:
                print(json.dumps({"workload": name, **_result(
                    [(name, ctx, out)], workloads.END_TO_END, out["end_to_end"])}))
            result = _result(runs, workloads.END_TO_END, {
                f"{name}/{k}": v for name, _, out in runs for k, v in out["end_to_end"].items()})
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def run_all(args) -> int:
    """Every workload untraced then traced, as separate processes."""
    import workloads

    rows = []
    for name in workloads.WORKLOADS:
        res = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)] + (["--smoke"] if args.smoke else [])
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=900)
            if proc.returncode != 0:
                print(f"perfbench: {name} trace={trace} exited {proc.returncode}",
                      file=sys.stderr)
                return proc.returncode
            res[trace] = json.loads(proc.stdout.strip().splitlines()[-1])
        m0, m1 = res[0]["metrics"], res[1]["metrics"]
        rows.append({
            "workload": name,
            **{k: round(m0[k]["value"], 3) for k in workloads.END_TO_END},
            "correct": res[0]["correct"] and res[1]["correct"],
            "failed": res[0]["failed"] + res[1]["failed"],
            "peak_rss_mb": round(m1["peak_rss_mb"]["value"], 1),
            "trace.wall_s": round(m1["trace.wall_s"]["value"], 3),
            "trace_overhead_s": round(m1["trace.wall_s"]["value"] - m0["wall_s"]["value"], 3),
            "per_layer": {k: v["value"] for k, v in m1.items() if v["value"]},
        })
    cols = [c for c in rows[0] if c != "per_layer"]
    print("  ".join(f"{c:>16}" for c in cols))
    for r in rows:
        print("  ".join(f"{str(r[c]):>16}" for c in cols))
    print(json.dumps({"units": {**workloads.END_TO_END, "peak_rss_mb": "MB",
                                "trace.wall_s": "s", "trace_overhead_s": "s"},
                      "rows": rows}))
    return 0 if all(r["correct"] for r in rows) else 1


def main(argv=None) -> int:
    args = _args(argv)
    _engine_root()
    return run_all(args) if args.all else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
