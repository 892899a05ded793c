"""The four workloads, their output checks and their metrics.

Every workload is one closed loop: one driver thread runs one operation
at a time, back to back.  A run is

    set-up   session start + input preparation + one untimed warm-up
             pass whose outputs are collected and checked;
    timed    whole passes, back to back, until ``seconds`` have passed
             (at least one); each pass runs every operation once, in an
             order drawn from the seed.

Between operations, outside the timed window, the persisted RDDs still
registered are counted and then dropped, so each operation runs its own
operators instead of reading an earlier one's cached intermediates.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import random
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

import checks
import inputs
import probes

HEADLINE = (
    "pricing_summary", "shipping_priority", "star_join_revenue", "regression_ols",
    "rank_orders_per_customer", "asof_join_events_orders", "dedup_exact",
    "near_dup_pairs", "ann_brute_force", "tumbling_window_counts", "text_stats",
)
NEARDUP = ("near_dup_pairs", "near_dup_minhash", "simhash_clusters", "ann_pq_rerank",
           "near_dup_clusters")
MEDIA = ("image_near_dup_phash", "audio_near_dup_fingerprint", "video_near_dup_signature")
TABLES = ("video_descriptions", "video_statistics", "video_comments", "video_tags")
DAYS = ("2024_01_01", "2024_01_02", "2024_01_03")


@dataclass(frozen=True)
class Profile:
    """Input sizes: ``bench`` for measurement, ``smoke`` for a quick
    end-to-end check of every workload with the output checks on."""

    name: str
    sf: float  # olap_headline's tables
    corpus: dict[str, tuple[int, int]]  # workload -> (documents, replication factor)
    videos: int
    comments_per_video: float


# The near-dup and media queries read only documents and embeddings; the
# other tables of their inputs are written at this scale factor, small,
# because scale_check.replicate copies and replicates them too.
CORPUS_SF = 0.001
PROFILES = {
    "bench": Profile("bench", sf=0.01,
                     corpus={"neardup_x10": (500, 10), "media_neardup": (400, 4)},
                     videos=2000, comments_per_video=43.5),
    "smoke": Profile("smoke", sf=0.001,
                     corpus={"neardup_x10": (500, 2), "media_neardup": (500, 1)},
                     videos=200, comments_per_video=10.0),
}


# tables prepared once per checkout (see prepare_catalog)
INPUTS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work", "inputs")

# workload -> the catalog queries of one pass (daily_elt runs the pipeline)
WORKLOADS = {
    "daily_elt": (),
    "olap_headline": HEADLINE,
    "neardup_x10": NEARDUP,
    "media_neardup": MEDIA,
}
WARM_UP = -1  # pass number of the untimed warm-up pass

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}
_OP_LAYER = {"build_s": "s", "build_jobs": "count", "jobs": "count", "s": "s",
             "shuffle_bytes": "bytes"}


def _op_metrics(queries) -> dict[str, str]:
    return {f"op.{q}.{k}": u for q in queries for k, u in _OP_LAYER.items()}


# printed by every traced run (0 where a workload does not exercise the
# layer); the per_layer list of BENCHMARK.json
PER_LAYER = {
    # unbounded: G1 sizes the heap from GC timing, so the JVM's VmHWM
    # spreads up to 0.25 (IQR/median) over 10 runs (README.md)
    "peak_rss_mb": "MB",
    "plans.build_s": "s", "exec.action_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.gc_s": "s", "scan.bytes": "bytes",
    "shuffle.read_bytes": "bytes", "shuffle.write_bytes": "bytes", "spill.bytes": "bytes",
    "cpu.driver_py_s": "s", "cpu.jvm_s": "s", "cpu.pyworker_s": "s",
    "cache.rdds_left": "count", "cache.bytes_left": "bytes", "trace.wall_s": "s",
    **_op_metrics(NEARDUP + MEDIA),
}
# printed in addition by the traced runs of the two workloads that
# BENCHMARK.json leaves out
DAILY_LAYER = {
    "youtube.normalize_all_s": "s",
    **{f"writers.{t}_s": "s" for t in TABLES}, "writers.register_view_s": "s",
    "regression.model_s": "s", "pipeline.serve_s": "s",
    **{f"rows.{t}": "count" for t in TABLES},
}
LAYER_UNITS = {**PER_LAYER, **DAILY_LAYER, **_op_metrics(HEADLINE)}


@dataclass
class OpSample:
    """One timed operation."""

    pass_no: int
    name: str
    s: float
    cpu: probes.CpuSample
    build_s: float = 0.0
    cache: tuple[int, int] = (0, 0)
    layers: dict[str, float] = field(default_factory=dict)


@dataclass
class Context:
    spark: object
    tree: probes.ProcessTree
    work: str
    profile: Profile
    seed: int
    seconds: float
    tracer: probes.Tracer | None
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    samples: list[OpSample] = field(default_factory=list)
    passes: int = 0
    phases: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def span(self, name: str, op: str):
        return self.tracer.span(name, op) if self.tracer else contextlib.nullcontext()

    def group(self, key: str) -> None:
        if self.tracer:
            self.spark.sparkContext.setJobGroup(key, key)

    def hygiene(self) -> tuple[int, int]:
        left = probes.persisted_rdds(self.spark.sparkContext)
        probes.clear_caches(self.spark)
        return left

    def timed_passes(self, run_pass) -> None:
        """Whole passes until ``seconds`` have passed; pass numbers start at 0."""
        start = time.perf_counter()
        while self.passes == 0 or time.perf_counter() - start < self.seconds:
            run_pass(self.passes)
            self.passes += 1


# ---------------------------------------------------------------------------
# catalog workloads: olap_headline, neardup_x10, media_neardup
# ---------------------------------------------------------------------------
def prepare_catalog(ctx: Context, workload: str) -> str:
    """olap_headline's tables, or a corpus workload's tables replicated as
    the engine's scale sweep does (``scale_check.replicate``: shifted keys,
    a disjoint vocabulary and sign-flipped vectors per replica).

    The tables do not depend on ``--seed``, so they are prepared once per
    checkout, like a build, and reused by later runs: replication alone
    costs about 15 s of a cold session.  The directory is named after a
    digest of the sizes and of the code that writes the tables, so a
    change to either prepares them afresh."""
    import scale_check

    corpus = ctx.profile.corpus.get(workload)
    key = hashlib.sha256(repr((ctx.profile.sf, CORPUS_SF, corpus)).encode())
    for path in (inputs.__file__, scale_check.__file__):
        with open(path, "rb") as fh:
            key.update(fh.read())
    dst = os.path.join(INPUTS_DIR, f"{ctx.profile.name}-{workload}-{key.hexdigest()[:12]}")
    if os.path.isdir(dst):
        return dst
    out = os.path.join(ctx.work, "inputs")
    if corpus is None:
        inputs.write_catalog_tables(out, ctx.profile.sf)
    else:
        docs, factor = corpus
        inputs.write_catalog_tables(out, CORPUS_SF, docs)
        if factor > 1:
            base, out = out, os.path.join(ctx.work, f"inputs_x{factor}")
            scale_check.replicate(ctx.spark, base, out, factor)
    os.makedirs(INPUTS_DIR, exist_ok=True)
    os.rename(out, dst)  # atomic: a run cut short leaves no half-written inputs
    return dst


def warm_catalog(ctx: Context, queries: tuple[str, ...], data: str) -> dict[str, tuple]:
    """Untimed warm-up pass; returns each query's collected (cols, rows)."""
    from data_engineering_individual_assignment_spark import plans

    results = {}
    for name in queries:  # one fixed order, so every seed starts from the same JIT state
        ctx.attempted += 1
        ctx.group(f"{WARM_UP}|{name}|run")
        try:
            df = plans.CATALOG[name].fn(ctx.spark, data)
            results[name] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception:
            ctx.fail(f"{name} raised in warm-up:\n{traceback.format_exc()}")
        ctx.hygiene()
    return results


def check_catalog(ctx: Context, workload: str, data: str, results: dict) -> dict:
    from data_engineering_individual_assignment_spark import plans

    oracle = checks.Oracle(data, f"{ctx.profile.name}/{workload}", plans.oracle_sql())
    report = {}
    try:
        for name, (cols, rows) in sorted(results.items()):
            got = checks.digest(cols, rows)
            report[name] = {"rows": got[0], "digest": got[1]}
            try:
                source, want = oracle.expected(name)
            except KeyError as e:
                ctx.fail(str(e))
                continue
            report[name]["source"] = source
            if got != want:
                ctx.fail(f"{name}: got rows={got[0]} digest={got[1][:12]}, "
                         f"{source} says rows={want[0]} digest={want[1][:12]}")
    finally:
        oracle.close()
    return report


def timed_catalog(ctx: Context, queries: tuple[str, ...], data: str) -> None:
    from data_engineering_individual_assignment_spark import plans

    def run_pass(p: int) -> None:
        order = list(queries)
        random.Random(f"{ctx.seed}/{p}").shuffle(order)
        with ctx.span("pass", f"{p}"):
            for name in order:
                op = f"{p}/{name}"
                ctx.attempted += 1
                cpu0 = ctx.tree.cpu()
                try:
                    with ctx.span(name, op):
                        t0 = time.perf_counter()
                        ctx.group(f"{p}|{name}|build")
                        with ctx.span("plans.build", op):
                            df = plans.CATALOG[name].fn(ctx.spark, data)
                        t1 = time.perf_counter()
                        ctx.group(f"{p}|{name}|run")
                        with ctx.span("exec.action", op):
                            df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                except Exception:
                    ctx.fail(f"{op} raised:\n{traceback.format_exc()}")
                    ctx.hygiene()
                    continue
                cpu = ctx.tree.cpu() - cpu0
                ctx.samples.append(OpSample(p, name, t2 - t0, cpu, build_s=t1 - t0,
                                            cache=ctx.hygiene()))

    ctx.timed_passes(run_pass)


# ---------------------------------------------------------------------------
# daily_elt: landing JSONL -> 4 warehouse tables -> model artifact, per day
# ---------------------------------------------------------------------------
class DailyLayers:
    """Wraps the functions ``pipeline`` calls, so the traced run can time
    each layer.  Installed only for the traced run; ``close`` restores."""

    def __init__(self, ctx: Context):
        from data_engineering_individual_assignment_spark import pipeline
        from data_engineering_individual_assignment_spark.sources import youtube

        self.ctx, self.current, self.layers = ctx, None, {}
        self._saved = [(mod, attr, getattr(mod, attr)) for mod, attr in (
            (youtube, "normalize_all"), (pipeline, "overwrite_day_partition"),
            (pipeline, "register_warehouse_view"), (pipeline, "ols_fit"),
            (pipeline, "write_json_artifact"))]
        for mod, attr, fn in self._saved:
            setattr(mod, attr, self._wrap(attr, fn))

    def _layer(self, attr: str, args) -> str:
        if attr == "normalize_all":
            return "youtube.normalize_all_s"
        if attr == "overwrite_day_partition":
            return f"writers.{os.path.basename(args[1])}_s"
        if attr == "register_warehouse_view":
            return "writers.register_view_s"
        return "regression.model_s"  # ols_fit + the artifact write

    def _wrap(self, attr, fn):
        def timed(*args, **kwargs):
            name = self._layer(attr, args)
            with self.ctx.span(name, self.current or "-"):
                t0 = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    self.layers[name] = self.layers.get(name, 0.0) + time.perf_counter() - t0

        return timed

    def start(self, op: str) -> None:
        self.current, self.layers = op, {}

    def close(self) -> None:
        for mod, attr, fn in self._saved:
            setattr(mod, attr, fn)


def run_day(ctx: Context, landing: inputs.YoutubeLanding, warehouse: str, d: int,
            p: int, layers: DailyLayers | None) -> tuple[float, dict]:
    """daily_run then model_http_response; returns (seconds, response)."""
    from data_engineering_individual_assignment_spark import pipeline

    paths, _ = landing.day(d)
    day = DAYS[d]
    op = f"{p}/{day}"
    ctx.group(f"{p}|{day}|run")
    if layers:
        layers.start(op)
    with ctx.span("day", op):
        t0 = time.perf_counter()
        pipeline.daily_run(ctx.spark, paths, warehouse, day)
        with ctx.span("pipeline.serve_s", op):
            t1 = time.perf_counter()
            response = pipeline.model_http_response(ctx.spark, warehouse, day)
        t2 = time.perf_counter()
    if layers:
        layers.layers["pipeline.serve_s"] = t2 - t1
    return t2 - t0, response


def check_day(ctx: Context, landing: inputs.YoutubeLanding, warehouse: str, d: int,
              response: dict, op: str) -> dict[str, int]:
    """Each table got the rows the generator wrote, and the artifact is an
    OLS fit on that day's statistics (the reference Lambda's semantics)."""
    from pyspark.sql import functions as F

    day = DAYS[d]
    ctx.group("check")
    rows = {}
    for t in TABLES:
        rows[t] = ctx.spark.read.parquet(os.path.join(warehouse, t)).where(
            F.col("ingest_date") == day).count()
    bad = [f"{t}: {rows[t]} rows, landed {landing.rows[t]}"
           for t in TABLES if rows[t] != landing.rows[t]]
    want = landing.day(d)[1].ols()
    got = json.loads(response["body"])
    if got.get("n") != want["n"] or any(
            got.get(k) is None or abs(got[k] - want[k]) > 1e-6 * max(1.0, abs(want[k]))
            for k in ("b0", "b1", "rmse")):
        bad.append(f"model artifact {got} != fit on {day}'s statistics {want}")
    if response.get("statusCode") != 200:
        bad.append(f"statusCode {response.get('statusCode')}")
    if bad:
        ctx.fail(f"{op}: " + "; ".join(bad))
    return rows


def daily_pass(ctx: Context, landing: inputs.YoutubeLanding, p: int,
               layers: DailyLayers | None) -> list[OpSample]:
    warehouse = os.path.join(ctx.work, f"warehouse_{p}")
    done = []
    with ctx.span("pass", f"{p}"):
        for d in range(len(DAYS)):
            op = f"{p}/{DAYS[d]}"
            ctx.attempted += 1
            cpu0 = ctx.tree.cpu()
            try:
                s, response = run_day(ctx, landing, warehouse, d, p, layers)
            except Exception:
                ctx.fail(f"{op} raised:\n{traceback.format_exc()}")
                break  # later days build on this one's warehouse
            cpu = ctx.tree.cpu() - cpu0
            sample = OpSample(p, DAYS[d], s, cpu, cache=ctx.hygiene(),
                              layers=dict(layers.layers) if layers else {})
            done.append((d, op, response, sample))
    # outside the timed window: check every day, then drop the warehouse
    for d, op, response, sample in done:
        rows = check_day(ctx, landing, warehouse, d, response, op)
        sample.layers.update({f"rows.{t}": float(n) for t, n in rows.items()})
    shutil.rmtree(warehouse, ignore_errors=True)
    return [s for *_, s in done]


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------
def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def run(ctx: Context, workload: str, t_start: float) -> dict:
    """Set up, warm up, check, time; returns the measurements."""
    layers = None
    ctx.phases["session_s"] = time.perf_counter() - t_start
    if workload == "daily_elt":
        landing = inputs.YoutubeLanding(os.path.join(ctx.work, "landing"), ctx.seed,
                                        ctx.profile.videos, ctx.profile.comments_per_video)
        for d in range(len(DAYS)):
            landing.day(d)  # write every day's statistics during set-up
        if ctx.tracer:
            layers = DailyLayers(ctx)
        try:
            daily_pass(ctx, landing, WARM_UP, layers)
            setup_s = time.perf_counter() - t_start
            report = {"rows_landed": landing.rows}
            ctx.timed_passes(lambda p: ctx.samples.extend(daily_pass(ctx, landing, p, layers)))
        finally:
            if layers:
                layers.close()
    else:
        data = prepare_catalog(ctx, workload)
        ctx.phases["inputs_s"] = time.perf_counter() - t_start
        results = warm_catalog(ctx, WORKLOADS[workload], data)
        setup_s = time.perf_counter() - t_start
        t = time.perf_counter()
        report = check_catalog(ctx, workload, data, results)
        ctx.phases["check_s"] = time.perf_counter() - t
        timed_catalog(ctx, WORKLOADS[workload], data)
    return {"setup_s": setup_s, "report": report}


def per_pass(ctx: Context, value) -> list[float]:
    sums: dict[int, float] = {}
    for s in ctx.samples:
        sums[s.pass_no] = sums.get(s.pass_no, 0.0) + value(s)
    return list(sums.values())


def end_to_end(ctx: Context, setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "wall_s": _median(per_pass(ctx, lambda s: s.s)),
        "cpu_s": _median(per_pass(ctx, lambda s: s.cpu.total)),
    }


def per_layer(ctx: Context, workload: str, groups: dict[str, probes.GroupStats],
              peak_rss_mb: float) -> dict[str, float]:
    """Per-pass medians of every layer metric the workload reports: all of
    ``PER_LAYER`` (0 where the workload does not exercise a layer), plus
    ``DAILY_LAYER`` on ``daily_elt`` and its own queries' ``op.*`` metrics
    on ``olap_headline``."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["peak_rss_mb"] = peak_rss_mb

    def stats(s: OpSample, phase: str) -> probes.GroupStats:
        return groups.get(f"{s.pass_no}|{s.name}|{phase}", probes.GroupStats())

    def both(s: OpSample, attr: str) -> float:
        return getattr(stats(s, "build"), attr) + getattr(stats(s, "run"), attr)

    for metric, attr in (("spark.jobs", "jobs"), ("spark.stages", "stages"),
                         ("spark.tasks", "tasks"), ("spark.task_s", "task_s"),
                         ("spark.gc_s", "gc_s"), ("scan.bytes", "scan_bytes"),
                         ("shuffle.read_bytes", "shuffle_read_bytes"),
                         ("shuffle.write_bytes", "shuffle_write_bytes"),
                         ("spill.bytes", "spill_bytes")):
        out[metric] = _median(per_pass(ctx, lambda s, a=attr: both(s, a)))
    out["plans.build_s"] = _median(per_pass(ctx, lambda s: s.build_s))
    out["exec.action_s"] = _median(per_pass(ctx, lambda s: s.s - s.build_s))
    out["cpu.driver_py_s"] = _median(per_pass(ctx, lambda s: s.cpu.driver_py))
    out["cpu.jvm_s"] = _median(per_pass(ctx, lambda s: s.cpu.jvm))
    out["cpu.pyworker_s"] = _median(per_pass(ctx, lambda s: s.cpu.pyworker))
    out["cache.rdds_left"] = _median(per_pass(ctx, lambda s: s.cache[0]))
    out["cache.bytes_left"] = _median(per_pass(ctx, lambda s: s.cache[1]))
    out["trace.wall_s"] = _median(per_pass(ctx, lambda s: s.s))
    if workload == "daily_elt":
        for key in DAILY_LAYER:
            if key.startswith("rows."):
                out[key] = _median(s.layers.get(key, 0.0) for s in ctx.samples)
            else:
                out[key] = _median(per_pass(ctx, lambda s, k=key: s.layers.get(k, 0.0)))
    for q in WORKLOADS[workload]:
        mine = [s for s in ctx.samples if s.name == q]
        out[f"op.{q}.s"] = _median(s.s for s in mine)
        out[f"op.{q}.build_s"] = _median(s.build_s for s in mine)
        out[f"op.{q}.build_jobs"] = _median(stats(s, "build").jobs for s in mine)
        out[f"op.{q}.jobs"] = _median(both(s, "jobs") for s in mine)
        out[f"op.{q}.shuffle_bytes"] = _median(both(s, "shuffle_write_bytes") for s in mine)
    return out
