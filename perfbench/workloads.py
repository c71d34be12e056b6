"""The benchmark's workloads: `geo_batch` and `geo_stream`.

Both drive public entry points of the package from one client thread in
one process on a pinned local[CORES] session:

- geo_batch  closed loop: each job is `plans.pipeline.run_pipeline(
             resume=False)` into a fresh output root.
- geo_stream open loop: pre-staged page files are renamed into the input
             directory on a fixed schedule; `streaming.pip.pip_assign_stream`
             runs with the default trigger into a parquet append sink. One
             warm-up file goes through the running query first, so the cold
             micro-batch is `cold_job_s` and the offered window sees warm
             batches only.

A traced run (`trace=True`) additionally records spans around calls
into each layer and turns them into the per-layer metrics. Lazy layers
are timed by forcing their output with a noop write over a checkpointed
input, so each span holds that layer's work only.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from statistics import median

import pandas as pd

import checks
import gen
from spans import TRACE_PREFIX, RssSampler, Span, Tracer, descendants, tail

# the session both sides of a comparison run with: as many cores as the
# reference host has, one shuffle partition per core pair, a driver heap
# well below its 15 GB (get_spark's default heap is 24g)
CORES = 4
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "2g"

GEO_ROWS = 50_000
GRID_RES = 7
BASE_TILE_RES, MIN_TILE_RES = 12, 4
# Offered load. On the reference host (4 vCPU) a warm micro-batch costs
# 10-14 s of fixed work plus 0.05-0.13 ms per row (500 rows: 10-14 s,
# 20k-28k rows: 12-16 s), so the stream sustains 8k-20k rows/s in large
# batches; 4 files/s of 500 rows (2000 rows/s) is a quarter of that or less.
STREAM_ROWS_PER_FILE = 500
STREAM_FILES_PER_S = 4.0
STREAM_WARMUP_S = 60.0  # the cold warm-up batch must commit within this
STREAM_DRAIN_S = 60.0  # a file not committed this long after the window ends misses the limit
STREAM_PIP_RES = 5

CODEGEN_FALLBACK_RE = re.compile(r"codegen disabled for plan|whole-stage codegen was disabled", re.I)


@dataclass
class Ctx:
    seed: int
    seconds: int
    trace: bool
    work: str
    spark_log: str
    t0: float
    report: list = field(default_factory=list)
    phases: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @contextmanager
    def phase(self, name: str):
        """Accumulate wall time per run phase, for the report."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t


@dataclass
class Result:
    correct: bool
    attempted: int
    failed: int
    e2e: dict
    layers: dict


# ------------------------------------------------------------------ session

def start_session(ctx: Ctx):
    """The pinned session: local[CORES], fixed shuffle partitions, driver
    heap below physical memory, all scratch space inside the work dir."""
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    from water_column_sonar_processing_spark.session import get_spark

    tmp = ctx.path("tmp")
    return get_spark(
        "perfbench",
        cores=CORES,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": ctx.path("local"),
            "spark.sql.warehouse.dir": ctx.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
        },
    )


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, shut the JVM down and wait until every process this
    run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + timeout_s
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def _dir_bytes_files(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


def _codegen_fallbacks(log_path: str, start: int = 0) -> tuple[int, int]:
    """(fallback messages since byte offset `start`, current log size)."""
    with open(log_path, "rb") as f:
        f.seek(start)
        text = f.read().decode("utf-8", "replace")
    return len(CODEGEN_FALLBACK_RE.findall(text)), start + len(text.encode("utf-8"))


# ------------------------------------------------------------------ layers

def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _layer(tr: Tracer, name: str, fn, inp):
    """Time `fn(inp)` forced by a noop write, then hand the next layer a
    checkpointed copy of its output (the checkpoint is the tracer's work)."""
    with tr.span(name):
        out = fn(inp)
        _force(out)
    with tr.span(TRACE_PREFIX + "checkpoint"):
        return out.localCheckpoint(eager=True)


def _count(tr: Tracer, df) -> int:
    with tr.span(TRACE_PREFIX + "count"):
        return df.count()


def trace_l1_layers(tr: Tracer, spark, src, polygons: pd.DataFrame, tracks: bool, s2: bool, pip_res: int, keep_cols):
    """Isolated extract -> qc -> cells [-> s2] -> pip [-> tiles] spans over
    checkpointed inputs. Returns the layer counters read from the layers'
    outputs, by metric name."""
    from pyspark.sql import functions as F

    from water_column_sonar_processing_spark.functions import cells
    from water_column_sonar_processing_spark.functions.s2 import s2_cell_udf
    from water_column_sonar_processing_spark.operators import pip as pip_op
    from water_column_sonar_processing_spark.operators import qc as qc_op
    from water_column_sonar_processing_spark.operators import tiles as tiles_op
    from water_column_sonar_processing_spark.operators.extract import extract_latlon

    facts = {}
    with tr.span(TRACE_PREFIX + "checkpoint"):
        pages = src.localCheckpoint(eager=True)
    facts["operators.extract.rows_in"] = _count(tr, pages)
    ext = _layer(tr, "operators.extract", extract_latlon, pages)

    def qc(df):
        df = qc_op.apply_bounds_and_island(df)
        if tracks:
            df = qc_op.monotonic_repair(df, ts_col="warc_ts", out_col="warc_ts_fixed")
            df = qc_op.distance_jump_filter(df, order_col="warc_ts_fixed")
            df = qc_op.min_group_size_filter(df)
        return df

    facts["operators.qc.rows_in"] = _count(tr, ext)
    q = _layer(tr, "operators.qc", qc, ext)
    n_valid = _count(tr, q.filter(F.col("lat").isNotNull() & F.col("lon").isNotNull()))
    facts["operators.qc.keep_ratio"] = n_valid / max(1, facts["operators.qc.rows_in"])

    facts["functions.cells.rows_in"] = _count(tr, q)
    l1 = _layer(
        tr,
        "functions.cells",
        lambda d: d.withColumn("cell_id", cells.grid_cell(F.col("lat"), F.col("lon"), GRID_RES)).withColumn(
            "hex_id", cells.hex_cell(F.col("lat"), F.col("lon"), 7)
        ),
        q,
    )
    if s2:
        facts["functions.s2.rows"] = facts["functions.cells.rows_in"]
        l1 = _layer(tr, "functions.s2", lambda d: d.withColumn("s2_id", s2_cell_udf(12)(F.col("lat"), F.col("lon"))), l1)

    with tr.span("operators.pip") as sp:
        t = time.perf_counter()
        assigned = pip_op.pip_join(l1, polygons, res=pip_res, keep_cols=keep_cols)
        sp.attrs["plan_s"] = time.perf_counter() - t
        _force(assigned)
    facts["operators.pip.plan_s"] = sp.attrs["plan_s"]
    with tr.span(TRACE_PREFIX + "count"):
        cover = pip_op.build_cover_df(spark, polygons, pip_res)
        n_cand = (
            l1.filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
            .withColumn("cell_id", cells.grid_cell(F.col("lat"), F.col("lon"), pip_res))
            .join(F.broadcast(cover), "cell_id")
            .count()
        )
    facts["operators.pip.candidates_per_point"] = n_cand / max(1, n_valid)
    facts["operators.pip.accept_ratio"] = _count(tr, assigned) / max(1, n_cand)

    if not tracks:
        return facts
    tiles = _layer(tr, "operators.tiles", lambda d: tiles_op.tile_pyramid(d, base_res=BASE_TILE_RES, min_res=MIN_TILE_RES), l1)
    facts["operators.tiles.rows_out"] = _count(tr, tiles)
    return facts


@contextmanager
def traced_pipeline_boundaries(tr: Tracer):
    """Wrap the eager calls run_pipeline makes into the catalog and the
    lineage log with spans. The catalog span first checkpoints the frame
    it was handed (tracer work), so its own time is the write alone."""
    import water_column_sonar_processing_spark.plans.pipeline as pl
    from water_column_sonar_processing_spark.sources.lineage import LineageLog

    orig_write = pl.write_table
    orig_log = {m: getattr(LineageLog, m) for m in ("record", "record_stage_metrics", "record_partition_metrics")}

    def write_table(df, root, name, *a, **kw):
        with tr.span("sources.catalog", table=name) as s:
            with tr.span(TRACE_PREFIX + "checkpoint"):
                df = df.localCheckpoint(eager=True)
            path = orig_write(df, root, name, *a, **kw)
            s.attrs["bytes_written"], s.attrs["files_written"] = _dir_bytes_files(path)
        return path

    def wrap_log(meth):
        def wrapped(self, *a, **kw):
            with tr.span("sources.lineage", call=meth.__name__) as s:
                before = _dir_bytes_files(self.path)[1]
                meth(self, *a, **kw)
                s.attrs["files_written"] = _dir_bytes_files(self.path)[1] - before

        return wrapped

    pl.write_table = write_table
    for m, f in orig_log.items():
        setattr(LineageLog, m, wrap_log(f))
    try:
        yield
    finally:
        pl.write_table = orig_write
        for m, f in orig_log.items():
            setattr(LineageLog, m, f)


# ------------------------------------------------------------------ metrics

SPARK_LAYERS = (
    "functions.s2",
    "operators.extract",
    "operators.qc",
    "functions.cells",
    "operators.pip",
    "operators.tiles",
    "sources.catalog",
    "sources.lineage",
    "plans.pipeline",
    "streaming",
)

# name -> (unit, better); every traced run emits all of them, 0 for a
# layer its workload does not reach
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.busy_s": ("s", "lower"),
    "session.core_util": ("ratio", "higher"),
    **{
        f"{layer}.{m}": u
        for layer in SPARK_LAYERS
        for m, u in (
            ("busy_s", ("s", "lower")),
            ("core_util", ("ratio", "higher")),
            ("executor_run_s", ("s", "lower")),
            ("shuffle_write_bytes", ("bytes", "lower")),
        )
    },
    "functions.s2.rows": ("rows", "lower"),
    "operators.extract.rows_in": ("rows", "lower"),
    "operators.qc.rows_in": ("rows", "lower"),
    "operators.qc.keep_ratio": ("ratio", "higher"),
    "functions.cells.rows_in": ("rows", "lower"),
    "operators.pip.plan_s": ("s", "lower"),
    "operators.pip.candidates_per_point": ("ratio", "lower"),
    "operators.pip.accept_ratio": ("ratio", "higher"),
    "operators.tiles.shuffle_bytes": ("bytes", "lower"),
    "operators.tiles.rows_out": ("rows", "lower"),
    "sources.catalog.write_s": ("s", "lower"),
    "sources.catalog.bytes_written": ("bytes", "lower"),
    "sources.catalog.files_written": ("count", "lower"),
    "sources.lineage.record_s": ("s", "lower"),
    "sources.lineage.jobs": ("count", "lower"),
    "sources.lineage.files_written": ("count", "lower"),
    "plans.pipeline.self_s": ("s", "lower"),
    "plans.pipeline.jobs": ("count", "lower"),
    "plans.pipeline.stages_run": ("count", "lower"),
    "plans.pipeline.stages_skipped": ("count", "higher"),
    "streaming.batches": ("count", "higher"),
    "streaming.batch_s_p50": ("s", "lower"),
    "streaming.plan_s_p50": ("s", "lower"),
    "streaming.rows_per_batch_p50": ("rows", "lower"),
    "streaming.codegen_fallbacks": ("count", "lower"),
    "streaming.generator_late_s": ("s", "lower"),
    "streaming.commit_latency_tail_pct": ("percentile", "higher"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.tasks_failed": ("count", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
    "trace.spans": ("count", "lower"),
    "run.error_rate": ("ratio", "lower"),
}

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "cold_job_s": "s",
    "commit_latency_s_p50": "s",
    "commit_latency_s_tail": "s",
    "backlog_files_end": "files",
    "output_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}


def layer_metrics(tr: Tracer, facts: dict) -> dict:
    """Per-layer metrics from the spans: busy time (span time minus the
    tracer's own child spans), executor time over busy time x cores,
    counters summed over each layer's spans."""
    out = dict.fromkeys(PER_LAYER, 0)

    def trace_time(s) -> float:
        return sum(c.duration if c.name.startswith(TRACE_PREFIX) else trace_time(c) for c in tr.children(s))

    for layer in ("session", *SPARK_LAYERS):
        spans = [s for s in tr.spans if s.name == layer]
        busy = sum(s.duration - trace_time(s) for s in spans)
        out[f"{layer}.busy_s"] = busy
        if layer == "session":
            continue
        exec_s = sum(tr.inclusive(s, "executor_run_s") for s in spans)
        out[f"{layer}.executor_run_s"] = exec_s
        out[f"{layer}.core_util"] = exec_s / (busy * CORES) if busy > 0 else 0.0
        out[f"{layer}.shuffle_write_bytes"] = sum(tr.inclusive(s, "shuffle_write_bytes") for s in spans)
    def spans_of(name: str) -> list:
        return [s for s in tr.spans if s.name == name]

    out["session.start_s"] = out["session.busy_s"]
    out["operators.tiles.shuffle_bytes"] = sum(
        tr.inclusive(s, "shuffle_write_bytes") + tr.inclusive(s, "shuffle_read_bytes") for s in spans_of("operators.tiles")
    )
    out["sources.catalog.write_s"] = out["sources.catalog.busy_s"]
    out["sources.catalog.bytes_written"] = sum(s.attrs.get("bytes_written", 0) for s in spans_of("sources.catalog"))
    out["sources.catalog.files_written"] = sum(s.attrs.get("files_written", 0) for s in spans_of("sources.catalog"))
    out["sources.lineage.record_s"] = out["sources.lineage.busy_s"]
    out["sources.lineage.jobs"] = sum(tr.inclusive(s, "jobs") for s in spans_of("sources.lineage"))
    out["sources.lineage.files_written"] = sum(s.attrs.get("files_written", 0) for s in spans_of("sources.lineage"))
    for s in spans_of("plans.pipeline"):
        out["plans.pipeline.self_s"] += tr.self_time(s)
        for k in ("jobs", "stages_run", "stages_skipped"):
            out[f"plans.pipeline.{k}"] += tr.inclusive(s, k)
    out["spark.spill_bytes"] = sum(s.spark.get("spill_bytes", 0) for s in tr.spans)
    out["spark.tasks_failed"] = sum(s.spark.get("tasks_failed", 0) for s in tr.spans)
    out["trace.spans"] = len(tr.spans)
    out.update(facts)
    return out


# ------------------------------------------------------------------ geo_batch

def run_geo_batch(ctx: Ctx) -> Result:
    t = time.time()
    pages, facts = gen.gen_pages(GEO_ROWS, ctx.seed)
    polys = gen.gen_polygons(ctx.seed)
    pages_path = ctx.path("input", "pages.parquet")
    input_bytes = gen.write_parquet(pages, pages_path)
    gen.write_parquet(polys, ctx.path("input", "polygons.parquet"))
    facts.update(min_zoom=MIN_TILE_RES, max_zoom=BASE_TILE_RES)
    del pages
    gen_s = time.time() - t

    attempted = failed = 0
    walls: list[float] = []
    jobs_t: list[tuple[float, float]] = []  # (start, commit) of each job
    job_errors: dict[int, str] = {}
    ratios: list[float] = []
    layers: dict = {}
    with RssSampler() as rss:
        t = time.perf_counter()
        spark = start_session(ctx)
        session = (t, time.perf_counter())
        ctx.phases["session"] = session[1] - session[0]
        try:
            polygons = pd.read_parquet(ctx.path("input", "polygons.parquet"))[["polygon_id", "name", "wkt"]]
            from water_column_sonar_processing_spark.plans.pipeline import run_pipeline

            setup_s = time.time() - ctx.t0 - gen_s
            # closed loop: jobs start back to back until the window has
            # passed; the first job is the cold one a one-shot submit pays.
            # Outputs are checked after the loop, so no check sits between jobs.
            window_end = time.time() + ctx.seconds

            def job(i: int, tracer: Tracer | None = None) -> float:
                out_root = ctx.path("out", f"job{i}")
                t, t_pc = time.time(), time.perf_counter()
                try:
                    if tracer is None:
                        run_pipeline(spark, spark.read.parquet(pages_path), polygons, out_root, resume=False)
                    else:
                        with tracer.span("plans.pipeline"), traced_pipeline_boundaries(tracer):
                            run_pipeline(spark, spark.read.parquet(pages_path), polygons, out_root, resume=False)
                except Exception as e:  # a failed job is counted, reported and the loop goes on
                    job_errors[i] = f"job {i} raised {type(e).__name__}: {e}"[:500]
                wall = time.perf_counter() - t_pc
                jobs_t.append((t, t + wall))
                return wall

            if not ctx.trace:
                while not walls or time.time() < window_end:
                    walls.append(job(len(walls)))
            else:
                walls = [job(0), job(1)]  # cold, then the untraced warm reference
                tr = Tracer(spark.sparkContext, f"geo_batch-{ctx.seed}")
                tr.spans.append(Span(0, "session", None, *session))
                with tr.span("job"):
                    job(2, tr)
                    with tr.span("layers"):
                        facts_l = trace_l1_layers(
                            tr, spark, spark.read.parquet(pages_path), polygons, tracks=True, s2=True,
                            pip_res=GRID_RES, keep_cols=("url", "lang"),
                        )
                tr.resolve_counters()
                tr.write(ctx.path("..", f"spans-geo_batch-{ctx.seed}.jsonl"))
                pipeline_span = next(s for s in tr.spans if s.name == "plans.pipeline")
                traced_job_s = pipeline_span.duration
                facts_l["trace.overhead_ratio"] = traced_job_s / walls[1] - 1.0
                layers = layer_metrics(tr, facts_l)
                ctx.report.append(f"traced run_pipeline {traced_job_s:.3f} s (tracer checkpoints included) vs untraced {walls[1]:.3f} s")
            for i in range(len(jobs_t)):
                out_root = ctx.path("out", f"job{i}")
                with ctx.phase("checks"):
                    fails = [job_errors[i]] if i in job_errors else checks.check_geo_batch(out_root, pages_path, polys, facts)
                attempted += 1
                if fails:
                    failed += 1
                    ctx.report.extend(fails)
                ratios.append(_dir_bytes_files(out_root)[0] / input_bytes)
                shutil.rmtree(out_root, ignore_errors=True)
        finally:
            with ctx.phase("teardown"):
                stop_session(spark)
    p50 = median(walls)
    tail_v, tail_p = tail(walls)
    # pages files of the jobs in flight when the window ends; with one
    # client and jobs back to back this is the one file of the last job
    backlog = sum(1 for a, b in jobs_t if a < window_end < b)
    e2e = dict(
        setup_s=setup_s,
        docs_per_s=facts["n_rows"] / p50,
        cold_job_s=walls[0],
        commit_latency_s_p50=p50,
        commit_latency_s_tail=tail_v,
        backlog_files_end=backlog,
        output_bytes_per_input_byte=median(ratios),
        peak_rss_mb=rss.peak / 2**20,
    )
    ctx.report += [
        f"jobs of {facts['n_rows']} docs (the first cold): walls {[round(w, 3) for w in walls]}",
        f"commit_latency_s_tail is p{tail_p} over {len(walls)} jobs",
        f"input generation {gen_s:.3f} s (excluded from setup_s)",
        f"peak memory by process: {rss.describe()}",
    ]
    if ctx.trace:
        layers["run.error_rate"] = failed / attempted
    return Result(failed == 0, attempted, failed, e2e, layers)


# ------------------------------------------------------------------ geo_stream

def _file_batches(checkpoint: str) -> dict[str, int]:
    """Input file name -> micro-batch id, from the file-source log in the
    query's checkpoint directory (plain and compacted entries)."""
    out: dict[str, int] = {}
    src = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(src):
        return out
    for name in os.listdir(src):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(src, name)) as f:
                lines = f.read().splitlines()[1:]
        except FileNotFoundError:
            continue
        for line in lines:
            try:
                e = json.loads(line)
            except json.JSONDecodeError:  # entry still being written
                continue
            out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _commit_times(checkpoint: str) -> dict[int, float]:
    cdir = os.path.join(checkpoint, "commits")
    if not os.path.isdir(cdir):
        return {}
    return {int(n): os.path.getmtime(os.path.join(cdir, n)) for n in os.listdir(cdir) if n.isdigit()}


def _committed(checkpoint: str) -> dict[str, float]:
    """Input file name -> commit time of the micro-batch that held it."""
    commits = _commit_times(checkpoint)
    return {f: commits[b] for f, b in _file_batches(checkpoint).items() if b in commits}


class OpenLoopLander(threading.Thread):
    """Renames staged files into the input directory at fixed due times,
    never waiting for the system; records how late each rename ran."""

    def __init__(self, staged: list[str], in_dir: str, start: float, rate: float):
        super().__init__(name="open-loop-lander", daemon=True)
        self.staged, self.in_dir = staged, in_dir
        self.due = {os.path.basename(p): start + i / rate for i, p in enumerate(staged)}
        self.late: list[float] = []

    def run(self) -> None:
        for p in self.staged:
            name = os.path.basename(p)
            wait = self.due[name] - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(p, os.path.join(self.in_dir, name))
            self.late.append(time.time() - self.due[name])


def _wait_committed(ckpt: str, names: set[str], timeout_s: float, query) -> dict[str, float]:
    """Poll the checkpoint until every file in `names` is committed, the
    timeout passes or the query dies; returns what is committed."""
    deadline = time.time() + timeout_s
    done = _committed(ckpt)
    while not names <= set(done) and time.time() < deadline and query.isActive:
        time.sleep(0.05)
        done = _committed(ckpt)
    return done


def run_geo_stream(ctx: Ctx) -> Result:
    t = time.time()
    n_files = max(11, int(round(STREAM_FILES_PER_S * ctx.seconds)))
    staging, in_dir = ctx.path("staging"), ctx.path("in")
    os.makedirs(in_dir)
    staged, input_bytes = [], 0
    # file n_files is the warm-up file; the others are offered on schedule
    for i in range(n_files + 1):
        df, _ = gen.gen_pages(STREAM_ROWS_PER_FILE, ctx.seed * 1000 + i, with_tracks=False, url_prefix=f"s{i}")
        p = os.path.join(staging, f"pages-{i:05d}.parquet")
        input_bytes += gen.write_parquet(df, p)
        staged.append(p)
    warmup = staged.pop()
    polys = gen.gen_polygons(ctx.seed)
    gen.write_parquet(polys, ctx.path("input", "polygons.parquet"))
    gen_s = time.time() - t

    sink, ckpt = ctx.path("out", "assignments"), ctx.path("out", "checkpoint")
    layers: dict = {}
    with RssSampler() as rss:
        t = time.perf_counter()
        spark = start_session(ctx)
        session = (t, time.perf_counter())
        ctx.phases["session"] = session[1] - session[0]
        try:
            from water_column_sonar_processing_spark.streaming.ingest import PAGES_STREAM_SCHEMA
            from water_column_sonar_processing_spark.streaming.pip import pip_assign_stream

            polygons = pd.read_parquet(ctx.path("input", "polygons.parquet"))[["polygon_id", "name", "wkt"]]
            _, log_off = _codegen_fallbacks(ctx.spark_log)
            with ctx.phase("stream_start"):
                src = spark.readStream.schema(PAGES_STREAM_SCHEMA).parquet(in_dir)
                query = (
                    pip_assign_stream(src, polygons, grid_res=GRID_RES, res=STREAM_PIP_RES)
                    .writeStream.format("parquet")
                    .option("path", sink)
                    .option("checkpointLocation", ckpt)
                    .outputMode("append")
                    .start()
                )
            setup_s = time.time() - ctx.t0 - gen_s

            # the cold micro-batch runs alone on one warm-up file before the
            # offered window, so the window sees warm batches only
            with ctx.phase("warmup"):
                warm_name = os.path.basename(warmup)
                t = time.time()
                os.rename(warmup, os.path.join(in_dir, warm_name))
                warm_at = _wait_committed(ckpt, {warm_name}, STREAM_WARMUP_S, query).get(warm_name)
            if warm_at is None:
                raise RuntimeError(f"warm-up file not committed within {STREAM_WARMUP_S:.0f} s: {query.exception()}")
            cold_job_s = warm_at - t
            warm_batch = _file_batches(ckpt)[warm_name]

            start, start_pc = time.time(), time.perf_counter()
            lander = OpenLoopLander(staged, in_dir, start, STREAM_FILES_PER_S)
            lander.start()
            lander.join(timeout=ctx.seconds + 60)
            window_end = time.time()
            backlog = sum(1 for f in lander.due if f not in _committed(ckpt))
            done = _wait_committed(ckpt, set(lander.due), window_end + STREAM_DRAIN_S - time.time(), query)
            drained_at, drained_pc = time.time(), time.perf_counter()
            progress = [p for p in query.recentProgress if p["batchId"] > warm_batch and p["numInputRows"] > 0]
            stream_error = query.exception()
            run_id = str(query.runId)
            query.stop()
            fallbacks, _ = _codegen_fallbacks(ctx.spark_log, log_off)

            committed_inputs = [os.path.join(in_dir, f) for f in sorted(done)]
            with ctx.phase("checks"):
                fails, bad_files = checks.check_geo_stream(sink, committed_inputs, polys)
            if stream_error is not None:
                fails.append(f"stream stopped with {stream_error}"[:500])
            missed = set(lander.due) - set(done)
            if missed:
                fails.append(f"{len(missed)} of {n_files} files not committed {STREAM_DRAIN_S:.0f} s after the window")

            if ctx.trace:
                # untraced reference: the same operators as one batch job over
                # the committed files; the sink must equal it row for row.
                # The second, warm run is the one the traced run is set against.
                for _ in range(2):
                    t = time.perf_counter()
                    batch_pdf = pip_assign_stream(
                        spark.read.schema(PAGES_STREAM_SCHEMA).parquet(*committed_inputs), polygons,
                        grid_res=GRID_RES, res=STREAM_PIP_RES,
                    ).toPandas()
                    untraced_s = time.perf_counter() - t
                sink_pdf = pd.read_parquet(checks.committed_sink_files(sink))
                if not checks.rows_equal(sink_pdf, batch_pdf, ["url", "polygon_id"]):
                    fails.append("stream sink differs from a batch pip_join over the same files")

                tr = Tracer(spark.sparkContext, f"geo_stream-{ctx.seed}")
                tr.spans.append(Span(0, "session", None, *session))
                sspan = Span(len(tr.spans), "streaming", None, start_pc, drained_pc)
                tr.spans.append(sspan)
                with tr.span("layers") as lspan:
                    facts_l = trace_l1_layers(
                        tr, spark, spark.read.schema(PAGES_STREAM_SCHEMA).parquet(*committed_inputs), polygons,
                        tracks=False, s2=False, pip_res=STREAM_PIP_RES, keep_cols=("url",),
                    )
                facts_l["trace.overhead_ratio"] = lspan.duration / untraced_s - 1.0
                ctx.report.append(
                    f"traced extract->qc->cells->pip {lspan.duration:.3f} s (tracer checkpoints and counts included) "
                    f"vs untraced batch pip_assign_stream {untraced_s:.3f} s over the same {len(committed_inputs)} files"
                )
                tr.resolve_counters(extra_groups={sspan.span_id: run_id})
                tr.write(ctx.path("..", f"spans-geo_stream-{ctx.seed}.jsonl"))
                layers = layer_metrics(tr, facts_l)
                # the stream's busy time is the sum of its micro-batches
                busy = sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1000.0
                layers["streaming.busy_s"] = busy
                layers["streaming.core_util"] = layers["streaming.executor_run_s"] / (busy * CORES) if busy else 0.0
        finally:
            with ctx.phase("teardown"):
                stop_session(spark)

    due = lander.due
    lat = [done[f] - due[f] if f in done else max(STREAM_DRAIN_S, drained_at - due[f]) for f in due]
    p50 = median(lat)
    tail_v, tail_p = tail(lat)
    failed = len(missed | bad_files)
    landed_done = [done[f] for f in due if f in done]
    batch_s = [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in progress]
    e2e = dict(
        setup_s=setup_s,
        docs_per_s=STREAM_ROWS_PER_FILE * len(landed_done) / (max(landed_done) - start) if landed_done else 0.0,
        cold_job_s=cold_job_s,
        commit_latency_s_p50=p50,
        commit_latency_s_tail=tail_v,
        backlog_files_end=backlog,
        output_bytes_per_input_byte=(_dir_bytes_files(sink)[0] + _dir_bytes_files(ckpt)[0]) / input_bytes,
        peak_rss_mb=rss.peak / 2**20,
    )
    ctx.report += fails
    ctx.report += [
        f"{n_files} files x {STREAM_ROWS_PER_FILE} rows offered at {STREAM_FILES_PER_S}/s over {ctx.seconds} s, "
        f"after a warm-up file committed in {cold_job_s:.3f} s (cold_job_s)",
        f"commit_latency_s_tail is p{tail_p} over {len(lat)} files",
        f"backlog_files_end {backlog}; generator lateness max {max(lander.late):.4f} s",
        f"micro-batches in the window {len(batch_s)}: {[round(b, 3) for b in batch_s]} s, "
        f"rows {[p['numInputRows'] for p in progress]}; codegen fallbacks {fallbacks}",
        f"input generation {gen_s:.3f} s (excluded from setup_s)",
        f"peak memory by process: {rss.describe()}",
    ]
    if ctx.trace:
        layers.update(
            {
                "streaming.batches": len(batch_s),
                "streaming.batch_s_p50": median(batch_s) if batch_s else 0.0,
                "streaming.plan_s_p50": median([p["durationMs"].get("queryPlanning", 0) / 1000.0 for p in progress]) if progress else 0.0,
                "streaming.rows_per_batch_p50": median([p["numInputRows"] for p in progress]) if progress else 0,
                "streaming.codegen_fallbacks": fallbacks,
                "streaming.generator_late_s": max(lander.late),
                "streaming.commit_latency_tail_pct": tail_p,
                "run.error_rate": failed / (n_files + 1),
            }
        )
    # the warm-up file is processed and checked like the offered ones
    return Result(not fails, n_files + 1, failed, e2e, layers)
