#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client on local[nproc].

    python3 perfbench/run.py --workload etl_stream --seed 1 --seconds 6 --trace 0

Workloads (perfbench/README.md has the full metric map):

- ``etl_stream``: a seeded backlog of playlist blobs drained by
  ``streaming.pipeline.run_spotify_pipeline`` one blob per trigger,
  ``availableNow``, with archive. Drains repeat, each on a freshly staged
  backlog and fresh checkpoint/output dirs, until ``--seconds`` of drain
  wall is measured.
- ``analytic_sf0.1``: the 28 frozen headline queries over a generated
  sf0.1-shape dataset through the noop sink, in passes whose query order
  is rotated by the seed. Passes repeat until ``--seconds`` is measured;
  a pass is never cut short.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on
Spark's event log (through ``SPARK_GRAFT_EXTRA_CONFS``), measures
untraced, traced, then (when it fits) untraced again in the same
session, prints the per-layer metrics and writes them with the spans to
``perfbench/_work/trace/``. The last line of stdout is one JSON object:
correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, "_work")
PKG = "spotify_serverless_etl_pipeline_engineering_with_azure_spark"
DRIVER_MEM = "4g"

# bench.py's HEADLINE list, frozen when this benchmark was defined so
# that editing bench.py cannot change the workload.
ANALYTIC_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q13_customer_distribution",
    "q18_large_volume_customers",
    "top_customers_by_revenue",
    "join_broadcast_enrich",
    "window_rank_topn",
    "window_running_lag",
    "events_tumbling_window",
    "events_sessionization",
    "json_extract_events",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "text_fingerprint",
    "text_quality_score",
    "sim_cosine_topk_bruteforce",
    "sim_ann_lsh_bucketed",
    "sim_ann_ivf",
    "asof_join_events",
    "range_join_close_events",
    "merge_upsert_orders",
    "events_multires_rollup",
    "streaming_tumbling_window",
)
STREAM_WARM_BLOBS = 5
STREAM_BACKLOG_BLOBS = 10
STREAM_TIMEOUT_S = 120
# A run must end within 180 s. A traced run leaves out its trailing
# untraced measurement when that would end after this many seconds.
TRACE_DEADLINE_S = 150
TABLES = ("songs", "artists", "albums")

END_TO_END = {"setup_s": "s", "cpu_s": "s"}
# What the client sees, printed on every run and reported as per-layer
# metrics of the traced run. Not bounded: a bound holds for every workload,
# and on a shared host the etl_stream walls move with the hypervisor's
# steal by more than the largest bound (0.25) allows.
CLIENT = {"wall_s": "s", "op_ms": "ms", "tail_ms": "ms", "rate_per_s": "1/s"}
PER_LAYER = {
    **{f"client.{k}": u for k, u in CLIENT.items()},
    "session.boot_s": "s",
    "registry.load_s": "s",
    "warmup_s": "s",
    "plans.build_s": "s",
    "plans.eager_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_busy_s": "s",
    "exec.gc_s": "s",
    "exec.core_util": "ratio",
    "exec.task_skew": "ratio",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.python_bytes_mb": "MB",
    "spotify.raw_scans": "count",
    "spotify.items": "count",
    **{f"spotify.rows.{t}": "count" for t in TABLES},
    "spotify.keepfirst_dropped": "count",
    **{f"sinks.write_s.{t}": "s" for t in TABLES},
    **{f"sinks.files_written.{t}": "count" for t in TABLES},
    **{f"sinks.bytes_written.{t}": "bytes" for t in TABLES},
    "streaming.latest_offset_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.data_trigger_share": "ratio",
    "streaming.archived_files": "count",
    "mem.peak_rss_mb": "MB",
    "mem.retained_mb": "MB",
    "host.steal_share": "ratio",
    "trace.overhead_s": "s",
}


class Tracer:
    """Spans kept in memory (name, start, end, parent, run id) and
    written out when the run ends. Disabled, it records nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled, self.run_id = enabled, run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()


class Run:
    """State of one benchmark run: counts, timings, spans."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        self.dir = os.path.join(WORK, "runs", self.run_id)
        self.tracer = Tracer(trace, self.run_id)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.setup: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.report: dict = {}
        self.log_windows: list[tuple] = []  # ((start_ms, end_ms), blobs) read from the event log
        self.query_table: dict[str, dict] = {}
        self.query_windows: list[tuple] = []  # (query, query window, build window)
        self.jvm_pid = 0
        self.t0 = time.monotonic()

    def fits(self, seconds: float) -> bool:
        """Whether ``seconds`` more work ends before TRACE_DEADLINE_S."""
        return time.monotonic() - self.t0 + seconds < TRACE_DEADLINE_S

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


# --- environment and process lifetime ---------------------------------------


def pin_env(run: Run) -> None:
    """Session environment every run uses; the heap default (32g) never
    applies and every scratch path stays inside the checkout."""
    tmp = os.path.join(run.dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # compiler threads fixed for the JVM's life, so cpu_snapshot can
    # take their time out exactly
    confs = ["spark.ui.showConsoleProgress=false",
             f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
             "-XX:-UseDynamicNumberOfCompilerThreads"]
    if run.trace:
        log_dir = os.path.join(run.dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{log_dir}",
                  "spark.eventLog.compress=false"]
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_SHUFFLE_INITIAL"):
        os.environ.pop(k, None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run.dir, "spark-local"),
        SPARK_GRAFT_EXTRA_CONFS=";".join(confs),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )


def _status_mb(pid: int | str, field: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stat(pid: int | str) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children.setdefault(int(_stat(d)[1]), []).append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def cpu_snapshot(jvm_pid: int) -> tuple[int, dict[str, int]]:
    """(ticks, jit): CPU ticks (user + system, own + reaped children) of
    this process and every process under it, and the ticks of each of the
    driver JVM's JIT compiler threads.

    Process-level counters keep the time of threads that have exited, and
    a process that exits hands its whole time to its parent's reaped
    counters, so the difference of two sums over the tree is exact. The
    JIT threads live as long as the JVM (``pin_env`` turns off their
    dynamic start and stop), so their own difference can be taken out."""
    ticks = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        with contextlib.suppress(OSError):
            ticks += sum(int(x) for x in _stat(pid)[11:15])
    jit = {}
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        with contextlib.suppress(OSError):
            with open(f"/proc/{jvm_pid}/task/{tid}/comm") as f:
                if f.read().strip() in JIT_THREADS:
                    jit[tid] = sum(int(x) for x in _stat(f"{jvm_pid}/task/{tid}")[11:13])
    return ticks, jit


def cpu_between(start: tuple[int, dict[str, int]], end: tuple[int, dict[str, int]]) -> float:
    """Seconds of CPU between two snapshots, less the JIT's. Time stolen
    by the hypervisor, used by other tenants or by the JIT's warm-up is
    not in it, so it is steadier than wall time on a shared host."""
    jit = sum(v - start[1].get(t, 0) for t, v in end[1].items())
    return (end[0] - start[0] - jit) / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and every process under
    it, and wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    tree = _descendants(proc.pid)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 15
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        with contextlib.suppress(OSError):
            os.kill(pid, 9)
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- statistics ---------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, or the maximum when that percentile would not be
    above the median (20 samples or fewer)."""
    v = sorted(values)
    n = len(v)
    if n <= 20:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of the machine's CPU time the hypervisor gave to other guests
    between two readings: wall metrics move with it on a shared host."""
    return (end[0] - start[0]) / max(1, end[1] - start[1])


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in values) / len(values))


# --- shared set-up --------------------------------------------------------------


@contextlib.contextmanager
def session(run: Run):
    """The Spark session of one run, with its set-up timed. On exit the
    traced run records memory, then the session and the JVM stop."""
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark import get_spark, registry

    t = time.perf_counter()
    with run.tracer.span("session.get_spark"):
        spark = get_spark(f"perfbench_{run.workload}")
    run.setup["session.boot_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with run.tracer.span("registry.queries"):
        qs = registry.queries()
    run.setup["registry.load_s"] = time.perf_counter() - t
    sc = spark.sparkContext
    run.jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    heap_mb = sc._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
    print(f"session: master={sc.master} default_parallelism={sc.defaultParallelism} "
          f"driver_memory={spark.conf.get('spark.driver.memory')} max_heap_mb={heap_mb:.0f} "
          f"spark={spark.version}", flush=True)
    try:
        yield spark, qs
        if run.trace:
            _memory(run, spark)
    finally:
        stop_spark(spark)


# --- etl_stream ---------------------------------------------------------------------


def _drain(run: Run, spark, zone: str, names: list[str], tag: str, traced: bool) -> dict:
    """Stage ``names`` of ``zone`` as a fresh backlog and drain it once.
    Only the pipeline call and its wait are timed."""
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.streaming.pipeline import (
        run_spotify_pipeline,
    )

    import datagen

    d = os.path.join(run.dir, tag)
    datagen.stage_backlog(zone, names, os.path.join(d, "in"))
    tracer = run.tracer if traced else Tracer(False, run.run_id)
    cpu0, host0 = cpu_snapshot(run.jvm_pid), host_ticks()
    with tracer.span("streaming.run_spotify_pipeline", drain=tag) as sp:
        t0 = time.perf_counter()
        t0_epoch = time.time()
        q = run_spotify_pipeline(spark, os.path.join(d, "in"), os.path.join(d, "out"),
                                 os.path.join(d, "ckpt"), archive_dir=os.path.join(d, "archive"))
        done = q.awaitTermination(STREAM_TIMEOUT_S)
        wall = time.perf_counter() - t0
        t1_epoch = time.time()
    cpu, steal = cpu_between(cpu0, cpu_snapshot(run.jvm_pid)), steal_share(host0, host_ticks())
    if not done:
        q.stop()
    progress = [json.loads(p.json) for p in q.recentProgress]
    if sp is not None:
        sp["batches"] = sum(1 for p in progress if p["numInputRows"] > 0)
    err = q.exception()
    return {"dir": d, "names": names, "wall": wall, "cpu": cpu, "steal": steal, "progress": progress,
            "window": (t0_epoch * 1000, t1_epoch * 1000),
            "error": None if done and err is None else str(err or "timeout")}


def _check_drain(run: Run, zone: str, drain: dict) -> None:
    """Per micro-batch and table: landed CSV against the keep-first model
    of the one blob that batch carried."""
    import checks

    out = os.path.join(drain["dir"], "out")
    batch_dirs = sorted(os.listdir(os.path.join(out, "songs_data"))) if os.path.isdir(
        os.path.join(out, "songs_data")) else []
    run.attempted += len(TABLES) * len(drain["names"])
    if drain["error"]:
        run.fail(f"drain {drain['dir']}: {drain['error']}")
    seen: set[str] = set()
    for b in batch_dirs:
        _, rows = checks.read_csv_dir(os.path.join(out, "songs_data", b))
        # song ids are track_<doc index>_<item>; blob names end in the
        # zero-padded doc index (fixtures.blob_name)
        docs = {r[0].split("_")[1] for r in rows}
        blobs = [n for n in drain["names"] if str(int(n[-9:-5])) in docs]
        if len(blobs) != 1:
            run.fail(f"{b}: carried blobs {sorted(docs)}, expected exactly one")
            continue
        seen.add(blobs[0])
        model = checks.model_tables([os.path.join(zone, blobs[0])])
        for t in TABLES:
            for p in checks.check_table(t, os.path.join(out, f"{t}_data", b), model[t]):
                run.fail(f"{b} {p}")
    for n in drain["names"]:
        if n not in seen:
            run.fail(f"blob {n} landed in no batch")


def etl_stream(run: Run) -> None:
    import datagen

    n_total = STREAM_WARM_BLOBS + STREAM_BACKLOG_BLOBS
    zone = datagen.raw_zone(WORK, run.seed, n_total)
    blobs = sorted(os.listdir(zone))
    warm, backlog = blobs[:STREAM_WARM_BLOBS], blobs[STREAM_WARM_BLOBS:]

    with session(run) as (spark, _):
        with run.tracer.span("warmup"):
            drains = [_drain(run, spark, zone, warm, "warmup", traced=False)]
        run.setup["warmup_s"] = drains[0]["wall"]

        def measure(traced: bool, tag: str) -> list[dict]:
            out, measured = [], 0.0
            while measured < run.seconds or not out:
                out.append(_drain(run, spark, zone, backlog, f"{tag}{len(out)}", traced))
                measured += out[-1]["wall"]
            return out

        timed = measure(False, "drain")
        run.report = _stream_report(timed)
        drains += timed
        if run.trace:
            # untraced, traced, untraced (when it fits): drift over the
            # session falls on both sides of the traced drain
            traced = measure(True, "traced")
            after = measure(False, "after") if run.fits(sum(d["wall"] for d in traced)) else []
            run.layers.update(_stream_layers(run, zone, traced))
            run.layers["trace.overhead_s"] = (
                _stream_report(traced)["wall_s"] - _stream_report(timed + after)["wall_s"])
            drains += traced + after
    for d in drains:
        _check_drain(run, zone, d)


def _stream_report(drains: list[dict]) -> dict:
    lat = [p["durationMs"]["triggerExecution"] for d in drains for p in d["progress"]
           if p["numInputRows"] > 0]
    t_val, t_pct, n = tail(lat)
    return {
        "cpu_s": statistics.median(d["cpu"] for d in drains),
        "wall_s": statistics.median(d["wall"] for d in drains),
        "op_ms": statistics.median(lat),
        "tail_ms": t_val,
        "rate_per_s": sum(len(d["names"]) for d in drains) / sum(d["wall"] for d in drains),
        "steal": statistics.median(d["steal"] for d in drains),
        "labels": {"cpu_s": "cpu_s_per_drain", "wall_s": f"drain_s({len(drains[0]['names'])} blobs)",
                   "op_ms": "blob_p50_ms", "tail_ms": f"blob_tail_ms(p{t_pct:.0f} of n={n})",
                   "rate_per_s": "blobs_per_s"},
    }


def _stream_layers(run: Run, zone: str, drains: list[dict]) -> dict:
    import checks

    progress = [p for d in drains for p in d["progress"]]
    data = [p for p in progress if p["numInputRows"] > 0]

    def dur(key: str) -> float:
        return statistics.median(p["durationMs"].get(key, 0) for p in data)

    layers = {
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.get_batch_ms": dur("getBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.data_trigger_share": len(data) / len(progress),
        "streaming.archived_files": 0,
        "spotify.items": 0,
        "host.steal_share": statistics.median(d["steal"] for d in drains),
    }
    for t in TABLES:
        for k in ("spotify.rows", "sinks.files_written", "sinks.bytes_written"):
            layers[f"{k}.{t}"] = 0
    for d in drains:
        arch = os.path.join(d["dir"], "archive")
        layers["streaming.archived_files"] += sum(len(f) for _, _, f in os.walk(arch))
        layers["spotify.items"] += sum(
            len(checks.model_tables([os.path.join(zone, n)])["songs"]) for n in d["names"])
        for t in TABLES:
            files, size, rows = checks.output_stats(os.path.join(d["dir"], "out", f"{t}_data"))
            layers[f"sinks.files_written.{t}"] += files
            layers[f"sinks.bytes_written.{t}"] += size
            layers[f"spotify.rows.{t}"] += rows
    layers["spotify.keepfirst_dropped"] = (
        2 * layers["spotify.items"] - layers["spotify.rows.artists"] - layers["spotify.rows.albums"])
    run.log_windows = [(d["window"], len(d["names"])) for d in drains]
    return layers


def _memory(run: Run, spark) -> None:
    """Peak resident sets of the driver JVM and this process, and what
    they retain once the measured work is done (JVM heap in use after a
    full GC plus this process's resident set). Both are per-layer: JVM
    heap growth makes the peak bimodal and the retained heap moves by a
    quarter from run to run."""
    import gc

    gc.collect()
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    rt.gc()
    used_mb = (rt.totalMemory() - rt.freeMemory()) / 2**20
    run.layers["mem.retained_mb"] = used_mb + _status_mb("self", "VmRSS")
    run.layers["mem.peak_rss_mb"] = _status_mb(run.jvm_pid, "VmHWM") + _status_mb("self", "VmHWM")


# --- analytic_sf0.1 ----------------------------------------------------------------


def analytic(run: Run) -> None:
    import checks
    import datagen

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark import registry

    # generated and digested once per checkout (about a minute), then cached
    data = datagen.analytic_dataset(WORK)
    oracle = checks.oracle_digests(data, list(ANALYTIC_QUERIES), registry.oracle_sql)
    k = run.seed % len(ANALYTIC_QUERIES)
    order = list(ANALYTIC_QUERIES[k:] + ANALYTIC_QUERIES[:k])

    with session(run) as (spark, qs):
        _analytic_session(run, spark, qs, data, order, oracle)


def _analytic_session(run: Run, spark, qs, data: str, order: list[str], oracle: dict) -> None:
    import checks

    # Warm-up pass: every query collected to the driver and checked
    # against its oracle. The digest itself is not set-up time.
    warm = 0.0
    with run.tracer.span("warmup"):
        for name in order:
            run.attempted += 1
            t = time.perf_counter()
            try:
                pdf = qs[name](spark, data).toPandas()
            except Exception as e:  # a failing query is counted, the run goes on
                run.fail(f"{name}: raised {type(e).__name__}: {str(e)[:200]}")
                continue
            finally:
                warm += time.perf_counter() - t
            got = checks.digest_frame(pdf)
            if got != oracle[name]:
                run.fail(f"{name}: rows/digest {got[0]}/{got[1][:12]} != oracle "
                         f"{oracle[name][0]}/{oracle[name][1][:12]}")
    run.setup["warmup_s"] = warm

    untraced = _passes(run, spark, qs, data, order, traced=False)
    run.report = _analytic_report(untraced)
    if run.trace:
        # untraced, traced, untraced (when it fits): drift over the
        # session falls on both sides of the traced pass
        traced = _passes(run, spark, qs, data, order, traced=True)
        if run.fits(sum(p["wall"] for p in traced)):
            untraced += _passes(run, spark, qs, data, order, traced=False)
        run.layers["trace.overhead_s"] = (
            _analytic_report(traced)["wall_s"] - _analytic_report(untraced)["wall_s"])
        run.layers.update(_analytic_layers(run, untraced, traced))


def _ms(span: dict) -> tuple[float, float]:
    return span["start"] * 1000, span["end"] * 1000


def _phases(df) -> dict[str, float]:
    """Catalyst phase times of the frame's own QueryExecution, after
    forcing its physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def _passes(run: Run, spark, qs, data: str, order: list[str], *, traced: bool) -> list[dict]:
    passes: list[dict] = []
    measured = 0.0
    tracer = run.tracer if traced else Tracer(False, run.run_id)
    while measured < run.seconds or not passes:
        walls: dict[str, float] = {}
        detail: dict[str, dict] = {}
        cpu0, host0 = cpu_snapshot(run.jvm_pid), host_ticks()
        with tracer.span("pass", index=len(passes)) as pass_span:
            t_pass = time.perf_counter()
            for name in order:
                run.attempted += 1
                t = time.perf_counter()
                try:
                    if not traced:
                        qs[name](spark, data).write.format("noop").mode("overwrite").save()
                        walls[name] = time.perf_counter() - t
                        continue
                    with tracer.span(f"query.{name}") as q_span:
                        with tracer.span("plans.build") as b_span:
                            tb = time.perf_counter()
                            df = qs[name](spark, data)
                            build = time.perf_counter() - tb
                        with tracer.span("catalyst.phases"):
                            phases = _phases(df)
                        with tracer.span("exec.noop_write") as w_span:
                            tw = time.perf_counter()
                            df.write.format("noop").mode("overwrite").save()
                            write = time.perf_counter() - tw
                    walls[name] = build + write
                    detail[name] = {"build_s": build, "write_s": write,
                                    **{f"{k}_ms": v for k, v in phases.items()},
                                    "build_window": _ms(b_span), "query_window": _ms(q_span)}
                except Exception as e:  # counted; the pass goes on
                    run.fail(f"{name}: raised {type(e).__name__}: {str(e)[:200]}")
            wall = time.perf_counter() - t_pass
        cpu, steal = cpu_between(cpu0, cpu_snapshot(run.jvm_pid)), steal_share(host0, host_ticks())
        if traced:
            # planning probes are outside the timed segments
            wall = sum(walls.values())
        passes.append({"wall": wall, "cpu": cpu, "steal": steal, "walls": walls, "detail": detail,
                       "window": _ms(pass_span) if pass_span else None})
        measured += wall
    return passes


def _analytic_report(passes: list[dict]) -> dict:
    names = sorted({n for p in passes for n in p["walls"]})
    med = {n: statistics.median(p["walls"][n] for p in passes if n in p["walls"]) for n in names}
    every = [w for p in passes for w in p["walls"].values()]
    t_val, t_pct, n = tail(every)
    return {
        "cpu_s": statistics.median(p["cpu"] for p in passes),
        "wall_s": statistics.median(p["wall"] for p in passes),
        "op_ms": 1000.0 * geomean(list(med.values())),
        "tail_ms": 1000.0 * t_val,
        "rate_per_s": len(every) / sum(p["wall"] for p in passes),
        "steal": statistics.median(p["steal"] for p in passes),
        "labels": {"cpu_s": "cpu_s_per_pass", "wall_s": "suite_s", "op_ms": "query_geomean_ms",
                   "tail_ms": f"query_tail_ms(p{t_pct:.0f} of n={n})", "rate_per_s": "queries_per_s"},
        "_per_query_s": med,
        "_per_query_spread_s": {n: max(p["walls"][n] for p in passes if n in p["walls"])
                                - min(p["walls"][n] for p in passes if n in p["walls"]) for n in names},
    }


def _analytic_layers(run: Run, untraced: list[dict], traced: list[dict]) -> dict:
    def per_pass(key: str) -> float:
        return statistics.median(sum(d[key] for d in p["detail"].values()) for p in traced)

    layers = {
        "plans.build_s": per_pass("build_s"),
        "catalyst.analysis_ms": per_pass("analysis_ms"),
        "catalyst.optimization_ms": per_pass("optimization_ms"),
        "catalyst.planning_ms": per_pass("planning_ms"),
        "host.steal_share": statistics.median(p["steal"] for p in traced),
    }
    base = _analytic_report(untraced)
    table = {}
    for name in base["_per_query_s"]:
        ds = [p["detail"][name] for p in traced if name in p["detail"]]
        if not ds:
            continue
        total = statistics.median(d["build_s"] + d["write_s"] for d in ds)
        spread = base["_per_query_spread_s"][name]
        table[name] = {"build_s": statistics.median(d["build_s"] for d in ds),
                       "write_s": statistics.median(d["write_s"] for d in ds), "traced_s": total,
                       "traced_passes": len(ds), "untraced_passes": len(untraced),
                       "untraced_median_s": base["_per_query_s"][name],
                       "untraced_spread_s": spread,
                       "within_spread": abs(total - base["_per_query_s"][name]) <= spread}
    run.query_table = table
    run.log_windows = [(p["window"], 0) for p in traced]
    run.query_windows = [(n, d["query_window"], d["build_window"])
                         for p in traced for n, d in p["detail"].items()]
    return layers


# --- per-layer assembly -------------------------------------------------------------


def finish_layers(run: Run) -> dict[str, float]:
    """Fill the per-layer metrics: set-up timings, event-log ``exec.*``
    over the traced windows, zeros where a layer does no work."""
    import eventlog

    layers = {k: 0.0 for k in PER_LAYER}
    layers.update({f"client.{k}": run.report[k] for k in CLIENT})
    layers.update(run.setup)
    layers.update(run.layers)
    log_dir = os.path.join(run.dir, "eventlog")
    log = eventlog.read(log_dir)
    windows = run.log_windows
    jobs = sorted({j for (a, b), _ in windows for j in log.jobs_in(a, b)})
    wall_s = sum(b - a for (a, b), _ in windows) / 1000.0
    cores = len(os.sched_getaffinity(0))
    layers.update(eventlog.exec_metrics(log, jobs, wall_s, cores))
    if run.workload == "etl_stream":
        blobs = sum(n for _, n in windows)
        layers["spotify.raw_scans"] = eventlog.json_scan_stages(log, jobs) / blobs
        for t in TABLES:
            walls = [(e["end"] - e["start"]) / 1000.0
                     for (a, b), _ in windows for e in log.sql_in(a, b)
                     if f"/{t}_data/" in e["plan"]]
            layers[f"sinks.write_s.{t}"] = statistics.median(walls) if walls else 0.0
    else:
        # every traced pass: eager jobs per pass, per-query exec.* over
        # all of a query's traced windows
        eager: dict[str, int] = {}
        windows: dict[str, list] = {}
        for name, (a, b), build in run.query_windows:
            eager[name] = eager.get(name, 0) + len(log.jobs_in(*build))
            windows.setdefault(name, []).append((a, b))
        passes = len(run.log_windows)
        for name, ws in windows.items():
            q = run.query_table.setdefault(name, {})
            q["eager_jobs"] = eager[name] / passes
            q["exec"] = eventlog.exec_metrics(log, sorted({j for a, b in ws for j in log.jobs_in(a, b)}),
                                              sum(b - a for a, b in ws) / 1000.0, cores)
        layers["plans.eager_jobs"] = sum(eager.values()) / passes
    return layers


# --- entry point --------------------------------------------------------------------

WORKLOADS = {"etl_stream": etl_stream, "analytic_sf0.1": analytic}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, BENCH_DIR]

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    shutil.rmtree(run.dir, ignore_errors=True)
    pin_env(run)
    try:
        WORKLOADS[args.workload](run)
        layers = finish_layers(run) if run.trace else None
    finally:
        shutil.rmtree(os.path.join(run.dir, "spark-local"), ignore_errors=True)

    report = run.report
    report["setup_s"] = sum(run.setup.values())
    labels = report["labels"]
    summary = [f"{labels.get(k, k)}={report[k]:.4g} {u}" for k, u in {**END_TO_END, **CLIENT}.items()]
    print(f"{run.workload} seed={run.seed}: {', '.join(summary)}, "
          f"host_steal={100 * report['steal']:.1f}%, "
          f"failed_share={run.failed}/{run.attempted}={run.failed / max(1, run.attempted):.3g}",
          flush=True)
    for p in run.problems[:20]:
        print(f"FAILED: {p}", file=sys.stderr)
    if run.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        out = os.path.join(WORK, "trace", f"{run.run_id}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump({"run": run.run_id,
                       "untraced": {k: report[k] for k in [*END_TO_END, *CLIENT, "steal"]},
                       "per_layer": layers, "queries": run.query_table,
                       "spans": run.tracer.spans, "problems": run.problems}, f, indent=1, default=str)
        print(f"trace written to {os.path.relpath(out, ROOT)}", file=sys.stderr)
    else:
        metrics = {k: {"value": report[k], "unit": u} for k, u in END_TO_END.items()}
    shutil.rmtree(run.dir, ignore_errors=True)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
