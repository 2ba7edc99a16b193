"""Seeded single-workload benchmark of the ETL & analytics engine.

One process runs one named workload as a closed loop with one client:
set-up (``registry.collect()`` + ``session.get_spark()``), a first pass
over the workload's operation list, one warm-up pass, then measured
warm passes for ``--seconds`` (at least three).  After the session has
stopped, the set-up is repeated in a child process, a cold start too,
and ``setup_s`` is the median (the mean) of the two.
Every operation's output is checked: query results against their DuckDB
oracle from the registry, ETL sinks against the generator's expected
rows and golden counts.

    python3 perfbench/run.py --workload table_queries --seed 1 --seconds 20 --trace 0

With ``--trace 0`` the last stdout line holds the end-to-end metrics;
with ``--trace 1`` it holds the per-layer metrics of a traced run (see
README.md in this directory).  Inputs are generated from the seed and
cached under ``.perfbench/`` at the checkout root.
"""

from __future__ import annotations

import argparse
import datetime
import gc
import glob
import importlib.util
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import check
import gen
import proctree
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

#: operations per workload (the ETL workload's operations are its
#: per-batch ``run_full_etl`` calls); table_queries runs a TPC-H, an LLM
#: curation and a streaming section, in that order
WORKLOADS = {
    "weather_etl": None,
    "table_queries": [
        "q1_pricing_summary", "q21_waiting_suppliers",
        "dedup_embedding_cosine", "ann_ivf_topk", "text_quality_score",
        "stream_tumbling_counts",
    ],
}
#: unmeasured passes after the first: the pass right after it still runs
#: measurably slower (JIT and codegen keep compiling for several passes)
WARMUP_PASSES = 1
#: measured warm passes at least
MIN_MEASURED_PASSES = 3
#: set-ups per run: the run's own and the rest in child processes, each
#: a cold start; setup_s is their median.  Each repeat costs ~8 s of a
#: run's time budget, hence only one
SETUPS = 2
#: operations needed beyond a percentile for it to count as the tail
TAIL_BEYOND = 10

END_TO_END = [
    ("setup_s", "s"), ("first_pass_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"),
    ("op_tail_s", "s"), ("cpu_s", "s"), ("peak_rss_mb", "MB"),
    ("failed_frac", "ratio"), ("sink_bytes_ratio", "ratio"),
]
#: end-to-end metrics in the final JSON line.  failed_frac travels as the
#: line's own attempted/failed counts; sink_bytes_ratio exists for the ETL
#: workload only; peak_rss_mb moves in steps of the JVM's heap expansions
#: (bimodal across seeds, 13-31 % IQR / median), too wide for a bound.
#: All three are printed above the line and reported by traced runs.
REPORTED = ["setup_s", "first_pass_s", "wall_s", "op_p50_s", "op_tail_s", "cpu_s"]

PER_LAYER = [
    ("registry.collect_s", "s"), ("session.get_spark_s", "s"),
    ("catalog.load_table.calls", "count"), ("catalog.load_table_s", "s"),
    ("catalog.spread_scan_s", "s"),
    ("plans.build_s", "s"), ("operators.build_s", "s"), ("streaming.build_s", "s"),
    ("build.jobs", "count"), ("plan_s", "s"), ("plan.operators", "count"),
    ("exec_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.failed_tasks", "count"),
    ("exec.task_busy_frac", "ratio"), ("exec.max_task_ratio", "ratio"),
    ("exec.input_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
    ("exec.shuffle_write_mb", "MB"), ("exec.spill_mb", "MB"), ("exec.gc_s", "s"),
    ("exec.scheduler_delay_s", "s"),
    ("cache.persist_calls", "count"), ("cache.leaked_entries", "count"),
    ("sources.read_weather_csv_s", "s"), ("sources.read_weather_json_s", "s"),
    ("sources.files_read", "count"),
    ("pipeline.count_s", "s"), ("pipeline.quality_s", "s"), ("pipeline.write_s", "s"),
    ("pipeline.readback_s", "s"), ("sink.bytes_written", "bytes"),
    ("streaming.batches", "count"), ("streaming.input_rows", "count"),
    ("streaming.add_batch_s", "s"), ("streaming.trigger_overhead_s", "s"),
    ("streaming.startup_s", "s"), ("streaming.state_rows", "count"),
    ("streaming.state_mb", "MB"),
    ("failed_frac", "ratio"), ("sink_bytes_ratio", "ratio"), ("peak_rss_mb", "MB"),
    ("trace.overhead_s", "s"),
]

#: (layer, its traced metrics, workload a change to it should move,
#: workload it should leave flat); checked on every traced run
PREDICTIONS = [
    ("catalog", ("catalog.load_table.calls",), "table_queries", "weather_etl"),
    ("pipeline", ("pipeline.count_s", "pipeline.quality_s", "pipeline.write_s",
                  "pipeline.readback_s"), "weather_etl", "table_queries"),
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_env(run_dir: str) -> None:
    """Keep every scratch path of Python, Spark and the JVM in the run
    directory; must run before pyspark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"


def session_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run_dir}/tmp -Dderby.system.home={run_dir} "
            f"-Dderby.stream.error.file={run_dir}/derby.log"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------


def load_inputs(workload: str, seed: int) -> dict:
    """Generate (or reuse) the workload's inputs for ``seed``."""
    size = gen.WEATHER_SIZE if workload == "weather_etl" else gen.TABLE_SIZES[workload]
    key = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    data_dir = os.path.join(WORK, "data", f"{workload}-seed{seed}-{key}")
    manifest = os.path.join(data_dir, "_inputs.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            inputs = json.load(f)
        log(f"inputs cached in {data_dir}")
    else:
        t0 = time.perf_counter()
        staging = f"{data_dir}.tmp{os.getpid()}"
        shutil.rmtree(staging, ignore_errors=True)
        if workload == "weather_etl":
            batches, n_bytes = gen.write_weather(staging, seed, size)
            for b in batches:
                for r in b["expected"]:
                    r["date_heure_utc"] = r["date_heure_utc"].isoformat()
            inputs = {"batches": batches, "input_bytes": n_bytes}
        else:
            inputs = {"rows": gen.write_tables(staging, seed, size)}
        # paths are recorded relative to the data directory so the cache
        # survives the staging rename
        inputs = json.loads(json.dumps(inputs).replace(staging, "@DATA@"))
        with open(os.path.join(staging, "_inputs.json"), "w") as f:
            json.dump(inputs, f)
        try:
            os.rename(staging, data_dir)
        except OSError:  # a concurrent run published the same inputs
            shutil.rmtree(staging, ignore_errors=True)
        log(f"generated inputs in {time.perf_counter() - t0:.2f}s (in no metric)")
    inputs = json.loads(json.dumps(inputs).replace("@DATA@", data_dir))
    inputs["dir"] = data_dir
    return inputs


# --------------------------------------------------------------------------
# operations
# --------------------------------------------------------------------------


class Op:
    """One operation: its name, the package layer its build code lives
    in, and its expected result once the oracle has computed it."""

    def __init__(self, name: str, layer: str):
        self.name = name
        self.layer = layer
        self.expected = None


class Runner:
    def __init__(self, spark, workload: str, inputs: dict, queries: dict, oracles: dict,
                 run_dir: str, seed: int, tracer=None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.inputs = inputs
        self.queries = queries
        self.oracles = oracles
        self.run_dir = run_dir
        self.seed = seed
        self.tracer = tracer
        self.oracle = check.Oracle(inputs["dir"], sorted(
            os.path.basename(p).removesuffix(".parquet")
            for p in glob.glob(os.path.join(inputs["dir"], "*.parquet"))
        ))
        if workload == "weather_etl":
            self.ops = [Op(f"run_full_etl[{i}]", "pipeline") for i in range(len(inputs["batches"]))]
        else:
            self.ops = [
                Op(n, queries[n].__module__.split(".")[1]) for n in WORKLOADS[workload]
            ]
        self.attempted = 0
        self.failed = 0
        self.trace_on = False
        self.pass_sink_bytes = 0
        #: per-layer sums over the traced passes
        self.layer_acc: dict[str, float] = {}

    def _add(self, key: str, value: float) -> None:
        if self.trace_on:
            self.layer_acc[key] = self.layer_acc.get(key, 0.0) + value

    def _fail(self, op: Op, pass_no: int, msg: str) -> None:
        self.failed += 1
        log(f"FAIL seed={self.seed} pass={pass_no} {op.name}: {msg}")

    def _group(self, pass_no: int, i: int, phase: str) -> str:
        group = f"pb:{pass_no}:{i}:{phase}"
        self.tracer.set_group(group)
        return group

    def _cache_entries(self) -> int:
        """Entries in the session's CacheManager, read through JVM
        reflection (the list is private)."""
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        return field.get(cm).size()

    def _jobs(self, *groups: str) -> int:
        tracker = self.sc.statusTracker()
        return sum(len(tracker.getJobIdsForGroup(g)) for g in groups)

    def run_pass(self, pass_no: int) -> list[float | None]:
        """Latency per operation; None where the operation raised."""
        lats = []
        for i, op in enumerate(self.ops):
            self.attempted += 1
            try:
                if self.workload == "weather_etl":
                    lat, err = self._etl(op, i, pass_no)
                else:
                    lat, err = self._query(op, i, pass_no)
            except Exception as exc:  # noqa: BLE001 — a failed operation is a result
                lat, err = None, f"{type(exc).__name__}: {exc}"
            if err is not None:
                self._fail(op, pass_no, err)
            lats.append(lat)
            gc.collect()  # fire the package's unpersist-on-GC finalizers
            if self.trace_on:
                self._add("cache.leaked_entries", self._cache_entries())
            self.spark.catalog.clearCache()
        return lats

    def _query(self, op: Op, i: int, pass_no: int) -> tuple[float, str | None]:
        fn = self.queries[op.name]
        if op.expected is None:
            op.expected = self.oracle.expected(self.oracles[op.name])
        if not self.trace_on:
            t0 = time.perf_counter()
            df = fn(self.spark, self.inputs["dir"])
            rows = df.collect()
            lat = time.perf_counter() - t0
        else:
            tr = self.tracer
            build_group = self._group(pass_no, i, "build")
            tr.catalog_s = 0.0
            t0 = time.perf_counter()
            df = fn(self.spark, self.inputs["dir"])
            t1 = time.perf_counter()
            exec_group = self._group(pass_no, i, "exec")
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            t2 = time.perf_counter()
            rows = df.collect()
            t3 = time.perf_counter()
            lat = t3 - t0
            self._add(f"{op.layer}.build_s", (t1 - t0) - tr.catalog_s)
            self._add("plan_s", t2 - t1)
            self._add("exec_s", t3 - t2)
            self._add("plan.operators", qe.optimizedPlan().treeString().count("\n"))
            self._add("build.jobs", self._jobs(build_group))
            self._add("exec.jobs", self._jobs(exec_group))
            self.tracer.set_group("pb:idle")
        err = check.diff(op.expected, df.columns, [t for _, t in df.dtypes],
                              [tuple(r) for r in rows])
        return lat, err

    def _etl(self, op: Op, i: int, pass_no: int) -> tuple[float, str | None]:
        from projet_meteo_etl_spark import pipeline

        batch = self.inputs["batches"][i]
        out = os.path.join(self.run_dir, "sink", str(i))
        if self.trace_on:
            self._group(pass_no, i, "count")
            self.tracer.etl_prefix = f"pb:{pass_no}:{i}"
        t0 = time.perf_counter()
        try:
            res = pipeline.run_full_etl(spark=self.spark, csv_manifests=batch["csv_manifests"],
                                        json_path=batch["json_path"], output_path=out)
        finally:
            lat = time.perf_counter() - t0
            if self.trace_on:
                self.tracer.etl_prefix = None
                self.tracer.set_group("pb:idle")
        sink_bytes = sum(os.path.getsize(p) for p in glob.glob(os.path.join(out, "*")))
        self._add("sink.bytes_written", sink_bytes)
        self.pass_sink_bytes += sink_bytes
        if self.trace_on:
            self._add("build.jobs", self._jobs(*(
                f"pb:{pass_no}:{i}:{p}" for p in self.tracer.ETL_PHASES)))
            self._add("plan.operators",
                      res.unified._jdf.queryExecution().optimizedPlan().treeString().count("\n"))
        if not res.count_reconciled:
            return lat, f"source count {res.source_count} != sink count {res.sink_count}"
        if res.source_count != batch["golden_total"]:
            return lat, f"count {res.source_count} != golden {batch['golden_total']}"
        if op.expected is None:
            rows = [dict(r, date_heure_utc=datetime.datetime.fromisoformat(r["date_heure_utc"]))
                    for r in batch["expected"]]
            op.expected = check.expected_weather(rows, pipeline.FINAL_COLS)
        got = self.oracle.read_sink(out, pipeline.FINAL_COLS)
        return lat, check.diff(op.expected, pipeline.FINAL_COLS, None, got)


def tail(per_op: list[list[float]]) -> tuple[float, str]:
    """The highest percentile of all samples with TAIL_BEYOND samples
    above it, and how it was taken.  With too few samples for that, the
    slowest operation's median latency."""
    s = sorted(x for lats in per_op for x in lats)
    n = len(s)
    if n <= TAIL_BEYOND:
        value = max(statistics.median(lats) for lats in per_op if lats)
        return value, f"the slowest operation's median ({n} samples, too few for a percentile)"
    k = n - TAIL_BEYOND - 1
    return s[k], f"p{100.0 * (k + 1) / n:.1f} of {n} measured operation latencies"


def per_op(passes: list[list[float | None]], n_ops: int) -> list[list[float]]:
    """Latencies of each operation across ``passes``, raised ones left out."""
    return [[p[i] for p in passes if p[i] is not None] for i in range(n_ops)]


def pass_wall(per_op_lats: list[list[float]]) -> float:
    """Pass wall time as the sum of per-operation medians, so one slow
    sample moves only its own term."""
    return sum(statistics.median(lats) for lats in per_op_lats if lats)


def versions(spark) -> dict:
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": os.getloadavg(),
        "spark": spark.version,
        "java": java.splitlines()[0] if java else "unknown",
        "python": platform.python_version(),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-only", action="store_true",
                    help="time one set-up, print it as JSON and stop (used for the repeats)")
    args = ap.parse_args()
    if not args.setup_only and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    if importlib.util.find_spec("projet_meteo_etl_spark") is None:
        log(f"the engine package projet_meteo_etl_spark is not under {ROOT}")
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    prepare_env(run_dir)
    tmp_before = set(glob.glob("/tmp/spark_graft_stream_*"))
    proctree.become_subreaper()
    # a SIGTERM unwinds through the finally below like an error would
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        if args.setup_only:
            spark, _, _, times = setup(run_dir, bool(args.trace))
            spark.stop()
            print(json.dumps(times), flush=True)
            return 0
        return measure(args, run_dir)
    finally:
        stop_session()
        shutil.rmtree(run_dir, ignore_errors=True)
        for d in set(glob.glob("/tmp/spark_graft_stream_*")) - tmp_before:
            shutil.rmtree(d, ignore_errors=True)


def stop_session() -> None:
    """End every process the run started and wait for each.  Closing the
    stdin pipe of the JVM that PySpark launched makes the JVM exit, taking
    its Python worker daemon with it; what is left is signalled."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None and proc.stdin is not None and not proc.stdin.closed:
            try:
                proc.stdin.close()
            except OSError:
                pass
    stray = proctree.stop_tree(os.getpid())
    if stray:
        log(f"signalled {len(stray)} process(es) that outlived the session: {stray}")


def repeat_setup(trace: bool) -> dict[str, float]:
    """One more cold set-up, in a child process of its own."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--setup-only", "--trace", str(int(trace))],
        capture_output=True, text=True, timeout=150,
    )
    if out.returncode != 0:
        raise RuntimeError(f"set-up repeat exited with {out.returncode}: {out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


class Loop:
    """The pass loop of one run: every pass's latencies, the traced
    passes' time windows, and the process tree's CPU time per pass."""

    def __init__(self, runner: Runner, tracer, input_bytes: int):
        self.runner = runner
        self.tracer = tracer
        self.input_bytes = input_bytes
        self.me = os.getpid()
        self.passes: list[list[float | None]] = []
        self.traced: list[list[float | None]] = []
        self.windows: list[tuple[float, float]] = []
        self.traced_ids: set[int] = set()
        self.sink_ratio: list[float] = []
        #: CPU seconds of each untraced pass, in pass order
        self.cpu: list[float] = []

    def one_pass(self, traced: bool) -> list[float | None]:
        pass_no = len(self.passes) + len(self.traced)
        self.runner.pass_sink_bytes = 0
        self.runner.trace_on = traced
        if self.tracer is not None:
            self.tracer.on = traced
        cpu0 = proctree.cpu_seconds(self.me)
        w0 = time.time()
        lats = self.runner.run_pass(pass_no)
        cpu = proctree.cpu_seconds(self.me) - cpu0
        if traced:
            self.windows.append((w0, time.time()))
            self.traced_ids.add(pass_no)
            self.traced.append(lats)
        else:
            self.passes.append(lats)
            self.cpu.append(cpu)
        if self.input_bytes:
            self.sink_ratio.append(self.runner.pass_sink_bytes / self.input_bytes)
        return lats

    def run(self, seconds: float, trace: bool) -> float:
        """First pass, warm-up passes, then measured passes for
        ``seconds``; returns the first pass's time."""
        first_pass_s = sum(x for x in self.one_pass(False) if x is not None)
        for _ in range(WARMUP_PASSES):
            self.one_pass(False)  # in no metric
        start = time.perf_counter()
        n = 0
        if not trace:
            while n < MIN_MEASURED_PASSES or time.perf_counter() - start < seconds:
                self.one_pass(False)
                n += 1
        else:
            # T U U T blocks, so residual warm-up drift cancels out of the
            # tracing overhead
            while n < 4 or time.perf_counter() - start < seconds:
                for traced in (True, False, False, True):
                    self.one_pass(traced)
                n += 4
        return first_pass_s


def setup(run_dir: str, trace: bool):
    """``registry.collect()`` + ``session.get_spark()``, timed; with
    ``trace`` the wrappers go in before the package is imported.
    Returns the session, the registry, the tracer and the two times."""
    tracer = None
    if trace:
        tracer = tracing.Tracer()
        tracer.install()

    from projet_meteo_etl_spark import registry, session

    nproc = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    registered = registry.collect()
    t1 = time.perf_counter()
    spark = session.get_spark(master=f"local[{nproc}]", extra_conf=session_conf(run_dir, trace))
    t2 = time.perf_counter()
    return spark, registered, tracer, {"registry.collect_s": t1 - t0, "session.get_spark_s": t2 - t1}


def measure(args, run_dir: str) -> int:
    inputs = load_inputs(args.workload, args.seed)
    trace = bool(args.trace)
    listener = None
    nproc = len(os.sched_getaffinity(0))
    with proctree.PeakRss(os.getpid()) as rss:
        spark, (queries, oracles), tracer, setup_times = setup(run_dir, trace)
        spark.sparkContext.setLogLevel("ERROR")
        env = versions(spark)
        if trace:
            tracer.rebind()
            tracer.sc = spark.sparkContext
            listener = tracing.StreamListener()
            spark.streams.addListener(listener)

        runner = Runner(spark, args.workload, inputs, queries, oracles, run_dir, args.seed, tracer)
        loop = Loop(runner, tracer, inputs.get("input_bytes", 0))
        try:
            first_pass_s = loop.run(args.seconds, trace)
            if listener is not None:
                listener.settle()
        finally:
            runner.oracle.close()
            spark.stop()
    # the run's JVM is gone before the repeats start theirs
    stop_session()
    setups = [setup_times] + [repeat_setup(trace) for _ in range(SETUPS - 1)]
    setup_med = {k: statistics.median(s[k] for s in setups) for k in setup_times}

    first = 1 + WARMUP_PASSES
    warm = loop.passes[first:]  # the measured passes
    warm_lats = [x for p in warm for x in p if x is not None]
    warm_ops = per_op(warm, len(runner.ops))
    wall_s = pass_wall(warm_ops)
    tail_s, tail_how = tail(warm_ops) if warm_lats else (math.nan, "no samples")
    failed_frac = runner.failed / runner.attempted
    e2e = {
        "setup_s": statistics.median(sum(s.values()) for s in setups),
        "first_pass_s": first_pass_s,
        "wall_s": wall_s,
        "op_p50_s": statistics.median(warm_lats) if warm_lats else math.nan,
        "op_tail_s": tail_s,
        "cpu_s": statistics.median(loop.cpu[first:]),
        "peak_rss_mb": rss.peak / 2**20,
        "failed_frac": failed_frac,
        "sink_bytes_ratio": statistics.median(loop.sink_ratio) if loop.sink_ratio else None,
    }
    print("# env " + json.dumps(env))
    print(f"# workload={args.workload} seed={args.seed} measured_passes={len(warm)} "
          f"traced_passes={len(loop.traced)} ops_per_pass={len(runner.ops)}")
    print(f"# op_tail_s is {tail_how}")
    for i, op in enumerate(runner.ops):
        print(f"# op {op.name}: " + " ".join(
            "raised" if p[i] is None else f"{p[i]:.3f}" for p in loop.passes) + " s")
    for name, unit in END_TO_END:
        v = e2e[name]
        print(f"# {name} = {'n/a (weather_etl only)' if v is None else v} {unit}")

    if not trace:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END if n in REPORTED}
    else:
        n_t = len(loop.traced)
        layer = {k: v / n_t for k, v in runner.layer_acc.items()}
        layer.update({k: v / n_t for k, v in tracer.acc.items()})
        layer.update({k: v / n_t for k, v in listener.summary(loop.windows).items()})
        log_file = tracing.event_log_file(os.path.join(run_dir, "eventlog"))
        if log_file is not None:
            exec_total = runner.layer_acc.get("exec_s", 0.0)
            parsed = tracing.parse_event_log(log_file, loop.traced_ids, loop.windows, nproc, exec_total)
            for k, v in parsed.items():
                layer[k] = v if k in ("exec.task_busy_frac", "exec.max_task_ratio") else v / n_t
        layer.update(setup_med)
        layer["failed_frac"] = failed_frac
        layer["sink_bytes_ratio"] = e2e["sink_bytes_ratio"] or 0.0
        layer["peak_rss_mb"] = e2e["peak_rss_mb"]
        traced_wall = pass_wall(per_op(loop.traced, len(runner.ops)))
        layer["trace.overhead_s"] = traced_wall - wall_s
        print(f"# traced wall_s = {traced_wall} s, untraced wall_s = {wall_s} s "
              f"(both with the event log on)")
        metrics = {n: {"value": layer.get(n, 0.0), "unit": u} for n, u in PER_LAYER}
        for n, m in metrics.items():
            print(f"# {n} = {m['value']} {m['unit']}")
        for name, keys, moves, flat in PREDICTIONS:
            used = any(layer.get(k, 0.0) > 0 for k in keys)
            if args.workload in (moves, flat):
                holds = used if args.workload == moves else not used
                print(f"# prediction: a change to {name} moves {moves} and leaves {flat} flat; "
                      f"{name} is {'used' if used else 'unused'} here: "
                      f"{'holds' if holds else 'VIOLATED'}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
