"""Traced-run instrumentation, all from outside the package.

* :class:`Tracer` wraps public functions of ``catalog``, ``sources`` and
  ``DataFrame.persist``/``cache`` and sums their time and calls while
  ``on`` is set.  :meth:`Tracer.install` runs before the plan modules are
  imported, so their ``from ... import load_table`` binds the wrapper;
  :meth:`Tracer.rebind` then replaces any binding taken earlier.  Inside a
  traced ``run_full_etl`` call the wrappers on the readers,
  ``run_expectations`` and the parquet writer/reader also switch the
  Spark job group, so every job of the call is labelled with its phase.
* :class:`StreamListener` records streaming progress through
  ``spark.streams.addListener``.
* :func:`parse_event_log` reads Spark's event log after the session has
  stopped and sums task metrics per job-group phase.
"""

from __future__ import annotations

import collections
import datetime
import functools
import json
import os
import statistics
import sys
import time

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "projet_meteo_etl_spark"


class Tracer:
    #: job-group phases of one ``run_full_etl`` call; ``count`` is the
    #: call's default group, so it holds the source-count jobs
    ETL_PHASES = ("count", "sources", "quality", "write", "readback")

    def __init__(self):
        self.on = False
        self.acc: collections.Counter = collections.Counter()
        #: catalog seconds spent inside the current build call
        self.catalog_s = 0.0
        #: ``pb:<pass>:<op>`` while a traced ETL call runs, else None
        self.etl_prefix: str | None = None
        self.sc = None
        self._wrapped: dict[int, object] = {}

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def _timed(self, key: str, fn, catalog: bool):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.on:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self.acc[f"{key}_s"] += dt
                self.acc[f"{key}.calls"] += 1
                if catalog:
                    self.catalog_s += dt

        return wrapper

    def _phase(self, phase: str, fn, restore: bool = True):
        """Run ``fn`` under the ETL call's ``phase`` job group; with
        ``restore`` False the group stays set until the call ends."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not (self.on and self.etl_prefix):
                return fn(*args, **kwargs)
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.set_group(f"{self.etl_prefix}:{phase}")
            try:
                return fn(*args, **kwargs)
            finally:
                if restore:
                    self.set_group(prev)

        return wrapper

    def _counted(self, key: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self.on:
                self.acc[key] += 1
            return fn(*args, **kwargs)

        return wrapper

    def _patch(self, owner, name: str, wrapper) -> None:
        self._wrapped[id(getattr(owner, name))] = wrapper
        setattr(owner, name, wrapper)

    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        from projet_meteo_etl_spark import catalog
        from projet_meteo_etl_spark.operators import quality
        from projet_meteo_etl_spark.sources import weather_csv, weather_json

        for owner, name, key in (
            (catalog, "load_table", "catalog.load_table"),
            (catalog, "spread_scan", "catalog.spread_scan"),
        ):
            self._patch(owner, name, self._timed(key, getattr(owner, name), True))
        for owner, name in ((weather_csv, "read_weather_csv"), (weather_json, "read_weather_json")):
            fn = self._phase("sources", getattr(owner, name))
            self._patch(owner, name, self._timed(f"sources.{name}", fn, False))
        self._patch(quality, "run_expectations", self._phase("quality", quality.run_expectations))
        DataFrameWriter.parquet = self._phase("write", DataFrameWriter.parquet)
        DataFrameReader.parquet = self._phase("readback", DataFrameReader.parquet, restore=False)
        try:
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:  # Spark 3.x: one DataFrame class
            from pyspark.sql import DataFrame
        for name in ("persist", "cache"):
            setattr(DataFrame, name, self._counted("cache.persist_calls", getattr(DataFrame, name)))

    def rebind(self) -> None:
        """Point every package-module binding of a wrapped function at
        its wrapper (covers modules imported before :meth:`install`)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                wrapper = self._wrapped.get(id(val))
                if wrapper is not None and wrapper is not val:
                    setattr(mod, attr, wrapper)


def _epoch(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class StreamListener(StreamingQueryListener):
    """Keeps query start times and every progress report."""

    def __init__(self):
        self.started: dict[str, float] = {}
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        self.started[str(event.runId)] = _epoch(event.timestamp)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append({
            "run": str(p.runId),
            "ts": _epoch(p.timestamp),
            "rows": p.numInputRows,
            "dur": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def settle(self, timeout: float = 5.0) -> None:
        """Wait until no progress event has arrived for half a second;
        the listener bus delivers asynchronously."""
        deadline = time.time() + timeout
        seen = -1
        while time.time() < deadline and seen != len(self.progress):
            seen = len(self.progress)
            time.sleep(0.5)

    def summary(self, windows: list[tuple[float, float]]) -> dict[str, float]:
        """Totals over the query runs that started inside ``windows``."""
        runs = {r for r, t in self.started.items() if any(a <= t <= b for a, b in windows)}
        out = collections.Counter()
        last: dict[str, dict] = {}
        first: dict[str, float] = {}
        for p in self.progress:
            if p["run"] not in runs:
                continue
            out["streaming.batches"] += 1
            out["streaming.input_rows"] += p["rows"]
            add = p["dur"].get("addBatch", 0) / 1000
            out["streaming.add_batch_s"] += add
            out["streaming.trigger_overhead_s"] += p["dur"].get("triggerExecution", 0) / 1000 - add
            first[p["run"]] = min(first.get(p["run"], p["ts"]), p["ts"])
            last[p["run"]] = p
        for run, ts in first.items():
            out["streaming.startup_s"] += max(0.0, ts - self.started[run])
        for p in last.values():
            out["streaming.state_rows"] += p["state_rows"]
            out["streaming.state_mb"] += p["state_bytes"] / 2**20
        return out


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


def _plan_metric_ids(info: dict, name: str, out: set[int]) -> None:
    for m in info.get("metrics", ()):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in info.get("children", ()):
        _plan_metric_ids(child, name, out)


def parse_event_log(
    path: str, passes: set[int], windows: list[tuple[float, float]], slots: int, exec_s: float
) -> dict[str, float]:
    """Sum the event log's task metrics over the jobs whose group is
    ``pb:<pass>:<op>:<phase>`` with ``pass`` in ``passes``; SQL file
    counts are taken from executions started inside ``windows`` (epoch
    seconds), which stream jobs and other groupless jobs also fall in."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = collections.defaultdict(list)
    files_ids: set[int] = set()
    files_upd: list[tuple[int, int, int]] = []  # (execution, acc id, value)
    sql_time: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                parts = group.split(":")
                if len(parts) != 4 or parts[0] != "pb" or int(parts[1]) not in passes:
                    continue
                jobs[ev["Job ID"]] = {"phase": parts[3], "start": ev["Submission Time"]}
                for sid in ev.get("Stage IDs", ()):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                tasks[ev["Stage ID"]].append(ev)
            elif kind == _SQL + "SparkListenerSQLExecutionStart":
                sql_time[ev["executionId"]] = ev["time"]
                _plan_metric_ids(ev.get("sparkPlanInfo", {}), "number of files read", files_ids)
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                _plan_metric_ids(ev.get("sparkPlanInfo", {}), "number of files read", files_ids)
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc, val in ev.get("accumUpdates", ()):
                    files_upd.append((ev["executionId"], acc, val))

    out = collections.Counter()
    ratios = []
    busy_ms = 0
    for sid, evs in tasks.items():
        if jobs[stage_job[sid]]["phase"] != "exec":
            continue
        out["exec.stages"] += 1
        durs = []
        for ev in evs:
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            out["exec.tasks"] += 1
            if ev["Task End Reason"].get("Reason") != "Success":
                out["exec.failed_tasks"] += 1
            dur = info["Finish Time"] - info["Launch Time"]
            durs.append(dur)
            run = m.get("Executor Run Time", 0)
            busy_ms += run
            out["exec.gc_s"] += m.get("JVM GC Time", 0) / 1000
            out["exec.input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20
            sr = m.get("Shuffle Read Metrics") or {}
            out["exec.shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20
            out["exec.shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
            out["exec.spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
            overhead = (
                run + m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
                + info.get("Getting Result Time", 0)
            )
            out["exec.scheduler_delay_s"] += max(0, dur - overhead) / 1000
        if len(durs) >= 2:
            ratios.append(max(durs) / max(statistics.median(durs), 1))
    out["exec.task_busy_frac"] = busy_ms / 1000 / (exec_s * slots) if exec_s > 0 else 0.0
    out["exec.max_task_ratio"] = max(ratios, default=0.0)

    for j in jobs.values():
        if j["phase"] in ("count", "quality", "write", "readback") and "end" in j:
            out[f"pipeline.{j['phase']}_s"] += (j["end"] - j["start"]) / 1000

    in_window = {
        ex for ex, t in sql_time.items() if any(a <= t / 1000 <= b for a, b in windows)
    }
    out["sources.files_read"] = sum(
        val for ex, acc, val in files_upd if acc in files_ids and ex in in_window
    )
    return out


def event_log_file(log_dir: str) -> str | None:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    return os.path.join(log_dir, sorted(names)[-1]) if names else None
