"""Per-layer tracing from outside the engine.

Nothing here edits the engine. The tracer:

- wraps five public functions (``bucket_prefix_cells``,
  ``session_cached``, ``load_table``, ``write_parquet``,
  ``run_pipeline``) in every loaded engine module that bound them by
  name, plus their defining modules, so function-local imports see the
  wrapper too;
- runs each step phase under its own Spark job group and harvests the
  group's jobs and stages from the status store
  (``statusStore().lastStageAttempt``);
- counts micro-batches through a ``StreamingQueryListener``, since
  streaming jobs run outside the caller's job group;
- reads CPU time and peak RSS of the driver, its JVM and the Python
  workers from ``/proc``.

Wrappers pass straight through while ``enabled`` is False, so one
session can time untraced and traced passes side by side.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import sys
import time
from collections import defaultdict

PKG = "real_estate_data_analysis_with_aws_data_pipeline_project_spark"
WRAPPED = {
    "bucket_prefix_cells": f"{PKG}.operators.rank_prefix",
    "session_cached": f"{PKG}.operators.session_cache",
    "load_table": f"{PKG}.sources.catalog",
    "write_parquet": f"{PKG}.sources.writers",
    "run_pipeline": f"{PKG}.plans.orchestration",
}
MB = 1024 * 1024
CLK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------- /proc


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()  # fields from index 3 ("state") on


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (the JVM's Python daemon and
    its forked workers)."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))):
            children[int(st[1])].append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_s(pid: int, reaped: bool = False) -> float:
    """utime+stime of ``pid``; with ``reaped``, plus its waited-for
    children's (a Python daemon accumulates its exited workers)."""
    st = _stat(pid)
    if st is None:
        return 0.0
    ticks = int(st[11]) + int(st[12])
    if reaped:
        ticks += int(st[13]) + int(st[14])
    return ticks / CLK


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class Procs:
    """The driver, its JVM and the JVM's Python workers."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid

    def peak_rss_parts(self) -> dict[str, float]:
        workers = descendants(self.jvm)
        return {
            "driver": peak_rss_mb(os.getpid()),
            "jvm": peak_rss_mb(self.jvm),
            "python_workers": sum(peak_rss_mb(p) for p in workers),
            "python_worker_procs": len(workers),
        }

    def peak_rss_mb(self) -> float:
        p = self.peak_rss_parts()
        return p["driver"] + p["jvm"] + p["python_workers"]

    def cpu(self) -> dict[str, float]:
        return {
            "proc.driver_cpu_s": cpu_s(os.getpid()),
            "proc.jvm_cpu_s": cpu_s(self.jvm),
            "proc.python_worker_cpu_s": sum(
                cpu_s(p, reaped=True) for p in descendants(self.jvm)
            ),
        }


# --------------------------------------------------------------- tracer


class Tracer:
    def __init__(self, spark, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.enabled = False
        self.c: dict[str, float] = defaultdict(float)
        self._install_wrappers()
        self._install_listener()

    # ---- function wrappers

    def _install_wrappers(self) -> None:
        for fname, home in WRAPPED.items():
            orig = getattr(importlib.import_module(home), fname)
            wrapper = functools.wraps(orig)(getattr(self, f"_w_{fname}")(orig))
            for name, mod in list(sys.modules.items()):
                if name.startswith(PKG) and getattr(mod, fname, None) is orig:
                    setattr(mod, fname, wrapper)

    def _timed(self, key: str, fn, *a, **kw):
        t = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            self.c[key] += time.perf_counter() - t

    def _w_bucket_prefix_cells(self, orig):
        def w(*a, **kw):
            if not self.enabled:
                return orig(*a, **kw)
            self.c["rank_prefix.calls"] += 1
            return self._timed("rank_prefix.s", orig, *a, **kw)
        return w

    def _w_session_cached(self, orig):
        def w(spark, name, sf_dir, builder, *a, **kw):
            if not self.enabled:
                return orig(spark, name, sf_dir, builder, *a, **kw)
            built = []

            def counting_builder():
                built.append(True)
                return builder()

            t = time.perf_counter()
            df = orig(spark, name, sf_dir, counting_builder, *a, **kw)
            if built:
                self.c["session_cache.builds"] += 1
                self.c["session_cache.build_s"] += time.perf_counter() - t
            else:
                self.c["session_cache.hits"] += 1
            return df
        return w

    def _w_load_table(self, orig):
        def w(*a, **kw):
            if self.enabled:
                self.c["sources.load_table_calls"] += 1
            return orig(*a, **kw)
        return w

    def _w_write_parquet(self, orig):
        def w(df, path, *a, **kw):
            if not self.enabled:
                return orig(df, path, *a, **kw)
            out = self._timed("sources.write_s", orig, df, path, *a, **kw)
            self.c["sources.write_mb"] += sum(
                os.path.getsize(os.path.join(r, f))
                for r, _d, fs in os.walk(path) for f in fs
            ) / MB
            return out
        return w

    def _w_run_pipeline(self, orig):
        def w(*a, **kw):
            if not self.enabled:
                return orig(*a, **kw)
            res = self._timed("orchestration.pipeline_s", orig, *a, **kw)
            self.c["orchestration.attempts"] += res.attempts
            return res
        return w

    # ---- streaming listener

    def _install_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if not tracer.enabled or p.numInputRows == 0:
                    return
                tracer.c["streaming.batches"] += 1
                tracer.c["streaming.batch_ms"] += p.durationMs.get("triggerExecution", 0)
                tracer.c["streaming.state_rows"] += sum(
                    s.numRowsTotal for s in p.stateOperators
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()
        self.spark.streams.addListener(self._listener)

    # ---- job groups and the status store

    @contextlib.contextmanager
    def phase(self, group: str):
        """Run the enclosed Spark actions under job group ``group``."""
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def harvest(self, group: str, phase: str, wall_s: float) -> None:
        """Fold one phase's jobs, stages and tasks into the counters."""
        self.c[f"queries.{phase}_s"] += wall_s
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        deadline = time.monotonic() + 2.0  # the status store lags the action
        while time.monotonic() < deadline and any(
            (info := tracker.getJobInfo(j)) is not None and info.status == "RUNNING"
            for j in jobs
        ):
            time.sleep(0.01)
        self.c[f"queries.{phase}_jobs"] += len(jobs)
        self.c["spark.jobs"] += len(jobs)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        run_s = 0.0
        for s in stages:
            try:
                sd = store.lastStageAttempt(s)
            except Exception:  # never attempted (skipped before submission)
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            self.c["spark.stages"] += 1
            self.c["spark.tasks"] += sd.numCompleteTasks()
            run_s += sd.executorRunTime() / 1e3
            self.c["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
            self.c["spark.input_mb"] += sd.inputBytes() / MB
            self.c["spark.shuffle_read_mb"] += sd.shuffleReadBytes() / MB
            self.c["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            self.c["spark.spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
            self.c["spark.gc_s"] += sd.jvmGcTime() / 1e3
        self.c["spark.executor_run_s"] += run_s
        self.c["_core_s"] += wall_s * self.cores

    def storage_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)
