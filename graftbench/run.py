"""End-to-end benchmark of the engine, driven through its public API.

    python3 graftbench/run.py --workload interactive --seed 1 --seconds 15 --trace 0

Run from the repository root. One run builds its inputs from the seed,
sets up a Spark session, runs the workload's untimed warm-up passes,
then timed passes until ``--seconds`` have gone by (at least four),
checks every step's last output against its DuckDB oracle,
stops the JVM and prints a context line and then the result line.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see README.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
PKG = "real_estate_data_analysis_with_aws_data_pipeline_project_spark"
CORES = 4
PIPELINE = "run_pipeline"  # the one step that is not a registered query
TAIL_BEYOND = 10  # samples beyond the reported tail percentile
MIN_PASSES = 4  # timed passes per run, however short --seconds is
# A traced run times its passes in untraced-traced-traced-untraced
# quadruples and ends on a whole one, so both halves sit at the same
# mean position on the warm-up slope and read every input generation
# equally often.
TRACE_CYCLE = 4
# A run normally ends within ~65 s. On a contended host, stop after
# three timed passes once the run has taken this long, so that the run
# stays far from its 180 s limit and an acceptance sequence within its
# budget (flagged in the context line).
DEADLINE_S = 75


@dataclass(frozen=True)
class Workload:
    generations: int  # input generations; pass p reads generation p % n
    # Untimed passes first: the first pass of a session runs 4-5x a warm
    # one. The JVM keeps compiling for a few passes more (pass walls
    # fell ~15 % over the next four), which the median of the timed
    # passes absorbs; more warm-up passes do not fit the run budget.
    warmup: int
    sink: str  # "collect" (toPandas) or "parquet" (write_parquet)
    steps: tuple[str, ...]


WORKLOADS = {
    # An analyst's warm session: a handful of rows per step from many
    # small Spark jobs, so scheduling, eager actions inside query code,
    # the rank kernel, the Arrow boundary and session-cache hits do the
    # work.
    "interactive": Workload(1, 2, "collect", (
        "events_mannwhitney_u",
        "agg_lorenz_deciles",
        "embedding_covariance_whitening",
        "similarity_range_search",
        "graph_jaccard_similarity",
    )),
    # A data-refresh cycle: every pass reads a new input generation, so
    # each session-cache key misses and rebuilds, outputs are written
    # as parquet, and the pipeline and streaming tiers run.
    "refresh": Workload(2, 3, "parquet", (
        PIPELINE,
        "flagship_enriched_sample",
        "streaming_tumbling_counts",
        "dedup_minhash_lsh",
    )),
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env() -> None:
    """Keep every file Spark, Python and the JVM write under WORK, and
    let Python workers import the engine package."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # session.get_spark's heap knob: the inputs' live set is a few hundred
    # MB, and an 8 GB ceiling lets G1's growth timing, not the engine,
    # decide the JVM's peak RSS (peak_rss_mb spread 0.15-0.36 over sets
    # of five seeds at 8 GB, 0.03-0.18 over sets of ten at 2 GB)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    sys.path.insert(0, ROOT)


def _session_conf() -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
    }


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait for both to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _host_probe_s() -> float:
    """A fixed single-thread CPU loop (bench.py's calibration, shortened)
    run before each timed pass: host-speed context beside the pass."""
    t = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i ^ (i >> 3)
    return time.perf_counter() - t


def _tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least TAIL_BEYOND samples beyond
    it: (value, percentile)."""
    s = sorted(samples)
    k = len(s) - TAIL_BEYOND - 1
    if k < 0:  # too few samples: report the maximum
        k = len(s) - 1
    return s[k], 100.0 * (k + 1) / len(s)


class Runner:
    def __init__(self, spark, workload: Workload, dirs: list[str], tracer):
        from real_estate_data_analysis_with_aws_data_pipeline_project_spark.api import QUERIES
        from real_estate_data_analysis_with_aws_data_pipeline_project_spark.plans import (
            orchestration,
        )
        from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources import (
            writers,
        )

        self.spark, self.w, self.dirs, self.tracer = spark, workload, dirs, tracer
        self.queries, self.orch, self.writers = QUERIES, orchestration, writers
        self.attempted = 0
        self.failures: list[str] = []
        self.last: dict[str, tuple] = {}  # step -> (output, sf_dir) of its last run

    def _phase(self, group: str, phase: str, fn):
        """Run fn() as one traced phase; returns its result."""
        t = time.perf_counter()
        if self.tracer is None or not self.tracer.enabled:
            return fn()
        with self.tracer.phase(group):
            out = fn()
        self.tracer.harvest(group, phase, time.perf_counter() - t)
        return out

    def step(self, name: str, sf_dir: str, tag: str):
        """Run one step: the public call (build), then its sink (action)."""
        g = f"{tag}:{name}"
        if name == PIPELINE:
            res = self._phase(f"{g}:build", "build",
                              lambda: self.orch.run_pipeline(self.spark, sf_dir))
            if res.status != "SUCCEEDED":
                raise RuntimeError(f"pipeline status {res.status}: {res.error}")
            return res.status
        df = self._phase(f"{g}:build", "build",
                         lambda: self.queries[name].fn(self.spark, sf_dir))
        if self.w.sink == "collect":
            return self._phase(f"{g}:action", "action", df.toPandas)
        path = os.path.join(WORK, "out", name)
        self._phase(f"{g}:action", "action",
                    lambda: self.writers.write_parquet(df, path))
        return path

    def run_pass(self, p: int, order: list[str], timed: bool) -> tuple[float, dict]:
        sf_dir = self.dirs[p % len(self.dirs)]
        walls = {}
        t0 = time.perf_counter()
        for name in order:
            t = time.perf_counter()
            try:
                out = self.step(name, sf_dir, f"p{p}")
            except Exception as e:  # counted, reported, and the run goes on
                traceback.print_exc()
                if timed:
                    self.attempted += 1
                    self.failures.append(f"pass {p} {name}: {type(e).__name__}: {e}"[:400])
                self.last.pop(name, None)
                continue
            walls[name] = time.perf_counter() - t
            self.last[name] = (out, sf_dir)
            self.attempted += timed
        return time.perf_counter() - t0, walls

    def check(self) -> None:
        """Oracle gate outside the timed region: each step's last output
        against its DuckDB oracle, under tests/oracle.py's exact rule."""
        import pyarrow.parquet as pq

        from tests.oracle import _norm_rows, run_oracle

        for name, (out, sf_dir) in sorted(self.last.items()):
            if name == PIPELINE:
                continue  # its gate is the SUCCEEDED status, checked per run
            pdf = pq.read_table(out).to_pandas() if self.w.sink == "parquet" else out
            odf = run_oracle(self.queries[name].oracle, sf_dir)
            s_cols = sorted(c.lower() for c in pdf.columns)
            o_cols = sorted(c.lower() for c in odf.columns)
            s_rows = _norm_rows(list(pdf.columns), pdf.itertuples(index=False, name=None))
            o_rows = _norm_rows(list(odf.columns), odf.itertuples(index=False, name=None))
            if s_cols != o_cols or len(pdf) != len(odf) or s_rows != o_rows:
                self.failures.append(
                    f"oracle mismatch {name}: rows {len(pdf)} vs {len(odf)}, "
                    f"cols {s_cols == o_cols}"
                )


def main(argv=None) -> int:
    started = time.perf_counter()
    a = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"engine package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    w = WORKLOADS[a.workload]
    os.makedirs(WORK, exist_ok=True)
    _prepare_env()

    # inputs: one dir per generation, seeded from --seed, built in a
    # child process so that the builder's memory is not in the driver's
    # peak RSS
    dirs = [os.path.join(WORK, "inputs", f"s{a.seed}-g{g}") for g in range(w.generations)]
    build = [sys.executable, os.path.join(BENCH, "inputs.py")]
    for g, d in enumerate(dirs):
        build += [d, str(a.seed * 1000 + g)]
    subprocess.run(build, check=True, timeout=300)
    keep = {os.path.basename(d) for d in dirs}
    for old in os.listdir(os.path.join(WORK, "inputs")):
        if old not in keep:
            shutil.rmtree(os.path.join(WORK, "inputs", old), ignore_errors=True)

    # ---- setup: package import + get_spark + first trivial action
    t0 = time.perf_counter()
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark import api  # noqa: F401
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(app_name=f"graftbench-{a.workload}", master=f"local[{CORES}]",
                      shuffle_partitions=CORES, extra_conf=_session_conf())
    spark.sparkContext.setCheckpointDir(os.path.join(WORK, "checkpoints"))
    spark.range(1).count()
    t2 = time.perf_counter()
    setup = {"api.import_s": t1 - t0, "session.get_spark_s": t2 - t1}

    from pyspark import SparkContext

    import tracing as tr

    procs = tr.Procs(SparkContext._gateway.proc.pid)
    mx = SparkContext._jvm.java.lang.management.ManagementFactory

    def jvm_times() -> tuple[float, float]:
        """The JVM's JIT compile time and GC time so far, in seconds."""
        gc = sum(b.getCollectionTime() for b in mx.getGarbageCollectorMXBeans())
        return mx.getCompilationMXBean().getTotalCompilationTime() / 1e3, gc / 1e3

    tracer = tr.Tracer(spark, CORES) if a.trace else None
    runner = Runner(spark, w, dirs, tracer)
    rng = random.Random(a.seed)
    try:
        warmup_s = [runner.run_pass(i, list(w.steps), timed=False)[0]
                    for i in range(w.warmup)]
        cycle = TRACE_CYCLE if tracer else 1
        storage0 = tracer.storage_mb() if tracer else 0.0
        cpu0 = procs.cpu()
        passes: list[tuple[bool, float, dict]] = []
        t_start = time.perf_counter()
        rss = 0.0
        probes: list[float] = []
        pass_cpu: list[float] = []
        pass_jvm: list[list[float]] = []
        while True:
            now = time.perf_counter()
            if len(passes) >= 3 and now - started > DEADLINE_S:
                break
            if (len(passes) >= MIN_PASSES and len(passes) % cycle == 0
                    and now - t_start >= a.seconds):
                break
            traced = bool(tracer) and len(passes) % TRACE_CYCLE in (1, 2)
            p = w.warmup + len(passes)
            if tracer:
                tracer.enabled = traced
            order = list(w.steps)
            rng.shuffle(order)
            probes.append(_host_probe_s())
            c0, j0 = sum(procs.cpu().values()), jvm_times()
            wall, walls = runner.run_pass(p, order, timed=True)
            pass_cpu.append(sum(procs.cpu().values()) - c0)
            pass_jvm.append([b - a for a, b in zip(j0, jvm_times())])
            passes.append((traced, wall, walls))
            rss = max(rss, procs.peak_rss_mb())
        if tracer:
            tracer.enabled = False
        cpu1 = procs.cpu()
        storage1 = tracer.storage_mb() if tracer else 0.0
        rss_parts = procs.peak_rss_parts()
        t_check = time.perf_counter()
        runner.check()
        check_s = time.perf_counter() - t_check
    finally:
        if tracer:
            tracer.close()
        _stop_jvm(spark)

    # host-speed context, measured once the JVM is gone (bench.py's probe;
    # importing bench earlier would pre-load the engine package)
    from bench import CALIBRATION_IDLE_SEC, _host_calibration_sec

    calibration = _host_calibration_sec() / CALIBRATION_IDLE_SEC

    # End-to-end numbers come from untraced passes only.
    plain = [(wall, walls) for traced, wall, walls in passes if not traced]
    per_step = {s: [ws[s] for _, ws in plain if s in ws] for s in w.steps}
    samples = [x for xs in per_step.values() for x in xs]
    tail, pct = _tail(samples)
    medians = {s: statistics.median(xs) for s, xs in per_step.items() if xs}
    e2e = {
        "setup_s": (t2 - t0, "s"),
        "pass_s": (statistics.median(wall for wall, _ in plain), "s"),
        "step_geomean_s": (math.exp(statistics.fmean(math.log(v) for v in medians.values())), "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    failed = len(runner.failures)
    for f in runner.failures:
        print("FAILED", f)
    print(json.dumps({
        "context": {
            "workload": a.workload, "seed": a.seed, "timed_passes": len(passes),
            "deadline_cut": len(passes) < MIN_PASSES,
            "warmup_s": warmup_s, "pass_walls_s": [wall for _, wall, _ in passes],
            "pass_cpu_s": pass_cpu, "pass_jit_gc_s": pass_jvm, "host_probe_s": probes,
            "check_s": check_s, "rss_parts_mb": rss_parts,
            "host_calibration_ratio": calibration,
            "step_tail_s": tail, "step_tail_percentile": pct,
            "step_tail_samples": len(samples),
            "failed_frac": failed / max(runner.attempted, 1),
            "step_median_s": medians,
        }
    }))
    if a.trace:
        metrics = _layer_metrics(tracer, passes, setup, cpu1, cpu0, storage0, storage1)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


LAYER_UNITS = {
    "api.import_s": "s", "session.get_spark_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.action_s": "s", "queries.action_jobs": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.idle_core_frac": "frac",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.input_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.gc_s": "s",
    "rank_prefix.calls": "count", "rank_prefix.s": "s",
    "session_cache.builds": "count", "session_cache.hits": "count",
    "session_cache.build_s": "s",
    "storage.end_mb": "MB", "storage.growth_mb": "MB",
    "sources.load_table_calls": "count", "sources.write_s": "s", "sources.write_mb": "MB",
    "orchestration.pipeline_s": "s", "orchestration.attempts": "count",
    "streaming.batches": "count", "streaming.batch_ms": "ms", "streaming.state_rows": "rows",
    "proc.driver_cpu_s": "s", "proc.jvm_cpu_s": "s", "proc.python_worker_cpu_s": "s",
    "trace.overhead_frac": "frac",
}


def _layer_metrics(tracer, passes, setup, cpu1, cpu0, storage0, storage1) -> dict:
    """Per-layer numbers, as totals per traced pass (process CPU is per
    timed pass, traced or not)."""
    c = tracer.c
    n_traced = sum(1 for traced, _, _ in passes if traced)
    vals = {k: c.get(k, 0.0) / n_traced for k in LAYER_UNITS}
    vals.update(setup)
    vals.update({k: (cpu1[k] - cpu0[k]) / len(passes) for k in cpu0})
    vals["spark.idle_core_frac"] = 1.0 - c["spark.executor_run_s"] / c["_core_s"] if c["_core_s"] else 1.0
    vals["storage.end_mb"] = storage1
    vals["storage.growth_mb"] = storage1 - storage0
    traced = statistics.median(wall for t, wall, _ in passes if t)
    plain = statistics.median(wall for t, wall, _ in passes if not t)
    vals["trace.overhead_frac"] = traced / plain - 1.0
    return {k: {"value": vals[k], "unit": u} for k, u in LAYER_UNITS.items()}


if __name__ == "__main__":
    sys.exit(main())
