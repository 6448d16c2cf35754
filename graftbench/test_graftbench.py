"""Tests of the benchmark's own machinery.

    python3 -m pytest graftbench -q

The input-builder tests take seconds. The tracing test runs one traced
benchmark run per workload (about two minutes each) and is skipped
unless GRAFTBENCH_SLOW=1.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import inputs  # noqa: E402


def test_same_seed_same_fingerprint_other_seed_differs(tmp_path):
    a = inputs.build(str(tmp_path / "a"), 7)
    b = inputs.build(str(tmp_path / "b"), 7)
    c = inputs.build(str(tmp_path / "c"), 8)
    assert a == b
    assert a != c


def test_dir_reused_only_after_fingerprint_check(tmp_path):
    d = str(tmp_path / "d")
    fp = inputs.build(d, 3)
    manifest = os.path.join(d, "MANIFEST.json")
    mtime = os.stat(manifest).st_mtime_ns
    assert inputs.build(d, 3) == fp
    assert os.stat(manifest).st_mtime_ns == mtime  # reused, not rebuilt

    with open(os.path.join(d, "orders.parquet"), "ab") as f:
        f.write(b"x")  # content no longer matches the manifest
    assert inputs.fingerprint(d) is None
    assert inputs.build(d, 3) == fp  # rebuilt to the same content
    assert inputs.fingerprint(d) == fp


def _traced(workload: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "1"],
        cwd=os.path.dirname(BENCH), capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.skipif(os.environ.get("GRAFTBENCH_SLOW") != "1", reason="slow: set GRAFTBENCH_SLOW=1")
def test_layer_counters_follow_the_workloads():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        names = {m["name"] for m in json.load(f)["per_layer"]}
    interactive = _traced("interactive")
    refresh = _traced("refresh")
    assert set(interactive) == set(refresh) == names
    # the rank kernel runs only on the latency-bound workload
    assert interactive["rank_prefix.calls"] > 0
    assert refresh["rank_prefix.calls"] == 0
    # warm passes only hit the session cache; a refresh pass rebuilds it
    assert interactive["session_cache.builds"] == 0
    assert interactive["session_cache.hits"] > 0
    assert refresh["session_cache.builds"] > 0
    assert refresh["sources.write_mb"] > 0
    assert refresh["orchestration.attempts"] >= 1
    assert refresh["streaming.batches"] > 0
    assert interactive["spark.jobs"] > 0 and interactive["spark.tasks"] > 0
