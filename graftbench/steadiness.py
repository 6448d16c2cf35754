"""Steadiness report: repeat sets of benchmark runs, then per workload
and end-to-end metric the median, quartiles and relative spread
((Q3 - Q1) / median) of each set, and the shift between set medians.

    python3 graftbench/steadiness.py --workloads interactive,refresh \
        --seeds 10 --sets 2

Run from the repository root. Each run is ``run.py`` in its own
process with ``--trace 0`` and a distinct seed; the host calibration
ratio each run printed is listed beside it as context (it is not a
gated metric). Every metric's spread, and the size of its median's
shift from the first set in either direction, are checked against its
bound in BENCHMARK.json; the raw runs are saved under .work/.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} rc={out.returncode}: {out.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["context"] = json.loads(lines[-2])["context"]
    result["wall_s"] = time.perf_counter() - t
    return result


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="benchmark steadiness report")
    p.add_argument("--workloads", default="")
    p.add_argument("--seeds", type=int, default=10, help="runs per set and workload")
    p.add_argument("--sets", type=int, default=1)
    p.add_argument("--first-seed", type=int, default=1)
    a = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]

    runs: dict[str, list[list[dict]]] = {w: [] for w in workloads}
    os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
    path = os.path.join(BENCH, ".work", f"steadiness-{int(time.time())}.json")
    seed = a.first_seed
    for _ in range(a.sets):
        for w in workloads:
            batch = []
            for _ in range(a.seeds):
                r = run_once(w, seed, spec["run_seconds"])
                seed += 1
                c = r["context"]
                print(f"{w} seed={c['seed']} correct={r['correct']} wall={r['wall_s']:.1f}s "
                      f"passes={c['timed_passes']} calibration={c['host_calibration_ratio']:.2f} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)
                batch.append(r)
                with open(path, "w") as f:  # saved as it goes
                    json.dump(runs | {w: runs[w] + [batch]}, f, indent=1)
            runs[w].append(batch)

    ok = True
    for w in workloads:
        print(f"\n== {w}")
        first = {}
        for i, batch in enumerate(runs[w]):
            for name in bounds:
                med, q1, q3, rel = spread([r["metrics"][name]["value"] for r in batch])
                shift = med / first[name] - 1 if name in first else 0.0
                first.setdefault(name, med)
                flag = ""
                if rel > bounds[name]:
                    flag, ok = " SPREAD>BOUND", False
                elif rel > bounds[name] / 3:
                    flag = " spread>bound/3"
                if abs(shift) > bounds[name]:
                    flag, ok = flag + " SHIFT>BOUND", False
                print(f"set{i + 1} {name:15s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
                      f"spread={rel:.3f} bound={bounds[name]} shift={shift:+.3f}{flag}")
    print(f"\nruns saved to {path}; verdict: {'steady' if ok else 'NOT steady'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
