"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/steady.py --workloads interactive,curation --seeds 1-10 \
        --seconds 6 --out .perfbench/steady.json

For every workload and end-to-end metric it reports the median, the
quartiles (``statistics.quantiles(values, n=4)``) and the spread
(q3 - q1) / median, plus the wall time and the environment (nproc,
Spark and Java versions, seed, load average at start and end, CPU
steal share) of each run. Run it from the root of a checkout; runs are sequential.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1]), wall


def environment(workload: str, seed: int) -> dict:
    """The environment block ``run.py`` saved for one run."""
    path = os.path.join(os.path.dirname(HERE), ".perfbench", f"result-{workload}-{seed}-t0.json")
    with open(path) as f:
        return json.load(f)["environment"]


def summarise(values: list[float]) -> dict:
    q1, median, q3 = statistics.quantiles(values, n=4)
    return {"median": median, "q1": q1, "q3": q3, "spread": (q3 - q1) / median if median else None}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    report: dict = {}
    for w in args.workloads.split(","):
        runs, walls = [], []
        for seed in _seeds(args.seeds):
            result, wall = run_once(w, seed, args.seconds)
            runs.append(result)
            walls.append(wall)
            steal = environment(w, seed).get("cpu_steal_share")
            print(f"{w} seed {seed}: {wall:.1f} s steal={steal if steal is None else round(steal, 3)} "
                  f"correct={result['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        names = runs[0]["metrics"]
        report[w] = {
            "runs": len(runs),
            "all_correct": all(r["correct"] for r in runs),
            "run_wall_s": summarise(walls),
            "environments": [environment(w, seed) for seed in _seeds(args.seeds)],
            "metrics": {n: summarise([r["metrics"][n]["value"] for r in runs]) for n in names},
        }
        for n, s in report[w]["metrics"].items():
            print(f"  {w} {n}: median {s['median']:.5g} spread {s['spread']:.3%}", flush=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
