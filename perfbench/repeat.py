"""Run the benchmark over several seeds and report, per workload and
end-to-end metric, the median and the quartile spread ((Q3 - Q1) /
median) next to the metric's bound from BENCHMARK.json.

    python3 perfbench/repeat.py --runs 10 [--workload validate_full] [--first-seed 100]

Run from the repository root. Runs are sequential (one benchmark
process at a time). ``setup_s`` has no spread requirement; every other
metric's spread should stay within its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append", choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--first-seed", type=int, default=100)
    args = ap.parse_args(argv)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for wl in workloads:
        values: dict[str, list[float]] = {m: [] for m in bounds}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.perf_counter()
            p = subprocess.run(
                [*spec["command"], "--workload", wl, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True,
            )
            wall = time.perf_counter() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{wl} seed={seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                return 1
            res = json.loads(lines[-1])
            ok &= res["correct"]
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(f"{wl} seed={seed} wall={wall:.1f}s correct={res['correct']}", flush=True)
        for m, vals in values.items():
            med, n = stats.median_n(vals)
            spread = stats.quartile_spread(vals) if n > 1 else 0.0
            within = m == "setup_s" or spread <= bounds[m]
            ok &= within
            print(
                f"  {wl} {m}: median={med:.6g} spread={spread:.3f} "
                f"bound={bounds[m]} n={n}{'' if within else '  OVER BOUND'}"
            )
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
