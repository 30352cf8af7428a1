"""Repeat each workload over several seeds and print every metric's spread.

    python3 perfbench/selfcheck.py --runs 10 [--workload NAME ...]

For each workload and metric it prints the median of the runs and the
spread, the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, beside
the metric's bound from ``BENCHMARK.json``. A spread above a third of the
bound is flagged: the bounds should rest on spreads measured this way.
Runs go one after another, each with its own seed.
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
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workload", action="append", choices=names)
    p.add_argument("--out", help="append each run's result as a JSON line here")
    args = p.parse_args()
    if args.runs < 2:
        p.error("--runs must be at least 2")
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    ok = True
    for w in args.workload or names:
        values: dict[str, list[float]] = {}
        units: dict[str, str] = {}
        for k in range(args.runs):
            seed = args.first_seed + k
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True,
            )
            took = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                return 1
            res = json.loads(lines[-1])
            load = next((ln for ln in lines if ln.startswith("load average at start")), "")
            print(f"{w} seed {seed}: {took:.1f}s correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} ({load})", flush=True)
            ok &= bool(res["correct"])
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": seed, "wall_s": took, **res}) + "\n")
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
                units[name] = m["unit"]
        print(f"{w}: median, spread (IQR / median) over {args.runs} runs")
        for name, vs in values.items():
            b = bounds.get(name)
            s = spread(vs)
            flag = ""
            if b is not None and s > b / 3:
                flag = "  <-- above a third of the bound"
                ok &= name == "setup_s"
            print(f"  {name:<34} {statistics.median(vs):14.4f} {units[name]:<7} "
                  f"spread {s:6.3f}" + (f"  bound {b}" if b is not None else "") + flag)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
