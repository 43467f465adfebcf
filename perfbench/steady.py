#!/usr/bin/env python3
"""Steadiness helper: runs the benchmark repeatedly and reports, per
workload and end-to-end metric, the median and the quartile spread
(third minus first quartile, as a share of the median) next to the
metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --seeds 1,2 --repeat 5
        five runs with seed 1 and five with seed 2; one row per seed
    python3 perfbench/steady.py --seeds 1-10
        ten seeds, one run each, pooled into one row

A spread is flagged ``!`` above a third of the bound and ``!!`` above the
bound; the median shift between seed groups is flagged the same way.
Runs sequentially from the repository root; results are also written to
``.perfbench/steady-<unix time>.json``.
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


def parse_seeds(text: str):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(cmd, workload, seed, seconds) -> dict:
    argv = cmd + ["--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", "0"]
    t = time.time()
    proc = subprocess.run(argv, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    result["wall_s"] = time.time() - t
    return result


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def flag(x: float, bound: float) -> str:
    return "!!" if x > bound else "!" if x > bound / 3 else ""


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", default="1,2")
    p.add_argument("--repeat", type=int, default=1)
    p.add_argument("--workloads", default=None,
                   help="comma-separated; default: all in BENCHMARK.json")
    p.add_argument("--seconds", type=float, default=None,
                   help="default: run_seconds from BENCHMARK.json")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    seconds = args.seconds or bench["run_seconds"]
    seeds = parse_seeds(args.seeds)
    # one group per seed when repeating, else all seeds pooled
    groups = ([[s] * args.repeat for s in seeds] if args.repeat > 1
              else [seeds])
    report = {}
    for wl in workloads:
        report[wl] = []
        for group in groups:
            runs = []
            for seed in group:
                r = run_once(bench["command"], wl, seed, seconds)
                print(f"{wl} seed {seed}: {r['wall_s']:.0f}s, "
                      f"{r['attempted']} ops, {r['failed']} failed",
                      file=sys.stderr)
                runs.append(r)
            report[wl].append({"seeds": group, "runs": runs})

    for wl in workloads:
        print(f"\n{wl}")
        print(f"  {'metric':<22}{'bound':>7}  "
              + "  ".join(f"{'median':>12} {'spread':>8}"
                          for _ in report[wl]))
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cells, medians = [], []
            for g in report[wl]:
                vals = [r["metrics"][name]["value"] for r in g["runs"]]
                med = statistics.median(vals)
                medians.append(med)
                if len(vals) >= 2:
                    sp = spread(vals)
                    cells.append(f"{med:>12.4g} {sp:>6.3f}{flag(sp, bound):<2}")
                else:
                    cells.append(f"{med:>12.4g} {'-':>8}")
            line = f"  {name:<22}{bound:>7.3f}  " + "  ".join(cells)
            if len(medians) > 1:
                worse = (max(medians) / min(medians) - 1)
                line += f"   median shift {worse:.3f}{flag(worse, bound)}"
            print(line)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    out = os.path.join(ROOT, ".perfbench", f"steady-{int(time.time())}.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"\nraw results: {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
