"""Steadiness check: repeat the benchmark and compare with its bounds.

    python3 perfbench/steadiness.py --seeds 10 --sets 2 \
        --out perfbench/STEADINESS.json

Runs ``run.py`` once per (set, workload, seed), sequentially, with the
``run_seconds`` of BENCHMARK.json. Set ``s`` uses seeds
``s*100 + 1 .. s*100 + n`` so the two sets share no input. For every
workload and end-to-end metric it reports each set's median and
quartiles (``statistics.quantiles(values, n=4)``), the spread
``(q3 - q1) / median`` and the drift of the second set's median from
the first's, next to the metric's bound. ``--traced k`` adds ``k``
traced runs per workload and reports the tracing overhead (traced
``cube_s`` over untraced). Run it on a quiet host: it measures the
benchmark, it does not retry or drop runs.
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


def one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    wall = time.time() - t
    if p.returncode != 0:
        raise RuntimeError(f"{cmd} failed:\n{p.stderr[-3000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["wall_s"] = wall
    for line in p.stderr.splitlines():
        if line.startswith("perfbench-info "):
            out["info"] = json.loads(line.split(" ", 1)[1])
    return out


def quartiles(values: list) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}

    report = {"run_seconds": bench["run_seconds"], "seeds_per_set": args.seeds,
              "workloads": {}}
    for name in names:
        sets, walls, hosts = [], [], []
        for s in range(1, args.sets + 1):
            runs = []
            for seed in range(s * 100 + 1, s * 100 + args.seeds + 1):
                r = one(name, seed, bench["run_seconds"], 0)
                if not r["correct"]:
                    raise RuntimeError(f"{name} seed {seed}: wrong output")
                runs.append(r)
                walls.append(r["wall_s"])
                hosts.append({"seed": seed, "wall_s": r["wall_s"],
                              **r.get("info", {}).get("host", {})})
                print(name, seed, json.dumps(
                    {k: round(v["value"], 4) for k, v in r["metrics"].items()}),
                    file=sys.stderr, flush=True)
            sets.append(runs)
        metrics = {}
        for m in bounds:
            per_set = [quartiles([r["metrics"][m]["value"] for r in runs])
                       for runs in sets]
            row = {"bound": bounds[m], "sets": per_set}
            # acceptance: every spread but set-up's within the
            # bound, and the second median no worse than the bound
            row["ok"] = m == "setup_s" or all(
                p["spread"] <= bounds[m] for p in per_set)
            if len(per_set) > 1:
                row["drift"] = (per_set[1]["median"] - per_set[0]["median"]) \
                    / per_set[0]["median"]
                worse = row["drift"] if better[m] == "lower" else -row["drift"]
                row["ok"] = row["ok"] and worse <= bounds[m]
            metrics[m] = row
        entry = {"metrics": metrics,
                 "run_wall_s": quartiles(walls) if len(walls) > 1 else walls,
                 "runs": hosts}
        if args.traced:
            traced = [one(name, 900 + k, bench["run_seconds"], 1)
                      for k in range(args.traced)]
            t_cube = statistics.median(
                r["metrics"]["trace.cube_s"]["value"] for r in traced)
            u_cube = metrics["cube_s"]["sets"][0]["median"]
            entry["tracing_overhead"] = {
                "traced_cube_s": t_cube, "untraced_cube_s": u_cube,
                "overhead": t_cube / u_cube - 1.0}
            entry["traced_layers"] = {
                k: [r["metrics"][k]["value"] for r in traced]
                for k in traced[0]["metrics"]}
        report["workloads"][name] = entry
    text = json.dumps(report, indent=1)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
