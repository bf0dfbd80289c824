#!/usr/bin/env python3
"""Record a baseline: repeated runs of every workload, with medians and
quartiles per end-to-end metric, plus one traced run per workload.

    python3 perfbench/baseline.py --sets 2 --seeds 10 [--first-seed 100] \
        [--out perfbench/baseline/baseline.json]

Each set runs `--seeds` consecutive seeds per workload (set k starts at
first-seed + 1000 k). The spread of a metric is (Q3 - Q1) / median over
the set, with quartiles from statistics.quantiles(values, n=4).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)], cwd=ROOT, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
    out = json.loads(last)
    out["exit"] = r.returncode
    for line in r.stderr.splitlines():
        if line.startswith("[perfbench] detail: "):
            out["detail"] = json.loads(line.split(": ", 1)[1])
    return out


def summary(values: list) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values),
            "values": values}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--out", default=os.path.join(HERE, "baseline",
                                                  "baseline.json"))
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    secs = spec["run_seconds"]
    result = {"nproc": len(os.sched_getaffinity(0)), "run_seconds": secs,
              "sets": [], "traced": {}}
    for k in range(args.sets):
        entry = {}
        for w in [x["name"] for x in spec["workloads"]]:
            seeds = [args.first_seed + 1000 * k + i
                     for i in range(args.seeds)]
            runs = []
            for s in seeds:
                t = time.time()
                runs.append(run(w, s, secs, 0))
                runs[-1]["wall_s"] = time.time() - t
                print(f"set {k} {w} seed {s}: exit {runs[-1]['exit']} "
                      f"{runs[-1]['wall_s']:.0f} s", file=sys.stderr)
            ok = [r for r in runs if r.get("correct")]
            entry[w] = {"seeds": seeds,
                        "correct_runs": len(ok),
                        "wall_s": [round(r["wall_s"], 1) for r in runs],
                        "passes": [r.get("detail", {}).get("passes")
                                   for r in runs],
                        "metrics": {m["name"]: summary(
                            [r["metrics"][m["name"]]["value"] for r in ok])
                            for m in spec["end_to_end"]} if len(ok) > 1
                        else {},
                        # wall-clock figures, logged but not reported as
                        # metrics (README.md, "Why CPU time")
                        "wall": {k: summary(
                            [r["detail"]["wall"][k] for r in ok])
                            for k in ok[0]["detail"]["wall"]}
                        if len(ok) > 1 else {}}
        result["sets"].append(entry)
    for w in [x["name"] for x in spec["workloads"]]:
        seed = args.first_seed
        r = run(w, seed, secs, 1)
        layers = json.load(open(os.path.join(HERE, "out", w, "layers.json")))
        result["traced"][w] = {"seed": seed, "correct": r.get("correct"),
                               "per_layer": layers["per_layer"],
                               "layer_table": layers["layer_table"]}
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    for k, entry in enumerate(result["sets"]):
        for w, e in entry.items():
            for m, s in list(e["metrics"].items()) + [
                    (f"wall.{k}", v) for k, v in e["wall"].items()]:
                print(f"set {k} {w:7s} {m:16s} median {s['median']:12.3f} "
                      f"spread {s['spread']:.3f}")


if __name__ == "__main__":
    main()
