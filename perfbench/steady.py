#!/usr/bin/env python3
"""Steadiness check: run the benchmark on every workload of BENCHMARK.json
with several seeds and report, per end-to-end metric, the median and the
quartile spread (q3 - q1) / median of the runs, against the metric's bound.

    python3 perfbench/steady.py --runs 10 --first-seed 1 --out perfbench/baseline/steady.json
    python3 perfbench/steady.py --runs 5 --workloads query_mix   # quick look

Each run is one `run.py` invocation exactly as the benchmark's own command
line declares it. A run that fails or reports incorrect outputs is kept in
the record and counted; its metrics are left out of the spread.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

ROOT = os.path.dirname(HERE)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()

    metrics = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    record = {"command": spec["command"], "run_seconds": spec["run_seconds"],
              "trace": a.trace, "workloads": {}}
    for w in a.workloads.split(","):
        runs = []
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.time()
            p = subprocess.run(spec["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            runs.append({"seed": seed, "wall_s": wall, "rc": p.returncode, "result": res})
            brief = ({k: round(v["value"], 4) for k, v in res["metrics"].items()
                      if k in [m["name"] for m in spec["end_to_end"]]}
                     if res else p.stderr[-500:])
            print(f"{w} seed {seed}: rc={p.returncode} wall={wall:.1f}s "
                  f"correct={res and res['correct']} {brief}", file=sys.stderr, flush=True)
        good = [r["result"] for r in runs if r["result"] and r["result"]["correct"]]
        summary = {}
        for m in metrics:
            vals = [g["metrics"][m["name"]]["value"] for g in good if m["name"] in g["metrics"]]
            if len(vals) < 2:
                continue
            spread = stats.iqr_spread(vals) if stats.median(vals) else 0.0
            summary[m["name"]] = {
                "median": stats.median(vals), "spread": spread, "n": len(vals),
                "bound": m.get("bound"),
                "within_third_of_bound": (spread < m["bound"] / 3) if m.get("bound") else None}
        record["workloads"][w] = {"runs": runs, "summary": summary,
                                  "wall_s_total": sum(r["wall_s"] for r in runs),
                                  "incorrect": a.runs - len(good)}
        for k, v in summary.items():
            print(f"  {w} {k}: median={v['median']:.4f} spread={v['spread']:.4f} "
                  f"bound={v['bound']}", file=sys.stderr, flush=True)
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        json.dump(record, open(a.out, "w"), indent=1)


if __name__ == "__main__":
    main()
