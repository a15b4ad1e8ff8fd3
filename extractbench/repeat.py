"""Run the benchmark several times and summarise each metric.

    python3 extractbench/repeat.py --seeds 1-10               # every workload
    python3 extractbench/repeat.py --workload wave-pipeline --seeds 3,4 --trace 1

Each run is a separate ``run.py`` process (one seed each). The
workloads take turns within each seed, and the one that goes first
rotates from seed to seed, so a stretch of host contention falls on
every workload alike. Prints one JSON line per run, then a summary per
workload: for every metric its
unit, sample count, median, quartiles (``statistics.quantiles(n=4)``)
and the quartile spread as a share of the median; plus whether every
output check passed and which runs carried a host-noise flag.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def summarise(results: list[dict]) -> dict:
    metrics: dict[str, dict] = {}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
        metrics[name] = {
            "unit": results[0]["metrics"][name]["unit"],
            "n": len(values),
            "median": med,
            "q1": q1,
            "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
        }
    return metrics


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    results: dict[str, list[dict]] = {wl: [] for wl in workloads}
    labels: dict[str, list[dict]] = {wl: [] for wl in workloads}
    code = 0
    for turn, seed in enumerate(_seeds(args.seeds)):
        shift = turn % len(workloads)
        for wl in workloads[shift:] + workloads[:shift]:
            cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(json.dumps({"workload": wl, "seed": seed, "exit": proc.returncode,
                                  "stderr": proc.stderr[-2000:]}), flush=True)
                code = 1
                continue
            result, label = json.loads(lines[-1]), json.loads(lines[0])
            print(json.dumps({"workload": wl, "seed": seed, **result,
                              "summary": {k: label.get(k) for k in ("job_wall_s", "phases_s", "noise")}}),
                  flush=True)
            results[wl].append(result)
            labels[wl].append(label)
    for wl in workloads:
        if results[wl]:
            print(json.dumps({
                "workload": wl,
                "runs": len(results[wl]),
                "all_correct": all(r["correct"] for r in results[wl]),
                "noise_flagged_seeds": [x["seed"] for x in labels[wl] if x["noise"]["flagged"]],
                "metrics": summarise(results[wl]),
            }, indent=1))
    return code


if __name__ == "__main__":
    sys.exit(main())
