"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload interactive --seeds 1 2 3 4 5

Runs the benchmark once per seed (untraced, for ``run_seconds`` of
BENCHMARK.json) and prints, per metric, the
median and the interquartile range as a share of the median, computed
with ``statistics.quantiles(values, n=4)``: the figure each metric's
bound in BENCHMARK.json is compared with.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
        ).stdout
        result = json.loads(out.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, "correct": result["correct"],
                          **{k: round(v["value"], 4) for k, v in result["metrics"].items()}}), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:18s} median {med:12.4f}  spread {(q3 - q1) / med:6.3f}  bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
