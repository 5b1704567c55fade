"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload serve_api,analytics_headline --seeds 1-10 --seconds 15

Runs the benchmark once per seed and workload, one run at a time, from
the current directory; with several workloads it interleaves them seed
by seed, so that they see the same drift of the machine. It prints per
workload and metric the median, the quartiles and the interquartile
range as a share of the median (quartiles as
``statistics.quantiles(values, n=4)`` gives them). Every result line is
appended to ``--log`` so two sets can be compared later.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, help="one name, or several, comma-separated")
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", default="20")
    ap.add_argument("--log", default=".perfbench_out/spread.jsonl")
    args = ap.parse_args()
    os.makedirs(os.path.dirname(args.log) or ".", exist_ok=True)
    workloads = args.workload.split(",")
    values: dict[str, dict[str, list[float]]] = {w: {} for w in workloads}
    for seed in seeds(args.seeds):
        for w in workloads:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"]
            proc = subprocess.run(cmd, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                print(f"{w} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                return 1
            detail, result = json.loads(lines[-2]), json.loads(lines[-1])
            with open(args.log, "a") as f:
                f.write(json.dumps({"detail": detail, "result": result}) + "\n")
            row = {k: v["value"] for k, v in result["metrics"].items()}
            print(f"{w} seed {seed}: correct={result['correct']} ops={result['attempted']} "
                  + " ".join(f"{k}={v:.4g}" for k, v in row.items())
                  + f" calib={detail['machine.calib_ms']:.3g}", flush=True)
            for k, v in row.items():
                values[w].setdefault(k, []).append(v)
    for w in workloads:
        for k, vs in values[w].items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            print(f"{w:18s} {k:18s} median {med:10.4g}  q1 {q1:10.4g}  q3 {q3:10.4g}"
                  f"  iqr/median {(q3 - q1) / med:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
