"""Runs a workload back to back on several seeds and prints, for each metric,
its values, median and spread: the distance between the first and third
quartile (statistics.quantiles, n=4) as a share of the median.

    python3 perfbench/spread.py --workload etl_cycles --seeds 1-10 [--seconds 20] [--trace 0]

Run it from the root of the repository.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list:
    """'1-10' or '1,1,9973' (a seed may repeat)."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="such as 1-10 or 1,1,9973")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    values = {}
    for s in seeds(a.seeds):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload,
             "--seed", str(s), "--seconds", str(a.seconds),
             "--trace", str(a.trace)],
            stdout=subprocess.PIPE, text=True, check=True).stdout
        res = json.loads(out.strip().splitlines()[-1])
        print(f"seed {s}: {time.time() - t0:.0f} s wall, correct="
              f"{res['correct']} failed={res['failed']}/{res['attempted']}",
              flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, v in values.items():
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4) if len(v) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k}: median {med:.4g} spread {spread:.3f} "
              f"values {[round(x, 4) for x in v]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
