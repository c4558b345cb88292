"""Run-to-run spread of the end-to-end metrics: runs the benchmark once per
seed and prints, per metric, the median and the distance between the
first and third quartile as a share of the median (the steadiness test
of BENCHMARK.json bounds).

    python3 perfbench/spread.py --workload lakehouse --seeds 1-10 [--seconds 10]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    lo, _, hi = args.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    seconds = args.seconds or spec["run_seconds"]
    values = {}
    for seed in seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0"], capture_output=True, text=True, check=True)
        last = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: failed {last['failed']}/{last['attempted']} "
              + " ".join(f"{k}={m['value']:.4g}"
                         for k, m in last["metrics"].items()), flush=True)
        for k, m in last["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for k, vs in values.items():
        med, iqr = spread(vs)
        print(f"{k:<14} median {med:10.4g}  iqr/median {iqr:6.3f}  "
              f"bound {bounds[k]}  {'ok' if iqr < bounds[k] / 3 else 'WIDE'}")


if __name__ == "__main__":
    main()
