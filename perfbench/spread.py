#!/usr/bin/env python3
"""Run a workload over several seeds and print each end-to-end metric's
median and quartile spread (IQR / median), the steadiness figure the
benchmark's bounds are judged against.

    python3 perfbench/spread.py --workload serve --seeds 1-10 [--seconds 12]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--verbose", action="store_true", help="also print each run's detail line")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    secs = a.seconds or bench["run_seconds"]
    values = {}
    for s in seeds(a.seeds):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                              "--seed", str(s), "--seconds", str(secs), "--trace", "0"],
                             capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            sys.exit(f"seed {s}: exit {out.returncode}\n{out.stderr[-2000:]}")
        res = json.loads(lines[-1])
        host = next((json.loads(l)["host"] for l in lines if l.startswith('{"host"')), {})
        print(f"seed {s}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items()))
              + f" steal={host.get('steal_frac', float('nan')):.3f}", flush=True)
        if a.verbose:
            print("   ", lines[-2], flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, xs in sorted(values.items()):
        med = statistics.median(xs)
        if len(xs) >= 2:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
        else:
            spread = float("nan")
        print(f"{k}: median {med:.4g}  spread {spread:.3f}  bound {bounds.get(k)}")


if __name__ == "__main__":
    main()
