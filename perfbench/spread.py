#!/usr/bin/env python3
"""Runs one workload with several seeds and reports, for each metric, the
median and the spread (Q3 - Q1) / median of its values.

    python3 perfbench/spread.py --workload mtb_build --seeds 1 2 3 4 5 [--trace 0]

Run from the root of a checkout; every run is `perfbench/run.py` with the
run length from BENCHMARK.json."""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    bench = benchlib.load_benchmark("BENCHMARK.json")
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    for seed in args.seeds:
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {out.returncode}", flush=True)
            continue
        res = json.loads(last)
        print(f"seed {seed}: {time.time() - t0:.1f} s correct={res['correct']} failed={res['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                       if k in bounds), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) >= 2 and (k in bounds or args.trace):
            med = benchlib.median(vs)
            spread = benchlib.quartile_spread(vs) if med else float("nan")
            b = bounds.get(k)
            flag = "" if b is None else ("  ok" if spread < b / 3 else "  WIDE")
            print(f"{k:28s} median {med:.5g}  spread {spread:.3f}  bound {b}{flag}")


if __name__ == "__main__":
    main()
