#!/usr/bin/env python3
"""Steadiness check: runs each workload on several seeds and reports, per
end-to-end metric, the median and the quartile spread as a share of the
median next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --seeds 1 2 3 4 5 [--workloads audit_typical]

A metric is steady when its spread stays below a third of its bound
(setup_s excepted, whose bound limits the drift of its median instead).
Every run must also report correct outputs and no failed operation.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args()
    ok = True
    for workload in args.workloads:
        values = {m["name"]: [] for m in bench["end_to_end"]}
        for seed in args.seeds:
            t0 = time.time()
            out = subprocess.run(
                bench["command"] + ["--workload", workload, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.time() - t0
            if out.returncode != 0:
                print(f"{workload} seed {seed}: exit {out.returncode}")
                ok = False
                continue
            res = json.loads(out.stdout.strip().splitlines()[-1])
            print(f"{workload} seed {seed}: {wall:.1f} s wall, correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}", flush=True)
            ok &= res["correct"] and res["failed"] == 0
            for name in values:
                values[name].append(res["metrics"][name]["value"])
        for m in bench["end_to_end"]:
            xs = values[m["name"]]
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            steady = m["name"] == "setup_s" or spread < m["bound"] / 3
            ok &= steady
            print(f"  {m['name']:18s} median {med:12.4f} {m['unit']:7s} spread {spread:6.3f} "
                  f"bound {m['bound']:.2f} {'ok' if steady else 'UNSTEADY'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
