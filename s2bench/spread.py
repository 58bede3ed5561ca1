"""Run one workload over several seeds and report each metric's median and
quartile spread ((Q3 - Q1) / median), the steadiness figure the bounds in
BENCHMARK.json are checked against.

    python3 s2bench/spread.py --workload query_mix --seeds 1-10 [--trace 0]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[0] = os.path.dirname(HERE)

from s2bench.stats import median, quartile_spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="a-b range or comma list")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    if "-" in args.seeds:
        lo, hi = map(int, args.seeds.split("-"))
        seeds = list(range(lo, hi + 1))
    else:
        seeds = [int(s) for s in args.seeds.split(",")]
    runs = []
    for seed in seeds:
        t0 = time.time()
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        p = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append(res)
        print(f"seed {seed}: {time.time() - t0:.0f}s wall, failed {res['failed']}/{res['attempted']}, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items() if args.trace == 0),
              flush=True)
    names = runs[0]["metrics"].keys()
    summary = {}
    for k in names:
        vals = [r["metrics"][k]["value"] for r in runs]
        med = median(vals)
        spread = quartile_spread(vals) if len(vals) >= 2 and med else 0.0
        summary[k] = {"median": med, "spread": spread}
        print(f"{k:28s} median {med:12.5g}  spread {spread:6.3f}")
    print(json.dumps({"workload": args.workload, "seeds": seeds, "summary": summary,
                      "failed_share": [r["failed"] / r["attempted"] for r in runs]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
