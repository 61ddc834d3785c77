"""Tracing overhead: run one workload untraced and traced with the same seed
and print, for each end-to-end metric, traced minus untraced.

    python3 perfbench/overhead.py --workload search_zipf --seed 1 --seconds 16

The traced run reports its own end-to-end values as ``traced.<metric>``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def result(args, trace: int) -> dict:
    cmd = [sys.executable, RUN, "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=16)
    args = ap.parse_args()
    plain, traced = result(args, 0), result(args, 1)
    rows = {}
    for name, m in plain.items():
        t = traced[f"traced.{name}"]["value"]
        rows[name] = {"untraced": m["value"], "traced": t,
                      "overhead": t - m["value"], "unit": m["unit"]}
        print(f"{name}: {t - m['value']:+.4g} {m['unit']} "
              f"({m['value']:.4g} -> {t:.4g})")
    print(json.dumps({"workload": args.workload, "seed": args.seed, "overhead": rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
