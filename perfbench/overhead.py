"""Tracing overhead: run one workload untraced and traced on the same
seed and print, for each end-to-end metric, traced minus untraced.

    python3 perfbench/overhead.py --workload dashboard --seed 1 --seconds 20
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def metrics(args, trace: int) -> dict:
    cmd = [sys.executable, RUN, "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    args = p.parse_args()
    untraced, traced = metrics(args, 0), metrics(args, 1)
    rows = {}
    for name, m in untraced.items():
        t = traced[f"traced.{name}"]["value"]
        rows[name] = {"untraced": m["value"], "traced": t, "overhead": t - m["value"],
                      "unit": m["unit"]}
        print(f"{name:12s} {m['value']:12.3f} {t:12.3f} {t - m['value']:+12.3f} {m['unit']}")
    print(json.dumps(rows))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
