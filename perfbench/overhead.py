"""Tracing overhead: the same workload and seed run untraced, then traced.

    python3 perfbench/overhead.py --workload crawl_polite --seed 1 --seconds 20

Prints, for each end-to-end metric, the untraced value, the traced value
(``trace.<name>`` of the traced run) and their difference as a share of the
untraced value.  The end-to-end numbers always come from untraced runs; this
only shows how far the traced run's per-layer numbers sit from them.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(args, trace: int) -> dict:
    cmd = [
        sys.executable, RUN,
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(trace),
    ]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description="traced minus untraced end-to-end metrics")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args()
    plain, traced = run(args, 0), run(args, 1)
    for name, m in plain["metrics"].items():
        t = traced["metrics"][f"trace.{name}"]["value"]
        share = (t - m["value"]) / m["value"] if m["value"] else float("nan")
        print(f"{name:16s} untraced {m['value']:12.4f}  traced {t:12.4f}  {share:+.1%}  {m['unit']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
