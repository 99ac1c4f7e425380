#!/usr/bin/env python3
"""Tracing overhead: one untraced and one traced run of the same workload
and seed, and the difference of their end-to-end numbers.

    python3 perfbench/overhead.py --workload kg_build --seed 1 --seconds 16

The traced run reports its own end-to-end numbers as ``traced.<metric>``;
overhead = traced minus untraced.  One pair of runs is one sample, so read
the result against the run-to-run spread of the untraced metric.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(args, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    args = p.parse_args()
    plain = run(args, 0)
    traced = run(args, 1)
    for name, m in plain.items():
        t = traced["traced." + name]["value"]
        d = t - m["value"]
        print("%-14s untraced %12.4f  traced %12.4f  overhead %+10.4f %s "
              "(%+.1f%%)" % (name, m["value"], t, d, m["unit"],
                             100.0 * d / m["value"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
