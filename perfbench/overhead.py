#!/usr/bin/env python3
"""Tracing overhead per workload: traced minus untraced, same seed.

    python3 perfbench/overhead.py --seed 1 [workload ...]

Runs ``run.py`` (default ``--seconds``) once untraced and once traced for
each workload, both by default, and prints, for each end-to-end metric the
traced run also reports, the difference and its share of the untraced
value.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402
import workloads  # noqa: E402


def metrics(workload: str, seed: int, trace: int) -> dict[str, float]:
    """Every metric the run prints on a ``name value unit`` line."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--trace", str(trace)],
        capture_output=True, text=True, check=True)
    out = {}
    for line in proc.stdout.strip().splitlines()[:-1]:
        parts = line.split()
        if len(parts) >= 3:
            try:
                out[parts[0]] = float(parts[1])
            except ValueError:
                pass
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("workloads", nargs="*", default=workloads.WORKLOADS)
    args = p.parse_args()
    for w in args.workloads:
        plain = metrics(w, args.seed, 0)
        traced = metrics(w, args.seed, 1)
        for name in tracing.TRACED_E2E:
            base = plain[name]
            diff = traced[f"trace.{name}"] - base
            print(f"{w} overhead.{name} {diff:+.4f} s ({100 * diff / base:+.1f}%)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
