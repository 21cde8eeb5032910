#!/usr/bin/env python3
"""Tracing overhead: run one workload and seed untraced, then traced,
and print traced minus untraced for the end-to-end figures both runs
measure.

    python3 perfbench/overhead.py --workload execution --seed 3
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def _result(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """The run's metrics and its detail line."""
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-1])["metrics"], json.loads(out[-2])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    _, plain = _result(args.workload, args.seed, 0)
    traced, _ = _result(args.workload, args.seed, 1)
    untraced = {"cold_s": plain["cold_s"], "warm_s": plain["end_to_end"]["warm_s"]}
    report = {}
    for name, a in untraced.items():
        b = traced[f"traced.{name}"]["value"]
        report[name] = {"untraced": a, "traced": b, "overhead": b - a, "share": (b - a) / a}
    report["unattributed_share"] = traced["trace.unattributed_share"]["value"]
    print(json.dumps(report))


if __name__ == "__main__":
    main()
