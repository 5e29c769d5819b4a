"""Pinned one-to-four-core scaling of the parse job.

    python3 perfbench/scaling.py --seed 1 --seconds 10

Runs the parse_pages workload (4 cores) and the parse_pages_1core leg (one
process pinned to one CPU, a quarter of the pages) one after the other and
prints ``scaling_eff_1to4 = quads_per_s(4 cores) / (4 * quads_per_s(1
core))`` from the wall-clock quads/s in each run's detail line. A derived
figure: it is recorded, not gated.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quads_per_s(workload: str, seed: int, seconds: float) -> float:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, check=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if not json.loads(lines[-1])["correct"]:
        raise SystemExit(f"{workload}: output check failed")
    return json.loads(lines[-2])["detail"]["quads_per_s"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    four = quads_per_s("parse_pages", args.seed, args.seconds)
    one = quads_per_s("parse_pages_1core", args.seed, args.seconds)
    print(json.dumps({"quads_per_s_4core": four, "quads_per_s_1core": one,
                      "scaling_eff_1to4": four / (4 * one)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
