"""The benchmark's own test: every workload of BENCHMARK.json once at tiny
scale, untraced and traced.

    python3 perfbench/selftest.py

It asserts that each result line names exactly the metrics BENCHMARK.json
lists for that mode, with their units, and that every output check passed.
Exits non-zero on the first mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "1", "--seconds", "1",
         "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {out.returncode}\n"
                         + out.stderr[-3000:])
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    modes = {0: spec["end_to_end"], 1: spec["per_layer"]}
    for wl in spec["workloads"]:
        for trace, metrics in modes.items():
            res = run(wl["name"], trace)
            want = {m["name"]: m["unit"] for m in metrics}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            problems = []
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"result keys {sorted(res)}")
            if got != want:
                problems.append(
                    f"missing {sorted(want.keys() - got.keys())}, extra "
                    f"{sorted(got.keys() - want.keys())}, unit mismatches "
                    f"{sorted(k for k in want.keys() & got.keys() if want[k] != got[k])}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"checks: correct={res['correct']} "
                                f"failed={res['failed']}")
            bad = [k for k, v in res["metrics"].items()
                   if not isinstance(v["value"], (int, float))]
            if bad:
                problems.append(f"non-numeric values {bad}")
            status = "ok" if not problems else "FAIL " + "; ".join(problems)
            print(f"{wl['name']} trace={trace}: {status}", flush=True)
            if problems:
                return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
