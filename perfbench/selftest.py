"""Smoke self-test of the benchmark code.

    python3 perfbench/selftest.py

Run from the root of a checkout.  Runs every workload once untraced and once
traced at sf0.001 (one pass each) and asserts that the result line is well
formed, every output check passed, and every metric ``BENCHMARK.json`` names
is emitted with its unit.  Takes a few minutes: each run starts its own
Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import MOVES  # noqa: E402


def main() -> int:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    assert set(MOVES) == set(declared[1]), "metrics.MOVES must cover every per_layer metric"
    problems = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            before = len(problems)
            cmd = spec["command"] + ["--workload", wl, "--seed", "7", "--seconds", "0",
                                     "--trace", str(trace), "--smoke"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            tag = f"{wl} trace={trace}"
            if proc.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {proc.returncode}: {proc.stderr[-2000:]}")
                continue
            result = json.loads(lines[-1])
            if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: result keys {sorted(result)}")
            if not (result["correct"] and result["failed"] == 0 and result["attempted"] >= 1):
                problems.append(f"{tag}: outputs not correct: {lines[-2][:2000]}")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != declared[trace]:
                problems.append(f"{tag}: metrics differ: missing "
                                f"{sorted(set(declared[trace]) - set(got))}, extra "
                                f"{sorted(set(got) - set(declared[trace]))}, units "
                                f"{[k for k in got if declared[trace].get(k) not in (None, got[k])]}")
            bad = [k for k, v in result["metrics"].items()
                   if not isinstance(v["value"], (int, float)) or v["value"] != v["value"]]
            if bad:
                problems.append(f"{tag}: non-numeric values {bad}")
            print(f"{tag}: {'ok' if len(problems) == before else 'FAILED'}", flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
