"""Tiny-size smoke run of every workload, untraced and traced.

Checks that each run exits 0, reports a correct result with no failed
operation, and prints exactly the metric names and units that
BENCHMARK.json declares.  Takes a few minutes:

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    bad = 0
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                   "--seed", "7", "--seconds", "10", "--trace", str(trace), "--size", "tiny"]
            r = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
            lines = r.stdout.strip().splitlines()
            problems = []
            if r.returncode != 0 or not lines:
                problems.append(f"exit {r.returncode}: {r.stderr[-2000:]}")
            else:
                out = json.loads(lines[-1])
                got = {k: v["unit"] for k, v in out["metrics"].items()}
                if got != want[trace]:
                    problems.append(f"metrics {sorted(got.items())} != {sorted(want[trace].items())}")
                if not out["correct"] or out["failed"] or out["attempted"] < 1:
                    problems.append(f"result {out['correct']=} {out['failed']=} {out['attempted']=}")
            status = "ok" if not problems else "FAIL " + "; ".join(problems)
            print(f"{w['name']} trace={trace}: {status}", flush=True)
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
