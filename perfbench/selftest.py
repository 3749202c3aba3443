#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks.

    python3 perfbench/selftest.py [--workloads analytic,dml,pipeline] [--seed N]

For each workload, runs ``perfbench/run.py`` twice with the same seed: once
as is, where every op must pass, and once with ``--plant-wrong 1``, which
corrupts one timed result before the check. The second run must report
``correct: false`` and more failed ops than the first. Exits 1 otherwise.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def _run(workload: str, seed: int, plant: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "0",
         "--plant-wrong", str(plant)],
        cwd=HERE.parent, capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"{workload}: run.py exited {out.returncode}\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default="analytic,dml,pipeline")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    ok = True
    for w in args.workloads.split(","):
        clean = _run(w, args.seed, 0)
        planted = _run(w, args.seed, 1)
        good = (clean["correct"] and clean["failed"] == 0
                and not planted["correct"] and planted["failed"] > clean["failed"])
        ok = ok and good
        print(f"{w}: clean failed={clean['failed']}/{clean['attempted']}, "
              f"planted failed={planted['failed']}/{planted['attempted']} "
              f"-> {'ok' if good else 'FAIL'}", flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
