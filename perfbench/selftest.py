"""Harness self-test at tiny size (one 1 s recording; a 2-file stream).

    python3 perfbench/selftest.py

For each workload it runs the benchmark twice and fails loudly unless
- an untraced run prints every end-to-end metric of BENCHMARK.json with
  its unit and checks all of its operations correct, and
- a traced run with one output of the untraced loop and one of each
  traced-only section deliberately corrupted prints every per-layer
  metric with its unit and counts exactly those outputs as failed.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

import run

HERE = os.path.dirname(os.path.abspath(__file__))


def bench(workload: str, trace: int, corrupt: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--size", "tiny"]
    if corrupt:
        cmd.append("--corrupt")
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                          timeout=600, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok: {what}")


def main() -> int:
    spec = run.load_spec()
    for workload in run.WORKLOADS:
        n_corrupt = 1 + len(getattr(__import__(workload), "TRACED_EXTRAS",
                                    ()))
        for trace, corrupt, kind in ((0, False, "end_to_end"),
                                     (1, True, "per_layer")):
            res = bench(workload, trace, corrupt)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == spec[kind],
                   f"{workload} --trace {trace}: every {kind} metric "
                   f"printed with its unit")
            expect(res["attempted"] >= 1, f"{workload}: operations attempted")
            if corrupt:
                expect(res["failed"] == n_corrupt and not res["correct"],
                       f"{workload}: each of the {n_corrupt} corrupted "
                       f"outputs counts as failed, and no other")
            else:
                expect(res["failed"] == 0 and res["correct"],
                       f"{workload}: clean outputs all check correct")
    return 0


if __name__ == "__main__":
    sys.exit(main())
