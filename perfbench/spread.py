"""Run-to-run spread and tracing overhead of the benchmark.

    python3 perfbench/spread.py --workload rmat --seeds 1 2 3 4 5 [--traced]

Runs ``perfbench/run.py`` once per seed, one run at a time, and prints for
every end-to-end metric the median over the runs and the distance between
the first and third quartile as a share of the median (the steadiness
test the bounds in BENCHMARK.json are checked against). With
``--traced``, each seed is also run with ``--trace 1`` and the traced-
minus-untraced difference of each end-to-end median is printed: that is
the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

from harness import summary

RUN = Path(__file__).resolve().parent / "run.py"


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=False)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: {workload} seed {seed} trace {trace}")
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {k: v["value"] for k, v in detail["end_to_end"].items()} | {
        "_correct": result["correct"]}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    spec = json.loads((RUN.parent.parent / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    plain = [one_run(args.workload, s, seconds, 0) for s in args.seeds]
    traced = [one_run(args.workload, s, seconds, 1) for s in args.seeds] if args.traced else []
    print(f"{args.workload}: {len(plain)} runs, all correct: "
          f"{all(r['_correct'] for r in plain + traced)}")
    for name, bound in bounds.items():
        q = summary([r[name] for r in plain])
        med, share = q["median"], (q["q3"] - q["q1"]) / q["median"]
        line = f"  {name:14s} median {med:14.4f}  iqr/median {share:6.3f}  bound {bound}"
        if traced:
            line += f"  traced-untraced {statistics.median(r[name] for r in traced) - med:+.4f}"
        print(line)


if __name__ == "__main__":
    main()
