"""Traced run of one workload, with its tracing overhead.

    python3 perfbench/traced.py --workload commit_verify --seed 3

Runs the benchmark twice on the same seed: with tracing off, then on.
Prints the traced run's per-layer table (self times, Spark counters,
and the wall time no top-level span covers), then the tracing overhead:
the traced run's end-to-end numbers against the untraced run's.
``--out`` keeps both runs' full reports as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, seed: int, seconds: int, trace: int, report: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--report", report]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}: {p.stdout.strip()[-500:]}")
    with open(report) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", help="directory for the two runs' JSON reports")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with tempfile.TemporaryDirectory(prefix="perfbench-traced-") as tmp:
        out = args.out or tmp
        os.makedirs(out, exist_ok=True)
        plain = _run(args.workload, args.seed, bench["run_seconds"], 0, os.path.join(out, f"{args.workload}-trace0.json"))
        traced = _run(args.workload, args.seed, bench["run_seconds"], 1, os.path.join(out, f"{args.workload}-trace1.json"))
    print(traced["layers"]["text"])
    print(f"tracing overhead, {args.workload} seed {args.seed} (traced vs untraced run):")
    for m in bench["end_to_end"]:
        a, b = plain["metrics"].get(m["name"]), traced["metrics"].get(m["name"])
        if a and b is not None:
            print(f"  {m['name']:<14} untraced {a:.4g} {m['unit']}, traced {b:.4g} {m['unit']} ({(b - a) / a:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
