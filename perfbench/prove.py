"""Steadiness check: run the benchmark on several seeds and report, for
each end-to-end metric, the median and the quartile spread
((Q3 - Q1) / median over the runs) next to the metric's bound.

    python3 perfbench/prove.py --workload commit_verify --seeds 1-10
    python3 perfbench/prove.py --workload validate_full --seeds 1-5 --out runs.jsonl

Runs are sequential, from the root of the checkout, with the
``run_seconds`` of BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import quartile_spread  # noqa: E402


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", help="append each run's result line, with its wall time, to this JSONL file")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    results, walls = [], []
    for seed in _seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.perf_counter() - t0
        line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        res = json.loads(line) if line.startswith("{") else {}
        print(f"seed {seed}: exit {p.returncode}, {wall:.1f} s, correct={res.get('correct')}, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()), flush=True)
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"workload": args.workload, "seed": seed, "wall_s": wall, "exit": p.returncode, **res}) + "\n")
        results.append(res)
        walls.append(wall)
    ok = all(r.get("correct") for r in results)
    print(f"{args.workload}: {len(results)} runs, all correct: {ok}, wall {min(walls):.1f}-{max(walls):.1f} s")
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results if m["name"] in r.get("metrics", {})]
        if len(vals) >= 2:
            sp = quartile_spread(vals)
            flag = "ok" if sp < m["bound"] / 3 else ("within bound" if sp <= m["bound"] else "OVER BOUND")
            print(f"  {m['name']:<14} median {statistics.median(vals):.4g} {m['unit']:<4} spread {sp:.3f} "
                  f"bound {m['bound']} ({flag})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
