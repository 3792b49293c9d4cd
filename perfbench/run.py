"""ovalspark benchmark: one command per workload run.

    python3 perfbench/run.py --workload validate_full --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Starts one driver process on local[N]
(N = min(4, cores)), runs the workload for ``--seconds`` of measurement
after its set-up, checks every output, and prints as the
last line of standard output one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, measured with
tracing off. With ``--trace 1`` the run records spans and a Spark event
log and prints the per-layer metrics instead; the per-layer table with
self times goes to standard error, and to ``--report`` as JSON when
given. A wrong output makes the command exit with status 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import metrics as M  # noqa: E402
from perfbench.harness import Run, peak_rss_mb, shutdown  # noqa: E402
from perfbench.stats import median  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

CORES = min(4, os.cpu_count() or 1)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(M.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", help="write the full report (spans, layer table, all metrics) to this JSON file")
    return ap.parse_args(argv)


def _workload(name: str):
    if name == "validate_full":
        from perfbench import validate_full

        return validate_full.run
    from perfbench import commit_verify

    return commit_verify.run


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "ovalspark")):
        print(f"perfbench: no ovalspark package next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    wall_start = time.perf_counter()
    run_id = uuid.uuid4().hex[:8]
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{os.getpid()}-{run_id}")
    os.makedirs(run_dir)
    run = Run(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        cores=CORES,
        run_dir=run_dir,
        tracer=Tracer(bool(args.trace), run_id),
    )
    error = None
    try:
        try:
            _workload(args.workload)(run)
            run.metrics["peak_rss_mb"] = peak_rss_mb()
        except Exception as e:  # a crash is a failed operation, reported below
            import traceback

            traceback.print_exc()
            error = f"{type(e).__name__}: {e}"
            run.checks.record("workload", [error])
        layer_table = None
        if run.trace and error is None:
            from perfbench import layers

            layer_table = layers.collect(run, wall_start, time.perf_counter())
    finally:
        shutdown(run)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    m = run.metrics
    if error is None:
        m["setup_s"] = median(run.samples["setup_s"])
        m["failed_frac"] = run.checks.failed / max(1, run.checks.attempted)
    names = M.PER_LAYER if run.trace else M.END_TO_END
    metrics = {n: {"value": float(m.get(n, 0.0)), "unit": u} for n, u in names.items()} if error is None else {}
    report = M.human_report(run, names)
    if layer_table is not None:
        report += "\n" + layer_table["text"]
    print(report, file=sys.stderr)
    for e in run.checks.errors[:20]:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    correct = run.checks.failed == 0 and error is None
    if args.report:
        with open(args.report, "w") as fh:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "trace": args.trace,
                    "metrics": {k: v for k, v in m.items() if isinstance(v, (int, float))},
                    "samples": run.samples,
                    "layers": layer_table,
                    "spans": run.tracer.to_json(),
                    "errors": run.checks.errors,
                },
                fh,
                indent=1,
            )
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.checks.attempted,
                "failed": run.checks.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
