"""The benchmark's metric registry.

``END_TO_END`` are what a user of each workload sees; every run prints
all of them (``--trace 0``). ``PER_LAYER`` come from the traced run
(``--trace 1``). ``MOVES`` records, for every per-layer metric, the
end-to-end metric it should move and the workload it shows on; a metric
that a workload never exercises reads 0 there.
"""

from __future__ import annotations

from perfbench.stats import describe

WORKLOADS = ("validate_full", "commit_verify")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "cycle_s": "s",
}

_OPS = ("append", "upsert", "delete_cow", "delete_mor", "materialize", "compact")
_OPERATORS = (
    "validate_spans",
    "check_existence",
    "check_partition_counts",
    "check_uniqueness",
    "check_referential",
    "validate_all",
)

PER_LAYER: dict[str, str] = {}
MOVES: dict[str, tuple[str, str]] = {}


def _add(name: str, unit: str, moves: str, workload: str) -> None:
    PER_LAYER[name] = unit
    MOVES[name] = (moves, workload)


# workload-level results, measured alongside the layers
_add("fused_docs_per_s", "docs/s", "cycle_s", "validate_full")
_add("plan_docs_per_s", "docs/s", "cycle_s", "validate_full")
for _op in ("append", "upsert", "delete_cow", "delete_mor", "maintain", "verify"):
    _add(f"{_op}_p50_s", "s", "cycle_s", "commit_verify")
_add("commit_tail_s", "s", "cycle_s", "commit_verify")
_add("failed_frac", "ratio", "cycle_s", "both")
_add("setup.cold_start_s", "s", "setup_s", "both")
_add("setup.inputs_s", "s", "setup_s", "both")
_add("datagen.generate_s", "s", "setup_s", "both")

# validate_full layers
_add("sources.tableset_save_s", "s", "setup_s", "validate_full")
_add("sources.tableset_load_s", "s", "setup_s", "validate_full")
_add("functions.expected_spans_s", "s", "cycle_s", "validate_full")
for _o in _OPERATORS:
    _add(f"operators.{_o}_s", "s", "cycle_s", "validate_full")
    _add(f"operators.{_o}.tasks", "count", "cycle_s", "validate_full")
    _add(f"operators.{_o}.shuffle_write_bytes", "bytes", "cycle_s", "validate_full")
    _add(f"operators.{_o}.spill_bytes", "bytes", "cycle_s", "validate_full")
_add("plans.run_plan_s", "s", "cycle_s", "validate_full")
_add("plans.run_plan_fused_s", "s", "cycle_s", "validate_full")
_add("plans.overhead_s", "s", "cycle_s", "validate_full")
_add("plans.sink_bytes", "bytes", "cycle_s", "validate_full")
_add("plans.violation_rows", "count", "cycle_s", "validate_full")

# commit_verify layers
for _op in _OPS:
    _add(f"snapshots.{_op}.jobs", "count", "cycle_s", "commit_verify")
    _add(f"snapshots.{_op}.manifest_bytes", "bytes", "cycle_s", "commit_verify")
    _add(f"snapshots.{_op}.data_bytes", "bytes", "cycle_s", "commit_verify")
_add("snapshots.write_amp", "ratio", "cycle_s", "commit_verify")
_add("snapshots.live_files", "count", "cycle_s", "commit_verify")
_add("snapshots.pending_row_filters", "count", "cycle_s", "commit_verify")
_add("incremental.verify_files", "count", "cycle_s", "commit_verify")
_add("incremental.verify.jobs", "count", "cycle_s", "commit_verify")
_add("constraints.audit_s", "s", "cycle_s", "commit_verify")
_add("constraints.audit_files_scanned", "count", "cycle_s", "commit_verify")

# Spark-wide, over each workload's measured phase
_add("spark.task_run_s", "s", "cycle_s", "both")
_add("spark.core_util", "ratio", "cycle_s", "both")
_add("spark.gc_s", "s", "cycle_s", "both")
_add("spark.failed_tasks", "count", "cycle_s", "both")

# the trace's own bookkeeping
_add("trace.wall_s", "s", "cycle_s", "both")
_add("trace.uncovered_s", "s", "setup_s", "both")


def human_report(run, names: dict[str, str]) -> str:
    """Every printed metric with its unit, and each timing as a median
    with its sample count and tail percentile."""
    lines = [f"perfbench {run.workload} seed={run.seed} local[{run.cores}] trace={int(run.trace)}"]
    for k, xs in sorted(run.samples.items()):
        if xs and isinstance(xs[0], (int, float)):
            lines.append(f"  {k:<34} {describe(xs)}")
    units = {**PER_LAYER, **END_TO_END}
    for n in sorted(run.metrics, key=lambda k: (k not in names, k)):
        lines.append(f"  {n:<34} {run.metrics[n]:.6g} {units.get(n, '')}")
    lines.append(f"  operations: {run.checks.attempted} attempted, {run.checks.failed} failed")
    return "\n".join(lines)
