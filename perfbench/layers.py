"""Per-layer table of a traced run: spans joined with the event log.

One row per span name: call count, total and self seconds, Spark jobs
and tasks, executor run time, GC, shuffle-write and spill bytes. Spark
counters are inclusive: a span's row counts the tasks of every span
below it too. The table ends with the part of the run's wall time that
no top-level span covers.
"""

from __future__ import annotations

import statistics

from perfbench import eventlog
from perfbench.trace import descendants, self_times, uncovered


def collect(run, wall_start: float, wall_end: float) -> dict:
    spans = run.tracer.spans
    by_group = eventlog.parse_dir(run.path("eventlog"))
    selfs = self_times(spans)

    incl: dict[str, eventlog.GroupMetrics] = {s.id: eventlog.total(by_group, descendants(spans, s.id)) for s in spans}

    rows: dict[str, dict] = {}
    for s in spans:
        r = rows.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": [], "spark": eventlog.GroupMetrics()})
        r["calls"] += 1
        r["total_s"] += s.duration
        r["self_s"] += selfs[s.id]
        # nested spans of one name would count twice; none nest in this benchmark
        r["jobs"].append(incl[s.id].jobs)
        r["spark"].add(incl[s.id])

    m = run.metrics
    for name, r in rows.items():
        sp = r["spark"]
        if name.startswith("operators."):
            m[f"{name}.tasks"] = sp.tasks
            m[f"{name}.shuffle_write_bytes"] = sp.shuffle_write_bytes
            m[f"{name}.spill_bytes"] = sp.spill_bytes
        if name.startswith("snapshots.") or name == "incremental.verify":
            m[f"{name}.jobs"] = statistics.median(r["jobs"])
    measure = next(s for s in spans if s.name == "measure")
    sp = incl[measure.id]
    m["spark.task_run_s"] = sp.run_s
    m["spark.gc_s"] = sp.gc_s
    m["spark.failed_tasks"] = sp.failed_tasks
    m["spark.core_util"] = sp.run_s / (measure.duration * run.cores)
    m["trace.wall_s"] = wall_end - wall_start
    m["trace.uncovered_s"] = uncovered(spans, wall_start, wall_end)

    table = []
    for name, r in rows.items():
        sp = r["spark"]
        table.append(
            {
                "layer": name,
                "calls": r["calls"],
                "total_s": r["total_s"],
                "self_s": r["self_s"],
                "jobs": sp.jobs,
                "tasks": sp.tasks,
                "task_run_s": sp.run_s,
                "gc_s": sp.gc_s,
                "shuffle_write_bytes": sp.shuffle_write_bytes,
                "spill_bytes": sp.spill_bytes,
            }
        )
    return {"rows": table, "wall_s": m["trace.wall_s"], "uncovered_s": m["trace.uncovered_s"], "text": render(table, m)}


def render(table: list[dict], m: dict) -> str:
    head = f"{'layer':<36}{'calls':>6}{'total_s':>10}{'self_s':>10}{'jobs':>6}{'tasks':>7}{'run_s':>9}{'gc_s':>7}{'shuf_MB':>9}{'spill_MB':>9}"
    out = ["per-layer table (Spark counters include child spans)", head]
    for r in table:
        out.append(
            f"{r['layer']:<36}{r['calls']:>6}{r['total_s']:>10.3f}{r['self_s']:>10.3f}{r['jobs']:>6}{r['tasks']:>7}"
            f"{r['task_run_s']:>9.2f}{r['gc_s']:>7.2f}{r['shuffle_write_bytes'] / 1e6:>9.2f}{r['spill_bytes'] / 1e6:>9.2f}"
        )
    out.append(f"wall {m['trace.wall_s']:.3f} s, not covered by any top-level span {m['trace.uncovered_s']:.3f} s")
    return "\n".join(out)
