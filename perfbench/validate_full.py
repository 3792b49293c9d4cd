"""validate_full: the full-table validator over a seeded generated world.

Batch job with one client, the shape of ``cli validate``. The world is
generated from the seed, written with ``TableSet.save(fmt="snapshot")``
and read back with ``TableSet.load``. Each measured pass times
``run_plan`` twice into fresh output directories and manifests: first
with ``default_plan(fused=True)``, then with the per-constraint default
plan.

Checks, outside the timed regions: on the first measured pass the
per-constraint plan's violation rows equal ``inject_faults``' expected
rows in both directions, for the constraints that oracle covers; on
every pass the fused and per-constraint plans return equal verdicts and
totals, and the totals do not change between passes.
"""

from __future__ import annotations

import statistics
import time

from perfbench.harness import Run, dir_files, setup_rounds

FAULTS = {
    "WRONG_TEXT": 0.01,
    "WRONG_KIND": 0.01,
    "WRONG_MEDIA_REF": 0.01,
    "LOST_DOC": 0.01,
    "DUP_DOC_ID": 0.01,
}
PHANTOM_FRACTION = 0.02
# the generator's default asset space (see CHANGES.md: inject_faults' WRONG_MEDIA_REF
# oracle rows assume it)
N_ASSETS = 1 << 16
SPEC = dict(n_runners=1, n_writers=4, docs_per_writer=1000, max_spans=8, hot_shard_factor=2, n_assets=N_ASSETS)
SETUP_ROUNDS = 4
MIN_PASSES = 1

VCOLS = ["partition_id", "doc_id", "span_idx", "field", "expected", "actual", "violation_class", "writer_id", "written_at"]
VSCHEMA = (
    "doc_id string, span_idx int, field string, expected string, actual string, "
    "violation_class string, writer_id int, written_at timestamp, partition_id int"
)
# per-constraint outputs the inject_faults oracle describes exactly;
# partition_counts and referential report derived classes it has no rows for
ORACLE_CONSTRAINTS = ("span_sequence", "existence", "uniqueness")


def _make_world(run: Run, world: str) -> None:
    from ovalspark.datagen import GenSpec, generate_assets, generate_catalog, generate_documents, inject_faults
    from ovalspark.sources.tables import TableSet

    spark = run.spark
    spec = GenSpec(seed=run.seed, **SPEC)
    with run.tracer.span("datagen.generate"):
        t0 = time.perf_counter()
        cat = generate_catalog(spark, spec)
        docs = generate_documents(cat, spec)
        bad, expected = inject_faults(
            docs, cat, spec, FAULTS, phantom_fraction=PHANTOM_FRACTION, inject_seed=1000 + run.seed
        )
        bad = bad.localCheckpoint()
        expected.write.parquet(run.path("expected"))
        assets = generate_assets(spark, spec)
        run.metrics["datagen.generate_s"] = time.perf_counter() - t0
    with run.tracer.span("sources.tableset_save"):
        t0 = time.perf_counter()
        TableSet(docs=bad, catalog=cat, assets=assets).save(world, fmt="snapshot")
        run.metrics["sources.tableset_save_s"] = time.perf_counter() - t0


def _read_violations(spark, out_dir: str, names):
    from functools import reduce

    frames = [spark.read.schema(VSCHEMA).json(f"{out_dir}/{n}").select(VCOLS) for n in names]
    return reduce(lambda a, b: a.unionByName(b), frames)


def _oracle_problems(run: Run, got, what: str) -> list[str]:
    expected = run.spark.read.parquet(run.path("expected")).select(VCOLS)
    missing = expected.exceptAll(got).limit(1000).collect()
    extra = got.exceptAll(expected).limit(1000).collect()
    if missing or extra:
        return [
            f"{what}: {len(missing)} expected violation rows missing (first: {missing[:2]}), "
            f"{len(extra)} unexpected rows (first: {extra[:2]})"
        ]
    return []


def _total(res) -> int:
    return sum(t["violations"] for t in res.totals.values())


def run(run: Run) -> None:
    from ovalspark.plans import default_plan, run_plan
    from ovalspark.sources.tables import TableSet

    world = run.path("world")
    state: dict = {}

    def load(i: int) -> None:
        if i == 0:
            _make_world(run, world)
        with run.tracer.span("sources.tableset_load"):
            t0 = time.perf_counter()
            ts = TableSet.load(run.spark, world, fmt="snapshot")
            state["n_docs"] = ts.docs.count()
            run.samples.setdefault("sources.tableset_load_s", []).append(time.perf_counter() - t0)
        state["ts"] = ts

    setup = setup_rounds(run, SETUP_ROUNDS, load)
    run.metrics["setup.inputs_s"] = run.metrics["datagen.generate_s"] + run.metrics["sources.tableset_save_s"]
    setup[0] -= run.metrics["setup.inputs_s"]  # generating the world is reported on its own
    run.samples["setup_s"] = setup

    ts, n_docs = state["ts"], state["n_docs"]
    plans = {
        "fused": default_plan(N_ASSETS, fused=True),
        "plan": default_plan(N_ASSETS),
    }
    results: dict[str, list] = {"fused": [], "plan": []}
    times: dict[str, list[float]] = {"fused": [], "plan": []}

    def one(kind: str, tag: str):
        out, man = run.path("out", f"{kind}-{tag}"), run.path("manifests", f"{kind}-{tag}.json")
        run.settle()
        span = "plans.run_plan_fused" if kind == "fused" else "plans.run_plan"
        with run.tracer.span(span):
            t0 = time.perf_counter()
            res = run_plan(plans[kind], ts.docs, ts.catalog, ts.assets, out, man, run_id=f"{kind}-{tag}")
            dt = time.perf_counter() - t0
        return res, dt, out

    with run.tracer.span("measure"):
        t_start = time.perf_counter()
        deadline = t_start + run.seconds
        i = 0
        while i < MIN_PASSES or time.perf_counter() + sum(t[-1] for t in times.values()) <= deadline:
            outs = {}
            # a fixed order: the second call reuses code the first compiled
            for kind in plans:
                res, dt, outs[kind] = one(kind, str(i))
                results[kind].append(res)
                times[kind].append(dt)
            problems = []
            rf, rp = results["fused"][-1], results["plan"][-1]
            if rf.verdicts != rp.verdicts:
                problems.append("fused and per-constraint verdicts differ")
            if _total(rf) != _total(rp):
                problems.append(f"violation totals differ: fused {_total(rf)} vs per-constraint {_total(rp)}")
            if rp.totals != results["plan"][0].totals:
                problems.append("per-constraint totals changed between passes")
            if i == 0:
                got = _read_violations(run.spark, outs["plan"], ORACLE_CONSTRAINTS)
                problems += _oracle_problems(run, got, "per-constraint plan")
            run.checks.record("run_plan pair", problems)
            i += 1
        wall = time.perf_counter() - t_start

    fused, plan = statistics.median(times["fused"]), statistics.median(times["plan"])
    run.samples["fused_run_plan_s"] = times["fused"]
    run.samples["plan_run_plan_s"] = times["plan"]
    run.metrics.update(
        {
            "cycle_s": fused + plan,
            "fused_docs_per_s": n_docs / fused,
            "plan_docs_per_s": n_docs / plan,
            "plans.run_plan_s": plan,
            "plans.run_plan_fused_s": fused,
            "plans.violation_rows": _total(results["plan"][-1]),
            "plans.sink_bytes": sum(dir_files(outs["plan"]).values()),
            "sources.tableset_load_s": statistics.median(run.samples["sources.tableset_load_s"]),
            "measure.wall_s": wall,
            "n_docs": n_docs,
        }
    )
    if run.trace:
        _standalone_layers(run, ts)


def _standalone_layers(run: Run, ts) -> None:
    """Traced run only: each operator, and the span regeneration, run on
    its own through the noop sink, so its time and task counters stand
    apart from the plan runner's."""
    from pyspark.sql import functions as F

    from ovalspark.functions.spans import expected_spans
    from ovalspark.operators import (
        check_existence,
        check_partition_counts,
        check_referential,
        check_uniqueness,
        validate_spans,
    )
    from ovalspark.operators.fused import validate_all

    docs, cat, assets = ts.docs, ts.catalog, ts.assets
    layers = {
        "operators.validate_spans": lambda: validate_spans(docs, cat, N_ASSETS),
        "operators.check_existence": lambda: check_existence(docs, cat),
        "operators.check_partition_counts": lambda: check_partition_counts(docs, cat),
        "operators.check_uniqueness": lambda: check_uniqueness(docs),
        "operators.check_referential": lambda: check_referential(docs, assets),
        "operators.validate_all": lambda: validate_all(docs, cat, N_ASSETS),
        "functions.expected_spans": lambda: cat.filter(F.col("exists")).select(
            expected_spans(F.col("doc_id"), F.col("generation"), F.col("writer_id"), F.col("n_spans"), N_ASSETS)
        ),
    }
    for name, build in layers.items():
        run.settle()
        with run.tracer.span(name):
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            run.metrics[f"{name}_s"] = time.perf_counter() - t0
    standalone = sum(
        run.metrics[f"operators.{n}_s"]
        for n in ("validate_spans", "check_existence", "check_partition_counts", "check_uniqueness", "check_referential")
    )
    run.metrics["plans.overhead_s"] = run.metrics["plans.run_plan_s"] - standalone
