"""commit_verify: oval's worker loop on the constrained snapshot store.

A closed loop with one client: each operation starts when the previous
one, and the check after it, has finished. The table carries
``unique(doc_id)``, ``not_null(doc_id)`` and ``range(generation)``
constraints. One cycle of the seeded operation sequence is

    upsert -> verify, merge-on-read delete, append -> verify,
    maintain (materialize_deletes + snapshot_compact), copy-on-write delete

where verify is ``validate_snapshot_delta`` over what that commit added.
Appends carry a seeded share of span-level faults that never break a
table constraint (WRONG_KIND, WRONG_TEXT, OFFSET_DISORDER,
STALE_GENERATION), so each verify has exact rows to find.

Checks, outside the timed regions: after every operation the live
doc-id set and row count equal the in-memory expected-state model
(``snapshot_read``); at the end of every cycle each file's row count
matches its manifest entry (``reconcile_counts``); each verify returns
exactly the rows injected into that batch. Once per run a batch that repeats a live
doc_id must raise ``ConstraintViolationError`` and leave the current
snapshot id unchanged; that refusal is a correct outcome.
"""

from __future__ import annotations

import random
import statistics
import time

from perfbench.harness import Run, dir_files, setup_rounds
from perfbench.stats import tail

SPAN_FAULTS = {"WRONG_KIND": 0.03, "WRONG_TEXT": 0.03, "OFFSET_DISORDER": 0.03, "STALE_GENERATION": 0.03}
MAX_GENERATION = 8
MAX_SPANS = 8
BASE_DOCS = 1500
APPEND_DOCS = 400
UPSERT_ROWS = 100
DELETE_ROWS = 40
SETUP_ROUNDS = 4
MIN_CYCLES = 1
CONSTRAINTS = [
    {"name": "doc_id_unique", "kind": "unique", "column": "doc_id"},
    {"name": "doc_id_not_null", "kind": "not_null", "column": "doc_id"},
    {"name": "generation_range", "kind": "range", "column": "generation", "lo": 1, "hi": MAX_GENERATION},
]
CATALOG_DDL = "doc_id string, exists boolean, generation int, n_spans int, writer_id int, partition_id int"
OPS = ("append", "upsert", "delete_cow", "delete_mor", "maintain", "verify")


def _doc_id(batch: int, seq: int) -> str:
    # the program's key codec: "ov" + 40-bit id as 10 hex digits
    return "ov%010x" % ((batch << 32) | seq)


class Model:
    """Expected state: live doc_id -> (generation, n_spans, writer_id, partition_id)."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.live: dict[str, tuple[int, int, int, int]] = {}
        self.next_batch = 0

    def new_batch(self, n: int) -> list[tuple]:
        b = self.next_batch
        self.next_batch += 1
        return [
            (_doc_id(b, s), True, self.rng.randint(1, MAX_GENERATION), self.rng.randint(1, MAX_SPANS), 7 + b % 16, b)
            for s in range(n)
        ]

    def pick(self, n: int) -> list[str]:
        return self.rng.sample(sorted(self.live), n)

    def regenerate(self, n: int) -> list[tuple]:
        """Catalog rows for ``n`` live documents at their next generation."""
        out = []
        for d in self.pick(n):
            g, ns, w, p = self.live[d]
            out.append((d, True, g % MAX_GENERATION + 1, ns, w, p))
        return out

    def put(self, rows: list[tuple]) -> None:
        for d, _, g, ns, w, p in rows:
            self.live[d] = (g, ns, w, p)

    def delete(self, ids: list[str]) -> None:
        for d in ids:
            del self.live[d]


def _in_predicate(ids: list[str]) -> str:
    return "doc_id IN (" + ",".join(f"'{d}'" for d in ids) + ")"


class Loop:
    def __init__(self, run: Run, root: str, model: Model):
        from ovalspark.datagen import GenSpec

        self.run, self.root, self.model = run, root, model
        self.spec = GenSpec(max_spans=MAX_SPANS, max_generation=MAX_GENERATION, seed=run.seed)
        self.times: dict[str, list[float]] = {op: [] for op in OPS}
        self.mutations: list[float] = []
        self.io: dict[str, list[tuple[int, int]]] = {}  # traced run: op -> (manifest, data) bytes per call
        self.verify_files: list[int] = []
        self.batch_gen_s: list[float] = []

    # -- inputs (untimed) ---------------------------------------------

    def _frames(self, rows: list[tuple], faults: dict | None):
        """Catalog and documents for ``rows``, materialized so the timed
        commit does not pay for generation. Returns (catalog, docs,
        expected violation keys)."""
        from ovalspark.datagen import generate_documents, inject_faults

        t0 = time.perf_counter()
        spark = self.run.spark
        cat = spark.createDataFrame(rows, CATALOG_DDL)
        docs = generate_documents(cat, self.spec)
        expected = set()
        if faults:
            docs, exp = inject_faults(docs, cat, self.spec, faults, inject_seed=self.run.seed * 1000 + self.model.next_batch)
            expected = {(r.doc_id, r.span_idx, r.field, r.violation_class) for r in exp.collect()}
        docs = docs.localCheckpoint()
        self.batch_gen_s.append(time.perf_counter() - t0)
        return cat, docs, expected

    # -- bookkeeping ----------------------------------------------------

    def _timed(self, op: str, fn):
        span = "incremental.verify" if op == "verify" else f"snapshots.{op}"
        with self.run.tracer.span(span):
            t0 = time.perf_counter()
            out = fn() if op in ("verify", "maintain") else self._written(op, fn)
            dt = time.perf_counter() - t0
        self.times[op].append(dt)
        if op != "verify":
            self.mutations.append(dt)
        return out

    def _written(self, name: str, fn):
        """Run ``fn``; in the traced run also record the (manifest, data)
        bytes it wrote under the table root."""
        if not self.run.trace:
            return fn()
        before = dir_files(self.root)
        out = fn()
        new = {p: s for p, s in dir_files(self.root).items() if before.get(p) != s}
        data = sum(s for p, s in new.items() if p.startswith("data"))
        self.io.setdefault(name, []).append((sum(new.values()) - data, data))
        return out

    def _state_problems(self, reconcile: bool = False) -> list[str]:
        from ovalspark.sources.snapshots import reconcile_counts, snapshot_read

        spark = self.run.spark
        ids = [r.doc_id for r in snapshot_read(spark, self.root).select("doc_id").collect()]
        problems = []
        if len(ids) != len(self.model.live):
            problems.append(f"live rows {len(ids)} != model {len(self.model.live)}")
        if set(ids) != set(self.model.live):
            problems.append(
                f"doc-id set differs from model: {len(set(ids) - set(self.model.live))} extra, "
                f"{len(set(self.model.live) - set(ids))} missing"
            )
        torn = reconcile_counts(spark, self.root).count() if reconcile else 0
        if torn:
            problems.append(f"reconcile_counts reports {torn} files whose rows disagree with the manifest")
        return problems

    def _verify(self, cat, prev: int, new: int, expected: set) -> None:
        from ovalspark.operators.incremental import validate_snapshot_delta
        from ovalspark.sources.snapshots import manifest_diff

        if self.run.trace:
            self.verify_files.append(len(manifest_diff(self.root, prev, new)))
        rows = self._timed(
            "verify",
            lambda: validate_snapshot_delta(
                self.run.spark, self.root, cat, self.spec.n_assets, from_id=prev, to_id=new
            ).collect(),
        )
        got = {(r.doc_id, r.span_idx, r.field, r.violation_class) for r in rows}
        problems = []
        if len(rows) != len(got) or got != expected:
            problems.append(
                f"delta verify of snapshot {new}: {len(expected - got)} injected rows missing, "
                f"{len(got - expected)} unexpected, {len(rows)} rows"
            )
        self.run.checks.record("verify", problems)

    # -- operations -----------------------------------------------------

    def append(self) -> None:
        from ovalspark.sources.snapshots import current_snapshot_id, snapshot_write

        rows = self.model.new_batch(APPEND_DOCS)
        cat, docs, expected = self._frames(rows, SPAN_FAULTS)
        prev = current_snapshot_id(self.root)
        new = self._timed("append", lambda: snapshot_write(docs, self.root, mode="append"))
        self.model.put(rows)
        self.run.checks.record("append", self._state_problems())
        self._verify(cat, prev, new, expected)

    def upsert(self) -> None:
        from ovalspark.sources.snapshots import current_snapshot_id, snapshot_upsert

        rows = self.model.regenerate(UPSERT_ROWS)
        cat, docs, _ = self._frames(rows, None)
        prev = current_snapshot_id(self.root)
        new = self._timed("upsert", lambda: snapshot_upsert(self.run.spark, self.root, docs, key="doc_id"))
        self.model.put(rows)
        self.run.checks.record("upsert", self._state_problems())
        self._verify(cat, prev, new, set())

    def delete(self, strategy: str) -> None:
        from ovalspark.sources.snapshots import snapshot_delete

        op = "delete_mor" if strategy == "merge-on-read" else "delete_cow"
        ids = self.model.pick(DELETE_ROWS)
        pred = _in_predicate(ids)
        self._timed(op, lambda: snapshot_delete(self.run.spark, self.root, pred, strategy=strategy))
        self.model.delete(ids)
        # the last operation of a cycle: every file it leaves behind is
        # also reconciled against its manifest row count
        self.run.checks.record(op, self._state_problems(reconcile=op == "delete_cow"))

    def maintain(self) -> None:
        from ovalspark.sources.snapshots import materialize_deletes, snapshot_compact

        def phase(name: str, fn) -> None:
            with self.run.tracer.span(f"snapshots.{name}"):
                self._written(name, fn)

        def both() -> None:
            phase("materialize", lambda: materialize_deletes(self.run.spark, self.root))
            phase("compact", lambda: snapshot_compact(self.run.spark, self.root))

        self._timed("maintain", both)
        self.run.checks.record("maintain", self._state_problems())

    def refused_duplicate(self) -> None:
        """A batch repeating a live doc_id: the unique constraint must
        refuse the commit and leave the table where it was."""
        from ovalspark.sources.constraints import ConstraintViolationError
        from ovalspark.sources.snapshots import current_snapshot_id, snapshot_write

        dup = self.model.pick(1)[0]
        g, ns, w, p = self.model.live[dup]
        rows = self.model.new_batch(20) + [(dup, True, g, ns, w, p)]
        _, docs, _ = self._frames(rows, None)
        prev = current_snapshot_id(self.root)
        problems = []
        try:
            with self.run.tracer.span("snapshots.refused_append"):
                snapshot_write(docs, self.root, mode="append")
            problems.append("append repeating a live doc_id was committed")
        except ConstraintViolationError:
            pass
        if current_snapshot_id(self.root) != prev:
            problems.append("refused append moved the current snapshot id")
        self.run.checks.record("refused_append", problems + self._state_problems(reconcile=True))

    def cycle(self) -> None:
        # the append after the merge-on-read delete lands outside the
        # pending filters' scope, so compaction after materialization
        # always has at least two small files to merge
        self.upsert()
        self.delete("merge-on-read")
        self.append()
        self.maintain()
        self.delete("copy-on-write")


def _bootstrap(run: Run, root: str, rows: list[tuple]) -> None:
    """Create the table with its base batch and constraint contract."""
    from ovalspark.datagen import GenSpec, generate_documents
    from ovalspark.sources.constraints import set_constraints
    from ovalspark.sources.snapshots import snapshot_write

    spec = GenSpec(max_spans=MAX_SPANS, max_generation=MAX_GENERATION, seed=run.seed)
    cat = run.spark.createDataFrame(rows, CATALOG_DDL)
    snapshot_write(generate_documents(cat, spec), root, mode="overwrite")
    set_constraints(root, CONSTRAINTS, spark=run.spark)


def run(run: Run) -> None:
    rng = random.Random(run.seed)
    model = Model(rng)
    base = model.new_batch(BASE_DOCS)
    model.put(base)
    root = run.path("table")

    def load(i: int) -> None:
        from ovalspark.sources.constraints import table_constraints
        from ovalspark.sources.snapshots import snapshot_read

        if i == 0:
            with run.tracer.span("setup.inputs"):
                t0 = time.perf_counter()
                _bootstrap(run, root, base)
                run.metrics["setup.inputs_s"] = time.perf_counter() - t0
        with run.tracer.span("sources.table_open"):
            n = snapshot_read(run.spark, root).count()
            problems = [] if n == len(base) else [f"table holds {n} rows, model {len(base)}"]
            if len(table_constraints(root)) != len(CONSTRAINTS):
                problems.append("constraint contract not recorded")
        run.checks.record("open_table", problems)

    setup = setup_rounds(run, SETUP_ROUNDS, load)
    setup[0] -= run.metrics["setup.inputs_s"]  # creating the table is reported on its own
    run.samples["setup_s"] = setup
    loop = Loop(run, root, model)

    with run.tracer.span("measure"):
        t_start = time.perf_counter()
        deadline = t_start + run.seconds
        n, last = 0, 0.0
        while n < MIN_CYCLES or time.perf_counter() + last <= deadline:
            c0 = time.perf_counter()
            loop.cycle()
            last = time.perf_counter() - c0
            n += 1
        wall = time.perf_counter() - t_start
    loop.refused_duplicate()

    t = loop.times
    med = {op: statistics.median(t[op]) for op in OPS}
    tl = tail(loop.mutations)
    for op in OPS:
        run.samples[f"{op}_s"] = t[op]
    run.samples["mutation_s"] = loop.mutations
    run.metrics.update({f"{op}_p50_s": med[op] for op in OPS})
    run.metrics.update(
        {
            "cycle_s": sum(med[op] * (2 if op == "verify" else 1) for op in OPS),
            "commit_tail_s": tl[1] if tl else max(loop.mutations),
            "measure.wall_s": wall,
            "measure.cycles": n,
            "datagen.generate_s": statistics.median(loop.batch_gen_s),
        }
    )
    if run.trace:
        _layer_counters(run, loop)


def _layer_counters(run: Run, loop: Loop) -> None:
    from ovalspark.sources.constraints import audit_constraints
    from ovalspark.sources.snapshots import load_manifest

    for op, rows in loop.io.items():
        run.metrics[f"snapshots.{op}.manifest_bytes"] = statistics.median(r[0] for r in rows)
        run.metrics[f"snapshots.{op}.data_bytes"] = statistics.median(r[1] for r in rows)
    written = sum(m + d for rows in loop.io.values() for m, d in rows)
    added = sum(d for op in ("append", "upsert") for _, d in loop.io.get(op, []))
    run.metrics["snapshots.write_amp"] = written / added
    m = load_manifest(loop.root)
    run.metrics["snapshots.live_files"] = len(m["files"])
    run.metrics["snapshots.pending_row_filters"] = len(m.get("row_filters") or [])
    run.metrics["incremental.verify_files"] = statistics.median(loop.verify_files)
    with run.tracer.span("constraints.audit"):
        t0 = time.perf_counter()
        report, detail = audit_constraints(run.spark, loop.root)
        bad = [r for r in report.collect() if r.violated_rows]
        run.metrics["constraints.audit_s"] = time.perf_counter() - t0
    run.metrics["constraints.audit_files_scanned"] = detail["files_scanned"]
    run.checks.record("audit_constraints", [f"constraint {r.constraint} reports {r.violated_rows} violations" for r in bad])
