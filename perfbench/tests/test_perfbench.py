"""The benchmark's own tests: the percentile rule, self-time arithmetic,
event-log attribution, and agreement between BENCHMARK.json and the
metric registry.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog, metrics  # noqa: E402
from perfbench.stats import quartile_spread, tail  # noqa: E402
from perfbench.trace import Span, Tracer, descendants, self_times, uncovered  # noqa: E402


# -- percentile rule ------------------------------------------------------


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(10))) is None  # even p0 leaves only 9 beyond
    p, v = tail(list(range(11)))
    assert (p, v) == (9, 0.0)  # rank 1 of 11 leaves 10 beyond; p10 would be rank 2


def test_tail_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    p, v = tail(xs)
    assert p == 90 and v == 90.0  # rank 90 leaves exactly 10 beyond
    # p91 would be rank 91 with 9 beyond
    assert tail(xs, min_beyond=9) == (91, 91.0)


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 9.0] * 10
    assert tail(xs) == tail(sorted(xs))


def test_quartile_spread():
    assert quartile_spread([1.0] * 4 + [2.0] * 4) == pytest.approx((2.0 - 1.0) / 1.5)


# -- self-time arithmetic -------------------------------------------------


def _span(i, parent, start, end, name=None):
    return Span(id=f"s{i}", name=name or f"n{i}", parent=parent, run_id="r", start=start, end=end)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, "s0", 1.0, 4.0),
        _span(2, "s0", 3.0, 5.0),  # overlaps s1: union 1..5 = 4
        _span(3, "s0", 8.0, 12.0),  # clipped to the parent: 8..10 = 2
        _span(4, "s1", 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st["s0"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st["s1"] == pytest.approx(3.0 - 0.5)
    assert st["s2"] == pytest.approx(2.0)
    assert st["s4"] == pytest.approx(0.5)


def test_uncovered_counts_only_top_level_spans():
    spans = [_span(0, None, 1.0, 3.0), _span(1, "s0", 2.0, 6.0), _span(2, None, 5.0, 7.0)]
    assert uncovered(spans, 0.0, 8.0) == pytest.approx(8.0 - 2.0 - 2.0)


def test_descendants():
    spans = [_span(0, None, 0, 1), _span(1, "s0", 0, 1), _span(2, "s1", 0, 1), _span(3, None, 0, 1)]
    assert descendants(spans, "s0") == {"s0", "s1", "s2"}


def test_disabled_tracer_records_nothing():
    t = Tracer(False, "r")
    with t.span("x") as s:
        assert s is None
    assert t.spans == []


def test_tracer_parents():
    t = Tracer(True, "r")
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end


# -- event-log attribution --------------------------------------------------


def _ev(**kw):
    return json.dumps(kw)


def test_eventlog_attributes_tasks_through_stage_properties():
    lines = [
        _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1]}, Properties={"spark.jobGroup.id": "a"}),
        _ev(Event="SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0}}, Properties={"spark.jobGroup.id": "a"}),
        _ev(Event="SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0}}, Properties={}),
        _ev(
            Event="SparkListenerTaskEnd",
            **{"Stage ID": 0, "Stage Attempt ID": 0, "Task End Reason": {"Reason": "Success"}},
            **{"Task Metrics": {"Executor Run Time": 1500, "JVM GC Time": 100, "Memory Bytes Spilled": 3,
                                "Disk Bytes Spilled": 4, "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
        ),
        _ev(
            Event="SparkListenerTaskEnd",
            **{"Stage ID": 0, "Stage Attempt ID": 0, "Task End Reason": {"Reason": "ExceptionFailure"}},
            **{"Task Metrics": {"Executor Run Time": 500}},
        ),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 1, "Stage Attempt ID": 0, "Task End Reason": {"Reason": "Success"}},
            **{"Task Metrics": {"Executor Run Time": 250}}),
        "",
    ]
    out = eventlog.parse(lines)
    a = out["a"]
    assert (a.jobs, a.tasks, a.failed_tasks) == (1, 2, 1)
    assert a.run_s == pytest.approx(2.0) and a.gc_s == pytest.approx(0.1)
    assert (a.shuffle_write_bytes, a.spill_bytes) == (7, 7)
    assert out[None].tasks == 1 and out[None].run_s == pytest.approx(0.25)
    assert eventlog.total(out, {"a", "missing"}).tasks == 2


def test_eventlog_from_a_real_session(tmp_path):
    """Spans set the job group; the event log of a tiny run attributes
    the span's job and tasks to it, and nothing to a sibling span."""
    from ovalspark.datagen import GenSpec, generate_catalog, generate_documents

    from perfbench.harness import Run, shutdown

    run = Run(workload="t", seed=1, seconds=1, cores=2, run_dir=str(tmp_path), tracer=Tracer(True, "t"))
    try:
        spark = run.start_session()
        spec = GenSpec(n_runners=1, n_writers=2, docs_per_writer=100, max_spans=4)
        with run.tracer.span("work") as work:
            generate_documents(generate_catalog(spark, spec), spec).write.format("noop").mode("overwrite").save()
        with run.tracer.span("idle") as idle:
            pass
    finally:
        shutdown(run)
    by_group = eventlog.parse_dir(run.path("eventlog"))
    assert by_group[work.id].jobs >= 1 and by_group[work.id].tasks >= 1
    assert by_group[work.id].run_s > 0
    assert idle.id not in by_group


# -- registry ---------------------------------------------------------------


def test_benchmark_json_matches_registry():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    assert [w["name"] for w in b["workloads"]] == list(metrics.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == metrics.PER_LAYER
    assert set(metrics.MOVES) == set(metrics.PER_LAYER)
    assert all(moves in metrics.END_TO_END for moves, _ in metrics.MOVES.values())
