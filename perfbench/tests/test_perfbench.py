"""Tests of the benchmark itself; no Spark session is started.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import run  # noqa: E402
import tracing  # noqa: E402
from tracing import Span, Tracer, self_times, summarize  # noqa: E402
from workloads import WORKLOADS, pass_order, run_passes  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in _spec()["workloads"]] == list(WORKLOADS)


def test_pass_order_is_deterministic_per_seed():
    ops = WORKLOADS["interactive-sf0.1"].ops
    for seed in (1, 2, 99):
        assert pass_order(ops, seed, 0) == list(ops)
        for p in range(1, 4):
            first = pass_order(ops, seed, p)
            assert first == pass_order(ops, seed, p)
            assert sorted(first) == sorted(ops)
    orders = {tuple(pass_order(ops, seed, 1)) for seed in range(5)}
    assert len(orders) > 1
    # pinned: string seeds hash with SHA-512, not the per-process hash()
    assert pass_order(tuple("abcdef"), 1, 1) == ["b", "e", "a", "c", "d", "f"]


def test_warm_pass_count_follows_seconds_not_host_speed():
    w = WORKLOADS["interactive-sf0.1"]
    assert w.measured_passes(1) == 1
    assert w.measured_passes(3 * w.warm_pass_s) == 3
    assert w.measured_passes(3.9 * w.warm_pass_s) == 3
    assert w.warm_passes(3 * w.warm_pass_s) == w.warmup_passes + 3


def _schedule(traced: bool) -> list[tuple[str, int]]:
    """The op sequence of one simulated run; the traced variant opens op,
    phase and wrapped-call spans around each op, as run.Runner does."""
    tracer = Tracer()
    seen = []

    def run_op(name, pass_index):
        seen.append((name, pass_index))
        if traced:
            with tracer.span(name, "op"):
                with tracer.phase("build", "plans"):
                    tracer.wrap(lambda: None, "operators.spatial")()
                with tracer.phase("action", "exec"):
                    pass
        return {"op": name, "pass": pass_index, "ok": True, "latency_s": 1.0}

    w = WORKLOADS["interactive-sf0.1"]
    passes = run_passes(w.ops, 7, w.warm_passes(15), run_op)
    assert [r["op"] for recs in passes for r in recs] == [n for n, _ in seen]
    return seen


def test_traced_and_untraced_runs_execute_the_same_ops():
    untraced = _schedule(traced=False)
    assert untraced == _schedule(traced=True)
    w = WORKLOADS["interactive-sf0.1"]
    assert len(untraced) == len(w.ops) * (1 + w.warm_passes(15))


def test_end_to_end_metric_names_and_units_match_benchmark_json():
    spec = _spec()
    recs = [{"op": "a", "ok": True, "latency_s": 4.0}, {"op": "b", "ok": True, "latency_s": 1.0}]
    slow = [{"op": "a", "ok": True, "latency_s": 8.0}, {"op": "b", "ok": True, "latency_s": 2.0}]
    e2e = run.end_to_end(12.5, [slow, recs, recs, slow], warmup_passes=0)
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
    assert e2e == {
        "setup_s": 12.5,
        "pass_s": 5.0,
        "query_geomean_s": pytest.approx(256 ** (1 / 6)),
    }
    # a warm-up pass counts in no metric
    e2e = run.end_to_end(12.5, [slow, slow, recs, recs], warmup_passes=1)
    assert (e2e["pass_s"], e2e["query_geomean_s"]) == (5.0, 2.0)
    assert run.pass_time(slow) == 10.0
    line = run.result_line(e2e, spec["end_to_end"], True, 6, 0)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {
        m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]
    }
    assert all(isinstance(v["value"], float) for v in line["metrics"].values())
    assert json.loads(json.dumps(line)) == line


def test_per_layer_metric_names_are_ones_the_trace_produces():
    import importlib
    import pkgutil

    operators = importlib.import_module(f"{tracing.PKG}.operators")
    modules = {m.name for m in pkgutil.iter_modules(operators.__path__)}
    fns = {f for names in tracing.PIPELINE_FNS.values() for f in names}
    source_fns = {f for names in tracing.SOURCES_FNS.values() for f in names}
    fixed = {
        "session.import_s",
        "session.jvm_start_s",
        "session.warmup_s",
        "first_pass_s",
        "cachereg.persisted_rdds_after_op",
        "cachereg.storage_mb_after_op",
        "mem.jvm_peak_rss_mb",
        "mem.py_peak_rss_mb",
        "exec.slot_utilization",
        "exec.python_worker_cpu_s",
        "streaming.batches",
        "streaming.trigger_s",
        "streaming.commit_s",
        "trace_overhead_s",
    }
    produced = set(summarize(_nested_trace(), cores=4)) | fixed
    for m in _spec()["per_layer"]:
        name = m["name"]
        parts = name.split(".")
        if parts[0] == "pipeline":
            assert parts[1] in fns and parts[2] in ("self_s", "jobs"), name
        elif parts[0] == "operators":
            assert parts[1] in modules and parts[2] in ("self_s", "jobs"), name
        elif parts[0] == "sources":
            assert parts[1] in source_fns and parts[2] in ("self_s", "calls", "jobs"), name
        else:
            assert name in produced, name


def _job(id_, parent, start, end, **kw):
    attrs = {k: 0 for k in tracing._JOB_COUNTS + tracing._JOB_SUMS}
    attrs.update(kw)
    return Span(id_, f"job {id_}", "job", start, end, parent, 0, attrs)


def _nested_trace() -> list[Span]:
    """op [0,10] = build [0,6] + action [6,10]. In the build a pipeline
    call [1,5] holds an operator call [2,3] and a job [3.5,4.5]; the
    action holds two overlapping jobs [7,9] and [8,9.5]."""
    return [
        Span(0, "q", "op", 0.0, 10.0, None, 0),
        Span(1, "build", "plans", 0.0, 6.0, 0, 0, {"py_cpu_s": 0.5}),
        Span(2, "build_dataset", "pipeline.build_dataset", 1.0, 5.0, 1, 0),
        Span(3, "knn_join", "operators.spatial", 2.0, 3.0, 2, 0),
        _job(4, 2, 3.5, 4.5, tasks=4, stages=1, run_s=2.0),
        Span(5, "action", "exec", 6.0, 10.0, 0, 0),
        _job(6, 5, 7.0, 9.0, tasks=8, stages=2, skipped_stages=1, run_s=6.0),
        _job(7, 5, 8.0, 9.5, tasks=2, stages=1, run_s=1.0),
    ]


def test_self_time_on_a_synthetic_nested_trace():
    spans = _nested_trace()
    selfs = self_times(spans)
    assert selfs == {0: 0.0, 1: 2.0, 2: 2.0, 3: 1.0, 4: 1.0, 5: 1.5, 6: 2.0, 7: 1.5}
    m = summarize(spans, cores=4)
    assert m["plans.build_s"] == 6.0
    assert m["plans.build_self_s"] == 2.0
    assert m["plans.build_py_cpu_s"] == 0.5
    assert m["pipeline.build_dataset.self_s"] == 2.0
    assert m["pipeline.build_dataset.jobs"] == 1
    assert m["operators.spatial.self_s"] == 1.0
    assert m["exec.first_job_delay_s"] == 1.0
    # action self 1.5 s minus the 1 s before its first job
    assert m["unattributed_s"] == 0.5
    assert (m["exec.jobs.build"], m["exec.jobs.action"]) == (1, 2)
    assert (m["exec.tasks.build"], m["exec.tasks.action"]) == (4, 10)
    assert m["exec.skipped_stages.action"] == 1
    assert m["plans.build_jobs"] == 1
    assert m["exec.slot_utilization"] == 9.0 / (10.0 * 4)
    # every second of the op is in exactly one bucket
    buckets = (
        m["plans.build_self_s"]
        + m["pipeline.build_dataset.self_s"]
        + m["operators.spatial.self_s"]
        + m["exec.first_job_delay_s"]
        + m["unattributed_s"]
    )
    job_cover = 1.0 + 2.5  # [3.5,4.5] and the union [7,9.5]
    assert buckets + job_cover == m["op_s"]


def test_jobs_without_a_group_go_to_the_deepest_open_span():
    tracer = Tracer()
    with tracer.span("q", "op") as op:
        with tracer.phase("build", "plans") as build:
            with tracer.span("backfill_month_shards", "pipeline.backfill_month_shards") as bf:
                pass
        with tracer.phase("action", "exec") as action:
            pass

    for span, start, end in ((op, 0, 10), (build, 0, 6), (bf, 1, 5), (action, 6, 10)):
        span.start, span.end = float(start), float(end)

    def job(job_id, start, group_span=None):
        return {"job_id": job_id, "group_span": group_span, "start": start, "end": start + 1}

    tracer.add_jobs([job(0, 3.0), job(1, 3.0, group_span=build.id), job(2, 8.0)], op)
    parents = {s.name: s.parent for s in tracer.spans if s.layer == "job"}
    assert parents == {"job 0": bf.id, "job 1": build.id, "job 2": action.id}


def test_tracer_parents_spans_and_sets_job_groups():
    groups = []
    tracer = Tracer(set_group=groups.append)
    with tracer.span("q", "op") as op:
        with tracer.phase("build", "plans") as build:
            inner = tracer.wrap(lambda: tracer._stack()[-1], "operators.text")()
            # a thread the engine starts inside the phase
            box = []
            t = threading.Thread(
                target=lambda: box.append(tracer.wrap(lambda: 1, "pipeline.build_dataset")())
            )
            t.start()
            t.join(timeout=10)
            assert not t.is_alive() and box == [1]
    assert inner.parent == build.id and inner.op == op.id
    threaded = [s for s in tracer.spans if s.layer == "pipeline.build_dataset"][0]
    assert threaded.parent == build.id and threaded.op == op.id
    # each span runs under its own group; closing returns to the outer one
    assert groups[:4] == [op.id, build.id, inner.id, build.id]
    assert groups[-1] is None


def test_install_rebinds_every_alias_and_uninstall_restores():
    import importlib

    composite = importlib.import_module(f"{tracing.PKG}.plans.composite")
    spatial = importlib.import_module(f"{tracing.PKG}.operators.spatial")
    original = spatial.knn_join_grid
    assert composite.knn_join_grid is original
    undo = tracing.install(Tracer())
    try:
        assert composite.knn_join_grid is spatial.knn_join_grid
        assert composite.knn_join_grid is not original
        assert composite.knn_join_grid.__wrapped__ is original
    finally:
        tracing.uninstall(undo)
    assert composite.knn_join_grid is original and spatial.knn_join_grid is original
