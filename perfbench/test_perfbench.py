"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs, tracing  # noqa: E402
from perfbench.layers import compute  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))

POOL = {
    f"q{i:02d}": {"module": inputs.QUERY_MODULES[i % 4], "warm_s": 0.05 * (i + 1)}
    for i in range(40)
}


def test_same_seed_same_inputs():
    assert inputs.cut_pool(7) == inputs.cut_pool(7)
    assert inputs.load_stream(7, 60) == inputs.load_stream(7, 60)
    assert inputs.export_stream(7, 30) == inputs.export_stream(7, 30)
    assert inputs.cut_stream(7) == inputs.cut_stream(7)
    assert inputs.query_sample(7, POOL) == inputs.query_sample(7, POOL)


def test_seed_varies_constants_not_shapes():
    pools = [inputs.cut_pool(s) for s in range(8)]
    assert len({json.dumps(p, sort_keys=True) for p in pools}) == 8
    for pool in pools:
        assert [c["from"] for c in pool] == [c["from"] for c in pools[0]]
    samples = {tuple(inputs.query_sample(s, POOL)) for s in range(20)}
    assert len(samples) > 1


def test_pool_spans_fixture_shapes_and_plans():
    from dbcut_spark.catalog import TPCH_CATALOG
    from dbcut_spark.plans.extraction import build_plan
    from dbcut_spark.queries import FIXTURES

    pool = inputs.cut_pool(3)
    assert len(pool) == len(inputs.SHAPES) == len(FIXTURES)
    assert set(inputs.SHAPES) == set(FIXTURES)
    for shape, cut in zip(inputs.SHAPES, pool):
        fixture = FIXTURES[shape]
        assert set(cut) == set(fixture), shape
        build_plan(TPCH_CATALOG, cut)
    assert any(c["limit"] == "no" for c in pool)
    assert any(isinstance(c.get("limit"), int) for c in pool)


def test_load_stream_is_skewed_with_repeats():
    stream = [k for k, _ in inputs.load_stream(1, len(inputs.LOAD_PATTERN))]
    assert set(stream) == set(range(len(inputs.SHAPES)))
    counts = [stream.count(k) for k in range(len(inputs.SHAPES))]
    assert counts[0] == max(counts) and counts[0] > 2 * min(counts)


def test_cut_stream_interleaves_loads_and_exports():
    stream = inputs.cut_stream(2)
    assert [kind for kind, _, _ in stream[:4]] == ["load", "json", "load", "sql"]
    assert stream[0][1] == 0  # the cold op is the deep closure_main load
    # a run's first dozen ops already reach an unbounded cut
    assert any(cut["limit"] == "no" for _, _, cut in stream[:12])


def test_query_sample_is_fixed_near_target_cost_in_seeded_order():
    sample = inputs.query_sample(5, POOL)
    assert len(set(sample)) == len(sample)
    k = len(inputs.QUERY_MODULES)
    modules = [POOL[n]["module"] for n in sample]
    assert sorted(modules[:k]) == sorted(inputs.QUERY_MODULES)
    assert modules == modules[:k] * inputs.QUERIES_PER_MODULE
    for n in sample:
        same = [m for m in POOL if POOL[m]["module"] == POOL[n]["module"]]
        nearer = [m for m in same if abs(POOL[m]["warm_s"] - inputs.QUERY_TARGET_S)
                  < abs(POOL[n]["warm_s"] - inputs.QUERY_TARGET_S)]
        assert len(nearer) < inputs.QUERIES_PER_MODULE
    for s in range(20):
        assert sorted(inputs.query_sample(s, POOL)) == sorted(sample)


def test_query_mix_latency_is_per_query_median(tmp_path):
    from perfbench.workloads import QueryMix

    wl = QueryMix(None, 3, str(tmp_path))
    assert wl.cold_ops == wl.warmup_ops == len(wl.sample)
    assert wl.round_ops == 3 * len(wl.sample)
    ops, op = [], 0
    for p, scale in enumerate((1.0, 9.0, 2.0)):  # a burst hits the second pass
        for i, name in enumerate(wl.sample):
            wl.ran[op] = name
            ops.append((op, scale * (i + 1), {}, None))
            op += 1
    assert wl.latencies(ops) == [2.0 * (i + 1) for i in range(len(wl.sample))]


def test_committed_query_pool_excludes_fixtures():
    with open(os.path.join(HERE, "query_pool.json")) as f:
        doc = json.load(f)
    pool = doc["queries"]
    for module in inputs.QUERY_MODULES:
        assert sum(q["module"] == module for q in pool.values()) >= inputs.QUERIES_PER_MODULE
    assert not [n for n in pool if n.startswith(("closure_", "backref_", "include_"))]
    assert {q["module"] for q in pool.values()} == set(inputs.QUERY_MODULES)
    excluded = {n for e in doc["excluded"].values() for n in e["names"]}
    assert not excluded & set(pool)
    from dbcut_spark.queries import ORACLES, QUERIES

    assert set(pool) <= set(QUERIES) and set(pool) <= set(ORACLES)


@pytest.mark.parametrize("n,q", [(5, 50.0), (19, 50.0), (20, 50.0), (40, 75.0), (100, 90.0), (1000, 99.0)])
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    assert tracing.tail_percentile(n) == q
    if n >= 20:
        values = list(range(n))
        cut = tracing.percentile(values, q)
        assert sum(v > cut for v in values) >= 10


def test_percentile_interpolates():
    assert tracing.percentile([1, 2, 3, 4], 50) == 2.5
    assert tracing.percentile([5], 90) == 5


def test_covered_and_self_time():
    assert tracing.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing.covered([(0, 2)], 1, 10) == 1
    spans = [
        tracing.Span(0, "op", 0, None, 0.0, 10.0),
        tracing.Span(1, "closure", 0, 0, 1.0, 4.0),
        tracing.Span(2, "sqldump", 0, 0, 3.0, 9.0),
        tracing.Span(3, "closure", 0, 2, 3.5, 5.0),
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10 - 8)
    assert st[2] == pytest.approx(6 - 1.5)


def test_tracer_tags_spans_and_restores_parent():
    class FakeSc:
        def __init__(self):
            self.calls = []

        def setLocalProperty(self, k, v):
            self.calls.append((k, v))

    sc = FakeSc()
    tr = tracing.Tracer(sc)
    with tr.span("op", op=4):
        with tr.span("closure") as inner:
            pass
    assert inner.op == 4 and inner.parent == 0
    assert [v for _, v in sc.calls] == ["0", "1", "0", None]


def test_event_log_parser_on_recorded_log():
    with open(os.path.join(HERE, "testdata", "tiny_eventlog.json")) as f:
        jobs = tracing.parse_event_log(f)
    assert [j.span for j in jobs] == [3, 3, None, None]
    assert [j.tasks for j in jobs] == [2, 1, 2, 1]
    assert all(j.stages == 1 and j.end >= j.start for j in jobs)
    # the shuffle the first job wrote is what the second one read
    assert jobs[0].shuffle_write_mb == pytest.approx(jobs[1].shuffle_read_mb)
    assert jobs[0].shuffle_write_mb > 0
    assert jobs[0].run_s == pytest.approx(0.909)


def test_layer_metrics_attribute_jobs_to_spans():
    class Ph:
        def __init__(self, ops, elapsed):
            self.ops, self.elapsed, self.cached_mb_peak = ops, elapsed, 0.0

        @property
        def ops_per_s(self):
            return len(self.ops) / self.elapsed

    spans = [
        tracing.Span(0, "op", 1, None, 100.0, 104.0),
        tracing.Span(1, "closure", 1, 0, 100.5, 101.0),
        tracing.Span(2, "insert_ignore", 1, 0, 101.0, 103.0),
    ]
    spans[1].facts = {}
    jobs = [
        tracing.JobStat(1, 100.6, 100.9, stages=1, tasks=4, run_s=1.0),
        tracing.JobStat(2, 101.0, 102.0, stages=2, tasks=8, run_s=3.0),
        tracing.JobStat(None, 150.0, 151.0, stages=1, tasks=1),  # a check job
    ]
    phase = Ph([(1, 4.0, {"rows_offered": 10, "rows_written": 4}, None)], 4.0)
    untraced = Ph([(0, 2.0, {}, None), (0, 2.0, {}, None)], 4.0)
    setups = [{"session": 9.0, "catalog": 0.1}, {"session": 1.0, "catalog": 0.1},
              {"session": 1.2, "catalog": 0.1}]
    m = compute(spans, jobs, phase, untraced, setups, {}, {})
    assert m["closure.jobs"][0] == 1 and m["insert_ignore.jobs"][0] == 1
    assert m["spark.jobs"][0] == 2 and m["spark.tasks"][0] == 12
    assert m["spark.executor_run_s"][0] == pytest.approx(4.0)
    assert m["driver.self_s"][0] == pytest.approx(4.0 - 1.3)
    assert m["insert_ignore.useful_frac"][0] == pytest.approx(0.4)
    assert m["session.start_s"][0] == 1.2 and m["session.first_start_s"][0] == 9.0
    assert m["trace.overhead_frac"][0] == pytest.approx(0.5)
    assert m["json_export.jobs"][0] == 0 and m["queries.jobs"][0] == 0


def test_benchmark_json_names_every_reported_metric():
    from perfbench.run import WORKLOAD_NAMES, end_to_end
    from perfbench.tracing import Span

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)

    class Ph:
        ops = [(1, 2.0, {}, None)]
        elapsed = 2.0
        ops_per_s = 0.5
        cached_mb_peak = 0.0

    setups = [{"session": 1.0, "catalog": 0.1, "total": 2.0}] * 3
    cold = [(0, 3.0, {}, None), (1, 1.0, {}, None), (2, 9.0, {}, None)]
    e2e, _ = end_to_end(setups, cold, [2.0, 1.0, 1.0], 100.0)
    assert e2e["cold_op_s"][0] == 13.0 / 3
    assert e2e["ops_per_s"][0] == 0.75 and e2e["latency_p50_s"][0] == 1.0
    assert [m["name"] for m in bench["end_to_end"]] == list(e2e)
    assert all(bench["end_to_end"][i]["unit"] == u for i, (_, u) in enumerate(e2e.values()))
    layer = compute([Span(0, "op", 1, None, 0.0, 2.0)], [], Ph, Ph, setups, {}, {})
    assert [m["name"] for m in bench["per_layer"]] == list(layer)
    assert all(bench["per_layer"][i]["unit"] == u for i, (_, u) in enumerate(layer.values()))
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOAD_NAMES)
