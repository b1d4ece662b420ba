"""Tests for the benchmark's own code: seeded inputs, the tail rule, span
self time and event-log accounting. They need no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import datagen  # noqa: E402
from perfbench.trace import EventLog, Span, tail, self_times  # noqa: E402
from perfbench.workloads import POOLS_PATH, quantile_sample  # noqa: E402

SMALL = datagen.Scale(sf=0.0002, n_documents=60, n_embeddings=40)


def _arrivals(seed: int) -> datagen.Arrivals:
    rng_e, rng_d = np.random.default_rng(seed), np.random.default_rng(seed + 1)
    span_s = 5 * 86400
    events = datagen.events_table(rng_e, 2000, span_s)
    docs = datagen.documents_table(rng_d, 50)
    return datagen.Arrivals(seed, events, docs, 5, span_s)


def _rows(tables) -> int:
    return sum(t.num_rows for t in tables)


def test_same_seed_same_tables_and_arrivals():
    a, b = datagen.make_tables(7, SMALL), datagen.make_tables(7, SMALL)
    assert all(a[n].equals(b[n]) for n in a)
    x, y = _arrivals(7), _arrivals(7)
    assert all(p.equals(q) for p, q in zip(x.events + x.documents, y.events + y.documents))


def test_other_seed_changes_inputs_not_row_counts():
    a, b = datagen.make_tables(7, SMALL), datagen.make_tables(8, SMALL)
    assert {n: t.num_rows for n, t in a.items()} == {n: t.num_rows for n, t in b.items()} == SMALL.row_counts()
    assert not a["lineitem"].equals(b["lineitem"])
    assert not a["documents"].equals(b["documents"])
    x, y = _arrivals(7), _arrivals(8)
    assert _rows(x.events) == _rows(y.events) and _rows(x.documents) == _rows(y.documents)
    assert any(not p.equals(q) for p, q in zip(x.events, y.events))


def test_arrivals_keep_late_and_resent_rows_inside_the_horizon():
    arr = _arrivals(3)
    day_us = 86400 * 1_000_000
    start_us = int(pa.scalar(datagen.EVENTS_START, pa.timestamp("us")).value)
    late_or_resent = 0
    for k, t in enumerate(arr.events):
        ts = t.column("ts").cast(pa.int64()).to_pylist()
        for v in ts:
            slice_k = (v - start_us) // day_us
            assert slice_k in (k, k - 1)
            if slice_k == k - 1:
                late_or_resent += 1
                assert (v - start_us) >= k * day_us - 1800 * 1_000_000
    assert late_or_resent > 0
    ids = [i for t in arr.events for i in t.column("event_id").to_pylist()]
    assert len(ids) > len(set(ids)) == 2000


def test_query_list_is_seeded_order_of_cost_quantiles():
    pool = {f"q{i:02d}": float(i) for i in range(40)}
    assert quantile_sample(pool, 8, 1) == quantile_sample(pool, 8, 1)
    assert quantile_sample(pool, 8, 1) != quantile_sample(pool, 8, 2)
    assert sorted(quantile_sample(pool, 8, 1)) == sorted(quantile_sample(pool, 8, 2))
    assert sorted(pool[n] for n in quantile_sample(pool, 8, 3)) == [2.0 + 5 * i for i in range(8)]
    with pytest.raises(ValueError):
        quantile_sample(pool, 41, 1)


def test_pools_file_names_registry_queries():
    with open(POOLS_PATH) as fh:
        pools = json.load(fh)
    assert len(pools["sql_short"]) >= 16 and not pools["failed"]


def test_tail_needs_ten_samples_beyond():
    value, pct, n = tail([float(i) for i in range(1, 101)])
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(1 for x in range(1, 101) if x > value) == 10
    value, pct, n = tail([5.0] * 3 + [1.0] * 20)
    assert n == 23 and pct == pytest.approx(100 * 13 / 23) and value == 1.0
    # below 20 samples the rule's percentile is under the median: report the max
    assert tail([float(i) for i in range(19)]) == (18.0, 100.0, 19)
    assert tail([float(i) for i in range(20)]) == (9.0, 50.0, 20)


def test_self_time_from_hand_built_tree():
    spans = [
        Span(0, "op", 1, None, 0.0, 10.0),
        Span(1, "plans.fn", 1, 0, 1.0, 5.0),
        Span(2, "catalog.table", 1, 1, 1.5, 2.5),
        Span(3, "catalog.table", 1, 1, 2.0, 3.0),  # overlaps its sibling
        Span(4, "plans.action", 1, 0, 6.0, 9.0),
        Span(5, "outside", 1, 4, 8.5, 11.0),  # runs past its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 3)
    assert st[1] == pytest.approx(4 - 1.5)
    assert st[2] == pytest.approx(1.0) and st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3 - 0.5)


def test_event_log_task_and_python_row_accounting(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1]},
        {
            "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "sparkPlanInfo": {
                "nodeName": "WholeStageCodegen",
                "metrics": [{"name": "number of output rows", "accumulatorId": 7}],
                "children": [
                    {"nodeName": "MapInPandas", "metrics": [{"name": "number of output rows", "accumulatorId": 9}]}
                ],
            },
        },
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 1,
            "Task Info": {
                "Launch Time": 1000,
                "Finish Time": 1100,
                "Getting Result Time": 0,
                "Accumulables": [{"ID": 9, "Update": 42}, {"ID": 7, "Update": 5}],
            },
            "Task Metrics": {
                "Executor Run Time": 60,
                "Executor CPU Time": 50_000_000,
                "Executor Deserialize Time": 10,
                "Result Serialization Time": 5,
                "JVM GC Time": 3,
                "Memory Bytes Spilled": 0,
                "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 100},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 200},
            },
        },
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = EventLog(str(tmp_path))
    tasks = log.tasks_of([0])
    assert len(tasks) == 1 and tasks[0].scheduler_delay_ms == 100 - 60 - 10 - 5
    assert tasks[0].shuffle_read == 100 and tasks[0].shuffle_write == 200
    assert log.python_rows(tasks) == 42


def test_reported_metrics_match_benchmark_json(tmp_path):
    from perfbench.layers import layer_metrics
    from perfbench.run import end_to_end

    with open(os.path.join(os.path.dirname(POOLS_PATH), "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    passes = [{"wall_s": 2.0, "ops": [("q1", 1.0, True), ("q2", 0.5, True)]}]
    metrics, _notes = end_to_end(10.0, passes, 80.0)
    assert {k: u for k, (_v, u) in metrics.items()} == {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers, by_output = layer_metrics([], str(tmp_path), passes, 4)
    assert by_output == {}
    assert {k: u for k, (_v, u) in layers.items()} == {m["name"]: m["unit"] for m in spec["per_layer"]}


def test_end_to_end_counts_each_operation_at_its_fastest_repetition():
    from perfbench.run import end_to_end

    passes = [
        {"wall_s": 3.0, "ops": [("a", 1.0, True), ("b", 2.0, True), ("c", 3.0, False)]},
        {"wall_s": 2.0, "ops": [("a", 0.5, True), ("b", 2.5, True), ("c", 1.0, True)]},
    ]
    metrics, notes = end_to_end(5.0, passes, 64.0)
    assert metrics["wall_s"][0] == 2.0
    assert metrics["latency_p50_s"][0] == 1.0  # median of a=0.5, c=1.0, b=2.0
    assert metrics["latency_tail_s"][0] == 2.0 and notes["latency_tail_percentile"] == 100.0
    assert metrics["ok_frac"][0] == pytest.approx(5 / 6)
    assert notes["latency_samples"] == 3 and notes["repetitions_per_operation"] == 2


def test_tracer_nests_spans_and_rebinds_module_attributes(monkeypatch):
    import types

    from perfbench.trace import Tracer, rebind

    def original():
        return 1

    mod = types.ModuleType("fake_engine.part")
    mod.fn = original
    monkeypatch.setitem(sys.modules, "fake_engine.part", mod)
    assert rebind(original, len, module_prefix="fake_engine") == [(mod, "fn")] and mod.fn is len

    tracer = Tracer(True)
    with tracer.span("op", op=tracer.new_op()):
        with tracer.span("plans.fn"):
            pass
    with tracer.span("pass"):
        pass
    (op, fn, other) = tracer.spans
    assert (fn.parent, fn.op) == (op.id, op.op) == (0, 1)
    assert (other.parent, other.op) == (None, 0)
