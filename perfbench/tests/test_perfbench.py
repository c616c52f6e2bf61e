"""The benchmark's own tests: input generation, span arithmetic and metric
names. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime
import json
import os

import pyarrow.parquet as pq
import pytest

from perfbench import datagen, metrics, oracle, trace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def _read(inputs, table):
    return pq.read_table(inputs.path(table))


def _generate(tmp_path, name, seed, **kw):
    return datagen.generate(str(tmp_path / name), seed, 0.02, **kw)


def test_same_seed_gives_identical_inputs(tmp_path):
    a = _generate(tmp_path, "a", 7)
    b = _generate(tmp_path, "b", 7)
    for table in datagen.TABLES:
        assert _read(a, table).equals(_read(b, table)), table


def test_other_seed_keeps_row_counts_and_unique_keys(tmp_path):
    a = _generate(tmp_path, "a", 7)
    b = _generate(tmp_path, "b", 8)
    assert a.rows == b.rows == datagen.row_counts(0.02)
    assert not _read(a, "orders").equals(_read(b, "orders"))
    for inputs in (a, b):
        for table, cols in KEYS.items():
            keys = _read(inputs, table).select(cols).to_pylist()
            assert len({tuple(k.values()) for k in keys}) == inputs.rows[table], table


def test_foreign_keys_resolve_and_days_are_balanced(tmp_path):
    inputs = _generate(tmp_path, "a", 3)
    orders = _read(inputs, "orders").to_pydict()
    lineitem = _read(inputs, "lineitem").to_pydict()
    assert set(lineitem["l_orderkey"]) <= set(orders["o_orderkey"])
    assert max(orders["o_custkey"]) < inputs.rows["customer"]
    assert max(lineitem["l_partkey"]) < inputs.rows["part"]
    per_day: dict = {}
    for d in orders["o_orderdate"]:
        per_day[d] = per_day.get(d, 0) + 1
    assert max(per_day.values()) - min(per_day.values()) <= 1


def test_a_table_does_not_depend_on_which_others_are_generated(tmp_path):
    alone = _generate(tmp_path, "a", 5, tables=("orders",))
    full = _generate(tmp_path, "b", 5)
    assert list(alone.rows) == ["orders"]
    assert _read(alone, "orders").equals(_read(full, "orders"))


def test_table_comparison_tolerates_summation_order_only():
    day = datetime.date(2001, 7, 2)
    mine = [(day, "1-URGENT", 3, 0.1 + 0.2), (day, "2-HIGH", 1, 5.0)]
    assert oracle.tables_match(mine, [(day, "2-HIGH", 1, 5.0), (day, "1-URGENT", 3, 0.3)])
    assert not oracle.tables_match(mine, [(day, "1-URGENT", 3, 0.31), (day, "2-HIGH", 1, 5.0)])
    assert not oracle.tables_match(mine, [(day, "1-URGENT", 4, 0.3), (day, "2-HIGH", 1, 5.0)])
    assert not oracle.tables_match(mine, mine[:1])


def _span(i, parent, start, end, name="plans.bronze"):
    return trace.Span(i, name, name.split(".")[0], parent, start, end)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0, "metadata.audit.flush"),
        _span(3, 1, 3.0, 5.0, "io.append"),  # overlaps span 2 by 1s
        _span(4, 2, 1.5, 2.0, "io.append"),  # grandchild: not span 1's child
        _span(5, 1, 8.0, 9.0, "dq.apply"),
    ]
    own = trace.self_times(spans)
    assert own[1] == pytest.approx(10.0 - (4.0 + 1.0))  # union [1,5] + [8,9]
    assert own[2] == pytest.approx(3.0 - 0.5)
    assert own[3] == pytest.approx(2.0)
    assert own[4] == pytest.approx(0.5)


def test_layer_metrics_split_writes_by_calling_span():
    spans = [
        _span(1, None, 0.0, 10.0, "plans.silver"),
        _span(2, 1, 1.0, 3.0, "metadata.control.update_run"),
        _span(3, 2, 1.5, 2.5, "io.merge"),
        _span(4, 3, 2.0, 2.4, "io.overwrite"),  # inside merge: not counted again
        _span(5, 1, 4.0, 7.0, "io.overwrite_partitions"),
    ]
    spans[2].jobs.append(dict.fromkeys(trace.SPARK_COUNTERS, 1))
    m = trace.layer_metrics(spans, wall_s=10.0)
    assert m["io.meta_write.s"] == pytest.approx(1.0)
    assert m["io.data_write.s"] == pytest.approx(3.0)
    assert m["io.merge.calls"] == 1 and "io.overwrite.calls" not in m
    assert m["metadata.control.update_run.jobs"] == 1
    assert m["metadata.share"] == pytest.approx(0.2)
    assert m["plans.self_s"] == pytest.approx(10.0 - 2.0 - 3.0)
    assert m["spark.jobs"] == 1


def test_metric_names_and_units_are_well_formed():
    for table in (metrics.END_TO_END, metrics.PER_LAYER):
        for name, unit in table.items():
            assert metrics.NAME.match(name), name
            assert metrics.UNIT.match(unit), (name, unit)
    assert not set(metrics.END_TO_END) & set(metrics.PER_LAYER)
    assert len(metrics.PER_LAYER) <= 128


def test_every_metric_is_emitted_with_its_unit():
    values = metrics.per_layer(
        {"metadata.share": 0.5},
        session_s=1.0, units=3, written={"bronze": (2, 10)},
        metadata_store=(4, 40), trace_wall_s=2.0, overhead=0.01,
    )
    out = metrics.with_units(values, metrics.PER_LAYER)
    assert list(out) == list(metrics.PER_LAYER)
    assert all(set(v) == {"value", "unit"} for v in out.values())
    with pytest.raises(ValueError):
        metrics.with_units({}, metrics.END_TO_END)


def test_benchmark_json_matches_the_code():
    from perfbench import scenarios

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(scenarios.WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
