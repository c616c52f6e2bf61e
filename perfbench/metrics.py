"""Metric names, units and how each is computed from a run.

End-to-end metrics are what a user of the engine sees, measured with
tracing off. An operation is a pipeline unit (``etl_full_refresh``), a run
date (``etl_replay``) or a query (``query_mix``). Per-layer metrics come
from one traced iteration; the layers are the engine's modules plus
Spark's status store as ``spark``.
"""

from __future__ import annotations

import re
import statistics

from perfbench.trace import (
    IO_CALLS,
    METADATA_CALLS,
    OPERATOR_MODULES,
    PIPELINE_LAYERS,
    SPARK_COUNTERS,
)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

END_TO_END: dict[str, str] = {
    "setup_s": "s",  # session start + median input generation + warm-up/initial load
    "wall_s": "s",  # median wall time of one timed iteration
    "op_p50_s": "s",  # median over operations of each one's median time
    "rows_per_s": "1/s",  # input rows per wall second
    "ops_ok_frac": "ratio",  # operations that succeeded / attempted
    "peak_rss_mb": "MB",  # peak resident memory, Spark JVM + Python
    "footprint_per_input_byte": "ratio",  # (input + warehouse bytes) / input bytes
}


def _per_layer_units() -> dict[str, str]:
    units: dict[str, str] = {}
    for call in METADATA_CALLS:
        units |= {
            f"metadata.{call}.calls": "count",
            f"metadata.{call}.s": "s",
            f"metadata.{call}.jobs": "count",
        }
    units |= {"metadata.share": "ratio", "metadata.files": "count", "metadata.bytes": "bytes"}
    for op in IO_CALLS:
        units |= {f"io.{op}.calls": "count", f"io.{op}.s": "s"}
    units |= {"io.data_write.s": "s", "io.meta_write.s": "s"}
    for db in PIPELINE_LAYERS:
        units |= {f"io.files_written.{db}": "count", f"io.bytes_written.{db}": "bytes"}
    units |= {
        "dq.apply.calls": "count", "dq.apply.s": "s",
        "sources.read_file_source.calls": "count", "sources.read_file_source.s": "s",
    }
    for layer in PIPELINE_LAYERS:
        units[f"plans.{layer}.s"] = "s"
    units |= {"plans.units": "count", "plans.self_s": "s"}
    units |= {"workloads.build_s": "s", "workloads.build_jobs": "count"}
    for mod in OPERATOR_MODULES:
        units |= {
            f"operators.{mod}.calls": "count",
            f"operators.{mod}.s": "s",
            f"operators.{mod}.jobs": "count",
        }
    units |= {"catalog.load_table.calls": "count", "catalog.load_table.s": "s"}
    for k in SPARK_COUNTERS:
        units[f"spark.{k}"] = "s" if k.endswith("_s") else (
            "bytes" if k.endswith("_bytes") else "count"
        )
    units |= {
        "session.start_s": "s",
        "trace.wall_s": "s",  # the traced iteration's wall time
        "trace.overhead_frac": "ratio",  # tracer's own time / trace.wall_s
    }
    return units


PER_LAYER: dict[str, str] = _per_layer_units()


def end_to_end(iterations, *, setup_s, peak_rss_mb, input_bytes, stored_bytes) -> dict:
    per_op: dict[str, list[float]] = {}
    for it in iterations:
        for name, seconds, _ in it.ops:
            per_op.setdefault(name, []).append(seconds)
    ops = [op for it in iterations for op in it.ops]
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(it.wall_s for it in iterations),
        "op_p50_s": statistics.median(statistics.median(v) for v in per_op.values()),
        "rows_per_s": statistics.median(it.input_rows / it.wall_s for it in iterations),
        "ops_ok_frac": sum(1 for *_, ok in ops if ok) / len(ops),
        "peak_rss_mb": peak_rss_mb,
        "footprint_per_input_byte": (input_bytes + stored_bytes) / input_bytes,
    }


def per_layer(
    layer: dict, *, session_s, units, written, metadata_store, trace_wall_s, overhead
) -> dict:
    values = dict.fromkeys(PER_LAYER, 0.0)
    values.update({k: v for k, v in layer.items() if k in values})
    for db, (files, size) in written.items():
        if db in PIPELINE_LAYERS:
            values[f"io.files_written.{db}"] = files
            values[f"io.bytes_written.{db}"] = size
    values["metadata.files"], values["metadata.bytes"] = metadata_store
    values["plans.units"] = units
    values["session.start_s"] = session_s
    values["trace.wall_s"] = trace_wall_s
    values["trace.overhead_frac"] = overhead
    return values


def with_units(values: dict, units: dict[str, str]) -> dict:
    missing = set(units) - set(values)
    if missing:
        raise ValueError(f"metrics not computed: {sorted(missing)}")
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}
