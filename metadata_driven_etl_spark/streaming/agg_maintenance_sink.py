"""Streaming incremental view maintenance: a CDC change stream keeps a
grouped COUNT/SUM aggregate table current without ever re-aggregating
the underlying corpus.

The streaming composition of ``operators.merge.incremental_agg_update``
(which consumes snapshot PAIRS): here the deltas arrive pre-identified
as CDC rows — ``op_col`` ∈ {"insert", "delete"}, with an update modeled
as a delete of the old image plus an insert of the new one (the standard
before/after decomposition CDC feeds emit). Each micro-batch maps op →
±1 weight and applies the signed per-group delta to the persisted
aggregate via the shared :func:`operators.merge.apply_signed_delta`
core, then overwrites the (small — it is aggregate state, not the
corpus) table. Per-batch cost scales with the CHANGE rate; the corpus is
never touched.

Exactly-once notes: the overwrite is not idempotent against replay (a
re-applied batch would double-count), so every written row carries the
applying ``_batch_id`` and a replayed batch whose stamp already landed
is skipped. A torn overwrite (crash mid-write) is the parquet fallback's
residual risk, as elsewhere in the engine — a transactional table format
(Delta, through the same ``TableFormat`` seam) subsumes it.

Contract guards are loud: a batch containing an op value outside
{insert, delete} raises rather than silently dropping rows, and float
measure columns are rejected up front — float sums are order-sensitive,
so the maintained aggregate could drift from a rescan (use long/decimal
measures; see functions/__init__.py for the exact-sum discipline).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metadata_driven_etl_spark.io.writer import TableFormat
from metadata_driven_etl_spark.materialize import materialize
from metadata_driven_etl_spark.operators.merge import apply_signed_delta
from metadata_driven_etl_spark.streaming.sink import refresh_owner_tables

_OPS = ("insert", "delete")


class CheckpointTableMismatchError(RuntimeError):
    """The aggregate table carries a _batch_id AHEAD of the stream's next
    batch — a fresh/reset checkpoint was pointed at an already-maintained
    table, so silently skipping would discard genuinely new change data."""


def agg_maintenance_stream(
    stream_df: DataFrame,
    agg_table: str,
    table_format: TableFormat,
    checkpoint_dir: str,
    group_keys: Sequence[str],
    sum_cols: dict[str, str],
    count_col: str = "n_rows",
    op_col: str = "op",
    trigger_available_now: bool = True,
):
    """Start a streaming query maintaining ``agg_table`` from a CDC stream.

    Returns the StreamingQuery (caller awaits/stops). ``agg_table`` is
    created by the first batch; pre-seed it by writing the batch
    aggregate with a ``_batch_id`` column of NULLs (null-safe guards keep
    seed rows live).
    """
    gks = list(group_keys)
    for alias, src in sum_cols.items():
        dt = stream_df.schema[src].dataType.simpleString()
        if dt in ("float", "double"):
            raise TypeError(
                f"measure {src!r} (→ {alias!r}) is {dt}: float sums are "
                "order-sensitive and would drift from a full rescan — "
                "cast to long/decimal first (functions/__init__.py)"
            )
    owner = stream_df.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # op → ±1 inline, NULL-safe and loud: any value outside
        # {insert, delete} (NULL included) raises from raise_error during
        # evaluation — no separate validation job over the batch.
        signed = batch_df.withColumn(
            "__sign",
            F.when(F.col(op_col) == "insert", F.lit(1))
            .when(F.col(op_col) == "delete", F.lit(-1))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"invalid CDC op (expected one of {_OPS}; "
                            "model updates as delete(old)+insert(new) "
                            "rows): "
                        ),
                        F.coalesce(
                            F.col(op_col).cast("string"), F.lit("NULL")
                        ),
                    )
                ).cast("int")
            )
            .cast("long"),
        )
        if table_format.table_exists(spark, agg_table):
            current = spark.table(agg_table)
            if "_batch_id" in current.columns:
                # seed rows carry a NULL stamp; max() ignores them
                stamp = current.agg(F.max("_batch_id")).first()[0]
                if stamp is not None:
                    if stamp == batch_id:
                        return  # replay of an already-landed overwrite
                    if stamp > batch_id:
                        # genuine replay always has stamp == batch_id —
                        # ahead means a reset checkpoint on a maintained
                        # table; skipping would silently drop NEW deltas
                        raise CheckpointTableMismatchError(
                            f"{agg_table} is stamped _batch_id={stamp} "
                            f"but the stream is at batch {batch_id}; "
                            "resume from the original checkpoint or "
                            "re-seed the table"
                        )
                base = current.drop("_batch_id")
            else:
                base = current  # legacy/pre-seeded unstamped table
        else:
            # first batch: empty aggregate with the output schema
            base = signed.limit(0).groupBy(*gks).agg(
                F.sum("__sign").alias(count_col),
                *[
                    F.sum(F.col(src)).alias(alias)
                    for alias, src in sum_cols.items()
                ],
            )
        updated = apply_signed_delta(
            base, signed, group_keys=gks, sum_cols=sum_cols,
            count_col=count_col,
        ).withColumn("_batch_id", F.lit(batch_id))
        # materialize BEFORE the overwrite: the plan reads the same table
        # it is about to replace (read-overwrite hazard), and the state is
        # aggregate-sized, not corpus-sized
        updated = materialize(updated, eager=True)
        table_format.overwrite(updated, agg_table)
        refresh_owner_tables(owner, agg_table)

    writer = (
        stream_df.writeStream.foreachBatch(apply_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
