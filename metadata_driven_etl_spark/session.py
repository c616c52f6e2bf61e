"""SparkSession factory with scale-appropriate defaults.

The reference pins ``spark.sql.shuffle.partitions=200`` per layer from YAML
(reference src/config/bronze_config.yaml:44-46) and relies on Delta session
extensions (reference scripts/run_etl_pipeline.py:91-97). Here the defaults
are AQE-first: adaptive query execution re-plans shuffle partition counts,
converts sort-merge joins to broadcast at runtime, and splits skewed
partitions — the right posture for anything from local[32] to a
1000-executor cluster. User config can still override any conf
(``spark_conf`` block, applied by the pipeline runner).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the 100 TB posture; every one of these is overridable.
_DEFAULT_CONF: dict[str, str] = {
    # Determinism / oracle parity: DuckDB timestamps are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and sort-merge→broadcast conversion. This subsumes the
    # reference's static shuffle.partitions=200 tuning.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Starting point before AQE coalesces; sized to cores locally. On a real
    # cluster this should be ~2-3× total cores (runner exposes it in config).
    "spark.sql.shuffle.partitions": str(os.cpu_count() or 8),
    # Allow shuffled-hash joins where the planner's size conditions fit
    # (guide §3.1/§9): SMJ pays a sort on both sides that a per-partition
    # hash build skips; the planner (and AQE) still picks SMJ/broadcast
    # when SHJ's build-side conditions don't hold, so spill safety is
    # size-guarded. Measured r12 at sf0.1 local[32]: tpch_q21 2.8→1.9s,
    # q18 1.7→1.3s, q9 1.7→1.5s, with ≤0.1s movement on joins where the
    # strategy didn't change; full-suite bench validated net-positive.
    "spark.sql.join.preferSortMergeJoin": "false",
    # Arrow for any pandas interchange (Pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Push MIN/MAX/COUNT aggregates into the parquet footer read when legal.
    "spark.sql.parquet.aggregatePushdown": "true",
    # Partition-file sizing: 128m keeps per-task input bounded at any SF.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # ...but never let a SMALL input under-parallelize: split file scans to
    # at least cluster parallelism (a 50 MB table otherwise scans as 3 tasks
    # and every downstream partial agg runs on 3 of N cores). At 100 TB the
    # 128m cap dominates and this floor is a no-op.
    "spark.sql.files.minPartitionNum": str(os.cpu_count() or 8),
    # Parquet TIMESTAMP(NANOS) (e.g. the events table) is unreadable by the
    # vectorized reader otherwise; read as long, catalog normalizes to µs.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet timestamps without isAdjustedToUTC otherwise surface as
    # TIMESTAMP_NTZ, which breaks epoch arithmetic (unix_micros) and
    # diverges from the DuckDB oracle's plain-TIMESTAMP comparisons. With a
    # UTC session the LTZ reading has identical wall-clock values.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def get_spark(
    app_name: str = "metadata-driven-etl-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied.

    ``extra_conf`` wins over defaults; ``master`` is only set when given so a
    cluster-provided master (spark-submit) is honored.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_local_spark(cpus: int | None = None, **kwargs) -> SparkSession:
    """Local-mode session used by tests and bench.py: ``local[cpus]``,
    else ``local[$SPARK_GRAFT_CPUS]``, else one thread per host core (also
    when the variable is not a positive integer)."""
    try:
        n = cpus or int(os.environ["SPARK_GRAFT_CPUS"])
    except (KeyError, ValueError):
        n = 0
    if n < 1:
        n = os.cpu_count() or 8
    return get_spark(master=f"local[{n}]", **kwargs)
