"""Execution audit log.

Reference: ``metadata.etl_audit_log`` + AuditLogger (audit_logger.py:25-285,
13 columns, STARTED/SUCCESS/ERROR rows keyed by uuid log_id/run_id).
Fixed here: non-destructive init (the reference drops the log on every
AuditLogger construction — SURVEY.md §4.3), LongType row counts (§2.14#9),
and query helpers built with the DataFrame API instead of f-string SQL
(§2.14#4). Every event is appended as soon as it is logged, one
single-row append per event, so a unit that dies mid-run still leaves
its STARTED row behind.
"""

from __future__ import annotations

import getpass
import threading
import time
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from metadata_driven_etl_spark.io.writer import TableFormat

AUDIT_SCHEMA = StructType(
    [
        StructField("log_id", StringType(), False),
        StructField("timestamp", TimestampType(), False),
        StructField("layer", StringType(), True),
        StructField("operation", StringType(), True),
        StructField("component", StringType(), True),
        StructField("source_id", StringType(), True),
        StructField("target_table", StringType(), True),
        StructField("status", StringType(), True),  # STARTED | SUCCESS | ERROR
        StructField("rows_processed", LongType(), True),
        StructField("error_message", StringType(), True),
        StructField("execution_time_seconds", DoubleType(), True),
        StructField("run_id", StringType(), True),
        StructField("user", StringType(), True),
    ]
)


def _now() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


class AuditLogger:
    def __init__(
        self,
        spark: SparkSession,
        table_format: TableFormat,
        table: str = "metadata.etl_audit_log",
        run_id: str | None = None,
    ):
        self.spark = spark
        self.fmt = table_format
        self.table = table
        self.run_id = run_id or str(uuid.uuid4())
        self._buffer: list[tuple] = []
        self._starts: dict[str, float] = {}
        # Serializes buffer access + table appends: units may log from
        # concurrent threads (pipeline max_parallel_units), and a parquet
        # append is not transactional under concurrency.
        self._lock = threading.RLock()
        try:
            self._user = getpass.getuser()
        except Exception:
            self._user = "unknown"
        if not self.fmt.table_exists(spark, table):
            self.fmt.overwrite(spark.createDataFrame([], AUDIT_SCHEMA), table)

    def _emit(self, **kw) -> str:
        log_id = str(uuid.uuid4())
        with self._lock:
            self._buffer.append(
                (
                    log_id,
                    _now(),
                    kw.get("layer"),
                    kw.get("operation"),
                    kw.get("component"),
                    kw.get("source_id"),
                    kw.get("target_table"),
                    kw.get("status"),
                    kw.get("rows_processed"),
                    kw.get("error_message"),
                    kw.get("execution_time_seconds"),
                    self.run_id,
                    self._user,
                )
            )
            self.flush()
        return log_id

    def flush(self) -> None:
        with self._lock:
            if not self._buffer:
                return
            df = self.spark.createDataFrame(self._buffer, AUDIT_SCHEMA)
            self.fmt.append(df, self.table)
            self._buffer.clear()

    # -- event API (reference audit_logger.py:76-217) -----------------------

    def log_start(self, layer: str, operation: str, component: str,
                  source_id: str | None = None, target_table: str | None = None) -> str:
        key = f"{layer}/{component}"
        self._starts[key] = time.perf_counter()
        return self._emit(
            layer=layer, operation=operation, component=component,
            source_id=source_id, target_table=target_table, status="STARTED",
        )

    def log_success(self, layer: str, operation: str, component: str,
                    rows_processed: int | None = None,
                    source_id: str | None = None,
                    target_table: str | None = None) -> str:
        elapsed = self._elapsed(layer, component)
        return self._emit(
            layer=layer, operation=operation, component=component,
            source_id=source_id, target_table=target_table, status="SUCCESS",
            rows_processed=rows_processed, execution_time_seconds=elapsed,
        )

    def log_error(self, layer: str, operation: str, component: str,
                  error: Exception | str,
                  source_id: str | None = None,
                  target_table: str | None = None) -> str:
        elapsed = self._elapsed(layer, component)
        return self._emit(
            layer=layer, operation=operation, component=component,
            source_id=source_id, target_table=target_table, status="ERROR",
            error_message=str(error)[:4000], execution_time_seconds=elapsed,
        )

    def _elapsed(self, layer: str, component: str) -> float | None:
        t0 = self._starts.pop(f"{layer}/{component}", None)
        return round(time.perf_counter() - t0, 3) if t0 is not None else None

    # -- query helpers (reference audit_logger.py:241-285) ------------------

    def recent(self, n: int = 100, layer: str | None = None) -> DataFrame:
        df = self.fmt.read(self.spark, self.table)
        if layer:
            df = df.filter(F.col("layer") == layer)
        # ORDER BY ts DESC LIMIT n → TakeOrderedAndProject (true top-k)
        return df.orderBy(F.desc("timestamp"), F.desc("log_id")).limit(n)

    def run_summary(self, run_id: str | None = None) -> DataFrame:
        df = self.fmt.read(self.spark, self.table).filter(
            F.col("run_id") == (run_id or self.run_id)
        )
        return df.groupBy("layer", "status").agg(
            F.count(F.lit(1)).alias("events"),
            F.sum("rows_processed").alias("rows"),
        )
