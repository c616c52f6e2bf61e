"""TableFormat seam: managed-table reads/writes behind one interface.

The reference hard-wires Delta (saveAsTable everywhere, e.g. reference
bronze_layer.py:135-137, silver_layer.py:148-150) and passes ``partitionBy``
through ``.options()`` — which DataFrameWriter silently ignores, so its
tables end up unpartitioned despite config (SURVEY.md §2.14#3). This seam

- fixes partitioning (a real ``.partitionBy()``),
- makes Delta optional: ``DeltaFormat`` when delta jars are present,
  ``ParquetFormat`` otherwise (this harness has no Delta), selected by
  ``get_table_format``,
- gives MERGE/upsert one implementation point (Delta's native MERGE vs the
  relational emulation in operators.merge).

Scale notes: ``overwrite_partitions`` uses dynamic partition overwrite —
an incremental run only rewrites the partitions it produced, never the
table history (fixes the reference's silent history loss, §2.14#7).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_driven_etl_spark.materialize import materialize


def range_cluster(
    df: DataFrame, layout_cols: Sequence[str], num_files: int
) -> DataFrame:
    """The ONE range-clustered layout recipe (shared by the write path and
    ``ddl.optimize_layout``): range-partition on ``layout_cols``, sort
    within each output file, so every file covers a disjoint key range
    and parquet footer min/max stats can skip whole files."""
    return df.repartitionByRange(num_files, *layout_cols).sortWithinPartitions(
        *layout_cols
    )


def z_value(
    df: DataFrame, cols: Sequence[str], bits: int = 12,
    bucketing: str = "linear",
) -> DataFrame:
    """Append a ``__z`` column: the bit-interleaved Morton (Z-order)
    code of ``cols`` — all JVM built-ins, no UDF.

    Each column is bucketed into ``[0, 2^bits)``, then the bucket bits
    are interleaved (``z = Σ_b Σ_i ((c_i >> b) & 1) << (b·n + i)``).
    Sorting by ``__z`` clusters rows so every contiguous run covers a
    small HYPER-RECTANGLE of the key space — unlike lexicographic
    multi-column sort, where every trailing column spans its full domain
    within each leading-key run.

    ``bucketing``:
    - ``"linear"`` (default): linear against the observed min/max (one
      tiny aggregate broadcast back). Deterministic and single-pass;
      heavily skewed columns collapse most rows into few buckets,
      wasting interleave bits.
    - ``"quantile"``: bucket boundaries from an ``approx_percentile``
      sketch (still ONE aggregate pass, mergeable map-side) — every
      bucket holds ~equal row mass regardless of skew, so files stay
      balanced and per-file min/max ranges stay tight on skewed columns
      (a Zipfian id column gets the same skipping power as a uniform
      one). Per-row bucketing is a codegen fold over the 2^bits-1
      boundaries, so this mode requires ``bits <= 8`` (256 buckets —
      ample for file-level skipping; files per bucket, not rows, bound
      the win).
    """
    n = len(cols)
    if n == 0:
        raise ValueError("z_value needs at least one column")
    if n * bits > 63:
        # Java << masks the shift mod 64: positions >= 64 would silently
        # wrap onto low bits (corrupt interleave), and bit 63 is the long
        # sign bit (inverts the sort of the most significant Morton bit).
        raise ValueError(
            f"z_value: {n} columns x {bits} bits = {n * bits} interleaved "
            "bits exceeds the 63 usable bits of a long — lower `bits` "
            f"(max {63 // n} for {n} columns)"
        )
    from pyspark.sql.types import DateType, NumericType, TimestampType

    casted: list = []
    for c in cols:
        dtype = df.schema[c].dataType
        if isinstance(dtype, NumericType):
            casted.append(F.col(c).cast("double"))
        elif isinstance(dtype, (DateType, TimestampType)):
            casted.append(F.col(c).cast("timestamp").cast("double"))
        else:
            # cast('double') on strings yields NULL -> every row bucket 0,
            # the column silently contributes nothing; fail loudly instead.
            raise ValueError(
                f"z_value: column {c!r} has non-orderable-numeric type "
                f"{dtype.simpleString()}; derive a numeric proxy first "
                "(e.g. xxhash64 for equality-only predicates — hash "
                "buckets keep point-lookup file skipping but not ranges)"
            )
    if bucketing not in ("linear", "quantile"):
        raise ValueError(
            f"z_value: bucketing must be 'linear' or 'quantile', got "
            f"{bucketing!r}"
        )
    hi = (1 << bits) - 1
    reserved = {
        "__z",
        *(f"__min_{i}" for i in range(n)),
        *(f"__max_{i}" for i in range(n)),
        *(f"__qb_{i}" for i in range(n)),
    }
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(f"z_value: input already has reserved columns {sorted(clash)}")
    if bucketing == "quantile":
        if bits > 8:
            raise ValueError(
                f"z_value: quantile bucketing folds over 2^bits-1 "
                f"boundaries per row per column — bits={bits} is too "
                "costly; use bits <= 8 (256 buckets)"
            )
        qs = [i / (hi + 1) for i in range(1, hi + 1)]
        stats = df.agg(
            *[
                F.percentile_approx(e, qs, 10000).alias(f"__qb_{i}")
                for i, e in enumerate(casted)
            ]
        )
        out = df.crossJoin(F.broadcast(stats))
        def _rank_in(boundaries: str, e):
            # bucket = #boundaries <= value: equal-mass bins under skew
            return F.aggregate(
                F.col(boundaries),
                F.lit(0).cast("long"),
                lambda acc, b: acc
                + F.when(b <= e, F.lit(1)).otherwise(F.lit(0)),
            )

        # NULL policy (both modes): NULL values land in bucket 0 — they
        # cluster with the minimum, keeping __z non-null so writes
        # partitioned/sorted on it never spawn a null partition. Made
        # explicit here (the fold already yields 0 for NULL because
        # `b <= NULL` is NULL -> otherwise(0)) so the two modes can't
        # silently diverge again.
        buckets = [
            F.when(e.isNull(), F.lit(0).cast("long")).otherwise(
                _rank_in(f"__qb_{i}", e)
            )
            for i, e in enumerate(casted)
        ]
        drop_cols = [f"__qb_{i}" for i in range(n)]
    else:
        stats = df.agg(
            *[F.min(e).alias(f"__min_{i}") for i, e in enumerate(casted)],
            *[F.max(e).alias(f"__max_{i}") for i, e in enumerate(casted)],
        )
        out = df.crossJoin(F.broadcast(stats))
        buckets = []
        for i, e in enumerate(casted):
            span = F.col(f"__max_{i}") - F.col(f"__min_{i}")
            frac = F.when(span > 0, (e - F.col(f"__min_{i}")) / span).otherwise(F.lit(0.0))
            # Same NULL policy as quantile mode: NULL -> bucket 0
            # (without the guard, NULL propagates through frac/floor to
            # a NULL __z and the two modes cluster NULLs differently).
            buckets.append(
                F.when(e.isNull(), F.lit(0).cast("long")).otherwise(
                    F.least(F.floor(frac * (hi + 1)).cast("long"), F.lit(hi))
                )
            )
        drop_cols = [f"__min_{i}" for i in range(n)] + [
            f"__max_{i}" for i in range(n)
        ]
    zparts = []
    for i, bucket in enumerate(buckets):
        for b in range(bits):
            zparts.append(
                F.shiftleft(
                    F.shiftright(bucket, b).bitwiseAND(F.lit(1)).cast("long"),
                    b * n + i,
                )
            )
    z = zparts[0]
    for p in zparts[1:]:
        z = z.bitwiseOR(p)
    return out.withColumn("__z", z).drop(*drop_cols)


def _ensure_database(spark: SparkSession, table: str) -> None:
    if "." in table:
        db = table.split(".")[0]
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")


class TableFormat:
    """Base: catalog-managed tables via saveAsTable in a given format."""

    format_name = "parquet"

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.table(table)

    def table_exists(self, spark: SparkSession, table: str) -> bool:
        return spark.catalog.tableExists(table)

    def append(self, df: DataFrame, table: str) -> None:
        _ensure_database(df.sparkSession, table)
        df.write.format(self.format_name).mode("append").saveAsTable(table)

    def overwrite(
        self, df: DataFrame, table: str, partition_by: Sequence[str] | None = None
    ) -> None:
        _ensure_database(df.sparkSession, table)
        writer = df.write.format(self.format_name).mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.option("overwriteSchema", "true").saveAsTable(table)

    def overwrite_partitions(
        self, df: DataFrame, table: str, partition_by: Sequence[str]
    ) -> None:
        """Replace only the partitions present in ``df`` (dynamic overwrite).

        The correct write mode for incremental refreshes of partitioned
        tables: history outside the written partitions survives.
        """
        spark = df.sparkSession
        if not self.table_exists(spark, table):
            self.overwrite(df, table, partition_by)
            return
        # insertInto is POSITIONAL, and saveAsTable+partitionBy stores
        # partition columns last in the table schema — align by name first
        # or any df whose partition column isn't trailing writes misaligned
        # columns (silent corruption or cast errors).
        df = df.select(*spark.table(table).columns)
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            df.write.format(self.format_name).mode("overwrite").insertInto(table)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    def overwrite_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_cols: Sequence[str],
        num_buckets: int,
        sort_cols: Sequence[str] | None = None,
    ) -> None:
        """Bucketed managed table: repeated joins/aggs on ``bucket_cols``
        skip their shuffle entirely (both sides pre-hash-partitioned on
        disk). The 100 TB lever for fact⋈fact joins too big to broadcast:
        bucket both tables on the join key at write time, then every join
        is a zero-Exchange sort-merge. Pick num_buckets ≈ cluster cores ×
        small integer; it is fixed at write time."""
        _ensure_database(df.sparkSession, table)
        writer = (
            df.write.format(self.format_name)
            .mode("overwrite")
            .bucketBy(num_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.option("overwriteSchema", "true").saveAsTable(table)

    def overwrite_range_layout(
        self,
        df: DataFrame,
        table: str,
        layout_cols: Sequence[str],
        num_files: int,
        partition_by: Sequence[str] | None = None,
    ) -> None:
        """Range-clustered layout: range-partition on ``layout_cols`` then
        sort within each output file — the OPTIMIZE ZORDER BY intent on
        plain parquet (exact for the leading column; multi-column is
        lexicographic, not interleaved). Every output file then covers a
        DISJOINT ``layout_cols`` range, so parquet footer min/max stats
        let point/range scans skip whole files and row groups — at 100 TB
        this turns "scan the table" into "open the few files whose range
        matches", independent of any runtime filter machinery. Unlike
        bucketing it needs no table metadata: any parquet reader benefits.
        Range boundaries come from repartitionByRange's built-in sampling
        pass, so no full extra shuffle beyond the clustering one. Combine
        with ``partition_by`` for coarse pruning (partition dirs) + fine
        pruning (file ranges within each dir).
        """
        self.overwrite(
            range_cluster(df, layout_cols, num_files), table, partition_by
        )

    def overwrite_zorder_layout(
        self,
        df: DataFrame,
        table: str,
        layout_cols: Sequence[str],
        num_files: int,
        bits: int = 12,
        partition_by: Sequence[str] | None = None,
        bucketing: str = "linear",
    ) -> None:
        """Multi-column file skipping: cluster on the bit-interleaved
        Morton code (:func:`z_value`) so EVERY layout column gets bounded
        per-file min/max ranges — a selective predicate on any one of
        them skips most files. Use over :meth:`overwrite_range_layout`
        when queries filter on several independent columns; the
        single-column leading-key guarantee is weaker per column
        (rectangles, not disjoint intervals) but holds for all of them
        at once. ``bucketing="quantile"`` (bits <= 8) keeps bucket mass
        equal under skew — see :func:`z_value`."""
        out = range_cluster(
            z_value(df, layout_cols, bits, bucketing=bucketing),
            ["__z"], num_files,
        )
        self.overwrite(out.drop("__z"), table, partition_by)

    def merge(
        self, spark: SparkSession, table: str, source: DataFrame, keys: Sequence[str]
    ) -> None:
        """Upsert ``source`` into ``table`` on key equality
        (WHEN MATCHED UPDATE ALL / WHEN NOT MATCHED INSERT ALL).
        Raises DuplicateSourceKeysError on a non-unique source — same
        contract as Delta's native MERGE."""
        from metadata_driven_etl_spark.operators.merge import (
            upsert,
            validate_unique_keys,
        )

        validate_unique_keys(source, keys)
        if not self.table_exists(spark, table):
            self.overwrite(source, table)
            return
        target = self.read(spark, table)
        # Materialize before overwriting the files we read from.
        merged = materialize(upsert(target, source, keys), eager=True)
        # Re-apply the table's existing partition spec: the rewrite path
        # would otherwise silently flatten a partitioned gold table on its
        # first incremental merge.
        parts = [
            c.name for c in spark.catalog.listColumns(table) if c.isPartition
        ]
        self.overwrite(merged, table, parts or None)
        # The rewrite replaced every data file; a reader that resolved the
        # table before this merge (e.g. between micro-batches of a
        # streaming upsert sink) would otherwise hit the cached file
        # listing and FAILED_READ_FILE on the vanished parts.
        spark.catalog.refreshTable(table)


class ParquetFormat(TableFormat):
    """Parquet-backed managed tables (harness default — no delta jars)."""

    format_name = "parquet"


class DeltaFormat(TableFormat):
    """Delta-backed tables; native MERGE. Only constructible when
    delta-spark is importable."""

    format_name = "delta"

    def merge(
        self, spark: SparkSession, table: str, source: DataFrame, keys: Sequence[str]
    ) -> None:
        from delta.tables import DeltaTable  # gated import

        from metadata_driven_etl_spark.operators.merge import (
            validate_unique_keys,
        )

        # Delta raises only when duplicates MATCH a target row; unmatched
        # duplicates would insert twice — enforce the uniform contract.
        validate_unique_keys(source, keys)
        if not self.table_exists(spark, table):
            self.overwrite(source, table)
            return
        cond = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
        (
            DeltaTable.forName(spark, table)
            .alias("t")
            .merge(source.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )


def delta_available() -> bool:
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def get_table_format(prefer: str = "auto") -> TableFormat:
    """'delta' | 'parquet' | 'auto' (delta when importable)."""
    if prefer == "delta" or (prefer == "auto" and delta_available()):
        return DeltaFormat()
    return ParquetFormat()
