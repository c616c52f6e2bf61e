"""Workload registry: every SURVEY.md §2 operator as a (Spark, oracle-SQL) pair.

This is the engine's correctness surface for the driver contract
(``__spark_entry__.py``): ``QUERIES[name]`` builds the DataFrame with the
operator library; ``ORACLES[name]`` is the equivalent ANSI SQL DuckDB runs on
the same parquet. Column names/aliases match exactly on both sides (the
driver sorts columns by name before hashing).

Float discipline (see functions/__init__.py): every SUM/AVG of doubles goes
through exact-decimal summation on BOTH sides, so results are bit-identical
regardless of partitioning/order. Ranking queries carry unique tie-breaks.
"""

from __future__ import annotations

import math as _math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_driven_etl_spark.catalog import load_table
from metadata_driven_etl_spark.functions import (
    davg,
    dsum,
    isum,
    sql_davg,
    sql_dsum,
    sql_isum,
)
from metadata_driven_etl_spark.materialize import materialize
from metadata_driven_etl_spark.operators import (
    aggregations as agg_ops,
)
from metadata_driven_etl_spark.operators import (
    cooccur as cooccur_ops,
)
from metadata_driven_etl_spark.operators import (
    graph as graph_ops,
)
from metadata_driven_etl_spark.operators import (
    decontam as decontam_ops,
)
from metadata_driven_etl_spark.operators import (
    dedup as dedup_ops,
)
from metadata_driven_etl_spark.operators import (
    filters as filter_ops,
)
from metadata_driven_etl_spark.operators import (
    joins as join_ops,
)
from metadata_driven_etl_spark.operators import (
    merge as merge_ops,
)
from metadata_driven_etl_spark.operators import (
    multimodal as multimodal_ops,
)
from metadata_driven_etl_spark.operators import (
    profiling as prof_ops,
)
from metadata_driven_etl_spark.operators import (
    projections as proj_ops,
)
from metadata_driven_etl_spark.operators import (
    sampling as sampling_ops,
)
from metadata_driven_etl_spark.operators import (
    setops as set_ops,
)
from metadata_driven_etl_spark.operators import (
    similarity as sim_ops,
)
from metadata_driven_etl_spark.operators import (
    sorts as sort_ops,
)
from metadata_driven_etl_spark.operators import (
    text as text_ops,
)
from metadata_driven_etl_spark.operators import (
    windows as window_ops,
)

QueryFn = Callable[[SparkSession, str], DataFrame]
QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def workload(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with a cluster-parallelism floor (CPU-heavy text ops
    serialize onto one core when the input is a single unsplittable
    row group — catalog.load_table handles the hint, no-op at scale)."""
    return load_table(
        spark, sf_dir, "documents",
        min_partitions=spark.sparkContext.defaultParallelism,
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings with a cluster-parallelism floor (see _docs)."""
    return load_table(
        spark, sf_dir, "embeddings",
        min_partitions=spark.sparkContext.defaultParallelism,
    )


# =========================================================================
# §2.1 Scans
# =========================================================================

_LINEITEM_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
]


@workload(
    "scan_parquet",
    oracle="SELECT "
    + ", ".join(_LINEITEM_COLS)
    + ", CAST(l_shipdate AS DATE) AS l_shipdate FROM lineitem",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: parquet scan (reference bronze_layer.py:182-200)."""
    df = _t(spark, sf_dir, "lineitem")
    return df.select(
        *_LINEITEM_COLS, F.to_date("l_shipdate").alias("l_shipdate")
    )


_SCAN_FIXTURE_CACHE: set[tuple[str, str, str]] = set()


def _scan_fixture(spark, sf_dir, name, write_fn) -> str:
    """Session-unique fixture path for format-round-trip scan workloads
    (VERDICT r7 item 4).  The path embeds the Spark application id, so
    two concurrent sessions never collide on a fixed /tmp location; the
    write runs ONCE per (session, sf, fixture) — repeat calls (bench.py's
    min-of-2 timed runs) measure the read alone, not the coalesce write.
    """
    import os
    import tempfile

    app_id = spark.sparkContext.applicationId
    safe_sf = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(
        tempfile.gettempdir(), f"mdes_fix_{app_id}", f"{name}_{safe_sf}"
    )
    key = (app_id, sf_dir, name)
    if key not in _SCAN_FIXTURE_CACHE:
        write_fn(path)
        _SCAN_FIXTURE_CACHE.add(key)
    return path


@workload("scan_csv", oracle="SELECT * FROM nation")
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: CSV scan with header/delimiter/schema options
    (reference bronze_layer.py:196-199, bronze_config.yaml:16-29).

    Round-trips `nation` through CSV in a session-unique temp dir so the
    oracle can verify the read against the original table; the write is
    once-per-session setup, not part of the measured scan.
    """
    path = _scan_fixture(
        spark,
        sf_dir,
        "scan_csv",
        lambda p: _t(spark, sf_dir, "nation")
        .coalesce(1)
        .write.mode("overwrite")
        .options(header=True, delimiter="|")
        .csv(p),
    )
    return (
        spark.read.options(header=True, delimiter="|")
        .schema("n_nationkey int, n_name string, n_regionkey int")
        .csv(path)
    )


@workload("scan_json", oracle="SELECT r_regionkey, r_name FROM region")
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: JSON scan (reference bronze_layer.py:182-200,
    bronze_config.yaml:31-40).  Session-unique write-once fixture, same
    contract as scan_csv."""
    path = _scan_fixture(
        spark,
        sf_dir,
        "scan_json",
        lambda p: _t(spark, sf_dir, "region")
        .coalesce(1)
        .write.mode("overwrite")
        .json(p),
    )
    return (
        spark.read.schema("r_regionkey int, r_name string")
        .json(path)
        .select("r_regionkey", "r_name")
    )


# =========================================================================
# §2.3 Projections / filters
# =========================================================================


@workload(
    "project_select",
    oracle="""
    SELECT c_custkey AS customer_id, c_name AS customer_name,
           c_mktsegment AS segment, c_acctbal AS account_balance
    FROM customer""",
)
def project_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: projection + aliasing (reference silver_config.yaml:10-23)."""
    return proj_ops.project(
        _t(spark, sf_dir, "customer"),
        {
            "customer_id": "c_custkey",
            "customer_name": "c_name",
            "segment": "c_mktsegment",
            "account_balance": "c_acctbal",
        },
    )


@workload(
    "filter_date_param",
    oracle="""
    SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date,
           l_quantity
    FROM lineitem WHERE CAST(l_shipdate AS DATE) >= DATE '1998-01-01'""",
)
def filter_date_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: parameterized date filter with bound literal
    (reference silver_config.yaml:81, fixed per SURVEY.md §2.14#4)."""
    df = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_date", F.to_date("l_shipdate")
    )
    df = filter_ops.filter_from_date(df, "ship_date", "1998-01-01")
    return df.select("l_orderkey", "l_linenumber", "ship_date", "l_quantity")


@workload(
    "filter_not_null",
    oracle="""
    SELECT event_id, nullif(event_type, 'view') AS et
    FROM events WHERE nullif(event_type, 'view') IS NOT NULL""",
)
def filter_not_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: not-null predicate (DQ not_null rule, reference dq_engine.py:26-64).
    Testdata has no natural NULLs, so they are manufactured with nullif."""
    df = _t(spark, sf_dir, "events").withColumn(
        "et", F.expr("nullif(event_type, 'view')")
    )
    return filter_ops.filter_not_null(df, "et").select("event_id", "et")


@workload(
    "filter_regex",
    oracle=r"""
    SELECT c_custkey, c_name FROM customer
    WHERE regexp_matches(c_name, '[0-9]{2}$')""",
)
def filter_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: regex predicate (DQ regex rule, reference dq_engine.py:66-107)."""
    df = _t(spark, sf_dir, "customer")
    return filter_ops.filter_regex(df, "c_name", "[0-9]{2}$").select(
        "c_custkey", "c_name"
    )


@workload(
    "filter_expr",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice, p_size FROM part
    WHERE p_retailprice > 1200 AND p_size < 30""",
)
def filter_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: arbitrary boolean SQL expression (reference dq_engine.py:109-145)."""
    df = _t(spark, sf_dir, "part")
    return filter_ops.filter_expr(df, "p_retailprice > 1200 AND p_size < 30").select(
        "p_partkey", "p_name", "p_retailprice", "p_size"
    )


@workload(
    "case_when_flag",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_totalprice > 150000 THEN 'VALID' ELSE 'INVALID' END
             AS dq_amount_flag
    FROM orders""",
)
def case_when_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: VALID/INVALID tag column (reference silver_layer.py:232-235)."""
    df = _t(spark, sf_dir, "orders")
    return df.select(
        "o_orderkey",
        "o_totalprice",
        filter_ops.valid_flag(F.col("o_totalprice") > 150000, "dq_amount_flag"),
    )


# =========================================================================
# §2.4 Joins
# =========================================================================


@workload(
    "join_inner",
    oracle="""
    SELECT l_orderkey, l_linenumber, p_partkey, p_brand, l_quantity,
           p_retailprice
    FROM lineitem JOIN part ON l_partkey = p_partkey""",
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: fact⋈dim inner equi-join, dim broadcast
    (reference gold_config.yaml:17,59-60)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = join_ops.join_inner(
        lineitem, part, on=lineitem["l_partkey"] == part["p_partkey"]
    )
    return joined.select(
        "l_orderkey", "l_linenumber", "p_partkey", "p_brand", "l_quantity",
        "p_retailprice",
    )


@workload(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: anti-join (reference RI violations, dq_engine.py:170-179)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    out = join_ops.join_anti(
        customer, orders, on=customer["c_custkey"] == orders["o_custkey"]
    )
    return out.select("c_custkey", "c_name")


@workload(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: semi-join — no dup-key row multiplication
    (reference dq_engine.py:185-193 hazard)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    out = join_ops.join_semi(
        customer, orders, on=customer["c_custkey"] == orders["o_custkey"]
    )
    return out.select("c_custkey", "c_name")


@workload(
    "join_left_flag",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN EXISTS (SELECT 1 FROM customer c
                             WHERE c.c_custkey = orders.o_custkey
                               AND c.c_mktsegment = 'BUILDING')
                THEN 'VALID' ELSE 'INVALID' END AS dq_ref_flag
    FROM orders""",
)
def join_left_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: left join + membership flag (reference dq_engine.py:195-203)."""
    orders = _t(spark, sf_dir, "orders")
    building = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    out = join_ops.join_left_flag(orders, building, on=["o_custkey"])
    return out.select("o_orderkey", "dq_ref_flag")


@workload(
    "join_self_groupcount",
    oracle="""
    SELECT o_orderkey, o_custkey,
           count(*) OVER (PARTITION BY o_custkey) AS key_count,
           count(*) OVER (PARTITION BY o_custkey) = 1 AS is_unique
    FROM orders""",
)
def join_self_groupcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: per-row group cardinality in ONE shuffle (reference does
    groupBy+count then a re-join — dq_engine.py:244-257)."""
    orders = _t(spark, sf_dir, "orders")
    out = join_ops.group_count_flag(orders, ["o_custkey"])
    return out.select("o_orderkey", "o_custkey", "key_count", "is_unique")


_EVENT_TYPE_WEIGHTS = [
    ("click", 1.0),
    ("view", 0.5),
    ("purchase", 5.0),
    ("signup", 3.0),
    ("error", 0.0),
]


@workload(
    "join_salted_skew",
    oracle="""
    WITH d(event_type, weight) AS (VALUES """
    + ", ".join(
        f"('{t}', CAST({w} AS DOUBLE))" for t, w in _EVENT_TYPE_WEIGHTS
    )
    + """)
    SELECT e.event_id, e.event_type, d.weight,
           e.value * d.weight AS weighted_value
    FROM events e JOIN d USING (event_type)""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant equi-join: events keyed by event_type (5 distinct
    values — the pathological case: a plain shuffle join uses at most 5
    reducers no matter how big the cluster) salted into 16 buckets, the
    5-row weight dim replicated 16x. Result is bit-identical to the plain
    join (the oracle IS the plain join). Locally AQE broadcasts the
    80-row replicated dim so no shuffle remains; the pattern targets
    small-but-unbroadcastable sides or plans where the skewed side's
    partitioning feeds a downstream op (operators/joins.py:salted_join).
    """
    events = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    dim = spark.createDataFrame(
        _EVENT_TYPE_WEIGHTS, "event_type string, weight double"
    )
    out = join_ops.salted_join(events, dim, on=["event_type"])
    return out.select(
        "event_id",
        "event_type",
        "weight",
        (F.col("value") * F.col("weight")).alias("weighted_value"),
    )


@workload(
    "fuzzy_match_levenshtein",
    oracle="""
    SELECT a.p_brand || '|' || a.p_type AS block,
           a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_type = b.p_type
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3""",
)
def fuzzy_match_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage: same-(brand, type) part pairs whose names are
    within edit distance 3. The composite block key is the operator's
    scale contract in action — per-block pair cost is quadratic, so the
    block must be as fine as the matching semantics allow (brand alone:
    ~800-part blocks, 8M candidate pairs at sf0.1; brand+type: ~133-part
    blocks, 1.3M) behind the same plain equi-join
    (operators/joins.py:blocked_levenshtein_pairs)."""
    part = _t(spark, sf_dir, "part").withColumn(
        "blk", F.concat_ws("|", "p_brand", "p_type")
    )
    return join_ops.blocked_levenshtein_pairs(
        part, id_col="p_partkey", text_col="p_name", block_col="blk",
        max_dist=3,
    )


# =========================================================================
# §2.5 Aggregations (gold models)
# =========================================================================


@workload(
    "agg_daily_sales",
    oracle=f"""
    SELECT CAST(o_orderdate AS DATE) AS order_date,
           l_returnflag AS return_flag,
           COUNT(l_orderkey) AS transaction_count,
           {sql_dsum('l_extendedprice')} AS total_amount,
           {sql_davg('l_extendedprice')} AS avg_amount,
           {sql_isum('l_quantity')} AS total_quantity
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2""",
)
def agg_daily_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (flagship): the reference's daily sales_summary gold model
    (gold_config.yaml:8-19) mapped onto lineitem⋈orders."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("order_date")
    )
    fact = lineitem.join(
        orders, lineitem["l_orderkey"] == orders["o_orderkey"]
    ).withColumn("return_flag", F.col("l_returnflag"))
    return agg_ops.daily_sales_summary(
        fact,
        date_col="order_date",
        category_col="return_flag",
        id_col="l_orderkey",
        amount_col="l_extendedprice",
        quantity_col="l_quantity",
    )


@workload(
    "agg_customer_summary",
    oracle=f"""
    SELECT c_custkey, c_name, c_mktsegment,
           COUNT(o_orderkey) AS order_count,
           {sql_dsum('o_totalprice')} AS total_spent,
           MAX(CAST(o_orderdate AS DATE)) AS last_order_date
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2, 3""",
)
def agg_customer_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: customer_summary gold model (reference gold_config.yaml:29-40)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    joined = join_ops.join_inner(
        orders, customer, on=orders["o_custkey"] == customer["c_custkey"]
    )
    return agg_ops.group_agg(
        joined,
        ["c_custkey", "c_name", "c_mktsegment"],
        {
            "order_count": F.count("o_orderkey"),
            "total_spent": dsum("o_totalprice"),
            "last_order_date": F.max(F.to_date("o_orderdate")),
        },
    )


@workload(
    "agg_product_perf",
    oracle=f"""
    SELECT p_brand,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           {sql_isum('l_quantity')} AS total_qty,
           COUNT(DISTINCT l_orderkey) AS num_orders,
           {sql_davg('l_extendedprice / l_quantity')} AS avg_unit_price
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1""",
)
def agg_product_perf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: product_performance — arithmetic inside aggregates over a join
    (reference gold_config.yaml:49-61)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = join_ops.join_inner(
        lineitem, part, on=lineitem["l_partkey"] == part["p_partkey"]
    )
    # COUNT(DISTINCT) split out of the decimal aggregation on purpose: fused,
    # Spark's distinct rewrite keys the partial agg by (p_brand, l_orderkey)
    # (~1 group/row) and drags the exact-decimal buffers through a
    # high-cardinality hash table — 2x slower than these two lean aggs.
    sums = agg_ops.group_agg(
        joined,
        ["p_brand"],
        {
            "revenue": dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
            "total_qty": isum("l_quantity"),
            "avg_unit_price": davg(F.col("l_extendedprice") / F.col("l_quantity")),
        },
    )
    dist = (
        joined.select("p_brand", "l_orderkey")
        .distinct()
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("num_orders"))
    )
    return sums.join(dist, "p_brand").select(
        "p_brand", "revenue", "total_qty", "num_orders", "avg_unit_price"
    )


@workload("agg_count", oracle="SELECT COUNT(*) AS row_count FROM lineitem")
def agg_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: count-star — via agg, not a separate .count() action pass."""
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("row_count"))


@workload(
    "distinct_keys",
    oracle="SELECT DISTINCT l_partkey, l_suppkey FROM lineitem",
)
def distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: distinct projection (reference dq_engine.py:163)."""
    return agg_ops.distinct_keys(
        _t(spark, sf_dir, "lineitem"), ["l_partkey", "l_suppkey"]
    )


@workload(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS cnt, {sql_isum('l_quantity')} AS total_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    -- empty-input alignment (r12 empty-corpus sweep): ANSI ROLLUP
    -- emits the grand-total row even over zero rows; Spark's rollup
    -- emits nothing. HAVING cnt>0 is a no-op on any non-empty input
    -- (every real grouping-set row counts at least one row).
    HAVING COUNT(*) > 0""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended surface: ROLLUP — near-free in Spark (SURVEY.md §2.5)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            isum("l_quantity").alias("total_qty"),
        )
    )


@workload(
    "pivot_linestatus",
    oracle=f"""
    SELECT l_returnflag,
           {sql_isum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS f_qty,
           {sql_isum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS o_qty
    FROM lineitem GROUP BY 1""",
)
def pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended surface: pivot (oracle = conditional aggregation)."""
    out = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(isum("l_quantity"))
    )
    return out.select(
        "l_returnflag", F.col("F").alias("f_qty"), F.col("O").alias("o_qty")
    )


@workload(
    "approx_count_distinct",
    oracle="""
    SELECT count(DISTINCT l_partkey) AS exact_parts,
           1 AS parts_within_bound,
           count(DISTINCT l_orderkey) AS exact_orders,
           1 AS orders_within_bound
    FROM lineitem""",
)
def approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-sketch GLOBAL distinct count at the DEFAULT rsd (0.05), hash-
    gated (VERDICT r9 item 3 — this key was the registry's last rows-only
    HLL row): Spark computes the default-rsd estimate AND the exact
    distinct count and emits the exact count plus a deterministic
    |approx − exact| ≤ 15%·exact boolean (3× the configured rsd — HLL++
    is deterministic for a given dataset, so this is a stable contract,
    not a flaky tolerance); the DuckDB twin computes the same exact
    counts with literal-1 bounds. ADVICE r10: the margin is verified at
    every SF the driver runs — measured relative error (r11):
    sf0.001 parts 2.50% / orders 6.38%, sf0.01 2.65% / 3.64%,
    sf0.1 2.39% / 1.81% — max 6.4% against the 15% gate; a future SF
    change must re-measure before shipping (HLL error is deterministic
    per dataset but not worst-case bounded). Complements
    ``approx_count_distinct_bounded`` (per-group, rsd=0.02, 5% gate):
    together they cover both the tuned and the default sketch configs.

    At 100 TB: the sketch agg is one map-side-combinable aggregation;
    the exact side exists only because the contract needs it (the
    production call is the sketch alone). The two run as SEPARATE
    aggregations recombined with a 1×1 cross join (r12) — sharing one
    aggregation makes the expand-planned exact distinct buffer an HLL
    sketch per distinct key value (see approx_count_distinct_bounded)."""
    within = lambda a, e: (  # noqa: E731
        (F.abs(a - e) <= F.lit(0.15) * e).cast("int")
    )
    li = _t(spark, sf_dir, "lineitem")
    approx = li.agg(
        F.approx_count_distinct("l_partkey").alias("ap"),
        F.approx_count_distinct("l_orderkey").alias("ao"),
    )
    exact = li.agg(
        F.countDistinct("l_partkey").cast("long").alias("exact_parts"),
        F.countDistinct("l_orderkey").cast("long").alias("exact_orders"),
    )
    agg = approx.crossJoin(exact)
    return agg.select(
        "exact_parts",
        within(F.col("ap"), F.col("exact_parts")).alias("parts_within_bound"),
        "exact_orders",
        within(F.col("ao"), F.col("exact_orders")).alias("orders_within_bound"),
    )


@workload(
    "approx_count_distinct_bounded",
    oracle="""
    SELECT l_returnflag, 1 AS parts_within_bound, 1 AS orders_within_bound
    FROM lineitem GROUP BY 1""",
)
def approx_count_distinct_bounded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Assertive accuracy contract for the HLL sketch: per group, Spark
    computes BOTH the approx_count_distinct estimate (rsd=0.02) and the
    exact distinct count, and emits a DETERMINISTIC boolean —
    |approx − exact| ≤ 5% · exact — per distinct-counted column. The
    DuckDB twin is the same groups with literal 1, so the estimate's
    accuracy (not just its existence) is hash-checked by the driver.

    HLL++ is deterministic for a given dataset (hash-based, order- and
    partition-insensitive after sketch merge), so this is a stable
    contract, not a flaky tolerance: the 2% rsd sketch sits well inside
    the 5% gate at every test SF.

    The sketch and the exact sides run as SEPARATE aggregations joined
    on the 3-row group key (r12): a combined aggregation plans the exact
    distincts via Expand, and the HLL buffers then live once per
    (gid, distinct value) entry of the partial-aggregate map — hundreds
    of thousands of multi-KB sketches allocated and merged (measured
    27.8s combined vs 0.65s + 1.04s split at sf0.1). Split, the sketch
    agg is the pure map-side-combinable HLL merge the 100 TB path wants,
    and the exact agg pays only the expand it needs anyway."""
    li = _t(spark, sf_dir, "lineitem")
    within = lambda a, e: (  # noqa: E731
        (F.abs(a - e) <= F.lit(0.05) * e).cast("int")
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("ap"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("ao"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("ep"),
        F.countDistinct("l_orderkey").alias("eo"),
    )
    agg = approx.join(exact, "l_returnflag")
    return agg.select(
        "l_returnflag",
        within(F.col("ap"), F.col("ep")).alias("parts_within_bound"),
        within(F.col("ao"), F.col("eo")).alias("orders_within_bound"),
    )


# =========================================================================
# §2.6 Windows / §2.7 sorts
# =========================================================================


@workload(
    "window_row_number_dedup",
    oracle="""
    SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate
    FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
    WHERE rn = 1""",
)
def window_row_number_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: row_number dedup done correctly — the reference's version is
    dead+broken (F.Window AttributeError, SURVEY.md §2.14#1). Keeps each
    customer's latest order, deterministic tie-break on o_orderkey."""
    orders = _t(spark, sf_dir, "orders")
    out = window_ops.dedup_row_number(
        orders,
        keys=["o_custkey"],
        order_by=[F.desc("o_orderdate"), F.desc("o_orderkey")],
    )
    return out.select(
        "o_custkey", "o_orderkey", F.to_date("o_orderdate").alias("o_orderdate")
    )


@workload(
    "topk_order_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
)
def topk_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: ORDER BY + LIMIT → TakeOrderedAndProject (true distributed top-k,
    reference audit_logger.py:249-265)."""
    orders = _t(spark, sf_dir, "orders")
    return sort_ops.top_k(
        orders, [F.desc("o_totalprice"), F.asc("o_orderkey")], 10
    ).select("o_orderkey", "o_totalprice")


@workload(
    "topk_per_group",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, CAST(rnk AS INTEGER) AS rank
    FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               row_number() OVER (
                   PARTITION BY p_brand
                   ORDER BY p_retailprice DESC, p_partkey) AS rnk
        FROM part)
    WHERE rnk <= 3""",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1b: group-wise top-k (3 priciest parts per brand, key tie-break).
    ONE window shuffle; Spark's WindowGroupLimit pushes a per-group
    running top-k heap below the Exchange, so map tasks forward at most
    k rows per group — the per-group analogue of TakeOrderedAndProject
    (operators/windows.py:topk_per_group)."""
    part = _t(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_retailprice"
    )
    return window_ops.topk_per_group(
        part,
        ["p_brand"],
        [F.desc("p_retailprice"), F.asc("p_partkey")],
        3,
    )


@workload("sort_by", oracle="SELECT n_nationkey, n_name FROM nation ORDER BY n_name")
def sort_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: full sort (reference audit_logger.py:241-247)."""
    return sort_ops.sort_by(
        _t(spark, sf_dir, "nation").select("n_nationkey", "n_name"),
        [F.asc("n_name")],
    )


# =========================================================================
# §2.8 Set ops / §2.2 merge
# =========================================================================


@workload(
    "union_all",
    oracle="""
    SELECT c_custkey AS entity_id, 'customer' AS kind FROM customer
    UNION ALL
    SELECT s_suppkey AS entity_id, 'supplier' AS kind FROM supplier""",
)
def union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op (absent in reference, SURVEY.md §2.8) — unionByName."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_id"), F.lit("customer").alias("kind")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_id"), F.lit("supplier").alias("kind")
    )
    return set_ops.union_all(c, s)


@workload(
    "merge_upsert",
    oracle=f"""
    WITH tgt AS (SELECT o_custkey, COUNT(*) AS order_count,
                        {sql_dsum('o_totalprice')} AS total_spent
                 FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1998-01-01'
                 GROUP BY 1),
    src AS (SELECT o_custkey, COUNT(*) AS order_count,
                   {sql_dsum('o_totalprice')} AS total_spent
            FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
            GROUP BY 1)
    SELECT * FROM src
    UNION ALL
    SELECT * FROM tgt WHERE NOT EXISTS
      (SELECT 1 FROM src WHERE src.o_custkey = tgt.o_custkey)""",
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3: MERGE upsert semantics (whenMatchedUpdateAll/whenNotMatchedInsertAll,
    reference gold_layer.py:184-213) — relational emulation: src ∪ (tgt ▷ src)."""
    orders = _t(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.to_date("o_orderdate")
    )
    split = F.lit("1998-01-01").cast("date")

    def stats(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("order_count"),
            dsum("o_totalprice").alias("total_spent"),
        )

    tgt = stats(orders.filter(F.col("o_orderdate") < split))
    src = stats(orders.filter(F.col("o_orderdate") >= split))
    return merge_ops.upsert(tgt, src, keys=["o_custkey"])


@workload(
    "snapshot_diff_orders",
    oracle="""
    WITH o AS (SELECT * FROM orders),
    n AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 25 = 1 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 50 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
               o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 40 = 3
    )
    SELECT * FROM (
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
                    WHEN n.o_orderkey IS NULL THEN 'deleted'
                    WHEN NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey
                          AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                          AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                          AND o.o_orderdate IS NOT DISTINCT FROM n.o_orderdate
                          AND o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority)
                    THEN 'updated' END AS change_type
        FROM o FULL JOIN n ON o.o_orderkey = n.o_orderkey)
    WHERE change_type IS NOT NULL""",
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC companion to MERGE: row-level diff between two snapshots of
    orders (today's simulated from yesterday's: ~2%% of keys deleted,
    ~4%% repriced, ~2.5%% re-keyed inserts) — one full-outer join on the
    key, null-safe struct comparison, unchanged keys dropped
    (operators/merge.py:snapshot_diff). Bucketed snapshots diff with
    zero Exchange."""
    orders = _t(spark, sf_dir, "orders")
    modified = orders.where(F.col("o_orderkey") % 50 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 25 == 1, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    inserted = orders.where(F.col("o_orderkey") % 40 == 3).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
    )
    new = modified.unionByName(inserted)
    return merge_ops.snapshot_diff(orders, new, keys=["o_orderkey"])


@workload(
    "incremental_agg_orders",
    oracle="""
    WITH n AS (
        SELECT o_orderkey, o_orderdate,
               CASE WHEN o_orderkey % 25 = 1 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 50 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_orderdate, o_totalprice
        FROM orders WHERE o_orderkey % 40 = 3
    )
    SELECT date_trunc('month', o_orderdate) AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(FLOOR(o_totalprice * 100)) AS BIGINT) AS total_cents
    FROM n GROUP BY 1""",
)
def incremental_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: yesterday's monthly
    order aggregate is brought up to date from the snapshot delta alone
    (operators/merge.py:incremental_agg_update — retraction-based, DBSP
    style), using the same ~8%%-changed snapshot recipe as
    snapshot_diff_orders.  The oracle is a FULL re-aggregation of the new
    snapshot — the hash match proves delta maintenance reproduces the
    rescan bit-for-bit (long-typed cents measure, so sums are exact and
    order-independent).  At 100 TB the rescan reads the corpus; this path
    reads only the changed rows plus the (small) previous aggregate."""
    orders = (
        _t(spark, sf_dir, "orders")
        .withColumn("order_month", F.trunc("o_orderdate", "mm"))
        .withColumn(
            "price_cents", F.floor(F.col("o_totalprice") * 100).cast("long")
        )
    )
    modified = orders.where(F.col("o_orderkey") % 50 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 25 == 1, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    inserted = orders.where(F.col("o_orderkey") % 40 == 3).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
    )
    new = modified.unionByName(inserted).withColumn(
        "price_cents", F.floor(F.col("o_totalprice") * 100).cast("long")
    )
    base = orders.groupBy("order_month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price_cents").alias("total_cents"),
    )
    return merge_ops.incremental_agg_update(
        base,
        orders,
        new,
        keys=["o_orderkey"],
        group_keys=["order_month"],
        sum_cols={"total_cents": "price_cents"},
        count_col="n_orders",
    )


# =========================================================================
# Event-time windows over `events` (§2.11 extension)
# =========================================================================


@workload(
    "window_tumbling_events",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events, {sql_dsum('value')} AS total_value
    FROM events GROUP BY 1, 2""",
)
def window_tumbling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window (batch form of the streaming op —
    same F.window expression works under readStream)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@workload(
    "window_sliding_events",
    oracle=f"""
    WITH slid AS (
      SELECT date_trunc('hour', ts) AS window_start, value FROM events
      UNION ALL
      SELECT date_trunc('hour', ts + INTERVAL 30 MINUTE) - INTERVAL 30 MINUTE
               AS window_start, value
      FROM events)
    SELECT window_start, COUNT(*) AS n_events, {sql_dsum('value')} AS total_value
    FROM slid GROUP BY 1""",
)
def window_sliding_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h window, 30min slide): each event lands in 2 windows."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


# Shared DuckDB sessionizer fragment (30-min gap, lag+cumsum) — the SQL
# twin of window_ops.sessionize, used by every session-derived oracle so
# the definition of "a session" can never fork between workloads.
_SESSIONIZE_SQL = """
    SELECT event_id, user_id, ts,
           CAST(sum(CASE WHEN prev_ts IS NULL
                         OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                         THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
             AS session_id
    FROM (SELECT event_id, user_id, ts,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_ts
          FROM events)"""


@workload(
    "sessionize_events",
    oracle=f"""
    SELECT event_id, user_id, session_id FROM ({_SESSIONIZE_SQL})""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: lag + cumulative gap-break sum (streaming
    variant: session_window / applyInPandasWithState)."""
    events = _t(spark, sf_dir, "events")
    out = window_ops.sessionize(
        events, "user_id", "ts", gap_seconds=1800, tiebreak=["event_id"]
    )
    return out.select("event_id", "user_id", F.col("session_id").cast("long").alias("session_id"))


# =========================================================================
# Training-data ops: dedup / text / similarity (north-star extension)
# =========================================================================


@workload("dedup_exact", oracle=dedup_ops.sql_exact_dedup_stats())
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash group-by."""
    return dedup_ops.exact_dedup_stats(_docs(spark, sf_dir))


@workload(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id, {text_ops.sql_doc_fingerprint('text')} AS fingerprint,
           {text_ops.sql_bag_fingerprint('text')} AS bag_fingerprint
    FROM documents""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: normalized-content md5 + token-bag md5."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        text_ops.doc_fingerprint("text").alias("fingerprint"),
        text_ops.bag_fingerprint("text").alias("bag_fingerprint"),
    )


@workload(
    "text_token_count",
    oracle=f"""
    SELECT doc_id, {text_ops.sql_token_count('text')} AS n_tokens,
           {text_ops.sql_bpe_ish_token_count('text')} AS n_bpe_ish
    FROM documents""",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex pieces."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        text_ops.token_count("text").alias("n_tokens"),
        text_ops.bpe_ish_token_count("text").alias("n_bpe_ish"),
    )


@workload("text_quality", oracle=text_ops.sql_quality_features())
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punct/stopword features + composite score."""
    return text_ops.quality_features(_docs(spark, sf_dir))


@workload(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang, {text_ops.sql_lang_id('text')} AS lang_pred
    FROM documents""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (marker-word overlap argmax)."""
    docs = _docs(spark, sf_dir)
    return text_ops.lang_id_df(docs, "text").select("doc_id", "lang", "lang_pred")


@workload("dedup_minhash_lsh", oracle=dedup_ops.sql_lsh_candidate_pairs())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (shingle→minhash→band→bucket-
    join), at the shipped default bucket cap (DEFAULT_MAX_BUCKET_SIZE=32 —
    a no-op on the organic test corpus whose largest bucket is 9; the
    oracle twin applies the identical cap)."""
    return dedup_ops.lsh_candidate_pairs(_docs(spark, sf_dir))


@workload(
    "dedup_lsh_bucket_capped",
    oracle=dedup_ops.sql_lsh_candidate_pairs(max_bucket_size=2),
)
def dedup_lsh_bucket_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs with a bucket cap that BITES on the test corpus
    (cap=2 < the max organic bucket) — driver hash coverage for the cap's
    drop-oversized-buckets semantics, which the shipped default (32,
    sized for degenerate boilerplate at 100 TB) never exercises on
    organic test data. The DuckDB twin drops the identical buckets via
    an exact count QUALIFY, so capped output hash-matches."""
    return dedup_ops.lsh_candidate_pairs(
        _docs(spark, sf_dir), max_bucket_size=2
    )


@workload("dedup_ngram_jaccard", oracle=dedup_ops.sql_ngram_jaccard_pairs())
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ 0.5 (sparse shared-shingle join)."""
    return dedup_ops.ngram_jaccard_pairs(_docs(spark, sf_dir))


@workload("dedup_simhash", oracle=dedup_ops.sql_simhash_buckets())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash bucket dedup (md5-bit voting)."""
    return dedup_ops.simhash_buckets(_docs(spark, sf_dir))


@workload("similarity_topk", oracle=sim_ops.sql_brute_force_topk(num_queries=5))
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vecs (vec_id < 5)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return sim_ops.brute_force_topk(emb, queries, k=5)


@workload(
    "similarity_ann_lsh_exact",
    oracle=sim_ops.sql_brute_force_topk(num_queries=5),
)
def similarity_ann_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN driven to exactness: Hamming radius = num_bits probes every
    bucket, so the candidate set is the whole corpus and the output equals
    brute-force top-k — which is exactly what the DuckDB oracle computes.

    This gives the LSH machinery (signature computation, multi-probe ball,
    bucket equi-join, candidate dedup, within-bucket ranking) a real
    driver hash row; the production approximate setting (num_tables=4,
    hamming=1 — run verbatim inside ``similarity_ann_lsh_bounded``)
    differs only in the radius/table knobs and stays recall-pinned by
    tests/test_ann_recall.py. The former free-running rows-only
    ``similarity_ann_lsh`` key was retired in r10 (VERDICT r9 item 3):
    its exact knobs live on in the bounded contract, so every registry
    key is hash-gated."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return sim_ops.lsh_topk(
        emb, queries, dim=64, k=5, num_bits=4, num_tables=1, hamming=4
    )


@workload(
    "similarity_ann_lsh_bounded",
    oracle="""
    SELECT vec_id AS query_id, CAST(1 AS INT) AS recall_ok
    FROM embeddings WHERE vec_id < 20""",
)
def similarity_ann_lsh_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked PER-QUERY recall contract for the PRODUCTION LSH ANN
    path (VERDICT r6 item 4 — the same move that turned the two sketches'
    accuracy guarantees into driver-artifact evidence): Spark runs the
    probe-limited multi-table multi-probe index (the exact knobs
    ``similarity_ann_lsh`` ships) AND its own brute-force exact top-k,
    both fully deterministic (seeded hyperplanes, deterministic
    tiebreaks), and emits per query ``CAST(recall@5 >= 0.6 AS INT)``;
    the DuckDB twin emits literal 1 for the same query ids. A driver
    hash MATCH therefore PROVES every query's recall bound, not just row
    counts. The bound has margin: measured per-query MIN is 0.8 at
    sf0.001/0.01/0.1 (20 queries); the stronger aggregate ≥0.9 pin lives
    in tests/test_ann_recall.py.

    Scale: the exact side is the |Q|×|corpus| brute-force scorer — fine
    for a 20-query audit batch (this is a verification harness; the
    production operator is the index probe alone)."""
    emb = materialize(_t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    exact = sim_ops.brute_force_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    approx = sim_ops.lsh_topk(
        emb, queries, dim=64, k=5, num_bits=4, num_tables=4, hamming=1
    ).select("query_id", "neighbor_id")
    n_exact = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    per_q = (
        approx.join(exact, ["query_id", "neighbor_id"], "leftsemi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    # recall@k >= 0.6 with the TRUE denominator |exact top-k| (< k on a
    # corpus smaller than k — the hard-coded >=3 form was unachievable
    # there, r12 degenerate sweep); 5*hits >= 3*n_exact is the exact
    # integer cross-multiplication, identical to >=3 when n_exact = 5
    return (
        queries.select("query_id")
        .join(per_q, ["query_id"], "left")
        .join(n_exact, ["query_id"], "left")
        .select(
            "query_id",
            (
                F.coalesce(F.col("n_hits"), F.lit(0)) * 5
                >= F.coalesce(F.col("n_exact"), F.lit(0)) * 3
            )
            .cast("int")
            .alias("recall_ok"),
        )
    )


@workload(
    "embedding_near_dup",
    oracle=sim_ops.sql_embedding_near_dup_pairs(threshold=0.3),
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.3, label-blocked).

    Threshold chosen so the check is non-trivial on the synthetic
    embeddings (random vectors — no planted near-dups above ~0.5)."""
    return sim_ops.embedding_near_dup_pairs(
        _emb(spark, sf_dir), threshold=0.3
    )


# =========================================================================
# Extended analytics: lag/lead, rank/ntile, running totals, cube,
# intersect/except, multimodal plumbing
# =========================================================================


@workload(
    "window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY CAST(o_orderdate AS DATE), o_orderkey)""",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended §2.6: lag/lead over each customer's order history
    (no accumulation → doubles compare exactly)."""
    orders = _t(spark, sf_dir, "orders")
    out = window_ops.lag_lead(
        orders,
        keys=["o_custkey"],
        order_by=[F.to_date("o_orderdate"), F.col("o_orderkey")],
        value_col="o_totalprice",
        prev_col="prev_price",
        next_col="next_price",
    )
    return out.select(
        "o_custkey", "o_orderkey", "o_totalprice", "prev_price", "next_price"
    )


@workload(
    "window_rank_ntile",
    oracle="""
    SELECT o_orderpriority, o_orderkey,
           rank() OVER w AS rnk, dense_rank() OVER w AS dense_rnk,
           ntile(4) OVER w AS tile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)""",
)
def window_rank_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended §2.6: rank/dense_rank/ntile; o_orderkey tie-break makes the
    tile assignment a deterministic total order."""
    orders = _t(spark, sf_dir, "orders")
    out = window_ops.ranked(
        orders,
        keys=["o_orderpriority"],
        order_by=[F.desc("o_totalprice"), F.col("o_orderkey")],
        n_tiles=4,
    )
    return out.select("o_orderpriority", "o_orderkey", "rnk", "dense_rnk", "tile")


@workload(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,10))) OVER w
                AS VARCHAR) AS DOUBLE) AS running_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY CAST(o_orderdate AS DATE), o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended §2.6: cumulative spend per customer with an explicit ROWS
    frame; exact-decimal accumulation keeps every prefix bit-identical."""
    orders = _t(spark, sf_dir, "orders")
    out = window_ops.running_sum(
        orders,
        keys=["o_custkey"],
        order_by=[F.to_date("o_orderdate"), F.col("o_orderkey")],
        value_col="o_totalprice",
    )
    return out.select("o_custkey", "o_orderkey", "running_total")


@workload(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS cnt, {sql_isum('l_quantity')} AS total_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    -- empty-input alignment (r12): see agg_rollup
    HAVING COUNT(*) > 0""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended §2.5: CUBE — all grouping-set combinations in one pass
    (Spark Expand; near-free next to ROLLUP)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("cnt"), isum("l_quantity").alias("total_qty"))
    )


@workload(
    "setop_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""",
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op §2.8: customers holding both finished and open orders."""
    orders = _t(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return set_ops.intersect(f, o)


@workload(
    "setop_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""",
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op §2.8: EXCEPT ALL (multiset difference — Spark exceptAll)."""
    orders = _t(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return set_ops.except_all(f, o)


@workload(
    "multimodal_features",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS media_id, 'image' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_hash
    FROM documents""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing (north star): opaque binary payloads through an
    Arrow-batched mapInPandas feature extractor. Payloads here are utf-8
    document bytes standing in for image blobs (no codec libs in this
    container — operators/multimodal.py stubs the decoder); the byte-count
    and content-hash plumbing is exact and oracle-checked. The fake feature
    vector is computed (exercising the batch path) then projected away."""
    docs = _docs(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    feats = multimodal_ops.extract_features(media)
    return feats.select("media_id", "media_type", "n_bytes", "content_hash")


@workload(
    "multimodal_frame_sample",
    # The injected extractor is deterministic 8-byte chunking with
    # stride 32 (every_n=4), so frame/byte counts have a CLOSED FORM the
    # oracle states directly: n = ceil(L/32), bytes = 8·(L div 32) +
    # min(L mod 32, 8) over the UTF-8 payload length — upgrading the
    # last contract-less rows-only key to a full value-level check of
    # the row-expanding mapInPandas plumbing (the real codec stays
    # environment-gated; the accounting is what this proves).
    oracle="""
    WITH d AS (SELECT doc_id, octet_length(encode(text)) AS L
               FROM documents WHERE doc_id < 200)
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(L // 32 + CASE WHEN L % 32 > 0 THEN 1 ELSE 0 END
                AS BIGINT) AS n_frames,
           CAST((L // 32) * 8 + LEAST(L % 32, 8) AS BIGINT)
             AS sampled_bytes
    FROM d WHERE L > 0""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: row-expanding frame sampler (video → frames)
    with an injected deterministic extractor (8-byte chunks as 'frames')."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    # Python-stage sizing by data volume, same rationale (and measured
    # evidence) as multimodal_phash_dedup above: 200 pinned rows never
    # warrant 32 Python worker round-trips.
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("video").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
    ).coalesce(
        multimodal_ops.python_stage_partitions(spark, 200)
    )

    def chunk_frames(payload: bytes, every: int) -> list[bytes]:
        payload = payload or b""
        return [payload[i : i + 8] for i in range(0, len(payload), 8 * every)]

    frames = multimodal_ops.sample_frames(
        media, every_n=4, frame_extractor=chunk_frames
    )
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.length("frame_payload")).alias("sampled_bytes"),
    )


@workload(
    "dq_metrics_single_pass",
    oracle="""
    WITH w AS (
      SELECT o.*, COUNT(*) OVER (PARTITION BY o_orderkey) AS __kc,
             (c.c_custkey IS NOT NULL) AS __ref_ok
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT 'custkey_not_null' AS rule_name,
           CAST(COUNT(*) AS BIGINT) AS total_count,
           CAST(SUM(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS valid_count,
           CAST(COUNT(*) - SUM(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0
                END) AS BIGINT) AS invalid_count FROM w
    UNION ALL
    SELECT 'priority_format', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN COALESCE(regexp_matches(o_orderpriority,
                    '^[1-5]-'), FALSE) THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) - SUM(CASE WHEN COALESCE(regexp_matches(
                    o_orderpriority, '^[1-5]-'), FALSE) THEN 1 ELSE 0 END)
                AS BIGINT) FROM w
    UNION ALL
    SELECT 'price_above_1000', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN COALESCE(o_totalprice > 1000, FALSE) THEN 1
                ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) - SUM(CASE WHEN COALESCE(o_totalprice > 1000, FALSE)
                    THEN 1 ELSE 0 END) AS BIGINT) FROM w
    UNION ALL
    SELECT 'orderkey_unique', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN __kc = 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) - SUM(CASE WHEN __kc = 1 THEN 1 ELSE 0 END)
                AS BIGINT) FROM w
    UNION ALL
    SELECT 'custkey_in_customer', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN COALESCE(__ref_ok, FALSE) THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(COUNT(*) - SUM(CASE WHEN COALESCE(__ref_ok, FALSE) THEN 1
                ELSE 0 END) AS BIGINT)
    FROM w""",
)
def dq_metrics_single_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4-M6: all five DQ rule types evaluated in ONE aggregation pass (the
    reference re-scans the input 3-5× per rule, dq_engine.py:26-145). The
    referential-integrity rule broadcasts the dimension keys."""
    from metadata_driven_etl_spark.config.model import DQRuleConfig
    from metadata_driven_etl_spark.dq.engine import DataQualityEngine

    orders = _t(spark, sf_dir, "orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("__dq_customer_ref")
    rules = [
        DQRuleConfig(rule_name="custkey_not_null", rule_type="not_null",
                     column="o_custkey"),
        DQRuleConfig(rule_name="priority_format", rule_type="regex",
                     column="o_orderpriority", pattern="^[1-5]-"),
        DQRuleConfig(rule_name="price_above_1000", rule_type="expression",
                     expression="o_totalprice > 1000"),
        DQRuleConfig(rule_name="orderkey_unique", rule_type="uniqueness",
                     columns=("o_orderkey",)),
        DQRuleConfig(rule_name="custkey_in_customer",
                     rule_type="referential_integrity", column="o_custkey",
                     ref_table="__dq_customer_ref", ref_column="c_custkey"),
    ]
    return DataQualityEngine(spark).metrics_df(orders, rules)


@workload(
    "similarity_ann_ivf_exact",
    oracle=sim_ops.sql_brute_force_topk(num_queries=5),
)
def similarity_ann_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN driven to exactness: ``n_probe = n_cells`` probes every
    cell, so every vector is scored and the output equals brute-force
    top-k — which is exactly what the DuckDB oracle computes. Gives the
    IVF machinery (KMeans quantizer, cell assignment, centroid-probe
    ranking, within-cell scoring) a real driver hash row regardless of
    where the quantizer places centroids; the production approximate
    setting (probe-limited, run verbatim inside
    ``similarity_ann_ivf_bounded``) differs only in n_probe and stays
    property-pinned by tests/test_similarity.py. The former free-running
    rows-only ``similarity_ann_ivf`` key was retired in r10 (VERDICT r9
    item 3); its write-once bucketed-index lifecycle stays covered by
    tests/test_incremental_index_e2e.py and tests/test_operators_props.py.

    fit_fraction is deliberately small (0.1): at full probe the output is
    exact REGARDLESS of where the quantizer puts centroids (every cell is
    scanned), so the expensive part of the fit buys nothing here — the
    same reason a 100 TB corpus never fits its coarse quantizer on more
    than a sliver."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    # max_iter=2/init_steps=1: at n_probe = n_cells EVERY cell is probed
    # and every vector scored once, so the output is PROVABLY identical
    # for any centroid placement — the cheapest fit that still exercises
    # the quantizer machinery is the right one (r13; fit was the
    # dominant cost of this query at ~20 scheduling-bound jobs).
    assigned, centroids = sim_ops.ivf_build_index(
        emb, n_cells=16, seed=42, fit_fraction=0.1, max_iter=2,
        init_steps=1,
    )
    return sim_ops.ivf_probe(
        assigned, centroids, queries, k=5, n_probe=16
    )


@workload(
    "similarity_ann_ivf_bounded",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(1 AS INT) AS recall_ok
    FROM embeddings WHERE vec_id < 20""",
)
def similarity_ann_ivf_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked AGGREGATE recall contract for the PRODUCTION IVF ANN
    path (sibling of ``similarity_ann_lsh_bounded``): Spark runs the
    probe-limited IVF index (deterministic: fixed-seed sampled KMeans
    fit, n_probe=6 — the tests/test_ann_recall.py setting) AND its own
    brute-force exact top-k over a 20-query batch, and emits ONE row
    ``CAST(aggregate recall@5 >= 0.5 AS INT)``; the DuckDB twin emits
    literal 1. IVF on random vectors is the quantizer's worst case (no
    cluster structure — measured aggregate 0.67/0.73/0.77 at
    sf0.001/0.01/0.1), which is exactly why the bound is worth proving
    in the driver artifact; per-query IVF recall legitimately dips to
    0.2 on adversarial queries, so the contract is the batch-level one
    (the recall test pins the same shape at ≥0.6 with margin)."""
    emb = materialize(_emb(spark, sf_dir))
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    exact = sim_ops.brute_force_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    assigned, centroids = sim_ops.ivf_build_index(
        emb, n_cells=16, seed=42, fit_fraction=0.5
    )
    approx = sim_ops.ivf_probe(
        assigned, centroids, queries, k=5, n_probe=6
    ).select("query_id", "neighbor_id")
    hits = approx.join(
        exact, ["query_id", "neighbor_id"], "leftsemi"
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    nq = queries.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    # bound: aggregate recall >= 0.5 with the TRUE denominator |exact
    # top-k rows| (= 20 queries * k=5 = 100 at shipped SFs, so the
    # former literal >= 50 is unchanged there; on corpora smaller than
    # k the hard-coded form was unachievable — r12 degenerate sweep).
    # 2*hits >= n_exact is the exact integer cross-multiplication.
    return (
        nq.crossJoin(F.broadcast(hits))
        .crossJoin(F.broadcast(n_exact))
        .select(
            "n_queries",
            (F.col("n_hits") * 2 >= F.col("n_exact"))
            .cast("int")
            .alias("recall_ok"),
        )
    )


@workload(
    "join_asof",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           c.ts AS asof_click_ts, c.value AS asof_click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                    WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (absent from Spark AND the reference): for each purchase,
    the user's latest click at-or-before it — union + last_value window,
    ONE shuffle, never the |L|x|R| theta-join pair space."""
    from metadata_driven_etl_spark.operators import temporal

    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("value").alias("click_value")
    )
    out = temporal.asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="click_ts",
        right_cols=["click_ts", "click_value"],
    )
    return out.select("event_id", "user_id", "ts", "asof_click_ts", "asof_click_value")


@workload(
    "join_asof_tolerance",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, value FROM events
          WHERE event_type = 'click'),
    j AS (SELECT p.event_id, p.user_id, p.ts,
                 c.ts AS mts, c.value AS mval
          FROM p ASOF LEFT JOIN c
            ON p.user_id = c.user_id AND p.ts <= c.ts)
    SELECT event_id, user_id, ts,
           CASE WHEN mts IS NOT NULL
                     AND epoch_us(mts) - epoch_us(ts) <= 1800 * 1000000
                THEN mts END AS next_click_ts,
           CASE WHEN mts IS NOT NULL
                     AND epoch_us(mts) - epoch_us(ts) <= 1800 * 1000000
                THEN mval END AS next_click_value
    FROM j""",
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with a staleness bound (pandas merge_asof
    ``direction='forward', tolerance=30min``): for each purchase, the
    user's NEXT click at-or-after it, or NULL if none lands within 30
    minutes — the "did the purchase lead anywhere" / feature-freshness
    query shape. The oracle is DuckDB's native forward ASOF JOIN plus
    the tolerance CASE — row-atomic like the engine's struct carry, so
    the hash pins direction, tolerance, AND the matched-row atomicity
    (an earlier per-column-carry oracle replicated the defect the
    engine fixed and couldn't catch NULL-value bleed-through). Same
    single-shuffle plan as the backward as-of: never a theta join."""
    from metadata_driven_etl_spark.operators import temporal

    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    out = temporal.asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="click_ts",
        right_cols=["click_ts", "click_value"], prefix="next_",
        direction="forward", tolerance_seconds=1800,
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("next_click_ts").alias("next_click_ts"),
        F.col("next_click_value").alias("next_click_value"),
    )


@workload(
    "join_range",
    oracle="""
    SELECT p.event_id, p.user_id,
           COUNT(*) AS n_views,
           CAST(SUM(CASE WHEN v.value IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_valued
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
    GROUP BY 1, 2""",
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-interval range join via time-bin bucketing: views within the
    hour before each purchase. Candidates only materialize per (user, bin)."""
    from metadata_driven_etl_spark.operators import temporal

    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    pairs = temporal.range_join_binned(
        purchases, views, key="user_id", lower_seconds=3600, upper_seconds=0,
        bin_seconds=3600,
    )
    return pairs.groupBy(F.col("l.event_id").alias("event_id"),
                         F.col("l.user_id").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_views"),
        F.sum(F.when(F.col("r.value").isNotNull(), 1).otherwise(0)).alias("n_valued"),
    )


@workload(
    "sample_hash",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    WHERE ('0x' || substr(md5(l_orderkey || '_' || l_linenumber), 1, 8))::BIGINT
          % 100 < 10""",
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample by primary-key hash — the reproducible
    sampling a training-data pipeline needs (rand()-based sampling changes
    membership across runs/engines/partitionings; hash-mod membership is a
    pure function of the row key)."""
    li = _t(spark, sf_dir, "lineitem")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("_", "l_orderkey", "l_linenumber")), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return li.filter(bucket < 10).select("l_orderkey", "l_linenumber", "l_quantity")


@workload(
    "sample_stratified",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
      FROM documents)
    WHERE rn <= 50""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sample: up to 50 docs per language, chosen
    by hash order (uniform within stratum, reproducible everywhere) — one
    window shuffle on the stratum key."""
    from metadata_driven_etl_spark.operators.windows import topk_per_group

    docs = _t(spark, sf_dir, "documents")
    out = topk_per_group(
        docs.select("doc_id", "lang"),
        keys=["lang"],
        order_by=[F.md5(F.col("doc_id").cast("string")), F.col("doc_id")],
        k=50,
    )
    return out.select("doc_id", "lang")


@workload(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS qty_p50,
           quantile_cont(l_quantity, 0.9) AS qty_p90,
           quantile_cont(l_extendedprice, 0.5) AS price_p50
    FROM lineitem GROUP BY 1""",
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (absent from the reference's agg surface).
    Spark `percentile` and DuckDB `quantile_cont` share the textbook
    h=(n-1)q interpolation on doubles → bit-identical results. The
    approximate scale path is `approx_percentile` (t-digest sketch,
    mergeable map-side — use it at 100 TB where exact sort-based
    percentile's per-group buffering hurts)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("qty_p50"),
            F.expr("percentile(l_quantity, 0.9)").alias("qty_p90"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("price_p50"),
        )
    )


# =========================================================================
# Extended surface: multi-join analytic queries (TPC-H shapes).
#
# The reference's gold models stop at one fact ⋈ one dim (gold_config.yaml:
# 8-61); a complete analytics engine must run the classic warehouse shapes —
# wide scan-agg (Q1), selective 3-way join + top-k (Q3), star join over the
# full dimension chain (Q5). All money math uses the exact-decimal helpers
# so results hash-match DuckDB bit-for-bit.
# =========================================================================


@workload(
    "tpch_q1_pricing",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_isum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}
               AS sum_charge,
           {sql_isum('l_quantity')} / COUNT(l_quantity) AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY 1, 2""",
)
def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide scan → filter → 8-aggregate group-by.

    The whole query is one partial+final hash aggregation over a pruned
    parquet scan (date filter pushed down); no shuffle besides the 4-group
    final agg — the canonical 100 TB scan-heavy pattern.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") <= F.lit("1998-09-02").cast("date")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return agg_ops.group_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        {
            "sum_qty": isum("l_quantity"),
            "sum_base_price": dsum("l_extendedprice"),
            "sum_disc_price": dsum(disc_price),
            "sum_charge": dsum(disc_price * (1 + F.col("l_tax"))),
            "avg_qty": isum("l_quantity") / F.count("l_quantity"),
            "avg_price": davg("l_extendedprice"),
            "avg_disc": davg("l_discount"),
            "count_order": F.count(F.lit(1)),
        },
    )


@workload(
    "tpch_q3_topk",
    oracle=f"""
    SELECT l_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderpriority,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND CAST(o_orderdate AS DATE) < DATE '1997-06-30'
      AND CAST(l_shipdate AS DATE) > DATE '1997-06-30'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10""",
)
def tpch_q3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective fact⋈fact⋈dim join, group, top-10 revenue.

    Customer (filtered to one segment) broadcasts into orders; the
    orders⋈lineitem join shuffles only date-filtered rows (both predicates
    push to the scans). Final ORDER BY+LIMIT plans as TakeOrderedAndProject
    — each task keeps 10 rows. l_orderkey tie-break keeps the selected set
    deterministic; revenue itself is bit-identical via exact-decimal sums.
    """
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    cutoff = F.lit("1997-06-30").cast("date")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.to_date("o_orderdate") < cutoff)
        .select(
            "o_orderkey",
            "o_custkey",
            F.to_date("o_orderdate").alias("order_date"),
            "o_orderpriority",
        )
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.to_date("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    fact = join_ops.join_inner(
        orders, cust, on=orders["o_custkey"] == cust["c_custkey"]
    ).join(li, F.col("l_orderkey") == F.col("o_orderkey"))
    grouped = agg_ops.group_agg(
        fact,
        ["l_orderkey", "order_date", "o_orderpriority"],
        {"revenue": dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))},
    )
    return sort_ops.top_k(grouped, [F.desc("revenue"), F.col("l_orderkey")], 10)


@workload(
    "tpch_q5_region_revenue",
    oracle=f"""
    SELECT n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
    GROUP BY 1""",
)
def tpch_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: full star join — 2 facts + 4 broadcast dims.

    Region→nation→supplier prunes to one region BEFORE touching facts; the
    only big shuffle is lineitem⋈orders. customer and the pruned supplier
    chain broadcast (star dims stay MB-scale even at 100 TB facts). The
    c_nationkey = s_nationkey clause rides along as a post-join filter on
    broadcast columns.
    """
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = join_ops.join_inner(
        _t(spark, sf_dir, "nation"),
        region,
        on=F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    supplier = join_ops.join_inner(
        _t(spark, sf_dir, "supplier"),
        nation,
        on=F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_nationkey", "n_name")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.to_date("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.to_date("o_orderdate") < F.lit("1998-01-01").cast("date"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    fact = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return agg_ops.group_agg(
        fact,
        ["n_name"],
        {"revenue": dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))},
    )


@workload(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
           COUNT(*) AS cnt,
           {sql_isum('l_quantity')} AS total_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    -- empty-input alignment (r12): see agg_rollup
    HAVING COUNT(*) > 0""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended §2.5: explicit GROUPING SETS (between ROLLUP and CUBE) with
    GROUPING() markers disambiguating set-introduced NULLs. One Expand +
    one aggregation — same single-shuffle cost as a plain group-by."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).alias("cnt"),
            isum("l_quantity").alias("total_qty"),
        )
    )


@workload(
    "scalar_date_string",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(o_orderdate AS DATE) + 30 AS due_date,
           CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01')
                AS INTEGER) AS days_to_ref,
           date_trunc('month', CAST(o_orderdate AS DATE)) AS month_start,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(month(o_orderdate) AS INTEGER) AS order_month,
           upper(substring(o_orderpriority, 3, 20)) AS priority_name,
           CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS priority_num,
           concat_ws('-', o_orderstatus,
                     lpad(CAST(o_orderkey AS VARCHAR), 10, '0')) AS order_label,
           replace(o_orderpriority, '-', '_') AS priority_snake,
           CAST(length(o_orderpriority) AS INTEGER) AS priority_len,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open
    FROM orders""",
)
def scalar_date_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended §2.9: the date/string scalar surface the reference lacks
    (SURVEY.md §2.9 — "no date arithmetic, no string functions"). All
    JVM-side codegen expressions; cross-engine-identical semantics chosen
    deliberately (1-based substring, lpad truncation, NULLIF/COALESCE)."""
    d = F.to_date("o_orderdate")
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        d.alias("order_date"),
        F.date_add(d, 30).alias("due_date"),
        F.datediff(F.lit("1999-01-01").cast("date"), d).alias("days_to_ref"),
        F.trunc(d, "month").alias("month_start"),
        F.last_day(d).alias("month_end"),
        F.year(d).alias("order_year"),
        F.month(d).alias("order_month"),
        F.upper(F.substring("o_orderpriority", 3, 20)).alias("priority_name"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("priority_num"),
        F.concat_ws(
            "-",
            F.col("o_orderstatus"),
            F.lpad(F.col("o_orderkey").cast("string"), 10, "0"),
        ).alias("order_label"),
        F.replace(F.col("o_orderpriority"), F.lit("-"), F.lit("_")).alias(
            "priority_snake"
        ),
        F.length("o_orderpriority").alias("priority_len"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")).alias(
            "status_or_open"
        ),
    )


@workload(
    "window_moving_avg",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,10))) OVER w
                AS VARCHAR) AS DOUBLE)
             / COUNT(o_totalprice) OVER w AS moving_avg
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY CAST(o_orderdate AS DATE), o_orderkey
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""",
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended §2.6: trailing 7-order moving average with a bounded ROWS
    frame (frames absent from the reference — SURVEY.md §2.6). Exact-decimal
    frame sums keep every prefix bit-identical to the oracle."""
    orders = _t(spark, sf_dir, "orders")
    out = window_ops.moving_avg(
        orders,
        keys=["o_custkey"],
        order_by=[F.to_date("o_orderdate"), F.col("o_orderkey")],
        value_col="o_totalprice",
        preceding=6,
    )
    return out.select("o_custkey", "o_orderkey", "moving_avg")


@workload(
    "dedup_cluster_cc",
    oracle=dedup_ops.sql_connected_components(dedup_ops.sql_lsh_candidate_pairs()),
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the MinHash-LSH
    candidate-pair graph → (doc_id, cluster_id = min id in component).
    The step a real dedup pipeline needs after pair generation: keep one
    representative per cluster. Iterative min-label propagation (see
    dedup.connected_components); oracle is a recursive CTE."""
    docs = _docs(spark, sf_dir)
    pairs = dedup_ops.lsh_candidate_pairs(docs)
    return dedup_ops.connected_components(docs.select("doc_id"), pairs)


@workload(
    "dedup_incremental_lsh",
    oracle=dedup_ops.sql_incremental_dedup_survivors(
        "(SELECT * FROM documents WHERE doc_id % 5 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 5 <> 0)",
    ),
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: today's batch screened against a PERSISTED
    corpus band index (dedup.lsh_bands) — the operation a 100 TB corpus
    actually runs daily, instead of re-hashing everything. Batch bands
    broadcast; the petabyte-side index streams with no corpus shuffle.
    Within-batch collisions keep the lowest doc_id."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    index = dedup_ops.lsh_bands(corpus)
    return dedup_ops.incremental_dedup_survivors(batch, index).select(
        "doc_id"
    )


@workload(
    "json_extract_agg",
    oracle="""
    SELECT event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT)
               AS sum_k,
           MIN(CAST(json_extract(props, '$.k') AS INTEGER)) AS min_k,
           MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k
    FROM events GROUP BY 1""",
)
def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended §2.9: typed JSON extraction (the reference only flattens
    JSON at ingest via schema inference — bronze_config.yaml:31-40; it has
    no per-row JSON functions). ``from_json`` with an explicit schema stays
    JVM-side and null-safe on malformed rows."""
    ev = _t(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@workload(
    "array_explode_centroid",
    oracle="""
    SELECT label, pos,
           list_reduce(list_prepend(0.0, list_sort(list(val))),
                       (acc, x) -> acc + x) / len(list(val)) AS centroid_val
    FROM (
        SELECT label,
               CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    ) t
    GROUP BY 1, 2""",
)
def array_explode_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended array surface: per-label centroids via posexplode → group
    by (label, position) → deterministic mean. The relational form of
    "average the embeddings per class": one explode plus one hash agg keyed
    by (label, pos) — narrow (int, int, double) shuffle rows at 100 TB.

    Parity note: arbitrary doubles can't ride the decimal-sum trick
    (DuckDB's double→decimal cast is multiply-based and disagrees with
    Spark's exact BigDecimal rounding in the last quantum), so the mean is
    made order-deterministic instead: sort the group's values, fold
    sequentially in double — bit-identical in both engines. Bounded group
    sizes only; at unbounded scale swap in plain ``avg`` with a tolerance.
    """
    emb = _emb(spark, sf_dir)
    pos_val = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    ).select("label", (F.col("pos") + 1).cast("int").alias("pos"), "val")
    vals = F.sort_array(F.collect_list("val"))
    return (
        pos_val.groupBy("label", "pos")
        .agg(vals.alias("vals"))
        .select(
            "label",
            "pos",
            (
                F.aggregate("vals", F.lit(0.0), lambda acc, x: acc + x)
                / F.size("vals")
            ).alias("centroid_val"),
        )
    )


@workload(
    "window_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice) OVER w_full AS last_price,
           nth_value(o_totalprice, 2) OVER w_full AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
           w_full AS (PARTITION BY o_custkey
                 ORDER BY CAST(o_orderdate AS DATE), o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended §2.6: first/last/nth_value analytics. last_value carries the
    classic pitfall — the default frame ends at CURRENT ROW, so it needs an
    explicit unbounded-following frame (same rule in both engines). Values
    pass through untouched (no float accumulation), so parity is free."""
    orders = _t(spark, sf_dir, "orders")
    from pyspark.sql import Window

    order_cols = [F.to_date("o_orderdate"), F.col("o_orderkey")]
    w = Window.partitionBy("o_custkey").orderBy(*order_cols)
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w_full).alias("second_price"),
    )


@workload(
    "window_percent_rank",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice)""",
)
def window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended §2.6: relative-rank analytics. Both functions are exact
    rationals of row positions ((rank-1)/(n-1), peers/n) — a single IEEE
    division of identical integers in both engines, so bit-identical; ties
    get identical ranks, making the result order-insensitive."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice")
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@workload(
    "string_agg_sorted",
    oracle="""
    SELECT o_custkey,
           string_agg(CAST(o_orderkey AS VARCHAR), ','
                      ORDER BY CAST(o_orderkey AS VARCHAR)) AS order_keys,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY 1""",
)
def string_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended §2.5: order-deterministic string aggregation (LISTAGG).
    ``collect_list`` has no deterministic order under parallelism — the
    engine sorts the collected array before joining, which is the only
    reproducible listagg on a cluster. Oracle pins the same order with
    ORDER BY inside string_agg."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list(F.col("o_orderkey").cast("string"))),
                ",",
            ).alias("order_keys"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@workload(
    "correlated_scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice >
        (SELECT CAST(CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(25,10)))
                     AS VARCHAR) AS DOUBLE) / COUNT(o2.o_totalprice)
         FROM orders o2 WHERE o2.o_custkey = o.o_custkey)""",
)
def correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above their customer's average spend. The SQL front door is a
    correlated scalar subquery (Catalyst decorrelates it into an aggregate
    + self-join — two scans); the engine's DataFrame form is ONE window
    aggregation over a single scan — same semantics, half the I/O, one
    shuffle. Exact-decimal window sum keeps the threshold bit-identical."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    cust_avg = (
        F.sum(F.col("o_totalprice").cast("decimal(25,10)")).over(w).cast("double")
        / F.count("o_totalprice").over(w)
    )
    return (
        orders.withColumn("cust_avg", cust_avg)
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@workload(
    "unpivot_measures",
    oracle="""
    SELECT p_partkey, measure_name, measure_value
    FROM (SELECT p_partkey, CAST(p_size AS DOUBLE) AS p_size, p_retailprice
          FROM part)
    UNPIVOT (measure_value FOR measure_name IN (p_size, p_retailprice))""",
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended §2.5: UNPIVOT/melt — wide measures → long (entity, name,
    value) triples, the inverse of pivot_linestatus. Plans as a single
    Expand (2 output rows per input row), no shuffle at all."""
    return (
        _t(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.col("p_size").cast("double").alias("p_size"),
            "p_retailprice",
        )
        .unpivot(
            ids=["p_partkey"],
            values=["p_size", "p_retailprice"],
            variableColumnName="measure_name",
            valueColumnName="measure_value",
        )
    )


_SCD2_ORACLE = """
    WITH live AS (
        SELECT c_custkey, c_mktsegment, c_acctbal,
               DATE '2020-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
        FROM customer),
    hist AS (
        SELECT c_custkey, c_mktsegment, c_acctbal - 50 AS c_acctbal,
               DATE '2019-01-01' AS valid_from, DATE '2020-01-01' AS valid_to
        FROM customer WHERE c_custkey % 10 = 7),
    updates AS (
        SELECT c_custkey, c_mktsegment, c_acctbal + 100 AS c_acctbal
        FROM customer WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey, c_mktsegment, c_acctbal
        FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 3 <> 0
        UNION ALL
        SELECT c_custkey + 1000000, 'NEW', 0.0
        FROM customer WHERE c_custkey % 11 = 0),
    cmp AS (
        SELECT l.*, u.c_custkey AS uk, u.c_mktsegment AS useg,
               u.c_acctbal AS ubal
        FROM live l LEFT JOIN updates u ON l.c_custkey = u.c_custkey),
    changed AS (
        SELECT * FROM cmp
        WHERE uk IS NOT NULL AND NOT (
            c_mktsegment IS NOT DISTINCT FROM useg
            AND c_acctbal IS NOT DISTINCT FROM ubal))
    SELECT c_custkey, c_mktsegment, c_acctbal, valid_from, valid_to FROM hist
    UNION ALL
    SELECT c_custkey, c_mktsegment, c_acctbal, valid_from, valid_to
    FROM cmp WHERE uk IS NULL OR (
        c_mktsegment IS NOT DISTINCT FROM useg
        AND c_acctbal IS NOT DISTINCT FROM ubal)
    UNION ALL
    SELECT c_custkey, c_mktsegment, c_acctbal, valid_from,
           DATE '2021-06-01' AS valid_to
    FROM changed
    UNION ALL
    SELECT c_custkey, useg AS c_mktsegment, ubal AS c_acctbal,
           DATE '2021-06-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
    FROM changed
    UNION ALL
    SELECT u.c_custkey, u.c_mktsegment, u.c_acctbal,
           DATE '2021-06-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
    FROM updates u LEFT JOIN (SELECT c_custkey FROM live
                              UNION ALL SELECT c_custkey FROM hist) c
        ON u.c_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL
"""


@workload("scd2_dimension_update", oracle=_SCD2_ORACLE)
def scd2_dimension_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD merge (extended M7: the reference's incremental gold only
    overwrites rows — K3; real dimension management needs history). Inputs
    are derived deterministically from `customer` in both engines: a live
    dim + some closed history, updates containing changed / unchanged /
    brand-new keys. See merge.scd2_apply for semantics."""
    cust = _t(spark, sf_dir, "customer")
    live = cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.lit("2020-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    hist = cust.filter(F.col("c_custkey") % 10 == 7).select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_acctbal") - 50).alias("c_acctbal"),
        F.lit("2019-01-01").cast("date").alias("valid_from"),
        F.lit("2020-01-01").cast("date").alias("valid_to"),
    )
    current = live.unionByName(hist)
    updates = (
        cust.filter(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey",
            "c_mktsegment",
            (F.col("c_acctbal") + 100).alias("c_acctbal"),
        )
        .unionByName(
            cust.filter(
                (F.col("c_custkey") % 7 == 0) & (F.col("c_custkey") % 3 != 0)
            ).select("c_custkey", "c_mktsegment", "c_acctbal")
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 11 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit("NEW").alias("c_mktsegment"),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
    )
    return merge_ops.scd2_apply(
        current,
        updates,
        key="c_custkey",
        attrs=["c_mktsegment", "c_acctbal"],
        effective_date="2021-06-01",
    )


@workload(
    "regexp_word_freq",
    oracle="""
    SELECT word, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(regexp_extract_all(text, 's[a-z]{3,}')) AS word
          FROM documents) t
    GROUP BY 1
    HAVING COUNT(*) >= 5""",
)
def regexp_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended §2.9: regexp_extract_all → explode → frequency count with a
    HAVING filter. Pattern sticks to the RE2 ∩ java.util.regex common
    subset so both engines match identical spans."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit("s[a-z]{3,}"), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )


@workload(
    "agg_argmax_per_group",
    oracle="""
    SELECT c_mktsegment, c_custkey AS top_custkey, c_acctbal AS top_acctbal
    FROM customer
    QUALIFY row_number() OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal DESC, c_custkey DESC) = 1""",
)
def agg_argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended §2.5: argmax per group — "which customer holds the max
    balance per segment". One aggregation via max(struct(value, key))
    (lexicographic struct ordering = deterministic tie-break on key), which
    is ONE shuffle with map-side partials — strictly cheaper than the
    window/row_number formulation the oracle uses (full sort per group)."""
    best = F.max(F.struct("c_acctbal", "c_custkey")).alias("best")
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(best)
        .select(
            "c_mktsegment",
            F.col("best.c_custkey").alias("top_custkey"),
            F.col("best.c_acctbal").alias("top_acctbal"),
        )
    )


@workload(
    "resample_gap_fill",
    oracle=f"""
    WITH bounds AS (
        SELECT event_type, date_trunc('hour', min(ts)) AS b0,
               date_trunc('hour', max(ts)) AS b1
        FROM events GROUP BY 1),
    grid AS (
        SELECT event_type,
               unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        FROM bounds),
    per_bucket AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket,
               COUNT(*) AS n_events, {sql_dsum('value')} AS total_value
        FROM events GROUP BY 1, 2)
    SELECT g.event_type, g.bucket,
           COALESCE(p.n_events, 0) AS n_events,
           COALESCE(p.total_value, 0.0) AS total_value
    FROM grid g LEFT JOIN per_bucket p
      ON g.event_type = p.event_type AND g.bucket = p.bucket""",
)
def resample_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap filling (hypertable-rollup shape —
    absent from the reference, essential for event analytics): hourly
    buckets per event type over each type's observed span, empty hours
    materialized with zero counts. See temporal.resample_gap_fill."""
    from metadata_driven_etl_spark.operators import temporal

    events = _t(spark, sf_dir, "events")
    return temporal.resample_gap_fill(
        events,
        keys=["event_type"],
        ts_col="ts",
        step="1 hour",
        aggs={
            "n_events": F.count(F.lit(1)),
            "total_value": dsum("value"),
        },
        fills={"total_value": F.lit(0.0)},
    )


@workload("scan_orc", oracle="SELECT s_suppkey, s_name, s_acctbal FROM supplier")
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-extended: ORC scan (Spark-native columnar format beyond the
    reference's parquet/CSV/JSON trio). Session-unique write-once
    fixture, same contract as scan_csv/scan_json."""
    path = _scan_fixture(
        spark,
        sf_dir,
        "scan_orc",
        lambda p: _t(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_name", "s_acctbal")
        .coalesce(1)
        .write.mode("overwrite")
        .orc(p),
    )
    return spark.read.orc(path).select("s_suppkey", "s_name", "s_acctbal")


_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "\\+1-555-[0-9]{4}"


@workload(
    "text_pii_redact",
    oracle=f"""
    WITH enriched AS (
        SELECT doc_id,
               text || ' contact user' || doc_id ||
               '@example.com or +1-555-' ||
               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text2
        FROM documents)
    SELECT doc_id,
           regexp_replace(
               regexp_replace(text2, '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g') AS redacted,
           CAST(len(regexp_extract_all(text2, '{_EMAIL_RE}')) AS INTEGER)
               AS n_emails
    FROM enriched""",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data op: PII redaction — regexp-scrub emails/phones, count
    hits for audit. The corpus has no natural PII, so deterministic fake
    PII is appended from doc_id identically in both engines, then removed.
    Pure JVM regexp (codegen); patterns in the RE2∩Java common subset.
    Spark's regexp_replace is global by default; DuckDB needs the 'g' flag.
    """
    docs = _docs(spark, sf_dir)
    text2 = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    enriched = docs.select("doc_id", text2.alias("text2"))
    return enriched.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("text2"), _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("redacted"),
        F.size(F.regexp_extract_all(F.col("text2"), F.lit(_EMAIL_RE), 0)).alias(
            "n_emails"
        ),
    )


@workload(
    "agg_histogram",
    oracle="""
    WITH bounds AS (
        SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders)
    SELECT CAST(CASE WHEN hi <> lo
                     THEN least(floor((o_totalprice - lo) / (hi - lo) * 20),
                                19)
                     ELSE 0 END AS INTEGER) AS bin,
           COUNT(*) AS n,
           min(o_totalprice) AS bin_min,
           max(o_totalprice) AS bin_max
    FROM orders CROSS JOIN bounds
    GROUP BY 1""",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended §2.5: equal-width histogram/feature binning. Bounds come
    from one tiny aggregate broadcast back over the scan (two passes, both
    map-side partial); identical IEEE bin arithmetic in both engines makes
    the binning deterministic. A constant column (hi = lo) degrades to
    one bin 0 on BOTH engines instead of a divide-by-zero (r12
    degenerate sweep — under ANSI the bare division is a job-killing
    exception, not an inf)."""
    orders = _t(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    binned = orders.crossJoin(F.broadcast(bounds)).select(
        "o_totalprice",
        F.when(
            F.col("hi") != F.col("lo"),
            F.least(
                F.floor(
                    (F.col("o_totalprice") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * 20
                ),
                F.lit(19),
            ),
        )
        .otherwise(0)
        .cast("int")
        .alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("bin_min"),
        F.max("o_totalprice").alias("bin_max"),
    )


@workload(
    "agg_exact_stats",
    oracle="""
    WITH c AS (
        SELECT c_mktsegment,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cx,
               CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cy
        FROM orders JOIN customer ON o_custkey = c_custkey),
    m AS (
        SELECT c_mktsegment,
               COUNT(*) AS n,
               CAST(SUM(CAST(cx AS DECIMAL(20,0))) AS DECIMAL(20,0)) AS sx,
               CAST(SUM(CAST(cy AS DECIMAL(20,0))) AS DECIMAL(20,0)) AS sy,
               CAST(SUM(CAST(cx * cx AS DECIMAL(28,0))) AS DECIMAL(28,0)) AS sxx,
               CAST(SUM(CAST(cy * cy AS DECIMAL(28,0))) AS DECIMAL(28,0)) AS syy,
               CAST(SUM(CAST(cx * cy AS DECIMAL(28,0))) AS DECIMAL(28,0)) AS sxy
        FROM c GROUP BY 1),
    d AS (
        SELECT c_mktsegment, n,
               CAST(CAST(CAST(n AS DECIMAL(20,0)) * sxx - sx * sx AS VARCHAR)
                    AS DOUBLE) AS vx,
               CAST(CAST(CAST(n AS DECIMAL(20,0)) * syy - sy * sy AS VARCHAR)
                    AS DOUBLE) AS vy,
               CAST(CAST(CAST(n AS DECIMAL(20,0)) * sxy - sx * sy AS VARCHAR)
                    AS DOUBLE) AS cxy
        FROM m)
    SELECT c_mktsegment, n,
           CASE WHEN n > 1 THEN sqrt(vx / (n * (n - 1))) / 100
                ELSE NULL END AS stddev_price,
           CASE WHEN vx > 0 AND vy > 0
                THEN cxy / (sqrt(vx) * sqrt(vy))
                ELSE NULL END AS corr_price_bal
    FROM d""",
)
def agg_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended §2.5: sample stddev + Pearson correlation from EXACT moment
    sums. Spark's native stddev/corr stream order-dependent co-moments —
    not reproducible across engines or partitionings. Here 2-dp money maps
    to integer cents (identical floor(x*100+.5) in both engines), every
    moment accumulates in exact decimal (overflow-proof to 1e38, map-side
    partials intact), and the n·Sxy − Sx·Sy numerators stay in decimal —
    which also sidesteps C++ FMA contraction (a DuckDB double a*b−c*d fuses;
    JVM arithmetic never does, so a double formulation differs in the last
    ulp). Doubles appear only for the final sqrt/divide chain, which has no
    fusable a·b±c shape."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    joined = join_ops.join_inner(
        orders, customer, on=orders["o_custkey"] == customer["c_custkey"]
    )
    cents = lambda col: F.floor(F.col(col) * 100 + 0.5).cast("long")  # noqa: E731
    c = joined.select(
        "c_mktsegment", cents("o_totalprice").alias("cx"), cents("c_acctbal").alias("cy")
    )
    d20, d28 = "decimal(20,0)", "decimal(28,0)"
    m = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cx").cast(d20)).cast(d20).alias("sx"),
        F.sum(F.col("cy").cast(d20)).cast(d20).alias("sy"),
        F.sum((F.col("cx") * F.col("cx")).cast(d28)).cast(d28).alias("sxx"),
        F.sum((F.col("cy") * F.col("cy")).cast(d28)).cast(d28).alias("syy"),
        F.sum((F.col("cx") * F.col("cy")).cast(d28)).cast(d28).alias("sxy"),
    )
    nd = F.col("n").cast(d20)
    d = m.select(
        "c_mktsegment",
        "n",
        (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double").alias("vx"),
        (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double").alias("vy"),
        (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double").alias("cxy"),
    )
    n = F.col("n")
    # degenerate-denominator guards (ADVICE r11 class): single-row
    # groups and constant columns emit NULL explicitly on BOTH sides —
    # unguarded, Spark yields NULL where DuckDB yields inf/nan
    return d.select(
        "c_mktsegment",
        "n",
        F.when(n > 1, F.sqrt(F.col("vx") / (n * (n - 1))) / 100).alias(
            "stddev_price"
        ),
        F.when(
            (F.col("vx") > 0) & (F.col("vy") > 0),
            F.col("cxy") / (F.sqrt(F.col("vx")) * F.sqrt(F.col("vy"))),
        ).alias("corr_price_bal"),
    )


@workload(
    "window_cumulative_distinct",
    oracle="""
    WITH first_seen AS (
        SELECT event_type, user_id,
               min(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY 1, 2),
    daily_new AS (
        SELECT event_type, first_day AS day, COUNT(*) AS new_users
        FROM first_seen GROUP BY 1, 2)
    SELECT event_type, day, new_users,
           CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY day
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS cum_users
    FROM daily_new""",
)
def window_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per event type by day — the running
    COUNT(DISTINCT) window Spark (and SQL generally) can't express
    directly. Rewrite: first-occurrence day per (type, user) → daily new
    users → running integer sum. Two narrow shuffles; all-integer math so
    parity is exact."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    first_seen = events.groupBy("event_type", "user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily_new = first_seen.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count(F.lit(1)).alias("new_users"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily_new.withColumn("cum_users", F.sum("new_users").over(w))


@workload(
    "text_tf_df_score",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({text_ops.sql_tokens('text')}) AS term
        FROM documents),
    stats AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS tf,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM tok GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT term, tf, df,
           tf * ((n_docs + 1.0) / (df + 1.0)) AS rarity_score
    FROM stats CROSS JOIN n""",
)
def text_tf_df_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term statistics: term frequency, document frequency, and a
    rarity weighting tf·(N+1)/(df+1) — the TF-IDF shape with a rational
    weight instead of log (ln is not correctly-rounded in either engine's
    math library, so a log-based score can differ in the last ulp; the
    rational is bit-identical). One explode + two aggregations; the scalar
    N broadcast back over the terms."""
    docs = _docs(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(text_ops.tokens("text")).alias("term"))
    stats = tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return stats.crossJoin(F.broadcast(n)).select(
        "term",
        "tf",
        "df",
        (F.col("tf") * ((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))).alias(
            "rarity_score"
        ),
    )


@workload(
    "tpch_q10_returned_topk",
    oracle=f"""
    SELECT c_custkey, c_name, c_mktsegment, n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o_orderdate AS DATE) < DATE '1996-07-01'
    GROUP BY 1, 2, 3, 4
    ORDER BY revenue DESC, c_custkey
    LIMIT 20""",
)
def tpch_q10_returned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue last half-year.
    Return-flag + date predicates push into both fact scans; customer and
    nation broadcast; TakeOrderedAndProject top-20 with key tie-break."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("o_orderdate") < F.lit("1996-07-01").cast("date"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    fact = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    grouped = agg_ops.group_agg(
        fact,
        ["c_custkey", "c_name", "c_mktsegment", "n_name"],
        {"revenue": dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))},
    )
    return sort_ops.top_k(grouped, [F.desc("revenue"), F.col("c_custkey")], 20)


@workload(
    "tpch_q12_priority_counts",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
    GROUP BY 1""",
)
def tpch_q12_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional integer counts of priority classes per
    line status over a shipping year — CASE-inside-SUM (all-integer,
    exact)."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1998-01-01").cast("date"))
    ).select("l_orderkey", "l_returnflag")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_count"),
        )
    )


@workload(
    "tpch_q14_promo_share",
    oracle=f"""
    SELECT 100.0 * {sql_dsum("CASE WHEN p_type = 'PROMO' "
                             "THEN l_extendedprice * (1 - l_discount) "
                             "ELSE 0.0 END")}
             / {sql_dsum('l_extendedprice * (1 - l_discount)')}
             AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'""",
)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — a ratio of two conditional
    exact-decimal sums in one aggregation pass (no second scan), part dim
    broadcast."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1997-04-01").cast("date"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (F.lit(100.0) * dsum(promo_rev) / dsum(rev)).alias(
                "promo_revenue_pct"
            )
        )
    )


@workload(
    "join_full_outer",
    oracle="""
    SELECT COALESCE(a.c_custkey, b.o_custkey) AS custkey,
           a.c_custkey IS NOT NULL AS in_building,
           b.o_custkey IS NOT NULL AS has_open_order
    FROM (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') a
    FULL OUTER JOIN
         (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O') b
      ON a.c_custkey = b.o_custkey""",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended §2.4 (reference has no right/full outer): full outer join of
    two key subsets with membership flags — the audit/reconciliation shape
    ("which entities are in A, B, or both")."""
    a = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    b = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select("o_custkey")
        .distinct()
    )
    return a.join(b, a["c_custkey"] == b["o_custkey"], "full_outer").select(
        F.coalesce(a["c_custkey"], b["o_custkey"]).alias("custkey"),
        a["c_custkey"].isNotNull().alias("in_building"),
        b["o_custkey"].isNotNull().alias("has_open_order"),
    )


@workload(
    "setop_intersect_all",
    oracle="""
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT ALL
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'""",
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 extended: bag-semantics INTERSECT ALL (duplicates preserved to
    the min multiplicity) — distinct from setop_intersect's set semantics."""
    cust = _t(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    b = cust.filter(F.col("c_mktsegment") == "MACHINERY").select("c_nationkey")
    return a.intersectAll(b)


@workload(
    "setop_except_all",
    oracle="""
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT ALL
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'""",
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 extended: bag-semantics EXCEPT ALL (multiplicity subtraction)."""
    cust = _t(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    b = cust.filter(F.col("c_mktsegment") == "MACHINERY").select("c_nationkey")
    return a.exceptAll(b)


@workload(
    "join_null_safe",
    oracle="""
    SELECT b.n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM (SELECT NULLIF(c_nationkey, 5) AS k, c_custkey FROM customer) a
    JOIN (SELECT NULLIF(n_nationkey, 5) AS k, n_name FROM nation) b
      ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY 1""",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended §2.4: null-safe equi-join (<=> / IS NOT DISTINCT FROM) —
    NULL keys match each other instead of vanishing, the semantics needed
    when joining on nullable business keys. NULLs injected via NULLIF
    identically in both engines."""
    a = _t(spark, sf_dir, "customer").select(
        F.nullif("c_nationkey", F.lit(5)).alias("k"), "c_custkey"
    )
    b = _t(spark, sf_dir, "nation").select(
        F.nullif("n_nationkey", F.lit(5)).alias("bk"), "n_name"
    )
    return (
        a.join(F.broadcast(b), a["k"].eqNullSafe(b["bk"]))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@workload(
    "agg_approx_percentile",
    oracle="""
    SELECT l_returnflag, 1 AS p50_within_bound, 1 AS p90_within_bound
    FROM lineitem GROUP BY 1""",
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate grouped percentiles at HIGH accuracy (1/10000 relative
    rank error), hash-gated (VERDICT r9 item 3 — this key was the
    registry's last rows-only sketch row): the GK sketch guarantees rank
    error ≤ n/accuracy, so the accuracy=10000 approx q-quantile must lie
    between the EXACT (q−0.001)- and (q+0.001)-quantiles (10× margin on
    the published bound). Spark computes both sides and emits the
    deterministic containment boolean per group; the DuckDB twin is
    literal 1, so the driver hash-checks the tight envelope.
    Complements ``agg_approx_percentile_bounded`` (accuracy=1000, ±0.005
    band): together they prove the bound at both sketch budgets.

    At 100 TB this is still the percentile path to ship: sketch buffers
    merge map-side with no per-group value buffering; the exact side
    exists only because the contract needs it."""
    li = _t(spark, sf_dir, "lineitem")
    approx = F.expr(
        "approx_percentile(l_extendedprice, array(0.5, 0.9), 10000)"
    )
    exact = F.expr(
        "percentile(l_extendedprice, "
        "array(0.499, 0.501, 0.899, 0.901))"
    )
    agg = (
        li.groupBy("l_returnflag")
        .agg(approx.alias("_ap"), exact.alias("_ex"))
    )
    contained = lambda i, lo, hi: (  # noqa: E731
        (F.element_at("_ap", i) >= F.element_at("_ex", lo))
        & (F.element_at("_ap", i) <= F.element_at("_ex", hi))
    ).cast("int")
    return agg.select(
        "l_returnflag",
        contained(1, 1, 2).alias("p50_within_bound"),
        contained(2, 3, 4).alias("p90_within_bound"),
    )


@workload(
    "agg_approx_percentile_bounded",
    oracle="""
    SELECT l_returnflag, 1 AS p50_within_bound, 1 AS p90_within_bound
    FROM lineitem GROUP BY 1""",
)
def agg_approx_percentile_bounded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Assertive accuracy contract for approx_percentile: the GK-sketch
    guarantees rank error ≤ n/accuracy, so with accuracy=1000 the approx
    q-quantile must lie between the EXACT (q−0.005)- and (q+0.005)-
    quantiles once n·0.005 ≥ n/1000 — true for every group here. Spark
    computes both sides and emits the deterministic containment boolean;
    the DuckDB twin is literal 1 per group, so the driver hash-checks the
    sketch's published error bound, not just row counts.

    The sketch is deterministic for a given dataset (insertion into GK
    summaries is merge-order-insensitive at these sizes), and the bound
    is a guarantee, not a tolerance — this row can only go red if the
    sketch implementation breaks its contract. At 100 TB: one map-side-
    mergeable aggregation, no per-group sort (unlike exact percentile)."""
    li = _t(spark, sf_dir, "lineitem")
    approx = F.expr(
        "approx_percentile(l_extendedprice, array(0.5, 0.9), 1000)"
    )
    exact = F.expr(
        "percentile(l_extendedprice, "
        "array(0.495, 0.505, 0.895, 0.905))"
    )
    agg = (
        li.groupBy("l_returnflag")
        .agg(approx.alias("_ap"), exact.alias("_ex"))
    )
    contained = lambda i, lo, hi: (  # noqa: E731
        (F.element_at("_ap", i) >= F.element_at("_ex", lo))
        & (F.element_at("_ap", i) <= F.element_at("_ex", hi))
    ).cast("int")
    return agg.select(
        "l_returnflag",
        contained(1, 1, 2).alias("p50_within_bound"),
        contained(2, 3, 4).alias("p90_within_bound"),
    )


@workload(
    "text_chunk_windows",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, {text_ops.sql_tokens('text')} AS t FROM documents),
    starts AS (
        SELECT doc_id, t,
               unnest(generate_series(0, len(t) - 1, 16)) AS start
        FROM tok)
    SELECT doc_id,
           CAST(start // 16 AS INTEGER) AS chunk_idx,
           CAST(len(list_slice(t, start + 1, start + 32)) AS INTEGER)
               AS n_chunk_tokens,
           array_to_string(list_slice(t, start + 1, start + 32), ' ')
               AS chunk_text
    FROM starts""",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data op: split documents into overlapping token windows
    (size 32, stride 16) — the chunking step before embedding/packing in an
    LLM data pipeline. sequence→explode→slice stays entirely in codegen;
    output rows are (doc, chunk) pairs whose count is Σ ceil(n_i/stride),
    so the explode is linear in corpus token count at any scale."""
    docs = _docs(spark, sf_dir)
    size, stride = 32, 16
    tok = docs.select("doc_id", text_ops.tokens("text").alias("t"))
    starts = tok.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(0), F.size("t") - 1, F.lit(stride))
        ).alias("start"),
    )
    chunk = F.slice("t", F.col("start") + 1, size)
    return starts.select(
        "doc_id",
        (F.col("start") / stride).cast("int").alias("chunk_idx"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


@workload(
    "pack_sequences",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang,
               CAST(len({text_ops.sql_tokens('text')}) AS BIGINT) AS n_tokens
        FROM documents),
    c AS (
        SELECT doc_id, lang, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum
        FROM tok)
    SELECT doc_id, lang, n_tokens,
           CAST((cum - 1) // 512 AS BIGINT) AS bin_id
    FROM c""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data op: deterministic sequence packing — assign docs
    (ordered by id, partitioned by language) to ~512-token bins by
    cumulative fill. The streaming-friendly packing an LLM pipeline uses
    when exact bin-packing (NP-hard, order-destroying) isn't worth it:
    one window shuffle keyed by language, pure integer math."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", "lang", text_ops.token_count("text").alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return tok.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - 1) / 512).alias("bin_id"),
    )


_DOMAIN_WEIGHTS = [(f"src{i}", ((i % 4) + 1) / 8.0) for i in range(20)]


@workload(
    "decontaminate_ngram_overlap",
    oracle=decontam_ops.sql_ngram_overlap(eval_pred="source = 'src0'", n=4),
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data op: benchmark decontamination. Docs from source
    'src0' act as the held-out eval set; every other doc reports how many
    of its word 4-grams appear anywhere in the eval set (the GPT-3-style
    n-gram overlap check). Eval n-grams are broadcast → map-side semi-join,
    zero corpus shuffles before the per-doc count."""
    docs = _docs(spark, sf_dir)
    eval_df = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    return decontam_ops.ngram_overlap(train, eval_df, n=4)


@workload(
    "decontaminate_bloom_prefilter",
    oracle=decontam_ops.sql_ngram_overlap(eval_pred="source = 'src0'", n=4),
)
def decontaminate_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination behind a built-in-only Bloom prefilter: the eval
    set's grams compress to a 16 KiB bitmap broadcast as ONE map row, the
    corpus tests k bits map-side, and an exact confirm join erases false
    positives — output (and oracle) identical to
    decontaminate_ngram_overlap, but the broadcast no longer grows with
    the eval suite (operators/decontam.py:ngram_overlap_bloom)."""
    docs = _docs(spark, sf_dir)
    eval_df = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    return decontam_ops.ngram_overlap_bloom(
        train, eval_df, n=4, num_bits=1 << 17, num_hashes=5
    )


@workload("text_repetition", oracle=text_ops.sql_repetition_features())
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data op: Gopher-style intra-doc repetition signals
    (distinct-token fraction, top-token fraction, duplicate-bigram
    fraction) for boilerplate/spam filtering."""
    docs = _docs(spark, sf_dir)
    return text_ops.repetition_features(docs)


@workload(
    "sample_domain_weighted",
    oracle="""
    WITH w(source, frac) AS (VALUES """
    + ", ".join(
        f"('{s}', CAST({f} AS DOUBLE))" for s, f in _DOMAIN_WEIGHTS
    )
    + f""")
    SELECT d.doc_id, d.source
    FROM documents d JOIN w USING (source)
    WHERE {sampling_ops.sql_hash_unit('d.doc_id')} < w.frac""",
)
def sample_domain_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data op: corpus mixing — keep each doc with its domain's
    target rate (hash-deterministic, so raising a weight only adds docs).
    Broadcast join on the 20-row weights table + map-side filter."""
    docs = _docs(spark, sf_dir)
    weights = spark.createDataFrame(_DOMAIN_WEIGHTS, "source string, frac double")
    out = sampling_ops.weighted_domain_sample(docs, weights)
    return out.select("doc_id", "source")


@workload(
    "split_leakage_safe",
    oracle=f"""
    SELECT doc_id, source,
           CASE WHEN u < 0.8 THEN 'train'
                WHEN u < 0.9 THEN 'valid'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, source,
                 {sampling_ops.sql_hash_unit('source')} AS u
          FROM documents)""",
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data op: leakage-safe train/valid/test split — the split
    is a pure function of the GROUP key's hash (here the source domain),
    so every document of a domain lands in one split and near-duplicates
    within a domain can never straddle train and test
    (operators/sampling.py:split_by_group; map-only, no shuffle). The
    0.8/0.9 cuts in the oracle match the operator's cumulative weights;
    the hash granularity (2^-32) is ~6 orders coarser than any float
    accumulation error in the boundaries, so the branches agree exactly."""
    docs = _docs(spark, sf_dir)
    out = sampling_ops.split_by_group(
        docs.select("doc_id", "source"),
        "source",
        [("train", 0.8), ("valid", 0.1), ("test", 0.1)],
    )
    return out.select("doc_id", "source", "split")


@workload(
    "split_by_dedup_cluster",
    oracle=f"""
    SELECT doc_id, cluster_id,
           CASE WHEN u < 0.8 THEN 'train'
                WHEN u < 0.9 THEN 'valid'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, cluster_id,
                 {sampling_ops.sql_hash_unit('cluster_id')} AS u
          FROM ({dedup_ops.sql_connected_components(
              dedup_ops.sql_lsh_candidate_pairs())}) labels) t""",
)
def split_by_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data op: the strongest leakage guarantee — split by the
    NEAR-DUP CLUSTER id (LSH pairs → connected components), so two
    near-duplicate documents can never straddle train and test even when
    they come from different domains (domain-level splitting misses
    cross-domain mirrors/scrapes). Split assignment is a pure function of
    the cluster label's hash (operators/sampling.py:split_by_group) —
    beyond the one-time clustering, the split itself adds zero shuffles."""
    docs = _docs(spark, sf_dir)
    labels = dedup_ops.connected_components(
        docs.select("doc_id"), dedup_ops.lsh_candidate_pairs(docs)
    )
    return sampling_ops.split_by_group(
        labels,
        "cluster_id",
        [("train", 0.8), ("valid", 0.1), ("test", 0.1)],
    )


@workload(
    "dedup_keep_best",
    oracle=dedup_ops.sql_keep_best_per_cluster(
        dedup_ops.sql_connected_components(dedup_ops.sql_lsh_candidate_pairs()),
        score_expr=f"CAST(len({text_ops.sql_tokens('text')}) AS BIGINT)",
    ),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data op: quality-aware dedup — cluster near-dups (LSH →
    connected components), then keep exactly the best-scoring member per
    cluster (score = token count here; any scorer plugs in). The full
    keep-one-copy pipeline a real corpus build runs."""
    # tokenize once, materialize once: docs feeds the pair generator, the
    # CC vertex set, and the scorer (same pattern as corpus_clean_pipeline)
    docs = materialize(_docs(spark, sf_dir).select(
        "doc_id", text_ops.tokens("text").alias("_toks")
    ))
    pairs = dedup_ops.lsh_candidate_pairs(docs, tokens_col="_toks")
    clusters = dedup_ops.connected_components(docs.select("doc_id"), pairs)
    scored = docs.select(
        "doc_id", F.size(F.col("_toks")).cast("long").alias("kept_score")
    )
    return dedup_ops.keep_best_per_cluster(clusters, scored)


@workload(
    "fuzzy_join_tables",
    oracle=dedup_ops.sql_fuzzy_join(
        "(SELECT * FROM documents WHERE source <> 'src0')",
        "(SELECT * FROM documents WHERE source = 'src0')",
    ),
)
def fuzzy_join_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution primitive: fuzzy (Jaccard ≥ 0.25) join between
    two tables via shared-LSH-band blocking — match noisy records against
    a reference set without the |L|×|R| cross product."""
    docs = _docs(spark, sf_dir)
    return dedup_ops.fuzzy_join(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
    )


@workload(
    "multimodal_phash_dedup",
    oracle="""
    SELECT CAST(a.doc_id AS VARCHAR) AS id_a,
           CAST(b.doc_id AS VARCHAR) AS id_b,
           0 AS hamming
    FROM documents a JOIN documents b
      ON CAST(a.doc_id AS VARCHAR) < CAST(b.doc_id AS VARCHAR)
     AND a.doc_id % 2 = b.doc_id % 2
    WHERE a.doc_id < 200 AND b.doc_id < 200
    """,
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup via perceptual hash (dHash), end to end on REAL
    image bytes: synthesize a deterministic PPM per doc (two visual
    classes + per-doc pixel noise), hash through the Arrow-batched
    mapInPandas path, and pair via pigeonhole bit-band blocking. The
    oracle is exact: noise never flips a dHash bit, so pairs = same-class
    pairs at Hamming 0 — the whole decode→hash→block→verify pipeline must
    be bit-perfect for the row set to match."""
    from metadata_driven_etl_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        make_ppm_dhash_hasher,
        perceptual_hash,
        phash_near_dup_pairs,
    )

    def synth(batches):
        import pandas as pd

        def ppm(doc_id: int) -> bytes:
            w = h = 16
            direction = 1 if doc_id % 2 == 0 else -1
            noise = doc_id % 3
            header = f"P6\n{w} {h}\n255\n".encode()
            px = bytearray()
            for y in range(h):
                for x in range(w):
                    v = int(
                        255 * (x if direction > 0 else w - 1 - x) / (w - 1)
                    )
                    if noise:
                        v = min(255, v + (x * 7 + y * 3) % (noise + 1))
                    px += bytes((v, v, v))
            return bytes(header) + bytes(px)

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype(str),
                    "media_type": "image",
                    "mime": "image/x-ppm",
                    "payload": pdf["doc_id"].map(ppm),
                    "width": 16,
                    "height": 16,
                    "duration_ms": None,
                }
            )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    # Size the Python stage by its DATA (a pinned 200-image set), not by
    # the corpus parallelism floor: at local[32] the floor sliced 200
    # rows into 32 Python tasks × 2 mapInPandas stages, each paying the
    # worker round-trip for ~6 rows — measured 1.85 s warm vs 0.91 s at
    # 3 tasks (guide §4.2/§2.2; the r12 VERDICT anti-scaling finding).
    from metadata_driven_etl_spark.operators.multimodal import (
        python_stage_partitions,
    )

    media = (
        docs.select("doc_id")
        .coalesce(python_stage_partitions(spark, 200))
        .mapInPandas(synth, schema=MEDIA_SCHEMA)
    )
    hashed = perceptual_hash(media, make_ppm_dhash_hasher())
    # the band self-join consumes `hashed` twice, and exchange reuse does
    # not cover the Python stage — materialize the (id, phash) frame
    # (hash-sized, payloadless) so decode+hash runs ONCE; at 100 TB the
    # decode is the dominant cost and must never execute per join side
    hashed = materialize(hashed)
    return phash_near_dup_pairs(hashed, max_hamming=2, id_col="media_id")


@workload(
    "profile_orders",
    oracle=prof_ops.sql_profile_table(
        "orders",
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate", "o_orderpriority"],
    ),
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-column content profile of the orders table: null
    counts, exact cardinalities, min/max — the data-profiling pass that
    seeds DQ rules and drift detection in a metadata-driven platform."""
    return prof_ops.profile_table(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate", "o_orderpriority"],
    )


@workload(
    "corpus_stats_report",
    oracle=f"""
    SELECT source, {text_ops.sql_lang_id('text')} AS lang_pred,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({text_ops.sql_tokens('text')})) AS BIGINT)
               AS total_tokens,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
           CAST(sum(CAST(round({{q}} * 1000000) AS BIGINT)) AS BIGINT)
               AS quality_micros
    FROM documents
    GROUP BY source, lang_pred
    """.format(q="round(least(len(" + text_ops.sql_tokens("text")
               + ") / 100.0, 1.0), 6)"),
)
def corpus_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus report card: per (source, predicted language) — doc and
    token counts, exact-dup rate (distinct content hashes vs docs), and
    total quality (exact integer micros, so the aggregate is
    order-independent and oracle-identical). The one-pass summary every
    corpus build ends with; one groupBy on low-cardinality keys."""
    docs = _docs(spark, sf_dir)
    lang = text_ops.lang_id_df(docs, "text")
    q = F.round(
        F.least(F.size(text_ops.tokens("text")) / F.lit(100.0), F.lit(1.0)),
        6,
    )
    return (
        lang.select(
            "source",
            "lang_pred",
            F.size(text_ops.tokens("text")).cast("long").alias("_ntok"),
            F.md5("text").alias("_h"),
            F.round(q * 1000000).cast("long").alias("_qm"),
        )
        .groupBy("source", "lang_pred")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_ntok").cast("long").alias("total_tokens"),
            F.count_distinct(F.col("_h")).cast("long").alias("n_unique_texts"),
            F.sum("_qm").cast("long").alias("quality_micros"),
        )
    )


@workload(
    "embedding_random_projection",
    oracle=f"""
    SELECT vec_id,
           CAST(unnest(generate_series(0, len(projected) - 1)) AS INTEGER)
               AS dim_idx,
           unnest(projected) AS component
    FROM ({sim_ops.sql_random_project(dim_in=64, dim_out=8)})
    """,
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64d → 8d: deterministic
    hash-derived hyperplanes, map-only, zero fitted state — the cheap
    pre-step that cuts every downstream ANN dot product 8×.

    Driver-facing shape: posexploded to (vec_id, dim_idx, component)
    scalar rows — the driver's canonicalizer cannot hash raw ArrayType
    cells (CORRECTNESS_r04). The DuckDB twin unnests identically, so the
    hash check stays exact per component."""
    return sim_ops.random_project(
        _emb(spark, sf_dir), dim_in=64, dim_out=8
    ).select(
        "vec_id",
        F.posexplode("projected").alias("dim_idx", "component"),
    )


@workload(
    "select_token_budget",
    oracle=sampling_ops.sql_select_within_token_budget(
        budget_tokens=5000,
        score_expr="round(least(len(" + text_ops.sql_tokens("text")
        + ") / 100.0, 1.0), 6)",
        token_expr="CAST(len(" + text_ops.sql_tokens("text")
        + ") AS BIGINT)",
    ),
)
def select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy corpus selection under a global token budget (best docs
    first until 5k tokens) — the distributed dense-prefix-sum pattern:
    range partition on the sort key + per-partition cumsum + broadcast
    offsets, never a single-partition global window."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.round(
            F.least(
                F.size(text_ops.tokens("text")) / F.lit(100.0), F.lit(1.0)
            ),
            6,
        ).alias("score"),
        F.size(text_ops.tokens("text")).cast("long").alias("n_tokens"),
    )
    return sampling_ops.select_within_token_budget(
        scored, budget_tokens=5000, score_col="score", token_col="n_tokens"
    )


_DRIFT_COLS = ["o_orderkey", "o_orderstatus", "o_totalprice"]


@workload(
    "profile_drift_orders",
    oracle=prof_ops.sql_profile_drift(
        "(SELECT * FROM orders WHERE o_orderkey % 2 = 0)",
        "(SELECT * FROM orders WHERE o_orderkey % 2 = 1)",
        _DRIFT_COLS,
    ),
)
def profile_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-drift report between two ingest snapshots (modelled as the
    even/odd-key halves of orders): per-column null-rate deltas,
    cardinality collapses, range changes — the drift math verified
    cross-engine."""
    orders = _t(spark, sf_dir, "orders")
    cur = prof_ops.profile_table(
        orders.filter(F.col("o_orderkey") % 2 == 0), _DRIFT_COLS
    )
    prev = prof_ops.profile_table(
        orders.filter(F.col("o_orderkey") % 2 == 1), _DRIFT_COLS
    )
    return prof_ops.profile_drift(cur, prev)


@workload(
    "text_feature_hash_embed",
    oracle=f"""
    SELECT doc_id,
           CAST(unnest(generate_series(0, len(embedding) - 1)) AS INTEGER)
               AS dim_idx,
           unnest(embedding) AS weight
    FROM ({text_ops.sql_feature_hash_embed()})
    """,
)
def text_feature_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick document vectorizer: deterministic dense term-count
    embeddings with zero fitted state (Weinberger et al. 2009), map-only.

    Driver-facing shape: posexploded to (doc_id, dim_idx, weight) scalar
    rows (driver canonicalizer cannot hash ArrayType — CORRECTNESS_r04);
    the oracle unnests identically so the per-bucket counts hash-match."""
    return text_ops.feature_hash_embed(_docs(spark, sf_dir)).select(
        "doc_id", F.posexplode("embedding").alias("dim_idx", "weight")
    )


@workload("dedup_span_exact", oracle=dedup_ops.sql_span_dedup())
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data op: exact substring dedup at span granularity (Lee
    et al. 2022) — split docs into 20-token windows, keep the first
    corpus-wide occurrence of each distinct span, reassemble. Catches the
    repeated-boilerplate case whole-document dedup (exact or near) misses."""
    return dedup_ops.span_dedup(_docs(spark, sf_dir))


@workload("training_order", oracle=dedup_ops.sql_training_order(seed=7))
def training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data op: deterministic pseudo-random epoch order (rank of
    md5(seed ∥ id)) computed WITHOUT a single-partition global window —
    range repartition + per-partition numbering + broadcast offsets."""
    return dedup_ops.training_order(
        _t(spark, sf_dir, "documents"), seed=7
    )


_CORPUS_CLEAN_ORACLE = f"""
    WITH q AS ({text_ops.sql_quality_features('documents')}),
    r AS ({text_ops.sql_repetition_features('documents')}),
    c AS ({decontam_ops.sql_ngram_overlap(eval_pred="source = 'src0'", n=4)}),
    clean AS (
        SELECT d.doc_id, d.text
        FROM documents d
        JOIN q USING (doc_id)
        JOIN r USING (doc_id)
        JOIN c USING (doc_id)
        WHERE d.source <> 'src0'
          AND q.quality_score >= 0.55
          AND r.n_tokens >= 5
          AND (r.dup_bigram_frac IS NULL OR r.dup_bigram_frac < 0.5)
          AND c.n_matched_grams = 0
    )
    SELECT * FROM ({dedup_ops.sql_keep_best_per_cluster(
        dedup_ops.sql_connected_components(
            dedup_ops.sql_lsh_candidate_pairs(table='clean'), table='clean'
        ),
        score_expr=f"CAST(len({text_ops.sql_tokens('text')}) AS BIGINT)",
        table='clean',
    )})"""


def _corpus_clean_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's pre-dedup stage (quality + repetition + decontam),
    exposed so the decontamination plan pin can check the broadcast-anti
    shape directly: the full pipeline's final plan is truncated at the
    keep-best materialization (r12), which hides this stage's plan."""
    from metadata_driven_etl_spark.operators.dedup import (
        shingles_from_tokens,
    )

    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("source") != "src0")
    contaminated = decontam_ops.contaminated_ids(
        train, docs.filter(F.col("source") == "src0"), n=4
    )
    # two-phase projection: bind _toks first, derive the bigram-shingle
    # count FROM it — the regexp tokenizer is the dominant per-row cost
    # and codegen's subexpression elimination does not fully collapse a
    # second tokens(text) nested inside the shingle expression (measured
    # ~18% faster on the staged projection at sf0.1)
    staged = train.select(
        "doc_id",
        "text",
        F.col("text").alias("_text"),
        text_ops.tokens("text").alias("_toks"),
    ).withColumn(
        "_nb",
        F.size(shingles_from_tokens(F.col("_toks"), 2)).cast("long"),
    )
    qx = text_ops.quality_feature_exprs(F.col("_text"), F.col("_toks"))
    rx = text_ops.repetition_exprs(F.col("_toks"), F.col("_nb"))
    feats = staged.select(
        "doc_id",
        "text",
        "_toks",
        qx["n_tokens"].alias("n_tokens"),
        qx["punct_ratio"].alias("punct_ratio"),
        qx["stop_ratio"].alias("stop_ratio"),
        rx["dup_bigram_frac"].alias("dup_bigram_frac"),
    )
    # survivors keep their token array: the LSH stage shingles from it and
    # keep-best scores from it, so the regexp tokenizer runs once per doc
    # for the whole pipeline (VERDICT r3 item 5)
    clean = (
        feats.withColumn("quality_score", text_ops.quality_score_expr())
        .filter(
            (F.col("quality_score") >= 0.55)
            & (F.col("n_tokens") >= 5)
            & (
                F.col("dup_bigram_frac").isNull()
                | (F.col("dup_bigram_frac") < 0.5)
            )
        )
        .join(F.broadcast(contaminated), "doc_id", "left_anti")
        .select("doc_id", "text", "_toks")
    )
    return clean


@workload(
    "corpus_clean_pipeline",
    oracle=_CORPUS_CLEAN_ORACLE,
)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composed pipeline: the full corpus build a training-data
    team runs, end to end — quality filter + repetition filter +
    benchmark decontamination, then near-dup clustering over the SURVIVORS
    with best-copy selection. Every stage is an operator from this library
    with its own green oracle; this workload proves they compose.

    Plan shape: quality + repetition are per-row expressions FUSED into
    one projection over the corpus scan (zero joins, zero shuffles — an
    earlier revision computed them as separate frames joined back on
    doc_id, three corpus-wide shuffles); decontamination is a broadcast
    anti-join against the small contaminated-id set (pinned on
    ``_corpus_clean_survivors``). Only the filtered subset reaches the
    LSH shuffle — at 100 TB the expensive dedup runs on the post-filter
    corpus, which is the right order."""
    clean = _corpus_clean_survivors(spark, sf_dir)
    # clean feeds THREE consumers (pair generation, the CC vertex set, and
    # keep-best scoring) — materialize it once instead of recomputing the
    # scan→tokenize→filter→anti-join chain per branch.
    clean = materialize(clean)
    pairs = dedup_ops.lsh_candidate_pairs(clean, tokens_col="_toks")
    clusters = dedup_ops.connected_components(clean.select("doc_id"), pairs)
    scored = clean.select(
        "doc_id",
        F.size(F.col("_toks")).cast("long").alias("kept_score"),
    )
    return dedup_ops.keep_best_per_cluster(clusters, scored)


# =========================================================================
# TPC-H completion (every spec query expressible on this schema — the
# testdata has no partsupp table, so Q2/Q9/Q11/Q16/Q20 are out of scope;
# Q1/Q3/Q5/Q10/Q12/Q14 are defined earlier; predicates are adapted to the
# slimmed columns where the spec needs l_commitdate/l_receiptdate/
# o_comment/c_phone/p_container, keeping each query's plan SHAPE intact)
# =========================================================================


@workload(
    "tpch_q4_priority_exists",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND CAST(l_shipdate AS DATE)
                        > CAST(o_orderdate AS DATE) + 90)
    GROUP BY 1""",
)
def tpch_q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS → semi join (lateness adapted to
    shipdate vs orderdate+90 — no l_commitdate in this schema). The semi
    join shuffles only the quarter's orders; lineitem carries two columns."""
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.to_date("o_orderdate") >= F.lit("1997-01-01").cast("date"))
            & (F.to_date("o_orderdate") < F.lit("1997-04-01").cast("date"))
        )
        .select("o_orderkey", "o_orderpriority", "o_orderdate")
    )
    late = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sem = orders.join(
        late,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.to_date("l_shipdate")
            > F.date_add(F.to_date("o_orderdate"), 90)
        ),
        "left_semi",
    )
    return sem.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@workload(
    "tpch_q6_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24""",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate — the canonical pushdown probe
    (date + discount band + quantity all reach the parquet scan)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1998-01-01").cast("date"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue")
    )


@workload(
    "tpch_q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {sql_dsum('volume')} AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
          AND CAST(l_shipdate AS DATE) < DATE '1998-01-01')
    GROUP BY 1, 2, 3""",
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the same dimension joined twice under different
    roles (supplier nation vs customer nation). Nation filters prune the
    supplier and customer sides BEFORE the facts join, so the disjunctive
    pair predicate only sees pre-filtered broadcast rows."""
    nations = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nations), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1998-01-01").cast("date"))
    )
    fact = (
        li.join(
            _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return fact.groupBy(
        "supp_nation",
        "cust_nation",
        F.year(F.to_date("l_shipdate")).alias("l_year"),
    ).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        )
    )


@workload(
    "tpch_q8_market_share",
    oracle=f"""
    SELECT o_year,
           {sql_dsum("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END")}
             / {sql_dsum('volume')} AS mkt_share
    FROM (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               sn.n_name AS supp_nation
        FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE r_name = 'EUROPE'
          AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
          AND CAST(o_orderdate AS DATE) < DATE '1998-01-01')
    GROUP BY 1""",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — conditional share of a
    doubly-joined dimension attribute. Both aggregates ride ONE hash-agg
    pass (numerator is a CASE inside the same exact-decimal sum); the
    division of two dsum doubles is IEEE-identical across engines."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cn = (
        _t(spark, sf_dir, "nation")
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .select("c_custkey")
    )
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = _t(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("o_orderdate") < F.lit("1998-01-01").cast("date"))
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    fact = (
        _t(spark, sf_dir, "lineitem")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return fact.groupBy(
        F.year(F.to_date("o_orderdate")).alias("o_year")
    ).agg(
        (
            dsum(
                F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(
                    F.lit(0.0)
                )
            )
            / dsum(volume)
        ).alias("mkt_share")
    )


@workload(
    "tpch_q13_custdist",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY 1)
    GROUP BY 1""",
)
def tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: order-count distribution — left join preserving
    order-less customers, then a second aggregation over the first's
    output (the o_comment NOT LIKE filter has no column here). The second
    groupBy input is |customers| rows, so AQE shrinks its exchange."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@workload(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
          AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
        GROUP BY 1)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: top supplier by quarterly revenue — aggregate,
    then keep the rows equal to the aggregate's own max (the spec's view +
    scalar subquery, expressed as one global-window max over the tiny
    per-supplier revenue table; exact-decimal sums make the double
    equality deterministic)."""
    from pyspark.sql import Window

    rev = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.to_date("l_shipdate") >= F.lit("1997-01-01").cast("date"))
            & (F.to_date("l_shipdate") < F.lit("1997-04-01").cast("date"))
        )
        .groupBy("l_suppkey")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
    )
    top = rev.withColumn(
        "_mx", F.max("total_revenue").over(Window.partitionBy())
    ).filter(F.col("total_revenue") == F.col("_mx"))
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(top), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@workload(
    "tpch_q17_small_qty_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice')} / 7.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (SELECT l_partkey AS pk, {sql_davg('l_quantity')} AS aq
          FROM lineitem GROUP BY 1) a ON l_partkey = a.pk
    WHERE p_brand = 'Brand#3' AND p_size < 10
      AND l_quantity < 0.2 * aq""",
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average → de-correlated into a
    groupBy + re-join (Catalyst's own strategy for this subquery; p_size
    stands in for p_container). The per-part averages join on the same key
    as the part filter, so one shuffle serves both."""
    li = _t(spark, sf_dir, "lineitem")
    parts = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#3") & (F.col("p_size") < 10))
        .select("p_partkey")
    )
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        davg("l_quantity").alias("aq")
    )
    j = (
        li.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("aq"))
    )
    return j.agg((dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))


@workload(
    "tpch_q18_large_orders",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
           {sql_isum('l_quantity')} AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY 1 HAVING sum(l_quantity) >= 220)
    GROUP BY 1, 2, 3, 4, 5""",
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders — HAVING-filtered IN subquery
    as a semi join on the order key, then the detail re-aggregation. The
    big-orders set and the final agg share the l_orderkey shuffle key."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(isum("l_quantity").alias("_s"))
        .filter(F.col("_s") >= 220)
        .select(F.col("l_orderkey").alias("_bk"))
    )
    orders = _t(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == F.col("_bk"), "left_semi"
    )
    j = li.join(
        orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).join(
        F.broadcast(_t(spark, sf_dir, "customer").select("c_custkey", "c_name")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    return j.groupBy(
        "c_name",
        "c_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("o_orderdate"),
        "o_totalprice",
    ).agg(isum("l_quantity").alias("total_qty"))


@workload(
    "tpch_q19_disjunctive_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)""",
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    bands across a join (p_size/l_quantity stand in for p_container/
    l_shipmode). Catalyst extracts the common l_quantity ≤ 30 / p_size ≥ 1
    bounds for pushdown; the full disjunction evaluates post-join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((brand == "Brand#1") & size.between(1, 5) & qty.between(1, 11))
        | ((brand == "Brand#2") & size.between(1, 10) & qty.between(10, 20))
        | ((brand == "Brand#3") & size.between(1, 15) & qty.between(20, 30))
    )
    return j.filter(cond).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        )
    )


@workload(
    "tpch_q21_waiting_supplier",
    oracle="""
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND CAST(l3.l_shipdate AS DATE)
                            > CAST(l1.l_shipdate AS DATE))
    GROUP BY 1""",
)
def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS self-correlations on the fact
    table → one semi and one anti join, both keyed on l_orderkey (lateness
    adapted to shipdate — no l_receiptdate here: the supplier whose line
    shipped strictly last among multi-supplier finished orders). All three
    lineitem scans shuffle on the same key, so AQE reuses the exchange."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.to_date("l_shipdate").alias("l_sd")
    )
    ord_f = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    l1 = li.join(ord_f, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey", "l_suppkey", "l_sd"
    )
    l2 = li.select(F.col("l_orderkey").alias("_o2"), F.col("l_suppkey").alias("_s2"))
    sem = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("_o2"))
        & (F.col("l_suppkey") != F.col("_s2")),
        "left_semi",
    )
    l3 = li.select(
        F.col("l_orderkey").alias("_o3"),
        F.col("l_suppkey").alias("_s3"),
        F.col("l_sd").alias("_sd3"),
    )
    anti = sem.join(
        l3,
        (F.col("l_orderkey") == F.col("_o3"))
        & (F.col("l_suppkey") != F.col("_s3"))
        & (F.col("_sd3") > F.col("l_sd")),
        "left_anti",
    )
    return (
        anti.join(
            F.broadcast(_t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@workload(
    "tpch_q22_idle_customers",
    oracle=f"""
    SELECT c_nationkey AS cntrycode,
           CAST(count(*) AS BIGINT) AS numcust,
           {sql_dsum('c_acctbal')} AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT {sql_davg('c_acctbal')} FROM customer
                       WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND CAST(o_orderdate AS DATE) >= DATE '1999-01-01')
    GROUP BY 1""",
)
def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders (nationkey stands in for the phone country code; 'no orders at
    all' never fires on this data, so recency-bounded). Scalar-subquery
    average → one-row broadcast cross join; NOT EXISTS → anti join against
    the recent-orders keys."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_row = cust.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("_avg")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.to_date("o_orderdate") >= F.lit("1999-01-01").cast("date"))
        .select("o_custkey")
    )
    sel = (
        cust.crossJoin(F.broadcast(avg_row))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return sel.groupBy(F.col("c_nationkey").alias("cntrycode")).agg(
        F.count(F.lit(1)).alias("numcust"),
        dsum("c_acctbal").alias("totacctbal"),
    )


# -------------------------------------------------------------------------
# Derived partsupp: the testdata ships no partsupp file, so the five
# partsupp-dependent TPC-H queries (Q2/Q9/Q11/Q16/Q20) reconstruct it
# deterministically from part × supplier — the same move dbgen itself makes
# (each part gets 4 suppliers via modular striding over the supplier
# domain). Pure integer arithmetic on the two given tables, evaluated
# identically by Spark and the DuckDB oracle CTE, so both engines
# materialize bit-identical partsupp rows. Keys here are dense 0-based.
#
# PK guarantee: stride = max(S div 4, 1), and i*stride < S for i in 0..3,
# so the four ps_suppkey values per part are distinct whenever S >= 4.
# ps_supplycost is integer cents / 100.0 — a fixed-2dp money double, the
# class dsum is exact for; Q11 sidesteps doubles entirely via the cents
# column. At 100 TB the derivation is a broadcast of one scalar (the
# supplier count) over a 4× explode of part keys — no shuffle.
# -------------------------------------------------------------------------

_PARTSUPP_CTE = """sup_n AS (SELECT CAST(count(*) AS BIGINT) AS s FROM supplier),
    partsupp AS (
      SELECT p_partkey AS ps_partkey,
             (p_partkey + i * GREATEST(s // 4, 1)) % s AS ps_suppkey,
             CAST((p_partkey * 7 + i * 11) % 9999 + 1 AS INTEGER)
               AS ps_availqty,
             (p_partkey * 13
              + ((p_partkey + i * GREATEST(s // 4, 1)) % s) * 17
              + i * 19) % 90000 + 10000 AS ps_supplycost_cents,
             ((p_partkey * 13
               + ((p_partkey + i * GREATEST(s // 4, 1)) % s) * 17
               + i * 19) % 90000 + 10000) / 100.0 AS ps_supplycost
      FROM part, sup_n, range(4) t(i))"""


def _derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """partsupp(ps_partkey, ps_suppkey, ps_availqty, ps_supplycost_cents,
    ps_supplycost) derived from part × supplier; twin of _PARTSUPP_CTE."""
    s_cnt = (
        _t(spark, sf_dir, "supplier")
        .agg(F.count(F.lit(1)).cast("long").alias("_s"))
    )
    base = (
        _t(spark, sf_dir, "part")
        .select("p_partkey")
        .crossJoin(F.broadcast(s_cnt))
        .select(
            "p_partkey",
            "_s",
            F.explode(
                F.array(*[F.lit(i).cast("long") for i in range(4)])
            ).alias("_i"),
        )
    )
    stride = F.greatest(F.expr("_s div 4"), F.lit(1).cast("long"))
    sk = (F.col("p_partkey") + F.col("_i") * stride) % F.col("_s")
    cents = (
        F.col("p_partkey") * 13 + sk * 17 + F.col("_i") * 19
    ) % 90000 + 10000
    return base.select(
        F.col("p_partkey").alias("ps_partkey"),
        sk.alias("ps_suppkey"),
        ((F.col("p_partkey") * 7 + F.col("_i") * 11) % 9999 + 1)
        .cast("int")
        .alias("ps_availqty"),
        cents.cast("long").alias("ps_supplycost_cents"),
        (cents.cast("long") / F.lit(100.0)).alias("ps_supplycost"),
    )


@workload(
    "tpch_q2_min_cost_supplier",
    oracle=f"""
    WITH {_PARTSUPP_CTE},
    esup AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'),
    cand AS (
      SELECT s_acctbal, s_name, n_name, p_partkey, ps_supplycost,
             min(ps_supplycost_cents)
               OVER (PARTITION BY p_partkey) AS _mn,
             ps_supplycost_cents AS _c
      FROM part
      JOIN partsupp ON p_partkey = ps_partkey
      JOIN esup ON ps_suppkey = s_suppkey
      WHERE p_size <= 15 AND p_type = 'STANDARD')
    SELECT s_acctbal, s_name, n_name, p_partkey, ps_supplycost
    FROM cand WHERE _c = _mn""",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest regional supplier per part — correlated
    min-cost subquery de-correlated into a per-part window min (one shuffle
    on p_partkey instead of a re-aggregating self-join). Dimension chain
    (nation⋈region, filtered part keys) rides broadcasts; the min
    comparison is on the exact integer cents column."""
    from pyspark.sql import Window

    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    esup = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").join(
                    F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    pkeys = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey")
    )
    cand = (
        _derived_partsupp(spark, sf_dir)
        .join(F.broadcast(pkeys), F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(esup), F.col("ps_suppkey") == F.col("s_suppkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("_mn", F.min("ps_supplycost_cents").over(w))
        .filter(F.col("ps_supplycost_cents") == F.col("_mn"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "ps_supplycost")
    )


@workload(
    "tpch_q9_product_profit",
    oracle=f"""
    WITH {_PARTSUPP_CTE}
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(CAST(SUM(
             CAST(l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l_discount AS DECIMAL(12,2)))
             - CAST(ps_supplycost AS DECIMAL(12,2))
               * CAST(l_quantity AS DECIMAL(12,2))
           ) AS VARCHAR) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%bolt%'
    GROUP BY 1, 2""",
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by nation and year — the 6-way
    join. Profit has the FMA-trap shape a*b − c*d, so the whole numerator
    stays in exact decimal arithmetic (see functions module docstring);
    only the finished sum is cast to double. partsupp/part/supplier/nation
    all broadcast; the lone shuffle pair is lineitem⋈orders."""
    d2 = lambda c: F.col(c).cast("decimal(12,2)")  # noqa: E731
    profit = d2("l_extendedprice") * (
        F.lit(1).cast("decimal(12,2)") - d2("l_discount")
    ) - F.col("ps_supplycost").cast("decimal(12,2)") * d2("l_quantity")
    ps = _derived_partsupp(spark, sf_dir).select(
        "ps_partkey", "ps_suppkey", "ps_supplycost"
    )
    bolt = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%bolt%"))
        .select("p_partkey")
    )
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    fact = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(bolt), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(ps),
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    return fact.groupBy(
        "nation", F.year(F.to_date("o_orderdate")).alias("o_year")
    ).agg(F.sum(profit).cast("double").alias("sum_profit"))


@workload(
    "tpch_q11_important_stock",
    oracle=f"""
    WITH {_PARTSUPP_CTE},
    esup AS (
      SELECT s_suppkey FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'),
    base AS (
      SELECT ps_partkey,
             ps_supplycost_cents * ps_availqty AS cents
      FROM partsupp JOIN esup ON ps_suppkey = s_suppkey),
    val AS (
      SELECT ps_partkey, CAST(SUM(cents) AS BIGINT) AS _vc
      FROM base GROUP BY 1),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS _tc FROM base)
    SELECT ps_partkey, _vc / 100.0 AS value
    FROM val, tot
    WHERE _vc * 10000 > 5 * _tc""",
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts holding an outsized share of regional stock
    value — HAVING against a global scalar aggregate. All value arithmetic
    stays in integer cents (sum, global total, and the 0.0005-share
    comparison via cross-multiplication), so the filter is exact; the
    scalar total is a one-row broadcast cross join, not a second scan
    (the per-part sums re-aggregate into the total)."""
    esup = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").join(
                    F.broadcast(
                        _t(spark, sf_dir, "region").filter(
                            F.col("r_name") == "EUROPE"
                        )
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    val = (
        _derived_partsupp(spark, sf_dir)
        .join(F.broadcast(esup), F.col("ps_suppkey") == F.col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(
            F.sum(
                F.col("ps_supplycost_cents") * F.col("ps_availqty")
            ).alias("_vc")
        )
    )
    tot = val.agg(F.sum("_vc").alias("_tc"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("_vc") * 10000 > F.lit(5) * F.col("_tc"))
        .select("ps_partkey", (F.col("_vc") / F.lit(100.0)).alias("value"))
    )


@workload(
    "tpch_q16_supplier_cnt",
    oracle=f"""
    WITH {_PARTSUPP_CTE}
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp
    JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
      AND ps_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3""",
)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per part attribute,
    excluding a supplier blocklist (NOT IN → broadcast anti join; the
    complaint-comment predicate is adapted to negative account balance).
    The distinct count runs as Spark's two-phase partial-distinct
    aggregate — no pre-distinct shuffle needed."""
    pf = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        _derived_partsupp(spark, sf_dir)
        .join(F.broadcast(pf), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("ps_suppkey")).alias("supplier_cnt"))
    )


@workload(
    "tpch_q20_promotion_suppliers",
    oracle=f"""
    WITH {_PARTSUPP_CTE},
    qty AS (
      SELECT l_partkey AS q_pk, l_suppkey AS q_sk,
             SUM(l_quantity) AS sq
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
      GROUP BY 1, 2)
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND s_suppkey IN (
        SELECT ps_suppkey
        FROM partsupp
        JOIN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%') p
          ON ps_partkey = p_partkey
        JOIN qty ON q_pk = ps_partkey AND q_sk = ps_suppkey
        WHERE ps_availqty > 0.5 * sq)""",
)
def tpch_q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers overstocked in promotable parts — a
    nested IN over a correlated per-(part,supplier) shipped-quantity
    aggregate, de-correlated into groupBy + equi-join and applied as a
    semi join. Quantities are integer-valued doubles, so SUM and the
    half-comparison are exact (functions.isum rationale); part filter and
    the overstocked-supplier key set both broadcast."""
    qty = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.to_date("l_shipdate") >= F.lit("1997-01-01").cast("date"))
            & (F.to_date("l_shipdate") < F.lit("1998-01-01").cast("date"))
        )
        .groupBy(
            F.col("l_partkey").alias("q_pk"), F.col("l_suppkey").alias("q_sk")
        )
        .agg(F.sum("l_quantity").alias("sq"))
    )
    red = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    overstocked = (
        _derived_partsupp(spark, sf_dir)
        .join(F.broadcast(red), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            qty,
            (F.col("q_pk") == F.col("ps_partkey"))
            & (F.col("q_sk") == F.col("ps_suppkey")),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("sq"))
        .select("ps_suppkey")
    )
    esup = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").join(
                    F.broadcast(
                        _t(spark, sf_dir, "region").filter(
                            F.col("r_name") == "EUROPE"
                        )
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return esup.join(
        F.broadcast(overstocked),
        F.col("s_suppkey") == F.col("ps_suppkey"),
        "left_semi",
    )


@workload(
    "funnel_conversion_steps",
    oracle="""
    WITH w1 AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS q1,
               max(CASE WHEN event_type = 'view' THEN ts END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS v_prev
        FROM events),
    w2 AS (
        SELECT *,
               CASE WHEN event_type = 'click' AND v_prev IS NOT NULL
                         AND v_prev > ts - INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS q2
        FROM w1),
    w3 AS (
        SELECT *,
               CASE WHEN event_type = 'purchase' AND c_prev IS NOT NULL
                         AND c_prev > ts - INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS q3
        FROM (SELECT *,
                     max(CASE WHEN q2 = 1 THEN ts END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS c_prev
              FROM w2))
    SELECT user_id,
           CAST(max(q1) + max(q2) + max(q3) AS INT) AS funnel_step
    FROM w3
    GROUP BY user_id""",
)
def funnel_conversion_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view→click→purchase per user, each step within 30
    minutes of the latest qualifying previous step (windowFunnel-LIKE:
    per-step window measured from the latest qualifying previous step,
    NOT ClickHouse's whole-chain-within-window-of-first-event rule — see
    operators/temporal.funnel_steps; an operator the reference has no
    analog for, standard in product analytics over event streams).

    Scale: ONE hash shuffle on user_id; both funnel levels are window
    maxes over the same (partition, order), planned as stacked WindowExecs
    on a single Exchange+Sort; the closing per-user aggregate reuses that
    partitioning. State is O(|events|) — no per-level self-join, no pair
    blow-up. "Strictly earlier" is (ts, event_id) lexicographic order —
    total and engine-independent, so ties hash identically.
    """
    from metadata_driven_etl_spark.operators import temporal

    return temporal.funnel_steps(
        _t(spark, sf_dir, "events"),
        steps=("view", "click", "purchase"),
        window="30 minutes",
    )


@workload(
    "funnel_strict_from_first",
    oracle="""
    WITH w1 AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS q1,
               CASE WHEN event_type = 'view' THEN ts END AS a1
        FROM events),
    w2 AS (
        SELECT *,
               CASE WHEN event_type = 'click' AND prev_a1 IS NOT NULL
                         AND prev_a1 > ts - INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS q2,
               CASE WHEN event_type = 'click' AND prev_a1 IS NOT NULL
                         AND prev_a1 > ts - INTERVAL 30 MINUTE
                    THEN prev_a1 END AS a2
        FROM (SELECT *,
                     max(a1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS prev_a1
              FROM w1)),
    w3 AS (
        SELECT *,
               CASE WHEN event_type = 'purchase' AND prev_a2 IS NOT NULL
                         AND prev_a2 > ts - INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS q3
        FROM (SELECT *,
                     max(a2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS prev_a2
              FROM w2))
    SELECT user_id,
           CAST(max(q1) + max(q2) + max(q3) AS INT) AS funnel_step
    FROM w3
    GROUP BY user_id""",
)
def funnel_strict_from_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same view→click→purchase funnel under ClickHouse
    ``windowFunnel``'s STRICT window rule (``mode="from_first"``): the
    whole chain must complete within 30 minutes of the chain's FIRST
    event. The chain-start timestamp threads through the stacked windows
    as the anchor (greedy max chain-start — optimal because the window
    constraint always prefers a later anchor), so the plan is the same
    single user-keyed shuffle as the per-step variant; the DuckDB twin
    carries the identical anchor columns."""
    from metadata_driven_etl_spark.operators import temporal

    return temporal.funnel_steps(
        _t(spark, sf_dir, "events"),
        steps=("view", "click", "purchase"),
        window="30 minutes",
        mode="from_first",
    )


@workload(
    "embedding_quantize_int8",
    oracle=f"""
    SELECT vec_id, scale,
           CAST(unnest(generate_series(0, len(qvec) - 1)) AS INTEGER)
               AS dim_idx,
           unnest(qvec) AS q
    FROM ({sim_ops.sql_quantize_int8()})
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding corpus — the standard
    4× storage/serving compression step of an embedding pipeline. Map-only
    per-row array expressions (whole-stage codegen, zero shuffles); the
    op-order is chosen so every step is one correctly-rounded IEEE double
    op in both engines (see operators/similarity.quantize_int8), making
    the int8 codes bit-exact against the DuckDB oracle.

    Driver-facing shape: posexploded to (vec_id, scale, dim_idx, q)
    scalar rows — the int8 codes are integers, so the explode is lossless
    and the bit-exactness contract carries over per code. (Driver
    canonicalizer cannot hash raw ArrayType — CORRECTNESS_r04.)
    """
    return sim_ops.quantize_int8(_emb(spark, sf_dir)).select(
        "vec_id", "scale", F.posexplode("qvec").alias("dim_idx", "q")
    )


@workload(
    "text_bigram_lm_score",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, {text_ops.sql_tokens('text')} AS toks
        FROM documents),
    big AS (
        SELECT doc_id,
               unnest({text_ops.sql_bigrams_from_tokens('toks')}) AS bigram
        FROM tok
        WHERE len(toks) >= 2),
    cnt AS (
        SELECT bigram, CAST(count(*) AS BIGINT) AS bg_freq
        FROM big GROUP BY 1)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           avg(bg_freq) AS avg_bigram_freq
    FROM big JOIN cnt USING (bigram)
    GROUP BY 1""",
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM typicality score per document — the CCNet/KenLM quality-
    filter shape: train a bigram frequency model ON the corpus, score each
    doc by how typical its bigrams are. The score is the mean corpus
    frequency of the doc's bigrams — a monotone stand-in for (negated)
    add-one perplexity that stays in exact integer/single-division
    arithmetic (ln is not correctly rounded in either engine's libm, so a
    log-space score cannot hash-match; the mean-frequency rank order is
    what the filter thresholds anyway).

    Scale: bigram formation is per-row array expressions (map-side); ONE
    shuffle builds the frequency table, one shuffle joins scores back and
    aggregates per doc — the inverted-index join pattern, never all-pairs.
    The bigram frame is consumed twice (model build + scoring), so it is
    materialized once (self-join sides get no ReusedExchange).
    """
    return text_ops.bigram_lm_score(_docs(spark, sf_dir))


@workload(
    "text_bigram_lm_pruned",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, {text_ops.sql_tokens('text')} AS toks
        FROM documents),
    big AS (
        SELECT doc_id,
               unnest({text_ops.sql_bigrams_from_tokens('toks')}) AS bigram
        FROM tok
        WHERE len(toks) >= 2),
    cnt AS (
        SELECT bigram, CAST(count(*) AS BIGINT) AS bg_freq
        FROM big GROUP BY 1
        HAVING count(*) >= 2)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           avg(bg_freq) AS avg_bigram_freq
    FROM big JOIN cnt USING (bigram)
    GROUP BY 1""",
)
def text_bigram_lm_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_bigram_lm_score with the KenLM-style ``min_freq=2`` pruning
    floor LIVE (the 100 TB posture — SCALE.md probe: 34.3s → 18.8s at the
    100× point): singleton bigrams leave the model before the scoring
    join, docs whose bigrams are all singletons drop out. The DuckDB twin
    prunes with the identical HAVING floor, so the pruned model's scores
    hash-check exactly — driver coverage for the pruning branch, not just
    the inert default."""
    return text_ops.bigram_lm_score(_docs(spark, sf_dir), min_freq=2)


@workload(
    "cohort_retention_weekly",
    oracle="""
    WITH wk AS (
        SELECT user_id, date_trunc('week', ts) AS wk FROM events),
    coh AS (
        SELECT user_id, wk,
               min(wk) OVER (PARTITION BY user_id) AS cohort_week
        FROM wk)
    SELECT cohort_week,
           CAST(datediff('day', cohort_week, wk) // 7 AS INT) AS week_index,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
    FROM coh
    GROUP BY 1, 2""",
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention — the classic product-analytics triangle:
    users grouped by first-active week (cohort), counted distinct in each
    subsequent week. Pure date/integer arithmetic (ISO-Monday week
    truncation agrees across engines; both sides cast to DATE — Spark's
    date_trunc returns a timestamp, DuckDB's a date).

    Scale: one window shuffle on user_id assigns cohorts (min-week per
    user), then one count-distinct aggregate on (cohort, week_index) —
    Spark plans the distinct as the standard two-phase expand, partials
    map-side. No joins, no per-user state beyond the window sort.
    """
    from metadata_driven_etl_spark.operators import temporal

    return temporal.cohort_retention(_t(spark, sf_dir, "events"))


# =========================================================================
# Round-5 additions: semantic dedup, interval-overlap join, robust
# group-wise outlier detection
# =========================================================================


@workload(
    "semantic_dedup",
    oracle=dedup_ops.sql_keep_best_per_cluster(
        dedup_ops.sql_connected_components(
            sim_ops.sql_embedding_near_dup_pairs(threshold=0.3),
            table="embeddings",
            id_col="vec_id",
        ),
        score_expr=f"round({sim_ops.sql_norm('embedding')}, 6)",
        table="embeddings",
        id_col="vec_id",
    ),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shape semantic deduplication (Abbas et al. 2023): prune a
    corpus by EMBEDDING similarity rather than text overlap — catches
    paraphrases and re-encodings that MinHash/SimHash miss. Pipeline:
    blocked cosine near-dup pairs (label = the coarse cluster id SemDeDup
    gets from k-means) → connected components → keep exactly one member
    per semantic cluster (here the max-norm member; the paper keeps the
    member farthest from the centroid — any deterministic scorer plugs
    into keep_best_per_cluster).

    Scale: pair generation is the label-blocked equi-join (sub-quadratic;
    at 100 TB the block id comes from ivf_build_index's coarse quantizer),
    CC iterates only edge-touched nodes, the keep-best window runs only
    over multi-member clusters. The embeddings frame feeds pair-gen, the
    vertex set, and the scorer — materialized ONCE (self-join sides get no
    ReusedExchange)."""
    emb = materialize(_emb(spark, sf_dir))
    pairs = sim_ops.embedding_near_dup_pairs(emb, threshold=0.3)
    clusters = dedup_ops.connected_components(
        emb.select("vec_id"), pairs, id_col="vec_id"
    )
    scored = emb.select(
        "vec_id",
        F.round(sim_ops.norm(F.col("embedding")), 6).alias("kept_score"),
    )
    return dedup_ops.keep_best_per_cluster(clusters, scored, id_col="vec_id")


@workload(
    "interval_overlap_orders",
    oracle="""
    WITH iv AS (
        SELECT o_orderkey, o_custkey,
               datediff('day', DATE '1992-01-01',
                        CAST(o_orderdate AS DATE)) AS start_day,
               datediff('day', DATE '1992-01-01',
                        CAST(o_orderdate AS DATE)) + 14 AS end_day
        FROM orders)
    SELECT a.o_custkey AS custkey,
           a.o_orderkey AS okey_a, b.o_orderkey AS okey_b,
           CAST(least(a.end_day, b.end_day)
                - greatest(a.start_day, b.start_day) + 1 AS BIGINT)
               AS overlap_days
    FROM iv a JOIN iv b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND a.start_day <= b.end_day AND b.start_day <= a.end_day""",
)
def interval_overlap_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: per customer, pairs of orders whose 15-day
    fulfillment windows [orderdate, orderdate+14] intersect — the
    concurrent-sessions / double-booking query shape. The DuckDB oracle is
    the naive theta join; the Spark plan is the bin-exploded equi-join
    (operators/temporal.py:interval_overlap_join) whose per-pair
    "bin containing the overlap's start" pin makes dedup free.

    The two sides are loaded as separate scans (fresh attribute ids) —
    a true self-join of one frame would hit Spark's ambiguous-self-join
    trap and get no ReusedExchange anyway."""
    from metadata_driven_etl_spark.operators import temporal

    def _iv(orders: DataFrame) -> DataFrame:
        return orders.select(
            "o_orderkey",
            "o_custkey",
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")
            ).alias("start_day"),
        ).withColumn("end_day", F.col("start_day") + 14)

    pairs = temporal.interval_overlap_join(
        _iv(_t(spark, sf_dir, "orders")),
        _iv(_t(spark, sf_dir, "orders")),
        keys=["o_custkey"],
        start_col="start_day",
        end_col="end_day",
        bin_width=14,
    )
    return pairs.filter(F.col("l.o_orderkey") < F.col("r.o_orderkey")).select(
        F.col("l.o_custkey").alias("custkey"),
        F.col("l.o_orderkey").alias("okey_a"),
        F.col("r.o_orderkey").alias("okey_b"),
        (
            F.least(F.col("l.end_day"), F.col("r.end_day"))
            - F.greatest(F.col("l.start_day"), F.col("r.start_day"))
            + 1
        ).cast("long").alias("overlap_days"),
    )


@workload(
    "outlier_zscore_group",
    oracle="""
    WITH c AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cx
        FROM orders),
    m AS (
        SELECT o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(cx AS DECIMAL(20,0))) AS DECIMAL(20,0)) AS sx,
               CAST(SUM(CAST(cx * cx AS DECIMAL(28,0))) AS DECIMAL(28,0))
                   AS sxx
        FROM c GROUP BY 1),
    s AS (
        SELECT o_orderpriority, n,
               CAST(CAST(sx AS VARCHAR) AS DOUBLE) / n AS mu,
               -- guard (r12 degenerate sweep): a 1-row or constant
               -- group has no z-score; unguarded, Spark-ANSI throws
               -- where DuckDB emits inf rows
               CASE WHEN n > 1
                     AND CAST(CAST(CAST(n AS DECIMAL(20,0)) * sxx - sx * sx
                                   AS VARCHAR) AS DOUBLE) > 0
                    THEN sqrt(CAST(CAST(CAST(n AS DECIMAL(20,0)) * sxx
                                        - sx * sx AS VARCHAR) AS DOUBLE)
                              / (n * (n - 1)))
                    ELSE NULL END AS sigma
        FROM m)
    SELECT c.o_orderkey, c.o_orderpriority,
           round((c.cx - s.mu) / s.sigma, 6) AS zscore
    FROM c JOIN s USING (o_orderpriority)
    WHERE abs((c.cx - s.mu) / s.sigma) > 1.5""",
)
def outlier_zscore_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise z-score outlier detection: orders whose total price sits
    more than 1.5 sample standard deviations from their priority class's
    mean — the per-segment anomaly flag a DQ/profiling pass feeds into
    quarantine rules. (Threshold 1.5 keeps the check non-trivial on the
    near-uniform synthetic prices, whose |z| is bounded by ~sqrt(3).) Cross-engine parity follows agg_exact_stats: 2-dp
    money → integer cents, moments accumulated in exact decimal (order-
    independent, map-side partials intact), doubles only for the final
    sqrt/divide chain, whose subtract-then-divide shape has no fusable
    a·b±c (no FMA divergence) — so the z-scores are bit-identical and the
    1.5 threshold can never flip a row.

    Scale: ONE map-side-combinable groupBy builds the per-group moments
    (rows = |groups|, always broadcastable), then a broadcast join stamps
    mu/sigma back onto the fact scan — no window over the fact table, no
    second shuffle."""
    d20, d28 = "decimal(20,0)", "decimal(28,0)"
    c = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cx"),
    )
    m = c.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cx").cast(d20)).cast(d20).alias("sx"),
        F.sum((F.col("cx") * F.col("cx")).cast(d28)).cast(d28).alias("sxx"),
    )
    n, nd = F.col("n"), F.col("n").cast(d20)
    vxd = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    s = m.select(
        "o_orderpriority",
        (F.col("sx").cast("double") / n).alias("mu"),
        # guard (r12 degenerate sweep): 1-row / constant groups have no
        # z-score — NULL sigma makes every downstream row drop on both
        # engines instead of an ANSI divide-by-zero job failure
        F.when(
            (n > 1) & (vxd > 0),
            F.sqrt(vxd / (n * (n - 1))),
        ).alias("sigma"),
    )
    z = (F.col("cx") - F.col("mu")) / F.col("sigma")
    return (
        c.join(F.broadcast(s), "o_orderpriority")
        .filter(F.abs(z) > 1.5)
        .select(
            "o_orderkey", "o_orderpriority", F.round(z, 6).alias("zscore")
        )
    )


_BM25_TERMS = ("vector", "merge", "window")


def _sql_bm25_score(tf: str, df: str) -> str:
    """Integer-exact rational BM25 term score (see text_bm25_score)."""
    return f"""CASE WHEN {tf} = 0 THEN 0.0 ELSE
        CAST(22 * s_tokens * {tf} * (2 * n_docs - 2 * {df} + 1) AS DOUBLE)
        / CAST((2 * {df} + 1)
               * (10 * {tf} * s_tokens + 3 * s_tokens + 9 * dl * n_docs)
               AS DOUBLE) END"""


@workload(
    "text_bm25_score",
    oracle=f"""
    WITH f AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS dl,
               {", ".join(
                   f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT)"
                   f" AS tf{i}"
                   for i, t in enumerate(_BM25_TERMS))}
        FROM (SELECT doc_id, {{tok}} AS toks FROM documents)),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS s_tokens,
               {", ".join(
                   f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)"
                   f" AS BIGINT) AS df{i}"
                   for i in range(len(_BM25_TERMS)))}
        FROM f)
    SELECT doc_id,
           CAST({" + ".join(
               f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)"
               for i in range(len(_BM25_TERMS)))} AS INT)
               AS n_terms_matched,
           {" + ".join(
               "(" + _sql_bm25_score(f"tf{i}", f"df{i}") + ")"
               for i in range(len(_BM25_TERMS)))} AS bm25
    FROM f CROSS JOIN s
    WHERE {" OR ".join(f"tf{i} > 0" for i in range(len(_BM25_TERMS)))}
    """.format(tok=text_ops.sql_tokens("text")),
)
def text_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75) of the corpus against a
    fixed query-term set — the lexical-retrieval primitive a RAG /
    data-curation pipeline runs next to the embedding ANN stack.

    Cross-engine parity: the whole Robertson score is restated as ONE
    integer rational per term —

        idf·tf·(k1+1) / (tf + k1(1-b) + k1·b·dl/avgdl)
        = 22·S·tf·(2N-2df+1) / [(2df+1)(10·tf·S + 3S + 9·dl·N)]

    with idf the rational (N-df+.5)/(df+.5) variant (ln is not
    correctly-rounded in either engine's libm — the text_tf_df_score
    rule), avgdl = S/N cleared from the denominator, and k1/b folded into
    integer coefficients. Numerator and denominator are exact BIGINTs
    below 2^53 at bench scales (so BIGINT→DOUBLE is exact in both
    engines; at petabyte token counts move the two products to
    DECIMAL(38,0)), and the final per-term divisions + fixed-order sum
    are correctly-rounded IEEE ops — bit-identical, no rounding needed.

    Scale: per-term tf is a map-side array filter over the tokenized doc
    (NO explode, no per-term shuffle — query terms are a literal set);
    corpus stats (N, Σdl, per-term df) are ONE single-row aggregate
    broadcast back as a scalar subquery. One aggregation pass over the
    corpus total, scoring itself map-only; the tokenized projection is
    materialized once for its two consumers."""
    docs = _docs(spark, sf_dir)
    toks = text_ops.tokens("text")

    def _tf(term: str):
        # one-arg lambda: a two-arg lambda would make Spark pass the
        # ARRAY INDEX as the second argument (higher-order-function arity
        # dispatch), not a closure variable
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    f = materialize(docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[
            _tf(t).cast("long").alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    ))
    s = f.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("s_tokens"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )

    def _score(i: int):
        tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
        n, st, dl = F.col("n_docs"), F.col("s_tokens"), F.col("dl")
        num = F.lit(22) * st * tf * (F.lit(2) * n - F.lit(2) * df + 1)
        den = (F.lit(2) * df + 1) * (
            F.lit(10) * tf * st + F.lit(3) * st + F.lit(9) * dl * n
        )
        return F.when(tf == 0, F.lit(0.0)).otherwise(
            num.cast("double") / den.cast("double")
        )

    matched = [
        (F.col(f"tf{i}") > 0).cast("int") for i in range(len(_BM25_TERMS))
    ]
    score = _score(0)
    for i in range(1, len(_BM25_TERMS)):
        score = score + _score(i)
    n_matched = matched[0]
    for m in matched[1:]:
        n_matched = n_matched + m
    keep = F.col("tf0") > 0
    for i in range(1, len(_BM25_TERMS)):
        keep = keep | (F.col(f"tf{i}") > 0)
    return (
        f.crossJoin(F.broadcast(s))
        .filter(keep)
        .select(
            "doc_id",
            n_matched.cast("int").alias("n_terms_matched"),
            score.alias("bm25"),
        )
    )


# =========================================================================
# Round-6 additions: domain mixing, collocation mining, robust outliers
# =========================================================================


@workload(
    "domain_mix_weights",
    oracle=f"""
    WITH per AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM({text_ops.sql_token_count('text')}) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY 1),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_domains,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM per)
    SELECT source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)
               AS actual_share,
           CAST(total_tokens AS DOUBLE)
               / CAST(n_domains * n_tokens AS DOUBLE) AS mix_weight
    FROM per, tot""",
)
def domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data op: per-domain resampling weights toward a uniform
    token mix (the DoReMi/The-Pile 'domain mixing' step). For each source
    domain: token mass, its share of the corpus, and the multiplicative
    weight that equalizes shares (weight = target/actual with a uniform
    target = 1/n_domains). A sampler multiplies each domain's selection
    probability by ``mix_weight`` to hit the target mix.

    Numerics: token counts are exact BIGINTs; both emitted ratios are a
    SINGLE IEEE division of exactly-representable integers, so they are
    bit-identical across engines (no logs, no compensated sums).

    Scale: one partial-aggregated groupBy(source) — the per-domain frame
    is tiny (domain cardinality), so the totals join is a broadcast of a
    one-row frame; the corpus is scanned once, map-side."""
    # per feeds BOTH the output rows and the totals aggregate — without
    # materialization Spark re-executes the corpus scan + aggregation for
    # each consumer (multi-consumer frames get no ReusedExchange), and the
    # plan pin (test_llm_ops_plans) would see two corpus shuffles.  The
    # frame is tiny (|domains| rows), so the checkpoint is ~free.
    per = materialize(
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(text_ops.token_count("text")).alias("n_tokens"),
        )
    )
    tot = per.agg(
        F.count(F.lit(1)).alias("n_domains"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", "n_tokens",
        (
            F.col("n_tokens").cast("double")
            / F.col("total_tokens").cast("double")
        ).alias("actual_share"),
        (
            F.col("total_tokens").cast("double")
            / (F.col("n_domains") * F.col("n_tokens")).cast("double")
        ).alias("mix_weight"),
    )


_PMI_MIN_PAIR = 5
_PMI_TOPK = 50


@workload(
    "collocation_pmi_topk",
    oracle=f"""
    WITH tok AS (
        SELECT {text_ops.sql_tokens('text')} AS t FROM documents),
    uni AS (SELECT unnest(t) AS w FROM tok),
    ucnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uni),
    pair AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
              FROM tok)),
    pcnt AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pair_count
        FROM pair GROUP BY 1, 2
        HAVING COUNT(*) >= {_PMI_MIN_PAIR})
    SELECT p.w1 || ' ' || p.w2 AS bigram, p.pair_count,
           CAST(CAST(t.n AS DECIMAL(20,0)) * p.pair_count AS DOUBLE)
               / CAST(CAST(u1.c AS DECIMAL(20,0)) * u2.c AS DOUBLE)
               AS pmi_ratio
    FROM pcnt p
    JOIN ucnt u1 ON p.w1 = u1.w
    JOIN ucnt u2 ON p.w2 = u2.w
    CROSS JOIN tot t
    ORDER BY pmi_ratio DESC, bigram
    LIMIT {_PMI_TOPK}""",
)
def collocation_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis op: PMI collocation mining (phrase discovery for
    tokenizer/vocab construction). Scores each adjacent-token pair by
    N·c(xy) / (c(x)·c(y)) — the ARGUMENT of pointwise mutual information.
    log is monotone, so ranking by the rational argument is ranking by
    PMI while keeping every number an exact integer product followed by
    ONE IEEE division → bit-identical across engines (the
    oracle-parity-numerics discipline: never let libm near a hash-checked
    column). Pairs rarer than {_PMI_MIN_PAIR} are dropped (PMI's known
    low-frequency pathology), top-{_PMI_TOPK} with a lexicographic
    tie-break.

    Scale: tokenize ONCE — the token-array frame is materialized
    because it feeds three consumers (unigram counts, the
    corpus total, and the bigram stream) and Spark re-executes shared
    lineage per consumer otherwise; two partial-aggregated counts; the
    count products run in DECIMAL(20,0) (n·c(xy) with n~1e10+ tokens and
    stop-word counts ~0.1n overflows int64 long before the double cast);
    unigram counts join back by plain equi-joins (shuffle on word —
    broadcast is wrong here, a real vocabulary is millions of words);
    final top-k is TakeOrderedAndProject, no global sort."""
    toks = materialize(_docs(spark, sf_dir).select(
        text_ops.tokens("text").alias("t")
    ))
    # Aggregate the token stream ONCE (guide §2.3, r13): the unigram
    # counts previously re-aggregated per consumer — the u1 join side,
    # the u2 join side, and the corpus total each ran their own explode+
    # HashAggregate over the FULL |tokens| stream (3 passes in the r12
    # plan). ucnt is materialized once (|vocab| rows) and the total is
    # its exact integer rollup: n = Σ_w c(w), the same BIGINT the direct
    # count produced.
    ucnt = materialize(
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = ucnt.agg(F.sum("c").alias("n"))
    pairs = toks.select(
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.zip_with(
                    F.slice("t", 1, F.size("t") - 1),
                    F.slice("t", 2, F.size("t") - 1),
                    lambda a, b: F.struct(
                        a.alias("w1"), b.alias("w2")
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p")
    ).select("p.w1", "p.w2")
    pcnt = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= _PMI_MIN_PAIR)
    )
    u1 = ucnt.select(F.col("w").alias("u1_w"), F.col("c").alias("u1_c"))
    u2 = ucnt.select(F.col("w").alias("u2_w"), F.col("c").alias("u2_c"))
    return (
        pcnt.join(u1, pcnt["w1"] == u1["u1_w"])
        .join(u2, pcnt["w2"] == u2["u2_w"])
        .crossJoin(F.broadcast(tot))
        .select(
            F.concat("w1", F.lit(" "), "w2").alias("bigram"),
            "pair_count",
            (
                (F.col("n").cast("decimal(20,0)") * F.col("pair_count"))
                .cast("double")
                / (F.col("u1_c").cast("decimal(20,0)") * F.col("u2_c"))
                .cast("double")
            ).alias("pmi_ratio"),
        )
        .orderBy(F.desc("pmi_ratio"), "bigram")
        .limit(_PMI_TOPK)
    )


_MAD_K = 3


@workload(
    "outlier_mad_group",
    oracle=f"""
    WITH ranked AS (
        SELECT o_orderpriority AS grp, o_totalprice AS v,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders),
    med AS (
        SELECT grp, MAX(CASE WHEN rn = (n + 1) // 2 THEN v END) AS med,
               CAST(MAX(n) AS BIGINT) AS n_rows
        FROM ranked GROUP BY 1),
    dev AS (
        SELECT r.grp, abs(r.v - m.med) AS d, m.med, m.n_rows,
               row_number() OVER (PARTITION BY r.grp
                                  ORDER BY abs(r.v - m.med)) AS rn,
               COUNT(*) OVER (PARTITION BY r.grp) AS n
        FROM ranked r JOIN med m ON r.grp = m.grp),
    mad AS (
        SELECT grp, MAX(med) AS med, MAX(n_rows) AS n_rows,
               MAX(CASE WHEN rn = (n + 1) // 2 THEN d END) AS mad
        FROM dev GROUP BY 1)
    SELECT o.o_orderpriority AS grp, m.n_rows, m.med, m.mad,
           CAST(SUM(CASE WHEN abs(o.o_totalprice - m.med)
                              > {_MAD_K} * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM orders o JOIN mad m ON o.o_orderpriority = m.grp
    GROUP BY 1, 2, 3, 4""",
)
def outlier_mad_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust-statistics op: group-wise median/MAD outlier counts — the
    z-score family's heavy-tail-safe sibling (a single billion-value
    outlier shifts a mean but not a median). Median here is the LOWER
    median (value at rank ⌈n/2⌉ ascending), i.e. exactly Spark's
    ``percentile_disc(0.5)``; the oracle spells out the identical rank
    selection with window functions so both engines pick the SAME element
    — no interpolation, no averaging, so the only arithmetic on doubles
    is subtraction and one multiply, both exactly rounded and
    bit-identical (see outlier_zscore_group for the moment-based twin).

    Scale: two percentile_disc aggregations + one counting aggregation,
    all shuffled on the SAME group key; per-group stats are tiny, so they
    re-join the fact via broadcast. percentile_disc buffers per-group
    values, which is fine for bounded group counts; for billions-per-group
    switch the inner selection to approx_percentile (the bounded-contract
    twin ``agg_approx_percentile_bounded`` proves its error envelope)."""
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("v"),
    )
    med = orders.groupBy("grp").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)")
        .alias("med"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    dev = orders.join(F.broadcast(med), "grp").select(
        "grp", "v", "med", "n_rows",
        F.abs(F.col("v") - F.col("med")).alias("d"),
    )
    mad = dev.groupBy("grp").agg(
        F.max("med").alias("med"),
        F.max("n_rows").alias("n_rows"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY d)")
        .alias("mad"),
    )
    return (
        orders.join(F.broadcast(mad), "grp")
        .groupBy("grp", "n_rows", "med", "mad")
        .agg(
            F.sum(
                (
                    F.abs(F.col("v") - F.col("med"))
                    > F.lit(_MAD_K) * F.col("mad")
                ).cast("long")
            ).alias("n_outliers")
        )
    )


_COPURCHASE_TOPK = 100


@workload(
    "copurchase_part_pairs",
    oracle=cooccur_ops.sql_basket_pair_counts(
        "lineitem", "l_orderkey", "l_partkey"
    )
    + f"""
    ORDER BY n_baskets DESC, item_a, item_b
    LIMIT {_COPURCHASE_TOPK}""",
)
def copurchase_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top part pairs ordered together
    (pair-itemset support counts — the first stage of any frequent-itemset
    / recommender pipeline). All-integer counts, deterministic key
    tie-break.

    Scale: never a fact self-join — items gather per order (ONE shuffle
    on the basket key), i<j pairs expand MAP-SIDE from each sorted item
    array via higher-order functions, then one partial-aggregated count
    on the pair key. Pair space is sum_b k_b(k_b-1)/2 (k ≤ 7 in TPC-H
    order shapes); the shipped ``max_basket_size`` cap bounds degenerate
    baskets, mirrored in the oracle. Final top-k is
    TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        cooccur_ops.basket_pair_counts(li, "l_orderkey", "l_partkey")
        .orderBy(F.desc("n_baskets"), "item_a", "item_b")
        .limit(_COPURCHASE_TOPK)
    )


@workload(
    "event_transition_matrix",
    oracle=cooccur_ops.sql_transition_counts(
        "events", "user_id", "event_type", "ts", tiebreak=("event_id",)
    ),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    how often does event type A precede B, and with what empirical
    probability (``row_share``). The sequence-mining primitive behind
    next-action prediction and anomalous-flow detection.

    Scale: ONE user-keyed window shuffle (lag) + one partial-aggregated
    count; the matrix is |types|² rows, so the row-normalization join
    broadcasts a tiny totals frame — the corpus is never re-shuffled for
    the shares. row_share = two exact bigints in one IEEE division
    (bit-identical parity)."""
    events = _t(spark, sf_dir, "events")
    return cooccur_ops.transition_counts(
        events, "user_id", "event_type", "ts", tiebreak=("event_id",)
    )


@workload(
    "dedup_cluster_sizes",
    oracle="""
    WITH clus AS (
        SELECT md5(text) AS content_hash,
               CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM documents GROUP BY 1)
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM clus GROUP BY 1""",
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup observability: the exact-duplicate cluster-size histogram
    (how much of the corpus is singletons vs k-copy boilerplate). The
    number a dedup run is judged by in practice — duplicate MASS by
    cluster size — and the input to choosing LSH caps/thresholds.

    Scale: two nested hash aggregations, both partial-aggregated; the
    first shuffles content HASHES (not text), the second shuffles
    |distinct sizes| rows (~dozens). No window, no join."""
    sizes = dedup_ops.exact_dedup_stats(_docs(spark, sf_dir)).select(
        F.col("dup_count").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).alias("n_docs"),
    )


_TOP_TERMS_K = 3


@workload(
    "text_top_terms_per_doc",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({text_ops.sql_tokens('text')}) AS term
        FROM documents),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY 1, 2),
    df AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               tf.tf * ((n.n_docs + 1.0) / (df.df + 1.0)) AS rarity_score
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
    SELECT doc_id, term, tf, df, rarity_score,
           CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY rarity_score DESC, term)
                      AS rnk
          FROM scored)
    WHERE rnk <= {_TOP_TERMS_K}""",
)
def text_top_terms_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document distinctive terms: top-{_TOP_TERMS_K} by the rational
    rarity weight tf·(N+1)/(df+1) (the TF-IDF shape with log replaced by
    its rank-preserving-per-term rational — see ``text_tf_df_score`` for
    why ln never touches a hash-checked column). The keyword-extraction
    primitive for corpus browsing and topic labeling.

    Scale: tokenize once; per-(doc, term) tf frame feeds BOTH the output
    and the df counts, so it is materialized once (at cluster scale:
    persist/bucketed table — multi-consumer frames get no
    ReusedExchange). df joins back on term (a real vocabulary is
    millions of words — shuffle, not broadcast); the per-doc top-k is a
    rank-filter the optimizer runs as WindowGroupLimit (per-partition
    group limits BEFORE the window shuffle)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.explode(text_ops.tokens("text")).alias("term")
    )
    tf = materialize(
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy(F.col("term").alias("_df_term")).agg(
        F.count(F.lit(1)).alias("df")
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, F.col("term") == F.col("_df_term"))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "term", "tf", "df",
            (
                F.col("tf") * ((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
            ).alias("rarity_score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("rarity_score"), "term")
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _TOP_TERMS_K
    )


_COSINE_MAX_DF = 200
_COSINE_MIN = 0.5


@workload(
    "text_doc_sim_cosine",
    oracle=text_ops.sql_doc_cosine_pairs(
        max_df=_COSINE_MAX_DF, min_cosine=_COSINE_MIN, shingle_n=3
    ),
)
def text_doc_sim_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs document cosine similarity through the inverted index
    (term postings self-join) — EXACT pairwise similarity, the
    complement to the minhash/SimHash approximations in the dedup
    family. The df prune (``max_df``) is the scale contract: one
    stop-term re-creates the full |docs|² pair space, so hot terms are
    dropped before pair generation (they carry near-zero cosine mass).

    Hash-exact across engines: integer tf dot products and norms; the
    only float ops are conversion, multiply, IEEE sqrt, divide (all
    correctly rounded). See :func:`operators.text.doc_cosine_pairs`
    for the full plan narrative.

    Runs in SHINGLE space (3-gram terms): on this synthetic corpus the
    unigram vocabulary is ~31 words, ALL hotter than any sane max_df —
    unigram mode prunes to an empty vector space at sf0.1 while 3-gram
    space stays rich (27k shingles, df ≤ 25) at every SF, so the bench
    measures real pair generation, not an empty prune."""
    return text_ops.doc_cosine_pairs(
        _docs(spark, sf_dir),
        max_df=_COSINE_MAX_DF,
        min_cosine=_COSINE_MIN,
        shingle_n=3,
    )


@workload(
    "gaps_islands_daily",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    runs AS (
        SELECT user_id, day,
               day - CAST(row_number() OVER (PARTITION BY user_id
                                             ORDER BY day) AS INT) AS grp
        FROM days)
    SELECT user_id, MIN(day) AS start_day, MAX(day) AS end_day,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM runs GROUP BY user_id, grp""",
)
def gaps_islands_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over per-user activity days: maximal consecutive
    daily-activity streaks (start, end, length). The engagement-streak /
    continuous-coverage primitive, via the day-minus-row_number constant
    trick — no self-join, no recursive CTE.

    Scale: the (user, day) distinct collapses events to days BEFORE the
    window; one user-keyed window shuffle; the island aggregate reuses
    the user-clustered distribution (group keys ⊇ window partition key),
    so no further Exchange. See
    :func:`operators.temporal.activity_islands`."""
    from metadata_driven_etl_spark.operators import temporal

    events = _t(spark, sf_dir, "events")
    return temporal.activity_islands(events, "user_id", "ts")


@workload(
    "winsorize_clip_group",
    oracle="""
    WITH stats AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.05) AS lo,
               quantile_cont(l_extendedprice, 0.95) AS hi
        FROM lineitem GROUP BY 1)
    SELECT l_orderkey, l_linenumber, l.l_returnflag, l_extendedprice,
           least(greatest(l_extendedprice, lo), hi) AS l_extendedprice_clipped
    FROM lineitem l JOIN stats s ON l.l_returnflag = s.l_returnflag""",
)
def winsorize_clip_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clip line prices to the group's exact
    [p05, p95] percentile band — heavy-tail taming that bounds outliers
    without dropping rows (the feature-export companion to the
    outlier_zscore/MAD DETECTORS).

    Scale: the fact table never shuffles — one grouped percentile
    aggregation produces a |groups|-row stats frame, broadcast back, and
    the clip is map-side least/greatest. Percentile interpolation is the
    shared h=(n-1)q double formula (bit-identical to quantile_cont, see
    agg_percentile)."""
    from metadata_driven_etl_spark.operators import profiling

    li = _t(spark, sf_dir, "lineitem")
    out = profiling.winsorize(
        li.select(
            "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
        ),
        "l_extendedprice",
        group_cols=["l_returnflag"],
    )
    return out


_HH_SUPPORT = 0.01


@workload(
    "heavy_hitters_bounded",
    oracle=f"""
    SELECT l_quantity AS item, CAST(COUNT(*) AS BIGINT) AS exact_freq,
           1 AS in_sketch
    FROM lineitem
    GROUP BY 1
    HAVING COUNT(*) > {_HH_SUPPORT} * (SELECT COUNT(*) FROM lineitem)""",
)
def heavy_hitters_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assertive accuracy contract for the Misra-Gries/Karp frequent-items
    sketch (`DataFrame.stat.freqItems`): every item whose TRUE frequency
    exceeds support·n must appear in the sketch output — the sketch's
    no-false-negative guarantee, hash-checked. Spark computes the exact
    heavy hitters AND the sketch, and emits per item the exact count plus
    the containment boolean; the DuckDB twin emits the same exact rows
    with literal 1 (same pattern as approx_count_distinct_bounded).

    Scale: the sketch is single-pass with a FIXED 1/support-size state
    (here 100 counters) merged associatively across partitions — the
    100 TB path when exact per-key counting is itself the bottleneck; the
    exact side here exists only to *prove* the guarantee. The sketch fit
    collects its bounded counter map to the driver (like the IVF
    sampled-fit): O(1/support), never O(rows)."""
    li = _t(spark, sf_dir, "lineitem")
    n = li.count()
    sketch = li.stat.freqItems(["l_quantity"], support=_HH_SUPPORT)
    exact = (
        li.groupBy(F.col("l_quantity").alias("item"))
        .agg(F.count(F.lit(1)).alias("exact_freq"))
        .filter(F.col("exact_freq") > F.lit(_HH_SUPPORT) * F.lit(n))
    )
    return exact.crossJoin(F.broadcast(sketch)).select(
        "item",
        "exact_freq",
        F.array_contains(F.col("l_quantity_freqItems"), F.col("item"))
        .cast("int")
        .alias("in_sketch"),
    )


_PR_EDGES_SQL = f"""WITH pairs AS ({cooccur_ops.sql_basket_pair_counts(
    "lineitem", "l_orderkey", "l_partkey")})
    SELECT item_a AS src, item_b AS dst FROM pairs WHERE n_baskets >= 2
    UNION ALL
    SELECT item_b AS src, item_a AS dst FROM pairs WHERE n_baskets >= 2"""


@workload(
    "pagerank_copurchase",
    oracle=graph_ops.sql_pagerank_fixed_point(_PR_EDGES_SQL, iterations=3),
)
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (edges = part pairs
    ordered together in ≥2 baskets, symmetrized): which parts sit at the
    center of the co-purchase structure. The iterative-graph RANKING
    primitive, complementing connected_components' clustering.

    Exact fixed-point integer arithmetic makes 3 damped power-iteration
    rounds hash-identical to the DuckDB unrolled-CTE twin — an ITERATIVE
    algorithm with a full value-level oracle, not a rows-only check (see
    operators/graph.py for why floats can't do this). Per round: one
    shuffle join ranks⋈edges + one partial-aggregated sum; the
    degree-annotated edge list is materialized once."""
    li = _t(spark, sf_dir, "lineitem")
    pairs = materialize(
        cooccur_ops.basket_pair_counts(li, "l_orderkey", "l_partkey")
        .filter(F.col("n_baskets") >= 2)
    )
    edges = pairs.select(
        F.col("item_a").alias("src"), F.col("item_b").alias("dst")
    ).union(
        pairs.select(F.col("item_b").alias("src"), F.col("item_a").alias("dst"))
    )
    return graph_ops.pagerank_fixed_point(edges, iterations=3)


@workload(
    "dedup_jaccard_prefix",
    oracle=dedup_ops.sql_jaccard_brute_force(threshold=0.7),
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs set-similarity join via prefix filtering (the
    SSJoin/PPJoin rewrite): every pair with shingle Jaccard ≥ 0.7, with
    no LSH recall loss — the compliance-grade near-dup sweep. The oracle
    is the brute-force nested-loop join the filter exists to avoid, so
    the hash proves the prefix index loses NOTHING. Candidates come only
    from prefix postings (rarest ~(1−t)·|set| tokens under a global
    df-ascending order) + the Jaccard length filter; see
    :func:`operators.dedup.jaccard_prefix_pairs`.

    Threshold regime matters at scale: prefix selectivity is ~(1−t) of
    each set, so HIGH thresholds (0.7+: true near-dup sweeps) keep the
    candidate join on the rarest tokens, while a low-t sweep on a
    homogeneous corpus degenerates toward all-pairs CANDIDATES (measured:
    t=0.25 at sf0.1 produced ~10M candidates for 25 true pairs and
    OOM-pressured the bench JVM; t=0.7 verifies in seconds). Low-t
    recall questions belong to MinHash-LSH, which is what the near_dedup
    default stays."""
    return dedup_ops.jaccard_prefix_pairs(
        _docs(spark, sf_dir), threshold=0.7
    )


@workload(
    "copurchase_item_cf",
    oracle=cooccur_ops.sql_basket_pair_cosine(
        "lineitem", "l_orderkey", "l_partkey", min_baskets=2
    ),
)
def copurchase_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering scores over co-purchase baskets:
    cosine over basket-membership vectors, n_ab/√(n_a·n_b) — the
    "bought X also bought Y" recommender primitive, on top of the same
    single-shuffle pair generation as copurchase_part_pairs (basket
    frame materialized once; |items|-row count frames broadcast back so
    the pair frame never re-shuffles; counts integer-exact, cosine
    bit-identical)."""
    li = _t(spark, sf_dir, "lineitem")
    return cooccur_ops.basket_pair_cosine(
        li, "l_orderkey", "l_partkey", min_baskets=2
    )


@workload(
    "chisq_cells_flag_status",
    oracle="""
    WITH cells AS (
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_obs
        FROM lineitem GROUP BY 1, 2),
    rt AS (SELECT l_returnflag, CAST(SUM(n_obs) AS BIGINT) AS row_tot
           FROM cells GROUP BY 1),
    ct AS (SELECT l_linestatus, CAST(SUM(n_obs) AS BIGINT) AS col_tot
           FROM cells GROUP BY 1),
    n AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM cells)
    SELECT cells.l_returnflag, cells.l_linestatus, n_obs,
           CAST(row_tot * col_tot AS DOUBLE) / CAST(n_total AS DOUBLE)
             AS expected,
           (CAST(n_obs AS DOUBLE)
              - CAST(row_tot * col_tot AS DOUBLE) / CAST(n_total AS DOUBLE))
           * (CAST(n_obs AS DOUBLE)
              - CAST(row_tot * col_tot AS DOUBLE) / CAST(n_total AS DOUBLE))
           / (CAST(row_tot * col_tot AS DOUBLE) / CAST(n_total AS DOUBLE))
             AS chi2_term
    FROM cells
    JOIN rt ON cells.l_returnflag = rt.l_returnflag
    JOIN ct ON cells.l_linestatus = ct.l_linestatus
    CROSS JOIN n""",
)
def chisq_cells_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of the (returnflag × linestatus)
    contingency table, reported PER CELL: observed count, expected count
    under independence, and the cell's chi² contribution — the
    categorical-drift / feature-dependence primitive (sum the terms and
    compare to the chi² critical value for (r−1)(c−1) dof).

    Per-cell output is deliberate: every value is a fixed expression over
    exact integer counts (one conversion, one divide, one squared diff —
    all IEEE-correctly-rounded, so the driver can hash it), whereas a
    single chi² TOTAL would be an order-sensitive double sum across
    cells. At 100 TB: one map-side-combinable cell aggregation (the only
    corpus shuffle); row/col/grand totals derive from the |cells|-row
    frame and broadcast back."""
    li = _t(spark, sf_dir, "lineitem")
    cells = materialize(
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    rt = cells.groupBy(F.col("l_returnflag").alias("_rf")).agg(
        F.sum("n_obs").alias("row_tot")
    )
    ct = cells.groupBy(F.col("l_linestatus").alias("_ls")).agg(
        F.sum("n_obs").alias("col_tot")
    )
    n = cells.agg(F.sum("n_obs").alias("n_total"))
    expected = (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col(
        "n_total"
    ).cast("double")
    return (
        cells.join(F.broadcast(rt), F.col("l_returnflag") == F.col("_rf"))
        .join(F.broadcast(ct), F.col("l_linestatus") == F.col("_ls"))
        .crossJoin(F.broadcast(n))
        .select(
            "l_returnflag",
            "l_linestatus",
            "n_obs",
            expected.alias("expected"),
            (
                (F.col("n_obs").cast("double") - expected)
                * (F.col("n_obs").cast("double") - expected)
                / expected
            ).alias("chi2_term"),
        )
    )


@workload(
    "gini_quantity_by_flag",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag,
               CAST(l_quantity AS BIGINT) AS q,
               CAST(row_number() OVER (PARTITION BY l_returnflag
                                       ORDER BY l_quantity) AS BIGINT) AS i
        FROM lineitem),
    m AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DECIMAL(20,0)) AS n,
               CAST(SUM(CAST(q AS DECIMAL(20,0))) AS DECIMAL(20,0)) AS sq,
               CAST(SUM(CAST(CAST(i AS DECIMAL(20,0)) * q AS DECIMAL(28,0)))
                    AS DECIMAL(28,0)) AS siq
        FROM ranked GROUP BY 1)
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           CAST(sq AS BIGINT) AS sum_qty,
           CAST(CAST(2 * siq - (n + 1) * sq AS VARCHAR) AS DOUBLE)
             / CAST(CAST(n * sq AS VARCHAR) AS DOUBLE) AS gini
    FROM m""",
)
def gini_quantity_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Gini coefficient of the quantity distribution — the
    concentration/inequality metric (is volume spread evenly or carried
    by a few large lines). G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over the
    group-sorted values.

    Hash-exact: quantities are integral, so every term is an exact
    value; ties need NO tiebreak (equal values commute under the rank
    sum), making row_number deterministic here; the only float op is the
    final division. The rank-sum moment Σi·q grows ~q̄·n²/2, so the
    product is formed in DECIMAL(28,0) BEFORE summing (the
    linreg_price_on_quantity moment discipline) — int64 would silently
    wrap past n≈2e9 rows per group at the 100 TB posture. The final
    decimal→double conversions are exact while the moments stay < 2⁵³;
    beyond that both engines round-to-nearest identically from the exact
    decimal. ONE shuffle: the rank window's group partitioning is reused
    by the aggregation (group keys ⊇ window key)."""
    from pyspark.sql import Window

    d20, d28 = "decimal(20,0)", "decimal(28,0)"
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("q")
    ranked = li.select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("q")
    ).withColumn("i", F.row_number().over(w).cast("long"))
    m = ranked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast(d20).alias("n"),
        F.sum(F.col("q").cast(d20)).cast(d20).alias("sq"),
        F.sum((F.col("i").cast(d20) * F.col("q")).cast(d28))
        .cast(d28)
        .alias("siq"),
    )
    nd = F.col("n")
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.col("sq").cast("long").alias("sum_qty"),
        (
            (2 * F.col("siq") - (nd + 1) * F.col("sq")).cast("double")
            / (nd * F.col("sq")).cast("double")
        ).alias("gini"),
    )


@workload(
    "cumulative_unique_users",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events
        GROUP BY 1),
    daily AS (
        SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
        FROM first_seen GROUP BY 1)
    SELECT day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
    FROM daily""",
)
def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — the growth-curve / audience-
    accumulation metric. The naive form (COUNT(DISTINCT user) OVER a
    growing date frame) holds O(users) state per day; the rewrite is a
    pure identity: each user contributes exactly once, on their FIRST
    active day, so cumulative-distinct ≡ running sum of first-seen
    counts.

    Scale: one user-keyed aggregation (min day per user — map-side
    combinable), one |days|-row aggregation, and the running sum windows
    over the tiny date frame — the single-partition window touches
    |days| rows, never the corpus."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.withColumn("cum_users", F.sum("new_users").over(w))


@workload(
    "window_moving_median",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           quantile_cont(o_totalprice, 0.5) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS moving_median
    FROM orders""",
)
def window_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving median of each customer's last 5 order totals — the robust
    trend line (a moving MEAN chases one outlier order; the median
    doesn't). Exercises a non-algebraic aggregate over a sliding window
    frame, which Spark executes with per-frame buffers — fine for
    bounded ROWS frames like this, the trap is unbounded frames on hot
    keys.

    ONE customer-keyed window shuffle; percentile's h=(n-1)q double
    interpolation is shared with quantile_cont (see agg_percentile), so
    values hash-match."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-4, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.expr("percentile(o_totalprice, 0.5)").over(w).alias("moving_median"),
    )


@workload(
    "conversion_latency_quantiles",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS v,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p
        FROM events GROUP BY 1),
    lat AS (
        SELECT epoch_us(p) - epoch_us(v) AS us FROM firsts
        WHERE v IS NOT NULL AND p IS NOT NULL AND p >= v)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           quantile_cont(us, 0.5) AS p50_us,
           quantile_cont(us, 0.9) AS p90_us
    FROM lat""",
)
def conversion_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion distribution: quantiles of (first purchase −
    first view) per user — the product-funnel latency metric behind
    "how long does a user take to convert".

    Scale: one user-keyed aggregation (two conditional MINs, map-side
    combinable) collapses the event stream to |users| rows; the quantile
    is a single-row aggregate over that frame. Latencies are exact
    integer microseconds, so the percentile interpolation is the shared
    double formula over exact inputs — hash-identical."""
    events = _t(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "p"
        ),
    )
    lat = firsts.filter(
        F.col("v").isNotNull() & F.col("p").isNotNull() & (F.col("p") >= F.col("v"))
    ).select((F.unix_micros("p") - F.unix_micros("v")).alias("us"))
    return lat.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.expr("percentile(us, 0.5)").alias("p50_us"),
        F.expr("percentile(us, 0.9)").alias("p90_us"),
    )


@workload(
    "linreg_price_on_quantity",
    oracle="""
    WITH c AS (
        SELECT l_returnflag,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
        FROM lineitem),
    m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(20,0))) AS DECIMAL(20,0)) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(20,0))) AS DECIMAL(20,0)) AS sy,
               CAST(SUM(CAST(x * x AS DECIMAL(28,0))) AS DECIMAL(28,0)) AS sxx,
               CAST(SUM(CAST(y * y AS DECIMAL(28,0))) AS DECIMAL(28,0)) AS syy,
               CAST(SUM(CAST(x * y AS DECIMAL(28,0))) AS DECIMAL(28,0)) AS sxy
        FROM c GROUP BY 1),
    d AS (
        SELECT l_returnflag, n,
               CAST(CAST(CAST(n AS DECIMAL(20,0)) * sxy - sx * sy AS VARCHAR)
                    AS DOUBLE) AS cxy,
               CAST(CAST(CAST(n AS DECIMAL(20,0)) * sxx - sx * sx AS VARCHAR)
                    AS DOUBLE) AS vx,
               CAST(CAST(CAST(n AS DECIMAL(20,0)) * syy - sy * sy AS VARCHAR)
                    AS DOUBLE) AS vy,
               CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
               CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd
        FROM m)
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           CASE WHEN vx > 0 THEN (cxy / vx) / 100 END AS slope,
           CASE WHEN vx > 0
                THEN ((syd - (cxy / vx) * sxd) / n) / 100 END AS intercept,
           CASE WHEN vx > 0 AND vy > 0
                THEN (cxy / (sqrt(vx) * sqrt(vy)))
                     * (cxy / (sqrt(vx) * sqrt(vy))) END AS r2
    FROM d""",
)
def linreg_price_on_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS per group — in-database ML without MLlib: fit
    price = slope·quantity + intercept per returnflag from the normal
    equations, plus r². One map-side-combinable aggregation over the
    fact table computes the five exact-decimal moment sums (the
    agg_exact_stats discipline: 2-dp money as integer cents, n·Sxy −
    Sx·Sy numerators stay in decimal — no order sensitivity, no FMA
    contraction); slope/intercept/r² are a short fixed chain of IEEE
    double ops over those exact values, so three fitted models
    hash-match DuckDB bit-for-bit. Moment magnitudes stay < 2⁵³ at any
    tested SF, so the decimal→double conversions are exact.

    At 100 TB this is THE way to fit millions of per-segment univariate
    models: one aggregation pass, no per-group iteration, no driver
    involvement."""
    li = _t(spark, sf_dir, "lineitem")
    c = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("y"),
    )
    d20, d28 = "decimal(20,0)", "decimal(28,0)"
    m = c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(d20)).cast(d20).alias("sx"),
        F.sum(F.col("y").cast(d20)).cast(d20).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(d28)).cast(d28).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(d28)).cast(d28).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(d28)).cast(d28).alias("sxy"),
    )
    nd = F.col("n").cast(d20)
    d = m.select(
        "l_returnflag",
        "n",
        (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double").alias("cxy"),
        (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double").alias("vx"),
        (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double").alias("vy"),
        F.col("sx").cast("double").alias("sxd"),
        F.col("sy").cast("double").alias("syd"),
    )
    # degenerate guards (r12 sweep): a constant-x group has no fit
    slope_cents = F.col("cxy") / F.col("vx")
    r = F.col("cxy") / (F.sqrt(F.col("vx")) * F.sqrt(F.col("vy")))
    vx_ok = F.col("vx") > 0
    return d.select(
        "l_returnflag",
        "n",
        F.when(vx_ok, slope_cents / 100).alias("slope"),
        F.when(
            vx_ok,
            ((F.col("syd") - slope_cents * F.col("sxd")) / F.col("n")) / 100,
        ).alias("intercept"),
        F.when(vx_ok & (F.col("vy") > 0), r * r).alias("r2"),
    )


# =========================================================================
# Round 7: triangle counting, link prediction, exact EWMA, hybrid RRF
# =========================================================================

_COPURCHASE_EDGES_SQL = f"""WITH pairs AS ({cooccur_ops.sql_basket_pair_counts(
    "lineitem", "l_orderkey", "l_partkey")})
    SELECT item_a AS src, item_b AS dst FROM pairs WHERE n_baskets >= 2"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        cooccur_ops.basket_pair_counts(li, "l_orderkey", "l_partkey")
        .filter(F.col("n_baskets") >= 2)
        .select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
    )


@workload(
    "triangle_count_copurchase",
    oracle=graph_ops.sql_triangle_counts(_COPURCHASE_EDGES_SQL),
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts over the co-purchase graph: which parts
    sit inside densely interlinked purchase communities (the local
    clustering primitive — community cores, recommendation-cluster
    seeds). Degree-oriented wedge join, each triangle counted once at
    its (degree, id)-minimal vertex, exact bigint counts — see
    operators/graph.py triangle_counts for the Suri-Vassilvitskii-style
    scale argument (out-neighborhoods bounded by O(√|E|), equi-joins
    only)."""
    return graph_ops.triangle_counts(_copurchase_edges(spark, sf_dir))


@workload(
    "link_predict_copurchase_ra",
    oracle=graph_ops.sql_resource_allocation_topk(
        _COPURCHASE_EDGES_SQL, top_k=100
    ),
)
def link_predict_copurchase_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 predicted co-purchase links by the Resource Allocation
    index (Zhou-Lü-Zhang): non-adjacent part pairs scored by
    Σ 1/deg(z) over shared neighbors z — 'these two parts are never
    bought together yet, but share many co-purchase partners'. Fixed-
    point integer weights (floor(1e12/deg), exact bigint sums) make an
    inherently float-looking score hash-checkable — the pagerank
    discipline applied to link prediction. Candidates generate only
    through shared neighbors with the deg≤256 hub cap as the scale
    contract (wedge fan-out is Σ deg², and a hub's 1/deg weight is the
    smallest signal in the graph)."""
    return graph_ops.resource_allocation_topk(
        _copurchase_edges(spark, sf_dir), top_k=100
    )


_EWMA_W = 7


def _sql_ewma_terms() -> tuple[str, str]:
    num, den = [], []
    for k in range(_EWMA_W + 1):
        wt = 1 << (_EWMA_W - k)
        x = "c" if k == 0 else f"LAG(c, {k}) OVER w"
        num.append(f"COALESCE({x} * {wt}, 0)")
        den.append(f"CASE WHEN {x} IS NOT NULL THEN {wt} ELSE 0 END")
    return " + ".join(num), " + ".join(den)


_EWMA_NUM, _EWMA_DEN = _sql_ewma_terms()


@workload(
    "window_ewma_smooth",
    oracle=f"""
    WITH base AS (SELECT o_custkey, o_orderkey, o_orderdate,
                         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
                  FROM orders)
    SELECT o_custkey, o_orderkey,
           CAST({_EWMA_NUM} AS DOUBLE) / CAST({_EWMA_DEN} AS DOUBLE)
             AS ewma_price_cents
    FROM base
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
)
def window_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer exponentially-weighted order-value trend: truncated
    EWMA with power-of-two weights (half-life 1 row, 7 lags) — the
    denoised per-entity baseline for monitoring/anomaly work, computed
    EXACTLY (integer-scaled weighted sums, one final IEEE division), so
    an operator class that is normally a float fold carries a full
    value-level oracle. One window shuffle on o_custkey; the 8 lag()
    calls share a single frame sort (see temporal.ewma_fixed)."""
    from metadata_driven_etl_spark.operators import temporal as temporal_ops

    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("price_cents"),
    )
    return temporal_ops.ewma_fixed(
        base,
        "price_cents",
        order_cols=["o_orderdate", "o_orderkey"],
        partition_cols=["o_custkey"],
        window_rows=_EWMA_W,
        out_col="ewma_price_cents",
    ).select("o_custkey", "o_orderkey", "ewma_price_cents")


_RRF_LIST_LEN = 50


@workload(
    "search_hybrid_rrf",
    oracle=None,  # assembled below — it embeds the bm25 oracle CTE
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 lexical ranking (fixed query-term
    set, text_bm25_score's integer-rational scorer) with the dense
    cosine ranking (query = embedding 0, brute-force exact here; the
    ANN paths are the scale drop-in) via Reciprocal Rank Fusion — the
    calibration-free combiner every RAG/search pipeline ends with.
    Fixed-point RRF contributions (floor(1e12/(60+rank))) keep the fused
    score an exact bigint, so the whole hybrid stack carries a full
    value-level oracle. Assumes doc_id and vec_id share the id space
    (the corpus's embedding column keyed by document id).

    Scale: both input lists are already top-L (TakeOrderedAndProject /
    per-query window top-k); fusion is a union + one tiny aggregation.
    """
    from pyspark.sql import Window

    lex = text_bm25_score(spark, sf_dir)
    lex_top = lex.orderBy(F.desc("bm25"), "doc_id").limit(_RRF_LIST_LEN)
    w = Window.orderBy(F.desc("bm25"), "doc_id")
    lex_ranked = lex_top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "rank"
    )
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    dense_ranked = sim_ops.brute_force_topk(
        emb, queries, k=_RRF_LIST_LEN
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return sim_ops.rrf_fuse([lex_ranked, dense_ranked], top_k=20)


ORACLES["search_hybrid_rrf"] = f"""
    WITH lexb AS ({{bm25}}),
    lex AS (SELECT doc_id, r FROM
            (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id)
                    AS r FROM lexb)
            WHERE r <= {_RRF_LIST_LEN}),
    dense0 AS ({{dense}}),
    contrib AS (
        SELECT doc_id, CAST({sim_ops.RRF_SCALE} // ({sim_ops.RRF_K} + r)
                            AS BIGINT) AS c
        FROM lex
        UNION ALL
        SELECT neighbor_id AS doc_id,
               CAST({sim_ops.RRF_SCALE} // ({sim_ops.RRF_K} + rank)
                    AS BIGINT) AS c
        FROM dense0)
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rrf_score_fp,
           CAST(COUNT(*) AS BIGINT) AS n_lists
    FROM contrib GROUP BY 1
    ORDER BY rrf_score_fp DESC, doc_id LIMIT 20
""".format(
    bm25=ORACLES["text_bm25_score"],
    dense=sim_ops.sql_brute_force_topk(num_queries=1, k=_RRF_LIST_LEN),
)


@workload(
    "event_path_trigrams",
    oracle="""
    WITH p AS (
        SELECT event_type AS e1,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM p WHERE e3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n_paths DESC, e1, e2, e3 LIMIT 20""",
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 length-3 event-type paths across user streams — sequence
    mining one step deeper than the first-order transition matrix
    (A→B→C flows: the funnel-discovery / anomalous-path primitive).

    Scale: ONE user-keyed window shuffle; the two lead() calls share a
    single frame sort and each event starts at most one path (linear
    expansion, no sequence-powerset explode); the count is partial-
    aggregated and top-20 is TakeOrderedAndProject with a full-path
    tie-break."""
    events = _t(spark, sf_dir, "events")
    paths = cooccur_ops.event_path_ngrams(
        events, "user_id", "event_type", "ts", n=3, tiebreak=("event_id",)
    )
    return (
        paths.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "e1", "e2", "e3")
        .limit(20)
    )


@workload(
    "ks_test_price_by_flag",
    oracle="""
    WITH v AS (SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                        AS cents,
                      CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS isr
               FROM lineitem WHERE l_returnflag IN ('R', 'A')),
    pv AS (SELECT cents, CAST(SUM(isr) AS BIGINT) AS i1,
                  CAST(SUM(1 - isr) AS BIGINT) AS i2
           FROM v GROUP BY 1),
    c AS (SELECT cents,
                 CAST(SUM(i1) OVER w AS BIGINT) AS c1,
                 CAST(SUM(i2) OVER w AS BIGINT) AS c2
          FROM pv
          WINDOW w AS (ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    t AS (SELECT CAST(SUM(i1) AS BIGINT) AS n_r,
                 CAST(SUM(i2) AS BIGINT) AS n_a FROM pv)
    SELECT n_r, n_a,
           CAST(MAX(ABS(c1 * n_a - c2 * n_r)) AS BIGINT) AS d_num,
           CAST(MAX(ABS(c1 * n_a - c2 * n_r)) AS DOUBLE)
             / (CAST(n_r AS DOUBLE) * CAST(n_a AS DOUBLE)) AS ks_stat
    FROM c CROSS JOIN t GROUP BY n_r, n_a""",
)
def ks_test_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the price
    distributions of returned ('R') vs accepted ('A') lines — the
    distribution-drift detector (train/serve skew, cohort shift) done
    EXACTLY: D = max|F1 - F2| evaluated as the cross-multiplied integer
    |c1·n2 − c2·n1| (no per-step float CDF subtraction), so the supremum
    is an exact bigint and only the final normalization is one IEEE
    division. Overflow contract: n1·n2 < 2⁶³ (samples up to ~3e9 each;
    beyond that lift the products to decimal).

    Scale: the fact table shuffles ONCE (groupBy value into the
    |distinct values|-row domain frame); the cumulative window runs over
    that domain frame, not the corpus — for genuinely huge value domains
    swap in the distributed prefix-sum pattern (training_order)."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    v = li.filter(F.col("l_returnflag").isin("R", "A")).select(
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
        F.when(F.col("l_returnflag") == "R", 1)
        .otherwise(0)
        .cast("long")
        .alias("isr"),
    )
    pv = v.groupBy("cents").agg(
        F.sum("isr").alias("i1"),
        F.sum(F.lit(1) - F.col("isr")).alias("i2"),
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = pv.select(
        "cents",
        F.sum("i1").over(w).alias("c1"),
        F.sum("i2").over(w).alias("c2"),
    )
    t = pv.agg(
        F.sum("i1").alias("n_r"), F.sum("i2").alias("n_a")
    )
    diff = F.abs(
        F.col("c1") * F.col("n_a") - F.col("c2") * F.col("n_r")
    )
    return (
        c.crossJoin(F.broadcast(t))
        .groupBy("n_r", "n_a")
        .agg(F.max(diff).alias("d_num"))
        .select(
            "n_r",
            "n_a",
            "d_num",
            (
                F.col("d_num").cast("double")
                / (F.col("n_r").cast("double") * F.col("n_a").cast("double"))
            ).alias("ks_stat"),
        )
    )


@workload(
    "hll_rollup_merge_bounded",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           1 AS within_bound
    FROM orders GROUP BY 1""",
)
def hll_rollup_merge_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE-sketch rollup contract: per-day HLL sketches of distinct
    customers union-merge into per-month estimates, and the merged
    estimate must sit within the sketch's error bound of the exact count
    (|est − exact| ≤ 5%·exact + 8) — hash-checked per month (the
    approx_count_distinct_bounded pattern, extended to the MERGE path).

    This is THE 100 TB distinct-count architecture: materialize a small
    daily sketch table once, then answer any period rollup
    (week/month/quarter, late-arriving backfills) by merging sketch
    state — never re-scanning the corpus, which a plain
    count(distinct) forces per period. Both aggregation levels are
    single-pass and partial-aggregated (Datasketches HLL, lgConfigK=12
    → ~1.6% rel. std. error; deterministic — no RNG in the sketch).
    The exact side exists only to prove the bound."""
    o = _t(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.to_date("o_orderdate").alias("day"),
        "o_custkey",
    )
    daily = o.groupBy("month", "day").agg(
        F.expr("hll_sketch_agg(o_custkey, 12)").alias("sk")
    )
    monthly = daily.groupBy("month").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    exact = o.groupBy("month").agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    return exact.join(monthly, "month").select(
        "month",
        "exact_distinct",
        (
            F.abs(F.col("est") - F.col("exact_distinct"))
            <= F.lit(0.05) * F.col("exact_distinct") + F.lit(8)
        )
        .cast("int")
        .alias("within_bound"),
    )


@workload(
    "graph_assortativity_copurchase",
    oracle=f"""
    WITH e0 AS ({_COPURCHASE_EDGES_SQL}),
    canon AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
              FROM e0 WHERE src <> dst),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM
            (SELECT u AS node FROM canon UNION ALL SELECT v FROM canon)
            GROUP BY 1),
    de AS (SELECT du.d AS x, dv.d AS y FROM canon
           JOIN deg du ON du.node = canon.u
           JOIN deg dv ON dv.node = canon.v
           UNION ALL
           SELECT dv.d AS x, du.d AS y FROM canon
           JOIN deg du ON du.node = canon.u
           JOIN deg dv ON dv.node = canon.v),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(x AS DECIMAL(20,0))) AS DECIMAL(20,0)) AS sx,
                 CAST(SUM(CAST(y AS DECIMAL(20,0))) AS DECIMAL(20,0)) AS sy,
                 CAST(SUM(CAST(x AS DECIMAL(28,0)) * x) AS DECIMAL(28,0))
                   AS sxx,
                 CAST(SUM(CAST(y AS DECIMAL(28,0)) * y) AS DECIMAL(28,0))
                   AS syy,
                 CAST(SUM(CAST(x AS DECIMAL(28,0)) * y) AS DECIMAL(28,0))
                   AS sxy
          FROM de)
    SELECT n,
           CAST(CAST(n AS DECIMAL(20,0)) * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(CAST(n AS DECIMAL(20,0)) * sxx - sx * sx
                          AS DOUBLE))
                * sqrt(CAST(CAST(n AS DECIMAL(20,0)) * syy - sy * sy
                            AS DOUBLE))) AS assortativity
    FROM m""",
)
def graph_assortativity_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity of the co-purchase graph (Newman 2002):
    Pearson correlation of endpoint degrees over the symmetrized edge
    list — do popular parts co-sell with popular parts (r>0, hub-hub
    structure) or with the long tail (r<0, hub-and-spoke)? The one-number
    topology fingerprint that tells you whether degree-based caps (the
    RA hub cap, LSH bucket caps) will bite on this graph.

    Exact: degrees are bigints; the five moment sums run in
    DECIMAL(20/28,0) (the linreg_price_on_quantity discipline — no float
    order-sensitivity, no FMA divergence), and r is a fixed chain of
    IEEE double ops over exact values. One degree aggregation + two
    broadcast-able joins + one single-row moment aggregation — the fact
    table is the EDGE list, never re-shuffled."""
    edges = _copurchase_edges(spark, sf_dir)
    canon = materialize(
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )
    deg = (
        canon.select(F.col("u").alias("node"))
        .union(canon.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = (
        canon.join(
            deg.withColumnsRenamed({"node": "_nu", "d": "du"}),
            F.col("u") == F.col("_nu"),
        )
        .join(
            deg.withColumnsRenamed({"node": "_nv", "d": "dv"}),
            F.col("v") == F.col("_nv"),
        )
        .select("du", "dv")
    )
    de = ed.select(
        F.col("du").alias("x"), F.col("dv").alias("y")
    ).unionByName(ed.select(F.col("dv").alias("x"), F.col("du").alias("y")))
    d20, d28 = "decimal(20,0)", "decimal(28,0)"
    m = de.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(d20)).cast(d20).alias("sx"),
        F.sum(F.col("y").cast(d20)).cast(d20).alias("sy"),
        F.sum((F.col("x").cast(d28) * F.col("x"))).cast(d28).alias("sxx"),
        F.sum((F.col("y").cast(d28) * F.col("y"))).cast(d28).alias("syy"),
        F.sum((F.col("x").cast(d28) * F.col("y"))).cast(d28).alias("sxy"),
    )
    nd = F.col("n").cast(d20)
    return m.select(
        "n",
        (
            (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (
                F.sqrt(
                    (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                        "double"
                    )
                )
                * F.sqrt(
                    (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                        "double"
                    )
                )
            )
        ).alias("assortativity"),
    )


@workload(
    "kcore_copurchase",
    oracle=graph_ops.sql_kcore_peel(_COPURCHASE_EDGES_SQL, k=3, rounds=3),
)
def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 rounds of 3-core peeling on the co-purchase graph: strip parts
    with < 3 co-purchase partners, recompute, repeat — the surviving
    subgraph is the densely interlinked merchandising core (and the
    right input for the exact triangle/community passes, which should
    run AFTER peeling has removed the sparse fringe). Third iterative
    graph algorithm with a full value-level oracle (after CC and
    PageRank): the DuckDB twin unrolls the identical peeling rounds.
    Per round one degree aggregation + two semi-joins, edge frame only
    shrinks; see operators/graph.py kcore_peel."""
    return graph_ops.kcore_peel(
        _copurchase_edges(spark, sf_dir), k=3, rounds=3
    )


@workload(
    "sample_fixed_quota_per_group",
    oracle="""
    SELECT source, doc_id FROM (
        SELECT source, doc_id,
               row_number() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rn
        FROM documents)
    WHERE rn <= 40""",
)
def sample_fixed_quota_per_group(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic fixed-size quota sample per group: exactly
    min(40, |group|) documents per source, selected by md5-of-id order —
    the balanced-domain-quota selector (every corpus mix spec ends with
    'at most N docs per domain/source'), where fraction-based sampling
    (sample_hash / sample_stratified) can't hit exact counts. Hash order
    makes the draw uniform-without-replacement, reproducible across
    runs/engines (Spark md5 ≡ DuckDB md5), and independent of input
    partitioning.

    Scale: ONE window shuffle on the group key and Spark's
    WindowGroupLimit pushes the per-group top-k heap below the Exchange
    — map tasks forward at most k rows per group, so the shuffle
    carries O(groups·k), not the corpus."""
    from metadata_driven_etl_spark.operators import windows as w_ops

    docs = _docs(spark, sf_dir).select("source", "doc_id")
    return w_ops.topk_per_group(
        docs,
        ["source"],
        [F.asc(F.md5(F.col("doc_id").cast("string"))), F.asc("doc_id")],
        40,
    ).select("source", "doc_id")


@workload(
    "ohlc_bars_daily",
    oracle="""
    WITH v AS (
        SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events),
    w AS (
        SELECT event_type, day, cents,
               first_value(cents) OVER pw AS o,
               last_value(cents) OVER (PARTITION BY event_type, day
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING) AS c
        FROM v
        WINDOW pw AS (PARTITION BY event_type, day ORDER BY ts, event_id))
    SELECT event_type, day,
           CAST(MIN(o) AS BIGINT) AS open_cents,
           CAST(MAX(cents) AS BIGINT) AS high_cents,
           CAST(MIN(cents) AS BIGINT) AS low_cents,
           CAST(MIN(c) AS BIGINT) AS close_cents,
           CAST(COUNT(*) AS BIGINT) AS n_ticks
    FROM w GROUP BY 1, 2""",
)
def ohlc_bars_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC (open/high/low/close) bars of the event value stream
    per event type — the canonical timeseries rollup (candlesticks,
    per-sensor daily summaries, per-SKU price bars).

    Hash-exact: values become integer cents first, so every bar field is
    an exact integer (min/max/argmin/argmax of exact values); the
    (ts, event_id) ordering key is unique, so open/close are
    deterministic.

    Scale: open/close are min_by/max_by over a struct ordering key —
    the whole bar is ONE map-side-combinable aggregation (partial
    min_by/max_by states merge associatively), so the fact shuffles once
    into |bars| rows. The oracle's window formulation is the shape this
    DELIBERATELY avoids: a per-row rank/sort over the fact table."""
    from metadata_driven_etl_spark.operators import temporal as temporal_ops

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    bars = temporal_ops.ohlc_bars(
        ev, ["event_type", "day"], "ts", "cents", ("event_id",)
    )
    return bars.select(
        "event_type",
        "day",
        F.col("open").alias("open_cents"),
        F.col("high").alias("high_cents"),
        F.col("low").alias("low_cents"),
        F.col("close").alias("close_cents"),
        "n_ticks",
    )


@workload(
    "twap_event_value_daily",
    oracle="""
    WITH v AS (
        SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events),
    g AS (
        SELECT event_type, day, cents,
               epoch_us(LEAD(ts) OVER (PARTITION BY event_type, day
                                       ORDER BY ts, event_id))
                 - epoch_us(ts) AS dus
        FROM v)
    SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(CAST(SUM(CAST(cents * dus AS DECIMAL(38,0)))
                     AS VARCHAR) AS DOUBLE)
             / CAST(CAST(SUM(CAST(dus AS DECIMAL(38,0)))
                         AS VARCHAR) AS DOUBLE) AS twap
    FROM g WHERE dus IS NOT NULL GROUP BY 1, 2""",
)
def twap_event_value_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily time-weighted average of the event value per event type
    (TWAP): each observation weighted by the integer microsecond gap
    until the key's next observation — the execution-benchmark /
    duration-weighted-metric primitive, where a plain AVG over-weights
    bursts of rapid ticks.

    Hash-exact: num = Σ cents·Δus and den = Σ Δus accumulate in
    DECIMAL(38,0) (one product already reaches ~8.6e16 for day-long
    gaps; the int64 product bound |cents|·Δus < 2⁶³ holds to 8-digit
    cents) and the average is ONE IEEE division from the exact decimals
    (DuckDB's decimal→double goes via VARCHAR — its direct cast
    misrounds).

    Scale: ONE window shuffle on (event_type, day) for the lead()
    successor lookup; the aggregation reuses the window's hash
    distribution (group keys ⊇ window partition keys → no second
    Exchange)."""
    from metadata_driven_etl_spark.operators import temporal as temporal_ops

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    bars = temporal_ops.twap(
        ev, ["event_type", "day"], "ts", "cents", ("event_id",)
    )
    return bars.select("event_type", "day", "n_obs", "twap")


@workload(
    "mannwhitney_u_price_by_flag",
    oracle="""
    WITH v AS (SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                        AS cents,
                      CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS isr
               FROM lineitem WHERE l_returnflag IN ('R', 'A')),
    pv AS (SELECT cents, CAST(SUM(isr) AS BIGINT) AS i1,
                  CAST(SUM(1 - isr) AS BIGINT) AS i2
           FROM v GROUP BY 1),
    c AS (SELECT cents, i1, i2, i1 + i2 AS cnt,
                 CAST(COALESCE(SUM(i1 + i2) OVER (
                     ORDER BY cents
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS BIGINT) AS cb
          FROM pv),
    t AS (SELECT CAST(SUM(i1) AS BIGINT) AS n_r,
                 CAST(SUM(i2) AS BIGINT) AS n_a FROM pv),
    r AS (SELECT CAST(SUM(CAST(CAST(i1 AS DECIMAL(20,0))
                               * (2 * cb + cnt + 1) AS DECIMAL(38,0)))
                      AS DECIMAL(38,0)) AS r1d FROM c)
    SELECT n_r, n_a,
           CAST(r1d - CAST(n_r * (n_r + 1) AS DECIMAL(38,0)) AS BIGINT)
             AS u_doubled,
           CAST(CAST(r1d - CAST(n_r * (n_r + 1) AS DECIMAL(38,0))
                     AS VARCHAR) AS DOUBLE)
             / CAST(2 * n_r * n_a AS DOUBLE) AS auc
    FROM r CROSS JOIN t""",
)
def mannwhitney_u_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between returned ('R') and accepted ('A') price
    distributions, emitted as the ROC-AUC equivalence
    U/(n₁n₂) = P(X>Y) + ½P(X=Y) — the nonparametric location-shift test
    (KS asks "are the distributions different anywhere"; U asks "is one
    stochastically larger", and doubles as the rank-based classifier
    AUC).

    Exactness: midranks are rational halves, so rank sums accumulate in
    DOUBLED units — 2·midrank = 2·c_before + cnt + 1 is an exact bigint
    per tied block, and R1_doubled = Σ i1·(2c+cnt+1) is formed in
    DECIMAL(38,0) (the rank-sum moment grows ~n² — int64 wraps past
    n≈2e9; gini discipline). U_doubled = R1d − n₁(n₁+1) stays integral;
    the only float op is ONE division by 2n₁n₂ (exact in double below
    2^53, documented).

    Scale: identical shape to ks_test_price_by_flag — the fact shuffles
    ONCE into the |distinct values|-row domain frame; the rank window
    runs over that frame, not the corpus."""
    from pyspark.sql import Window

    d20, d38 = "decimal(20,0)", "decimal(38,0)"
    li = _t(spark, sf_dir, "lineitem")
    v = li.filter(F.col("l_returnflag").isin("R", "A")).select(
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
        F.when(F.col("l_returnflag") == "R", 1)
        .otherwise(0)
        .cast("long")
        .alias("isr"),
    )
    # The domain frame feeds the rank window AND the totals — materialize
    # it once (the multi-consumer discipline) so the fact scans once.
    pv = materialize(v.groupBy("cents").agg(
        F.sum("isr").alias("i1"),
        F.sum(F.lit(1) - F.col("isr")).alias("i2"),
    ))
    wb = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    c = pv.select(
        "i1",
        (F.col("i1") + F.col("i2")).alias("cnt"),
        F.coalesce(
            F.sum(F.col("i1") + F.col("i2")).over(wb), F.lit(0)
        ).alias("cb"),
    )
    r = c.agg(
        F.sum(
            (
                F.col("i1").cast(d20)
                * (2 * F.col("cb") + F.col("cnt") + 1)
            ).cast(d38)
        )
        .cast(d38)
        .alias("r1d")
    )
    t = pv.agg(F.sum("i1").alias("n_r"), F.sum("i2").alias("n_a"))
    u1d = F.col("r1d") - (F.col("n_r") * (F.col("n_r") + 1)).cast(d38)
    return (
        r.crossJoin(F.broadcast(t))
        .select(
            "n_r",
            "n_a",
            u1d.cast("long").alias("u_doubled"),
            (
                u1d.cast("double")
                / (2 * F.col("n_r") * F.col("n_a")).cast("double")
            ).alias("auc"),
        )
    )


# Benford first-digit probabilities log10(1 + 1/d): literal double
# constants shared VERBATIM by the Spark plan and the DuckDB oracle —
# repr() gives the shortest round-trip string, both engines' literal
# parsers round-to-nearest to the SAME double, and every downstream op
# is a fixed chain of correctly-rounded IEEE arithmetic.
_BENFORD_P = {d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)}
_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p!r}" for d, p in _BENFORD_P.items()
) + " END"


@workload(
    "benford_digit_orders",
    oracle=f"""
    WITH v AS (SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                        AS BIGINT) AS VARCHAR), 1, 1)
                           AS INT) AS digit
               FROM orders),
    obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
            FROM v GROUP BY 1),
    t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs)
    SELECT digit, n_obs, expected,
           (CAST(n_obs AS DOUBLE) - expected)
             * (CAST(n_obs AS DOUBLE) - expected) / expected AS chi2_term
    FROM (SELECT digit, n_obs,
                 CAST(n AS DOUBLE) * ({_BENFORD_CASE}) AS expected
          FROM obs CROSS JOIN t)""",
)
def benford_digit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit test on order totals — the
    fraud/fabrication screen (organically-grown amounts follow
    P(d) = log10(1+1/d); fabricated or capped data doesn't). Emits
    per-digit observed counts, expected counts, and chi-square
    contributions (the chisq_cells per-cell discipline — a chi² TOTAL
    would be an order-sensitive double sum; cells are fixed expressions
    over exact integer counts).

    Hash-exact: the first significant digit comes from the DECIMAL
    STRING of integer cents (identical in both engines — no float log10
    of the value itself); the Benford probabilities are literal double
    constants embedded verbatim in both plans, and expected/chi² are
    fixed chains of correctly-rounded IEEE ops over exact integers
    (< 2^53).

    Scale: ONE map-side-combinable 9-group aggregation over the fact
    scan; the totals frame is 1 row, broadcast back. Nothing else
    touches the corpus."""
    o = _t(spark, sf_dir, "orders").select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    # The 9-row digit frame feeds the cells AND the total — materialize
    # it once so the corpus scans once.
    obs = materialize(
        o.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    tot = obs.agg(F.sum("n_obs").alias("n"))
    p = F.lit(None).cast("double")
    for d, prob in _BENFORD_P.items():
        p = F.when(F.col("digit") == d, F.lit(prob)).otherwise(p)
    expected = (F.col("n").cast("double") * p).alias("expected")
    base = obs.crossJoin(F.broadcast(tot)).select(
        "digit", "n_obs", expected
    )
    diff = F.col("n_obs").cast("double") - F.col("expected")
    return base.select(
        "digit",
        "n_obs",
        "expected",
        (diff * diff / F.col("expected")).alias("chi2_term"),
    )


@workload(
    "attribution_last_touch",
    oracle="""
    WITH t AS (
        SELECT event_type, ts,
               last_value(CASE WHEN event_type <> 'purchase'
                               AND ts IS NOT NULL
                               THEN ts END IGNORE NULLS) OVER w AS t_ts,
               last_value(CASE WHEN event_type <> 'purchase'
                               AND ts IS NOT NULL
                               THEN event_type END IGNORE NULLS)
                 OVER w AS t_ch
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT CASE WHEN t_ts IS NULL
                  OR epoch_us(ts) - epoch_us(t_ts) > 604800000000
                THEN 'direct' ELSE t_ch END AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_conversions
    FROM t WHERE event_type = 'purchase' GROUP BY 1""",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent preceding non-purchase event type within a
    7-day lookback, else 'direct' — the channel-performance primitive
    every growth/marketing warehouse runs daily.

    The two `last(… ignore nulls)` carries (touch timestamp, touch
    channel) null out on the SAME condition — including ts IS NOT NULL,
    mirrored in the oracle, so a NULL-timestamp touch can never split
    the carries — and always come from the same row; the lookback test
    is an exact integer-microsecond comparison map-side.

    Scale: ONE user-keyed window shuffle (both carries share one
    WindowExec frame sort) + one |channels|-row partial-aggregated
    count. Never the per-conversion self-join (conversions × touches
    pair space) a correlated-subquery formulation plans to.

    Routed through operators.temporal.attribute_last_touch — the same
    operator a YAML gold ``model_type: event`` model dispatches to."""
    from metadata_driven_etl_spark.operators import temporal as temporal_ops

    return temporal_ops.attribute_last_touch(
        _t(spark, sf_dir, "events"),
        conversion_type="purchase",
        lookback_seconds=7 * 86400,
    )


_PHRASE = ["table", "table"]


@workload(
    "text_phrase_search",
    oracle=f"""
    WITH d AS (SELECT doc_id, {text_ops.sql_tokens('text')} AS t
               FROM documents),
    m AS (SELECT doc_id
          FROM d, LATERAL (SELECT unnest(generate_series(
                               1, greatest(len(t) - 1, 0))) AS i) g
          WHERE list_slice(t, i, i + 1) = ['table', 'table'])
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM m GROUP BY 1""",
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tokenized phrase search ("table table") through a
    positional inverted index — the distributed search-engine primitive
    (Lucene phrase-query shape): postings (doc, pos, token) filtered to
    the phrase's tokens, k-th token joins the anchor at pos+k, per-doc
    occurrence counts including overlapping matches (the self-token
    phrase here makes "table table table" count twice — the edge case
    substring-replace formulations get wrong).

    Scale: the filtered postings materialize ONCE (both phrase
    positions probe it — at 100 TB this is the persisted token-bucketed
    posting table and each query reads only its tokens' lists); every
    join is an equi-join on (doc, anchor pos) — candidate cardinality
    is the anchor token's df, never a cross product (plan-pinned). The
    oracle recomputes positions with the SHARED tokenizer."""
    docs = _docs(spark, sf_dir)
    return text_ops.phrase_match_postings(
        docs, _PHRASE, text_col="text", id_col="doc_id"
    )


_COV_DIMS = 8
_COV_SCALE = 10_000
_COV_PAIRS = [(i, j) for i in range(_COV_DIMS) for j in range(i, _COV_DIMS)]
_COV_ORACLE = (
    "WITH q AS (SELECT "
    + ", ".join(
        f"CAST(FLOOR(CAST(embedding[{i + 1}] AS DOUBLE) * {_COV_SCALE}"
        f" + 0.5) AS BIGINT) AS q{i}"
        for i in range(_COV_DIMS)
    )
    + " FROM embeddings), m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
    + ", ".join(
        f"SUM(CAST(q{i} AS HUGEINT)) AS t{i}" for i in range(_COV_DIMS)
    )
    + ", "
    + ", ".join(
        f"SUM(CAST(q{i} AS HUGEINT) * q{j}) AS s{i}_{j}"
        for i, j in _COV_PAIRS
    )
    + " FROM q) "
    + " UNION ALL ".join(
        f"SELECT {i} AS i, {j} AS j, n AS n_rows, "
        f"CAST(CAST(CAST(n AS HUGEINT) * s{i}_{j} - t{i} * t{j} AS VARCHAR)"
        f" AS DOUBLE) / CAST(CAST(CAST(n AS HUGEINT) * n"
        f" * {_COV_SCALE * _COV_SCALE} AS VARCHAR) AS DOUBLE) AS cov FROM m"
        for i, j in _COV_PAIRS
    )
)


@workload("embedding_covariance", oracle=_COV_ORACLE)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact population covariance matrix (upper triangle, first 8
    embedding dims) from quantized integer co-moments — the single-pass
    input to PCA/whitening/drift monitoring: the corpus-scale work is
    ONE aggregation; the d×d eigensolve is driver-side metadata.

    Hash-exact: q = floor(x·1e4 + 0.5) (float→double widening exact,
    one correctly-rounded multiply), moments n/T_i/S_ij accumulate in
    DECIMAL(38,0) (Spark) ≡ HUGEINT (DuckDB) — both exact integers —
    and cov = (n·S_ij − T_i·T_j)/(n²·scale²) is ONE IEEE division of
    two exactly-converted decimals (DuckDB decimal→double via VARCHAR).

    Scale: d(d+1)/2 + d + 1 = 45 partial-agg decimal states (~35 KB at
    d=64); map-side combine, shuffle carries aggregate state only — the
    same posture at any corpus size. The 36-cell unpivot is metadata."""
    from metadata_driven_etl_spark.operators import similarity as s_ops

    emb = _emb(spark, sf_dir)
    return s_ops.embedding_comoments(
        emb, "embedding", dims=_COV_DIMS, scale=_COV_SCALE
    )


@workload(
    "running_sum_clamped",
    oracle="""
    WITH d AS (
        SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
               CASE WHEN l_returnflag = 'R'
                    THEN -CAST(l_quantity AS BIGINT)
                    ELSE CAST(l_quantity AS BIGINT) END AS delta
        FROM lineitem WHERE l_suppkey < 50),
    p AS (
        SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, delta,
               CAST(SUM(delta) OVER w AS BIGINT) AS psum
        FROM d
        WINDOW w AS (PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT l_suppkey, l_orderkey, l_linenumber, delta,
           CAST(psum - LEAST(0, MIN(psum) OVER w2) AS BIGINT) AS onhand
    FROM p
    WINDOW w2 AS (PARTITION BY l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
)
def running_sum_clamped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running inventory position clamped at zero (shipments add,
    returns subtract, stock can't go negative) — the textbook
    "inherently sequential" fold S_t = max(0, S_{t-1} + x_t), made
    DISTRIBUTED by the prefix identity
    S_t = P_t − min(0, min_{k≤t} P_k) (P = plain running sum): a
    stateful recurrence becomes two stacked prefix aggregates over ONE
    key-partitioned window. (The identity holds for one-sided
    clamp-at-zero; a two-sided cap has no prefix closed form — that's
    the genuinely sequential case, applyInPandasWithState territory.)

    Exactness: quantities are integral, so both prefixes and the final
    difference are exact bigints; ordering (shipdate, orderkey,
    linenumber) is unique per supplier.

    Scale: ONE supplier-keyed window shuffle; both window functions and
    the stacked second window share the same partitioning+ordering, so
    Spark reuses one sort (plan-pinned: one Exchange). The suppkey<50
    slice bounds the driver-collected output only — the plan is
    identical unfiltered."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 50)
    delta = F.when(
        F.col("l_returnflag") == "R",
        -F.col("l_quantity").cast("long"),
    ).otherwise(F.col("l_quantity").cast("long"))
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        delta.alias("delta"),
    ).withColumn("psum", F.sum("delta").over(w))
    return p.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "delta",
        (
            F.col("psum") - F.least(F.lit(0), F.min("psum").over(w))
        ).alias("onhand"),
    )


@workload(
    "allocate_largest_remainder",
    oracle="""
    WITH w AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n
               FROM customer GROUP BY 1),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM w),
    b AS (SELECT c_nationkey, n,
                 CAST((1000 * n) // tot AS BIGINT) AS base,
                 CAST((1000 * n) % tot AS BIGINT) AS rem
          FROM w CROSS JOIN t),
    l AS (SELECT CAST(1000 - SUM(base) AS BIGINT) AS leftover FROM b),
    r AS (SELECT c_nationkey, n, base, rem,
                 CAST(row_number() OVER (ORDER BY rem DESC, c_nationkey)
                      AS BIGINT) AS rk
          FROM b)
    SELECT c_nationkey, n AS n_customers,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM r CROSS JOIN l""",
)
def allocate_largest_remainder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Proportional integer apportionment by the largest-remainder
    (Hamilton) method: split 1000 units across nations proportionally
    to customer count, exactly — Σ alloc = 1000 BY CONSTRUCTION
    (floor shares, then +1 to the largest remainders). The budget/
    sample-quota/seat allocator every float-rounding scheme gets wrong
    (rounded shares don't sum to the total).

    Exactness: base = (K·n) div W and rem = (K·n) mod W are exact
    integer ops (K·n < 2⁶³ for n < 9e15 at K=1000); remainder ties
    break on the group key — fully deterministic, zero floats anywhere.

    Scale: ONE map-side-combinable groupBy over the fact (count per
    group); everything after runs on the |groups|-row frame —
    broadcast total, metadata-size rank window. The weights frame is
    materialized once (it feeds base/rem AND the leftover sum)."""
    from pyspark.sql import Window

    cust = _t(spark, sf_dir, "customer")
    w = materialize(
        cust.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = w.agg(F.sum("n").alias("tot"))
    b = materialize(w.crossJoin(F.broadcast(t)).select(
        "c_nationkey",
        "n",
        F.expr("(1000 * n) DIV tot").alias("base"),
        ((1000 * F.col("n")) % F.col("tot")).alias("rem"),
    ))
    leftover = b.agg((F.lit(1000) - F.sum("base")).alias("leftover"))
    rk = F.row_number().over(
        Window.orderBy(F.col("rem").desc(), F.col("c_nationkey"))
    ).cast("long")
    r = b.withColumn("rk", rk)
    return r.crossJoin(F.broadcast(leftover)).select(
        "c_nationkey",
        F.col("n").alias("n_customers"),
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        ).alias("alloc"),
    )


@workload(
    "cuped_adjusted_spend",
    oracle="""
    WITH u AS (
        SELECT o_custkey,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS y,
               CAST(o_custkey % 2 AS INTEGER) AS variant
        FROM orders GROUP BY o_custkey),
    g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                 SUM(CAST(x AS HUGEINT)) AS tx,
                 SUM(CAST(y AS HUGEINT)) AS ty,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx,
                 SUM(CAST(x AS HUGEINT) * y) AS sxy
          FROM u),
    v AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_units,
                 CAST(SUM(x) AS BIGINT) AS tx_g,
                 CAST(SUM(y) AS BIGINT) AS ty_g
          FROM u GROUP BY 1)
    SELECT variant, n_units,
           CAST(ty_g AS DOUBLE) / CAST(n_units AS DOUBLE) AS raw_mean,
           -- guards (r12 degenerate sweep): theta is undefined when
           -- the covariate is constant (var X = 0)
           CASE WHEN n * sxx - tx * tx > 0 THEN
             CAST(CAST(n * sxy - tx * ty AS VARCHAR) AS DOUBLE)
               / CAST(CAST(n * sxx - tx * tx AS VARCHAR) AS DOUBLE)
           END AS theta,
           CASE WHEN n * sxx - tx * tx > 0 THEN
             CAST(ty_g AS DOUBLE) / CAST(n_units AS DOUBLE)
               - (CAST(CAST(n * sxy - tx * ty AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(n * sxx - tx * tx AS VARCHAR) AS DOUBLE))
                 * (CAST(tx_g AS DOUBLE) / CAST(n_units AS DOUBLE)
                    - CAST(CAST(tx AS VARCHAR) AS DOUBLE)
                      / CAST(CAST(n AS VARCHAR) AS DOUBLE))
           END AS adj_mean
    FROM v CROSS JOIN g""",
)
def cuped_adjusted_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (the A/B-testing
    platform primitive): per-variant mean spend adjusted by the
    pre-exposure covariate, Ŷ_g = mean(Y)_g − θ·(mean(X)_g − mean(X)),
    θ = cov(X,Y)/var(X) fitted on ALL units — removes covariate-driven
    variance without biasing the treatment contrast. Units = customers
    (variant = custkey parity — deterministic assignment), X = order
    count, Y = lifetime spend in cents.

    Hash-exact: all five global moments (n, ΣX, ΣY, ΣX², ΣXY) and the
    per-variant sums are exact integers (DECIMAL(38,0) ≡ HUGEINT);
    θ = (n·Sxy − TxTy)/(n·Sxx − Tx²) and the adjustment are the SAME
    fixed chain of correctly-rounded IEEE ops in both engines over
    exactly-converted decimals (the closed-form-OLS discipline —
    cov/var of the same fit, just re-purposed for variance reduction).

    Scale: one corpus shuffle (groupBy unit); the units frame is
    materialized once (global moments + per-variant sums), the 1-row
    global frame broadcasts back. Fitting θ is the same single
    aggregation pass however many units exist."""
    d38 = "decimal(38,0)"
    o = _t(spark, sf_dir, "orders")
    u = materialize(
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("y"),
        )
        .withColumn("variant", (F.col("o_custkey") % 2).cast("int"))
    )
    g = u.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("x").cast(d38)).cast(d38).alias("tx"),
        F.sum(F.col("y").cast(d38)).cast(d38).alias("ty"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).cast(d38).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).cast(d38).alias("sxy"),
    )
    v = u.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum("x").alias("tx_g"),
        F.sum("y").alias("ty_g"),
    )
    varx = F.col("n") * F.col("sxx") - F.col("tx") * F.col("tx")
    theta = (
        (F.col("n") * F.col("sxy") - F.col("tx") * F.col("ty"))
        .cast(d38)
        .cast("double")
        / varx.cast(d38).cast("double")
    )
    raw_mean = F.col("ty_g").cast("double") / F.col("n_units").cast("double")
    adj = raw_mean - theta * (
        F.col("tx_g").cast("double") / F.col("n_units").cast("double")
        - F.col("tx").cast("double") / F.col("n").cast("double")
    )
    # guards (r12 degenerate sweep): constant covariate => no theta
    theta = F.when(varx > 0, theta)
    adj = F.when(varx > 0, adj)
    return v.crossJoin(F.broadcast(g)).select(
        "variant",
        "n_units",
        raw_mean.alias("raw_mean"),
        theta.alias("theta"),
        adj.alias("adj_mean"),
    )


@workload(
    "best_split_gini_quantity",
    oracle="""
    WITH d AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
        FROM lineitem),
    pv AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS cnt,
                  CAST(SUM(pos) AS BIGINT) AS p
           FROM d GROUP BY 1),
    c AS (SELECT q,
                 CAST(SUM(cnt) OVER w AS BIGINT) AS nl,
                 CAST(SUM(p) OVER w AS BIGINT) AS pl
          FROM pv
          WINDOW w AS (ORDER BY q
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                 CAST(SUM(p) AS BIGINT) AS np FROM pv)
    SELECT q AS threshold, nl AS n_left, pl AS pos_left,
           (CAST(pl * pl + (nl - pl) * (nl - pl) AS DOUBLE)
              / CAST(nl AS DOUBLE))
           + (CAST((np - pl) * (np - pl)
                   + ((n - nl) - (np - pl)) * ((n - nl) - (np - pl))
                   AS DOUBLE)
              / CAST(n - nl AS DOUBLE)) AS purity_q
    FROM c CROSS JOIN t WHERE nl < n""",
)
def best_split_gini_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-tree split finding in-database: evaluate EVERY candidate
    threshold on l_quantity for predicting returns (l_returnflag='R')
    by weighted Gini impurity — emitted as the equivalent purity score
    Q(t) = (pL²+negL²)/nL + (pR²+negR²)/nR (minimizing weighted Gini ⇔
    maximizing Q; the per-threshold curve is the tree learner's input,
    the argmax is |thresholds|-row driver-side metadata).

    Hash-exact: cumulative class counts are exact bigints via the KS
    domain-frame machinery; each Q is TWO divisions and one add over
    exactly-converted integers — the same fixed IEEE chain in both
    engines (squares < 2⁶³ for n < 3e9; lift to decimal beyond). No
    entropy/log anywhere — Gini is the rational impurity, which is WHY
    it's the hash-checkable (and classic CART) choice.

    Scale: the fact shuffles ONCE into the |distinct values|-row domain
    frame (materialized once — cumulative window + totals); candidate
    evaluation is metadata-size. Growing a whole tree level = one such
    pass per node over its partition of the data."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    d = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        F.when(F.col("l_returnflag") == "R", 1)
        .otherwise(0)
        .cast("long")
        .alias("pos"),
    )
    pv = materialize(
        d.groupBy("q")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("pos").alias("p"))
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    c = pv.select(
        "q",
        F.sum("cnt").over(w).alias("nl"),
        F.sum("p").over(w).alias("pl"),
    )
    t = pv.agg(F.sum("cnt").alias("n"), F.sum("p").alias("np"))
    nl, pl = F.col("nl"), F.col("pl")
    nr = F.col("n") - nl
    pr = F.col("np") - pl
    negl = nl - pl
    negr = nr - pr
    purity = (pl * pl + negl * negl).cast("double") / nl.cast("double") + (
        pr * pr + negr * negr
    ).cast("double") / nr.cast("double")
    return (
        c.crossJoin(F.broadcast(t))
        .filter(nl < F.col("n"))
        .select(
            F.col("q").alias("threshold"),
            nl.alias("n_left"),
            pl.alias("pos_left"),
            purity.alias("purity_q"),
        )
    )


@workload(
    "survival_life_table",
    oracle="""
    WITH per_order AS (
        SELECT o.o_orderkey,
               CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                              MIN(CAST(l.l_shipdate AS DATE))) AS BIGINT)
                 AS t,
               CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS e
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderstatus),
    pv AS (SELECT t, CAST(SUM(e) AS BIGINT) AS d,
                  CAST(SUM(1 - e) AS BIGINT) AS c,
                  CAST(COUNT(*) AS BIGINT) AS cnt
           FROM per_order GROUP BY 1),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM pv),
    lt AS (SELECT t, d, c,
                  CAST(COALESCE(SUM(cnt) OVER (
                      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0) AS BIGINT)
                    AS before_t
           FROM pv)
    SELECT t, d AS n_events, c AS n_censored,
           CAST(n - before_t AS BIGINT) AS n_at_risk,
           CAST(n - before_t - d AS DOUBLE)
             / CAST(n - before_t AS DOUBLE) AS km_factor
    FROM lt CROSS JOIN tot""",
)
def survival_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier life table for order fulfillment latency (days from
    order to first shipment; open/pending orders are right-CENSORED at
    their observed latency) — the survival/churn-analytics primitive
    (retention curves, time-to-cancel, hardware failure). Emits per
    duration t: events d(t), censored c(t), the risk set n(t) = #{T≥t},
    and the KM step factor (n−d)/n; the survival curve Ŝ(t) = Π factors
    is a |durations|-row cumulative product — driver-side metadata (a
    windowed float product is order-dependent by nature, so the
    hash-checked surface is the exact life table, not the curve).

    Hash-exact: durations and all counts are exact integers; the risk
    set is a REVERSE cumulative (total − prefix-before-t) over the
    domain frame; each factor is one subtraction and one division of
    exact ints — fixed IEEE chain.

    Scale: one fact join (orders⋈lineitem on the order key) + one
    groupBy into per-order durations, then the |distinct durations|-row
    domain frame (materialized once) carries the window — the KS shape
    with a survival semantics layer."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    per_order = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate", "o_orderstatus")
        .agg(F.min(F.to_date("l_shipdate")).alias("first_ship"))
        .select(
            F.datediff(F.col("first_ship"), F.to_date("o_orderdate"))
            .cast("long")
            .alias("t"),
            F.when(F.col("o_orderstatus") == "F", 1)
            .otherwise(0)
            .cast("long")
            .alias("e"),
        )
    )
    pv = materialize(
        per_order.groupBy("t")
        .agg(
            F.sum("e").alias("d"),
            F.sum(F.lit(1) - F.col("e")).alias("c"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    tot = pv.agg(F.sum("cnt").alias("n"))
    wb = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    lt = pv.select(
        "t",
        "d",
        "c",
        F.coalesce(F.sum("cnt").over(wb), F.lit(0)).alias("before_t"),
    )
    n_risk = F.col("n") - F.col("before_t")
    return lt.crossJoin(F.broadcast(tot)).select(
        "t",
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        n_risk.alias("n_at_risk"),
        (
            (n_risk - F.col("d")).cast("double") / n_risk.cast("double")
        ).alias("km_factor"),
    )


@workload(
    "rolling_active_users",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events),
    bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ud),
    cover AS (SELECT user_id,
                     CAST(unnest(generate_series(day, day + 6,
                                                 INTERVAL 1 DAY)) AS DATE)
                       AS win_day
              FROM ud)
    SELECT win_day AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
    FROM cover CROSS JOIN bounds
    WHERE win_day <= d1
    GROUP BY 1""",
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (WAU — the
    engagement metric every product dashboard leads with). A sliding
    COUNT(DISTINCT) window holds O(users) state per day; the rewrite is
    an identity: a user active on day d is WAU-active on days d..d+6,
    so WAU(t) = |{distinct users whose coverage hits t}| — dedup to
    distinct (user, day) FIRST (bounding the explosion at 7× the
    distinct user-days, not 7× the events), explode each to its 7
    covered days, and count distinct per day.

    Scale: one distinct on (user, day) — map-side combinable; the 7×
    explode is map-side; the final per-day distinct shuffles (user,
    covered-day) pairs once. Window length W multiplies the explode —
    for monthly windows the same identity holds at 30×, still linear.
    Days beyond the corpus max are trimmed (partial future windows)."""
    ev = _t(spark, sf_dir, "events")
    # the distinct user-day frame feeds the coverage explode AND the
    # max-day bound — materialize once (multi-consumer discipline)
    ud = materialize(
        ev.select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    bounds = ud.agg(F.max("day").alias("d1"))
    cover = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), 6)
            )
        ).alias("win_day"),
    )
    return (
        cover.crossJoin(F.broadcast(bounds))
        .filter(F.col("win_day") <= F.col("d1"))
        .groupBy(F.col("win_day").alias("day"))
        .agg(F.countDistinct("user_id").alias("wau"))
    )


@workload(
    "pareto_abc_parts",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem GROUP BY 1),
    t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM rev),
    c AS (SELECT l_partkey, cents,
                 CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey)
                      AS BIGINT) AS cum
          FROM rev)
    SELECT CASE WHEN cum * 100 <= total * 80 THEN 'A'
                WHEN cum * 100 <= total * 95 THEN 'B'
                ELSE 'C' END AS abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS class_cents
    FROM c CROSS JOIN t GROUP BY 1""",
)
def pareto_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC classification of parts by revenue: rank parts by
    revenue descending, class A = parts inside the first 80% of
    cumulative revenue, B = to 95%, C = the tail — the inventory-
    management / assortment-analysis classic ("20% of SKUs drive 80% of
    revenue").

    Hash-exact: class boundaries are integer CROSS-MULTIPLICATIONS
    (cum·100 ≤ total·80), never a float share — a cumulative-share
    double at the boundary could classify one part differently per
    engine. Revenue in integer cents; (revenue desc, partkey) is a
    total order. Overflow: total·100 < 2⁶³ bounds corpus revenue at
    ~9e16 cents (document; lift to decimal beyond).

    Scale (VERDICT r10 item 4): the cumulative revenue rides
    windows.distributed_running_sum — this was the repo's LAST bare
    global window over an entity-growing frame (|parts| ~2M at sf10,
    ~20B at 100 TB; the r10 theil-sen probe measured 66.4s vs 14.8s at
    26M rows for exactly this shape, SCALE.md §6). The operator range-
    partitions on (cents desc, partkey), folds each range partition in
    its own task, and broadcasts the per-partition sum offsets back —
    the grand total rides along in total_col, so the old crossJoin'd
    1-row total aggregate is gone too. The final class rollup is 3
    rows."""
    from metadata_driven_etl_spark.operators.windows import (
        distributed_running_sum,
    )

    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
        ).alias("cents")
    )
    c = distributed_running_sum(
        rev,
        [F.col("cents").desc(), F.col("l_partkey")],
        value_col="cents",
        out_col="cum",
        total_col="total",
    )
    abc = (
        F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
    )
    return c.groupBy(abc.alias("abc_class")).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("cents").alias("class_cents"),
    )


@workload(
    "attribution_time_decay",
    oracle="""
    WITH p AS (SELECT user_id, ts AS pts FROM events
               WHERE event_type = 'purchase'),
    t AS (SELECT user_id, ts, event_type FROM events
          WHERE event_type <> 'purchase'),
    pairs AS (
        SELECT t.event_type AS channel,
               CAST(1 AS BIGINT)
                 << (7 - CAST((epoch_us(p.pts) - epoch_us(t.ts))
                              // 86400000000 AS INT)) AS wt
        FROM p JOIN t ON p.user_id = t.user_id
         AND t.ts <= p.pts
         AND epoch_us(p.pts) - epoch_us(t.ts) <= 604800000000),
    agg AS (SELECT channel, CAST(SUM(wt) AS BIGINT) AS weight_sum
            FROM pairs GROUP BY 1),
    tot AS (SELECT CAST(SUM(weight_sum) AS BIGINT) AS w FROM agg)
    SELECT channel, weight_sum,
           CAST(weight_sum AS DOUBLE) / CAST(w AS DOUBLE) AS share
    FROM agg CROSS JOIN tot""",
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: EVERY touch in the 7 days
    before a purchase gets credit 2^(7−age_days) — dyadic weights make
    every credit an exact power-of-two integer (the ewma_fixed
    discipline: an exponential-decay float sum is order-sensitive and
    un-hashable; dyadic decay sums are exact bigints). Complements
    attribution_last_touch (winner-take-all) with the shared-credit
    model.

    Built by COMPOSITION: (purchase, touch) pairs generate through
    `temporal.range_join_binned` (day-binned equi-join on (user, bin)
    with the exact 7-day interval recheck — each purchase probes 8
    bins, never the per-user touches×purchases theta space); weights
    are map-side shifts; one partial-aggregated channel sum; the 1-row
    total broadcasts back for the share division.

    Overflow: Σ 2^7·touches < 2⁶³ to ~7e16 pair-credits — documented.

    Routed through operators.temporal.attribute_time_decay — the same
    operator a YAML gold ``model_type: event`` model dispatches to."""
    from metadata_driven_etl_spark.operators import temporal as temporal_ops

    return temporal_ops.attribute_time_decay(
        _t(spark, sf_dir, "events"),
        conversion_type="purchase",
        lookback_days=7,
    )


@workload(
    "window_trailing_range_sum",
    oracle="""
    SELECT event_id,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER (
               PARTITION BY event_type ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             AS BIGINT) AS trailing_1h_cents
    FROM events""",
)
def window_trailing_range_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing ONE-HOUR value sum per event type — a RANGE window frame
    over event-time microseconds (ROWS frames count rows; RANGE frames
    bound by the ORDER VALUE, the correct semantics for irregular event
    streams where "last hour" ≠ "last N rows"). Range frames also make
    ties a non-issue: all same-instant peers are in or out together, so
    the result needs no tie-break to be deterministic.

    Scale: ONE event_type-keyed window shuffle; Spark evaluates the
    range frame with a sliding two-pointer over the sorted partition —
    O(n) per partition, state bounded by the widest 1-hour burst."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
        .over(w)
        .alias("trailing_1h_cents"),
    )


# Deterministic engine-agnostic point derivation (pure integer LCG
# scatter — md5/xxhash would differ or be awkward across engines) and an
# integer radius; distance tests are exact integer arithmetic.
_GEO_M = 1_000_003
_GEO_R = 50_000


@workload(
    "geo_radius_join",
    oracle=f"""
    WITH c AS (SELECT c_custkey,
                      (c_custkey * 48271) % {_GEO_M} AS cx,
                      (c_custkey * 16807) % {_GEO_M} AS cy
               FROM customer),
    s AS (SELECT s_suppkey,
                 (s_suppkey * 69621) % {_GEO_M} AS sx,
                 (s_suppkey * 40692) % {_GEO_M} AS sy
          FROM supplier)
    SELECT s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(MIN((cx - sx) * (cx - sx) + (cy - sy) * (cy - sy))
                AS BIGINT) AS min_d2
    FROM s JOIN c
      ON (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)
         <= CAST({_GEO_R} AS BIGINT) * {_GEO_R}
    GROUP BY 1""",
)
def geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join: customers within distance r of each supplier
    (points derived deterministically from the keys — integer LCG
    scatter over a 10⁶×10⁶ grid), the store-catchment / geofence /
    sensor-neighborhood primitive.

    Grid-binned: cell size = r, suppliers probe their cell + 8
    neighbors (a 3×3 map-side explode), candidates meet in an EQUI-join
    on the cell id, and the exact test (dx² + dy² ≤ r²) is integer
    arithmetic (coords < 2²⁰ → squared distances < 2⁴¹ — exact, no
    haversine floats needed on a planar grid). The DuckDB oracle is the
    brute-force THETA join, so the hash match proves the binning loses
    no pair. Candidate count per supplier is the 9-cell point density —
    never |S|×|C|.

    Scale: cell size = radius is the classic spatial-join sweet spot
    (≥1 cell must contain any within-r point's bin); skewed cells (hot
    cities) are AQE skew-join territory, same as the interval-join bin
    discipline."""
    from metadata_driven_etl_spark.operators import spatial as spatial_ops

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 48271) % _GEO_M).alias("cx"),
        ((F.col("c_custkey") * 16807) % _GEO_M).alias("cy"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 69621) % _GEO_M).alias("sx"),
        ((F.col("s_suppkey") * 40692) % _GEO_M).alias("sy"),
    )
    pairs = spatial_ops.grid_radius_join(
        supp,
        cust,
        radius=_GEO_R,
        left_xy=("sx", "sy"),
        right_xy=("cx", "cy"),
        max_coord=_GEO_M,
    )
    return pairs.groupBy("s_suppkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("_d2").alias("min_d2"),
    )


@workload(
    "hierarchy_rollup_prefix",
    oracle="""
    WITH base AS (
        SELECT o_custkey AS node,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1),
    anc AS (
        SELECT node // CAST(POWER(10, g.lvl) AS BIGINT) AS ancestor,
               cents
        FROM base,
             LATERAL (SELECT unnest(generate_series(0, 6)) AS lvl) g
        WHERE node >= CAST(POWER(10, g.lvl) AS BIGINT) OR g.lvl = 0)
    SELECT ancestor, CAST(COUNT(*) AS BIGINT) AS n_contributions,
           CAST(SUM(cents) AS BIGINT) AS subtree_cents
    FROM anc GROUP BY 1""",
)
def hierarchy_rollup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy (BOM / org-chart) subtree rollup WITHOUT a recursive
    CTE: when the hierarchy is encoded in the key (materialized-path —
    here parent(k) = k div 10, so a node's ancestors are its decimal
    prefixes), each leaf explodes map-side to its ≤7 ancestors and ONE
    groupBy produces every node's full subtree total. The recursive-CTE
    formulation iterates depth times and re-shuffles per level; the
    materialized-path form is depth-independent — which is exactly why
    real warehouses store paths for deep hierarchies.

    Hash-exact: ancestors are integer divisions by powers of ten;
    revenue in integer cents. A node with fewer digits than the level
    simply stops contributing (lvl-0 always contributes: every node is
    its own ancestor).

    Scale: one map-side ≤7× explode + one partial-aggregated groupBy —
    the corpus shuffles once regardless of hierarchy depth."""
    o = _t(spark, sf_dir, "orders")
    base = o.groupBy(F.col("o_custkey").alias("node")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
        ).alias("cents")
    )
    lvl = F.explode(F.sequence(F.lit(0), F.lit(6))).alias("lvl")
    anc = (
        base.select("node", "cents", lvl)
        .filter(
            (F.col("node") >= F.pow(F.lit(10), F.col("lvl")).cast("long"))
            | (F.col("lvl") == 0)
        )
        .select(
            F.expr("node DIV CAST(POWER(10, lvl) AS BIGINT)").alias(
                "ancestor"
            ),
            "cents",
        )
    )
    return anc.groupBy("ancestor").agg(
        F.count(F.lit(1)).alias("n_contributions"),
        F.sum("cents").alias("subtree_cents"),
    )


@workload(
    "simpson_diversity_by_source",
    oracle="""
    WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
               FROM documents GROUP BY 1, 2),
    m AS (SELECT source,
                 CAST(SUM(n) AS BIGINT) AS tot,
                 CAST(SUM(n * n) AS BIGINT) AS sq,
                 CAST(COUNT(*) AS BIGINT) AS n_langs
          FROM c GROUP BY 1)
    SELECT source, tot AS n_docs, n_langs,
           CAST(tot * tot - sq AS DOUBLE)
             / CAST(tot * tot AS DOUBLE) AS simpson_diversity
    FROM m""",
)
def simpson_diversity_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gini-Simpson diversity of the language mix per source,
    1 − Σpᵢ² = (n² − Σcᵢ²)/n² — the categorical-diversity metric for
    corpus-mix monitoring (is a source collapsing to one language /
    content type?). Shannon entropy is the usual choice but needs logs
    (not correctly rounded in either engine's libm — un-hashable);
    Gini-Simpson is the RATIONAL diversity index, so every term is an
    exact integer and one division emits the score.

    Scale: two stacked map-side-combinable aggregations (corpus →
    (source, lang) counts → per-source moments), the second over the
    tiny category frame; the group keys nest, so the second agg reuses
    the first shuffle's distribution prefix. Overflow: n² < 2⁶³ bounds
    groups at ~3e9 docs (lift to decimal beyond)."""
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    m = c.groupBy("source").agg(
        F.sum("n").alias("tot"),
        F.sum(F.col("n") * F.col("n")).alias("sq"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    tot = F.col("tot")
    return m.select(
        "source",
        tot.alias("n_docs"),
        "n_langs",
        (
            (tot * tot - F.col("sq")).cast("double")
            / (tot * tot).cast("double")
        ).alias("simpson_diversity"),
    )


@workload(
    "skyline_price_quantity",
    oracle="""
    WITH d AS (
        SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS p,
               CAST(MAX(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem GROUP BY 1),
    s AS (
        SELECT p, q,
               MAX(q) OVER (ORDER BY p
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS best_before
        FROM d)
    SELECT p AS price_cents, q AS quantity
    FROM s WHERE best_before IS NULL OR q > best_before""",
)
def skyline_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto front) of (price asc, quantity desc) over
    lineitems: the points no other point dominates under the standard
    skyline relation — another point with price ≤ AND quantity ≥, at
    least one strict (so a same-price lower-quantity point IS
    dominated) — the multi-objective shortlist operator
    (cheapest-per-capability supplier/product searches; the VLDB
    skyline-query classic). The naive form is an O(n²) dominance
    self-join; in 2-D it collapses EXACTLY to a prefix scan: collapse
    to max-quantity per distinct price, order by price, keep rows whose
    quantity strictly beats the running max over all cheaper prices.

    Hash-exact: prices in integer cents, quantities integral; the
    prefix max is an exact bigint; no floats anywhere.

    Scale: one map-side-combinable groupBy into the |distinct prices|-
    row domain frame; the prefix-max window runs over that frame (the
    KS domain-frame discipline — for genuinely huge price domains, the
    distributed prefix-max follows the training_order pattern). Beyond
    2-D, skylines need the partition-prune algorithms — the 2-D window
    identity is the point here."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    d = li.groupBy(
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("p")
    ).agg(F.max(F.col("l_quantity").cast("long")).alias("q"))
    wb = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, -1)
    s = d.withColumn("best_before", F.max("q").over(wb))
    return s.filter(
        F.col("best_before").isNull() | (F.col("q") > F.col("best_before"))
    ).select(F.col("p").alias("price_cents"), F.col("q").alias("quantity"))


@workload(
    "weighted_median_price_by_flag",
    oracle="""
    WITH d AS (
        SELECT l_returnflag,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM lineitem GROUP BY 1, 2),
    c AS (
        SELECT l_returnflag, cents, w,
               CAST(SUM(w) OVER (PARTITION BY l_returnflag
                                 ORDER BY cents
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS BIGINT)
                 AS cum,
               CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT)
                 AS tot
        FROM d)
    SELECT l_returnflag,
           CAST(MIN(CASE WHEN 2 * cum >= tot THEN cents END) AS BIGINT)
             AS wmedian_cents,
           CAST(MIN(tot) AS BIGINT) AS total_weight
    FROM c GROUP BY 1""",
)
def weighted_median_price_by_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantity-WEIGHTED median price per return flag — the volume-
    weighted quantile (a plain median over-weights many small lines;
    VWAP-style analytics want the price at which half the VOLUME
    cleared). Definition: the smallest price whose cumulative weight
    reaches half the total — the comparison is the integer
    cross-multiplication 2·cum ≥ tot, never a float fraction (a 0.5
    share at the boundary could flip per engine).

    Scale: the KS domain-frame discipline — one map-side-combinable
    groupBy into the |group × distinct price| frame, cumulative and
    total windows over that frame (the group key partitions both), one
    conditional-min rollup. The fact never shuffles twice. Generalizes
    to any weighted quantile q by 'denominator·cum ≥ numerator·tot'."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    d = li.groupBy(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("w"))
    wc = Window.partitionBy("l_returnflag").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("l_returnflag")
    c = d.select(
        "l_returnflag",
        "cents",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wt).alias("tot"),
    )
    return c.groupBy("l_returnflag").agg(
        F.min(
            F.when(2 * F.col("cum") >= F.col("tot"), F.col("cents"))
        ).alias("wmedian_cents"),
        F.min("tot").alias("total_weight"),
    )


@workload(
    "rfm_segments",
    oracle="""
    WITH u AS (
        SELECT o_custkey,
               CAST(MAX(CAST(o_orderdate AS DATE)) AS DATE) AS last_d,
               CAST(COUNT(*) AS BIGINT) AS f,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS m
        FROM orders GROUP BY 1),
    a AS (SELECT MAX(last_d) AS anchor FROM u),
    r AS (SELECT o_custkey, f, m,
                 CAST(date_diff('day', last_d, anchor) AS BIGINT) AS rd
          FROM u CROSS JOIN a),
    q AS (SELECT
            ntile(5) OVER (ORDER BY rd DESC, o_custkey) AS r_q,
            ntile(5) OVER (ORDER BY f ASC, o_custkey) AS f_q,
            ntile(5) OVER (ORDER BY m ASC, o_custkey) AS m_q,
            m
          FROM r)
    SELECT CAST(r_q * 100 + f_q * 10 + m_q AS INTEGER) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(m) AS BIGINT) AS total_cents
    FROM q GROUP BY 1""",
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (the direct-marketing staple): per
    customer recency (days since last order, anchored at the corpus
    max so the result is reproducible), frequency, monetary (exact
    cents); each scored into quintiles (5 = best) and concatenated into
    the classic 3-digit segment code; emitted as per-segment counts and
    revenue.

    Determinism: every ntile ORDER BY carries the customer key
    tie-break (ntile bucket boundaries are only engine-stable under a
    TOTAL order — the window_rank_ntile contract).

    Scale: one corpus shuffle (groupBy customer); each quintile is a
    ``windows.distributed_ntile`` — range-repartition + local rank +
    broadcast offsets (the training_order prefix-rank pattern), so the
    plan has NO single-partition data Exchange even at 10⁹ customers
    (VERDICT r7 item 2; plan-pinned in test_llm_ops_plans.py). Bucket
    assignment is exact-integer and boundary-invariant, so the oracle
    hash is unchanged vs the builtin ntile."""
    from metadata_driven_etl_spark.operators.windows import (
        distributed_ntile,
    )

    o = _t(spark, sf_dir, "orders")
    u = materialize(o.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_d"),
        F.count(F.lit(1)).alias("f"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
        ).alias("m"),
    ))
    a = u.agg(F.max("last_d").alias("anchor"))
    r = u.crossJoin(F.broadcast(a)).select(
        "o_custkey",
        "f",
        "m",
        F.datediff(F.col("anchor"), F.col("last_d"))
        .cast("long")
        .alias("rd"),
    )
    q = distributed_ntile(
        r, 5, [F.col("rd").desc(), F.col("o_custkey").asc()], "r_q"
    )
    q = distributed_ntile(
        q, 5, [F.col("f").asc(), F.col("o_custkey").asc()], "f_q"
    )
    q = distributed_ntile(
        q, 5, [F.col("m").asc(), F.col("o_custkey").asc()], "m_q"
    )
    return q.groupBy(
        (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"))
        .cast("int")
        .alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("m").alias("total_cents"),
    )


@workload(
    "session_metrics_daily",
    oracle=f"""
    WITH s AS ({_SESSIONIZE_SQL}),
    per_session AS (
        SELECT user_id, session_id,
               CAST(MIN(ts) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT)
                 AS dur_us
        FROM s GROUP BY 1, 2)
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS bounce_rate,
           CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
           CAST(SUM(dur_us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS avg_dur_us
    FROM per_session GROUP BY 1""",
)
def session_metrics_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily session KPIs over the 30-minute-gap sessionization: session
    count, bounce count/rate (single-event sessions), total and mean
    duration — the web-analytics rollup every product dashboard pairs
    with WAU. A session is attributed to its START day.

    Hash-exact: session ids come from the lag+cumsum machinery
    (sessionize_events' exact expression); durations are integer
    microseconds; bounce rate and mean duration are ONE division each
    over exact integer sums.

    Scale: one user-keyed window shuffle (the sessionizer), a per-
    (user, session) map-side-combinable aggregation reusing the window's
    user distribution prefix, and a |days|-row rollup.

    Routed through operators.temporal.session_kpis_daily — the same
    operator a YAML gold ``model_type: event`` model dispatches to."""
    from metadata_driven_etl_spark.operators import temporal as temporal_ops

    return temporal_ops.session_kpis_daily(
        _t(spark, sf_dir, "events"), gap_seconds=1800
    )


@workload(
    "decile_lift_table",
    oracle="""
    WITH u AS (
        SELECT o_custkey,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS spend,
               CAST(MAX(CASE WHEN rn = 1 AND o_orderstatus = 'P'
                             THEN 1 ELSE 0 END) AS BIGINT) AS resp
        FROM (SELECT o_custkey, o_totalprice, o_orderstatus,
                     row_number() OVER (
                         PARTITION BY o_custkey
                         ORDER BY CAST(o_orderdate AS DATE) DESC,
                                  o_orderkey DESC) AS rn
              FROM orders)
        GROUP BY 1),
    d AS (SELECT ntile(10) OVER (ORDER BY spend DESC, o_custkey)
                   AS decile,
                 resp
          FROM u),
    a AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_units,
                 CAST(SUM(resp) AS BIGINT) AS n_resp
          FROM d GROUP BY 1),
    c AS (SELECT decile, n_units, n_resp,
                 CAST(SUM(n_resp) OVER (ORDER BY decile
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_resp
          FROM a),
    t AS (SELECT CAST(SUM(n_units) AS BIGINT) AS n_tot,
                 CAST(SUM(n_resp) AS BIGINT) AS r_tot FROM a)
    SELECT decile, n_units, n_resp, cum_resp,
           CAST(n_resp AS DOUBLE) / CAST(n_units AS DOUBLE)
             AS response_rate,
           -- guards (r12 degenerate sweep): zero responders => no base
           -- rate, hence no lift or capture
           CASE WHEN r_tot > 0 THEN
             (CAST(n_resp AS DOUBLE) / CAST(n_units AS DOUBLE))
               / (CAST(r_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))
           END AS lift,
           CASE WHEN r_tot > 0 THEN
             CAST(cum_resp AS DOUBLE) / CAST(r_tot AS DOUBLE)
           END AS cum_capture
    FROM c CROSS JOIN t""",
)
def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table — the model-scoring readout every
    targeting/churn/credit team runs: rank units by a score (here
    lifetime spend, the deterministic stand-in for a model score), cut
    into spend deciles, and report per-decile response rate, lift vs
    the base rate, and cumulative capture. "Responder" = the customer's
    LATEST order (by date, orderkey tie-break) is still pending
    ('P') — an argmax label, not an existence flag, so rates vary by
    decile.

    Scale: the decile cut is ``windows.distributed_ntile`` (range
    shuffle + broadcast offsets — no single-partition sort of the units
    frame, the rfm_segments discipline); the lift table itself is a
    10-row frame, so its cumulative window and the 1-row totals
    broadcast are metadata. Rates and lift are fixed IEEE chains over
    exact integer counts (lift = (r_d/n_d)/(r_tot/n_tot), three
    correctly-rounded divisions — never a decimal product to misround).

    Determinism: the ntile order carries the customer-key tie-break;
    the argmax label rides max_by over the unique (date, orderkey)
    struct (the OHLC min_by/max_by discipline)."""
    from metadata_driven_etl_spark.operators.windows import (
        distributed_ntile,
    )
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    u = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
        ).alias("spend"),
        F.expr(
            "max_by(o_orderstatus,"
            " struct(to_date(o_orderdate), o_orderkey))"
        ).alias("_last_status"),
    ).select(
        "o_custkey",
        "spend",
        (F.col("_last_status") == "P").cast("long").alias("resp"),
    )
    d = distributed_ntile(
        u, 10, [F.col("spend").desc(), F.col("o_custkey").asc()], "decile"
    )
    a = materialize(d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum("resp").alias("n_resp"),
    ))
    # 10-row frame: the unpartitioned cumulative window is metadata
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    c = a.withColumn("cum_resp", F.sum("n_resp").over(wc))
    t = a.agg(
        F.sum("n_units").alias("n_tot"), F.sum("n_resp").alias("r_tot")
    )
    rate = F.col("n_resp").cast("double") / F.col("n_units").cast("double")
    base = F.col("r_tot").cast("double") / F.col("n_tot").cast("double")
    # guards (r12 degenerate sweep): zero responders => no base rate
    has_resp = F.col("r_tot") > 0
    return c.crossJoin(F.broadcast(t)).select(
        "decile",
        "n_units",
        "n_resp",
        "cum_resp",
        rate.alias("response_rate"),
        F.when(has_resp, rate / base).alias("lift"),
        F.when(
            has_resp,
            F.col("cum_resp").cast("double")
            / F.col("r_tot").cast("double"),
        ).alias("cum_capture"),
    )


_ASSOC_MIN_SUPPORT = 3
_ASSOC_TOPK = 100


@workload(
    "assoc_rules_copurchase",
    oracle=cooccur_ops.sql_assoc_rules(
        "lineitem",
        "l_orderkey",
        "l_partkey",
        min_support=_ASSOC_MIN_SUPPORT,
    )
    + f"""
    ORDER BY n_ab DESC, antecedent, consequent
    LIMIT {_ASSOC_TOPK}""",
)
def assoc_rules_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over part co-purchases (the Apriori readout on
    pair itemsets): directed rules a→b with support, confidence
    n_ab/n_a, and lift n_ab·N/(n_a·n_b), keeping positively associated
    rules only (lift > 1) at min_support 3 — the market-basket stage
    after copurchase_part_pairs' raw counts.

    The lift FILTER is the integer cross-multiplication n_ab·N >
    n_a·n_b in decimal(38,0) ≡ HUGEINT — a float lift of 1±ε can never
    flip a row across engines; emitted doubles are single divisions of
    exactly-converted integers (DuckDB HUGEINT→DOUBLE via VARCHAR).

    Scale: baskets gather ONCE (one shuffle on the order key) and feed
    pair expansion, per-item counts, and the 1-row total; item counts
    and the total broadcast back — the pair frame never re-shuffles and
    there is never a fact self-join (plan-pinned). Final top-k is
    TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        cooccur_ops.assoc_rules(
            li, "l_orderkey", "l_partkey", min_support=_ASSOC_MIN_SUPPORT
        )
        .orderBy(F.desc("n_ab"), "antecedent", "consequent")
        .limit(_ASSOC_TOPK)
    )


# CUSUM constants shared VERBATIM with the oracle (the Benford literal
# discipline): drift reference K (cents) sits above the ~50.00 mean
# event value so the statistic resets often; alert threshold H in cents.
_CUSUM_K_CENTS = 6_000
_CUSUM_H_CENTS = 50_000


@workload(
    "cusum_alerts_by_type",
    oracle=f"""
    WITH d AS (
        SELECT event_type, event_id, ts,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                 - {_CUSUM_K_CENTS} AS delta
        FROM events),
    p AS (
        SELECT event_type, event_id, ts,
               CAST(SUM(delta) OVER w AS BIGINT) AS psum
        FROM d
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    s AS (
        SELECT event_type, event_id,
               CAST(psum - LEAST(0, MIN(psum) OVER w2) AS BIGINT)
                 AS cusum_cents
        FROM p
        WINDOW w2 AS (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_type, event_id, cusum_cents
    FROM s WHERE cusum_cents > {_CUSUM_H_CENTS}""",
)
def cusum_alerts_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point alerts per event type (the SPC /
    drift-monitor primitive): S_t = max(0, S_{{t-1}} + (x_t − K)) with
    alerts where S_t > H — detects a sustained upward shift in event
    value long before a fixed threshold on single events would.

    The "inherently sequential" CUSUM recurrence is EXACTLY the
    clamp-at-zero fold, so the running_sum_clamped prefix identity
    applies: S_t = P_t − min(0, min_{{k≤t}} P_k) over the plain running
    sum P of (x_t − K) — two stacked prefix aggregates over ONE
    key-partitioned window, fully distributed.

    Exactness: cents and K/H are shared integer literals; both prefixes
    and the final difference are exact bigints — the alert predicate
    can never flip. Ordering (ts, event_id) is unique per type.

    Scale: ONE event_type-keyed window shuffle; both stacked windows
    share the partitioning+ordering (one sort); the alert filter is
    map-side after the windows. Output is |alerts| rows, not |events|."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    delta = (
        F.floor(F.col("value") * 100 + 0.5).cast("long")
        - _CUSUM_K_CENTS
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = ev.select(
        "event_type", "event_id", "ts", delta.alias("delta")
    ).withColumn("psum", F.sum("delta").over(w))
    s = F.col("psum") - F.least(F.lit(0), F.min("psum").over(w))
    return (
        p.select("event_type", "event_id", s.alias("cusum_cents"))
        .filter(F.col("cusum_cents") > _CUSUM_H_CENTS)
    )


# RAKE stopword list — shared VERBATIM with the oracle (the Benford
# literal discipline). Runs of non-stop tokens between stopwords are
# the candidate phrases; plen ≤ 6 caps degenerate stopword-free runs.
_RAKE_STOPWORDS = ("a", "the", "and", "of", "to", "in", "is", "on")
_RAKE_MAX_PHRASE = 6
_RAKE_TOPK = 50
_RAKE_STOPLIST_SQL = ", ".join(f"'{w}'" for w in _RAKE_STOPWORDS)


@workload(
    "keyword_rake_topk",
    oracle=f"""
    WITH d AS (SELECT doc_id, {text_ops.sql_tokens('text')} AS toks
               FROM documents),
    tok AS (SELECT doc_id, toks[i] AS tok, i AS pos
            FROM d, LATERAL (SELECT unnest(generate_series(
                                1, len(toks))) AS i) g),
    fl AS (SELECT doc_id, pos, tok,
                  CASE WHEN tok IN ({_RAKE_STOPLIST_SQL})
                       THEN 1 ELSE 0 END AS stop
           FROM tok),
    isl AS (SELECT doc_id, pos, tok, stop,
                   CAST(SUM(stop) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS island
            FROM fl),
    cand AS (SELECT doc_id, island, pos, tok,
                    CAST(COUNT(*) OVER (PARTITION BY doc_id, island)
                      AS BIGINT) AS plen
             FROM isl WHERE stop = 0),
    kept AS (SELECT * FROM cand WHERE plen <= {_RAKE_MAX_PHRASE}),
    ws AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
                  CAST(SUM(plen) AS BIGINT) AS deg
           FROM kept GROUP BY 1),
    phr AS (SELECT doc_id, island,
                   string_agg(tok, ' ' ORDER BY pos) AS phrase
            FROM kept GROUP BY 1, 2),
    occ AS (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
            FROM phr GROUP BY 1),
    pwtok AS (SELECT phrase, n_occurrences, t.x AS tok
              FROM occ, LATERAL (SELECT unnest(
                            string_split(phrase, ' ')) AS x) t),
    score AS (SELECT phrase, n_occurrences,
                     CAST(SUM(deg) AS BIGINT) AS deg_sum,
                     CAST(SUM(freq) AS BIGINT) AS freq_sum
              FROM pwtok JOIN ws ON pwtok.tok = ws.tok
              GROUP BY 1, 2)
    SELECT phrase, n_occurrences, deg_sum, freq_sum,
           CAST(deg_sum AS DOUBLE) / CAST(freq_sum AS DOUBLE)
             AS rake_score
    FROM score
    ORDER BY rake_score DESC, phrase
    LIMIT {_RAKE_TOPK}""",
)
def keyword_rake_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE-style corpus keyword/keyphrase extraction: candidate
    phrases are maximal stopword-free token runs (gaps-and-islands over
    stopword breaks); each word scores degree (Σ length of phrases it
    appears in) and frequency; a phrase scores Σdeg / Σfreq over its
    word multiset — the classic unsupervised keyphrase extractor
    restated hash-exactly (one division of two exact integer sums
    instead of RAKE's per-word deg/freq ratio sum, which would be an
    order-sensitive float accumulation).

    Scale: tokens explode map-side; the island id is ONE doc-keyed
    window (cumsum of stop flags — the gaps_islands discipline); the
    phrase-length window shares that partitioning; word stats and
    phrase occurrences are partial-aggregated; the phrase⋈word-stats
    join is an equi-join on the token (|vocab|-bounded build side).
    plen ≤ 6 caps degenerate stopword-free runs (documented; shared
    with the oracle). Final top-k is TakeOrderedAndProject.

    Determinism: rake_score is a single IEEE division (bit-identical),
    ties break on the phrase string — a total order at the LIMIT.

    Routed through text.rake_keyphrase_scores — the same operator the
    scaling probe measures."""
    return (
        text_ops.rake_keyphrase_scores(
            _docs(spark, sf_dir),
            stopwords=_RAKE_STOPWORDS,
            max_phrase=_RAKE_MAX_PHRASE,
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(_RAKE_TOPK)
    )


# SRM chi² critical value (df=1, α=0.05) — shared verbatim.
_SRM_CRIT = 3.841458820694124


@workload(
    "srm_check_by_priority",
    oracle=f"""
    WITH c AS (
        SELECT o_orderpriority AS experiment,
               CAST(SUM(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN o_custkey % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1
        FROM orders GROUP BY 1)
    SELECT experiment, n0, n1,
           CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
             / CAST(n0 + n1 AS DOUBLE) AS chisq,
           CAST(CASE WHEN CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
                          / CAST(n0 + n1 AS DOUBLE) > {_SRM_CRIT}
                     THEN 1 ELSE 0 END AS INTEGER) AS srm_flag
    FROM c""",
)
def srm_check_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail (the first sanity check every
    A/B platform runs before reading an experiment): per experiment
    (order priority as the experiment key, customer-key parity as the
    deterministic 50/50 assignment), the chi² statistic of the observed
    variant counts against the declared equal split — for a 2-cell
    equal split it collapses to (n0−n1)²/(n0+n1), ONE division of exact
    integers, flagged against the df=1 α=0.05 critical value (literal
    shared verbatim).

    Scale: ONE map-side-combinable aggregation over the fact scan —
    |experiments| output rows, no join, no window. (n0−n1)² < 2⁶³ to
    ~3e9 imbalance — documented."""
    o = _t(spark, sf_dir, "orders")
    c = o.groupBy(F.col("o_orderpriority").alias("experiment")).agg(
        F.sum(
            F.when(F.col("o_custkey") % 2 == 0, 1).otherwise(0)
        ).alias("n0"),
        F.sum(
            F.when(F.col("o_custkey") % 2 == 1, 1).otherwise(0)
        ).alias("n1"),
    )
    diff = F.col("n0") - F.col("n1")
    chisq = (diff * diff).cast("double") / (
        F.col("n0") + F.col("n1")
    ).cast("double")
    return c.select(
        "experiment",
        "n0",
        "n1",
        chisq.alias("chisq"),
        F.when(chisq > _SRM_CRIT, 1).otherwise(0).cast("int").alias(
            "srm_flag"
        ),
    )


_NEYMAN_BUDGET = 1000


@workload(
    "neyman_allocation_strata",
    oracle=f"""
    WITH s AS (
        SELECT l_returnflag AS stratum,
               CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT)) AS t,
               SUM(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT)
                   * CAST(l_quantity AS BIGINT)) AS s2
        FROM lineitem GROUP BY 1),
    wq AS (SELECT stratum, CAST(n AS BIGINT) AS n_rows,
                  CAST(FLOOR(sqrt(CAST(CAST(n * s2 - t * t AS VARCHAR)
                                       AS DOUBLE))) AS BIGINT) AS weight
           FROM s),
    tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS w FROM wq),
    b AS (SELECT stratum, n_rows, weight,
                 -- guard (r12 degenerate sweep): all-zero weights
                 -- (every stratum constant) make Neyman undefined
                 CAST(CASE WHEN w > 0
                           THEN ({_NEYMAN_BUDGET} * weight) // w
                      END AS BIGINT) AS base,
                 CAST(CASE WHEN w > 0
                           THEN ({_NEYMAN_BUDGET} * weight) % w
                      END AS BIGINT) AS rem
          FROM wq CROSS JOIN tot),
    l AS (SELECT CAST({_NEYMAN_BUDGET} - SUM(base) AS BIGINT)
                   AS leftover FROM b),
    r AS (SELECT *, CAST(row_number() OVER (ORDER BY rem DESC, stratum)
                      AS BIGINT) AS rk
          FROM b)
    SELECT stratum, n_rows, weight,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM r CROSS JOIN l""",
)
def neyman_allocation_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation (the survey-sampling
    / eval-set-budgeting classic): a budget of 1000 samples splits
    across strata ∝ N_h·σ_h — more samples where the metric varies
    more. For whole-population strata N_h·σ_h = √(n·S2 − T²) (the
    un-normalized variance moment), computed from exact HUGEINT moments
    with ONE exactly-converted sqrt, quantized to an integer weight by
    floor (deterministic: sqrt is correctly rounded over identical
    double inputs), then apportioned EXACTLY by the largest-remainder
    method — Σ alloc = budget by construction, the
    allocate_largest_remainder machinery re-used with fitted weights.

    Scale: ONE map-side-combinable groupBy over the fact (three moment
    states per stratum); everything downstream runs on the |strata|-row
    frame. n·S2 exact in decimal(38,0) at any corpus size; the double
    conversion is exact below 2⁵³ (documented bound)."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    s = li.groupBy(F.col("l_returnflag").alias("stratum")).agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(q.cast(d38)).cast(d38).alias("t"),
        F.sum((q * q).cast(d38)).cast(d38).alias("s2"),
    )
    wq = materialize(s.select(
        "stratum",
        F.col("n").cast("long").alias("n_rows"),
        F.floor(
            F.sqrt(
                (F.col("n") * F.col("s2") - F.col("t") * F.col("t"))
                .cast(d38)
                .cast("double")
            )
        )
        .cast("long")
        .alias("weight"),
    ))
    tot = wq.agg(F.sum("weight").alias("w"))
    b = materialize(wq.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_rows",
        "weight",
        # guard (r12 degenerate sweep): all-zero weights => undefined
        F.expr(
            f"CASE WHEN w > 0 THEN ({_NEYMAN_BUDGET} * weight) DIV w END"
        ).alias("base"),
        F.when(
            F.col("w") > 0,
            (_NEYMAN_BUDGET * F.col("weight")) % F.col("w"),
        ).alias("rem"),
    ))
    leftover = b.agg(
        (F.lit(_NEYMAN_BUDGET) - F.sum("base")).alias("leftover")
    )
    rk = F.row_number().over(
        Window.orderBy(F.col("rem").desc(), F.col("stratum"))
    ).cast("long")
    r = b.withColumn("rk", rk)
    return r.crossJoin(F.broadcast(leftover)).select(
        "stratum",
        "n_rows",
        "weight",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        ).cast("long").alias("alloc"),
    )


@workload(
    "session_funnel_depth",
    oracle=f"""
    WITH s AS ({_SESSIONIZE_SQL}),
    e AS (SELECT s.user_id, s.session_id, s.ts, s.event_id, ev.event_type
          FROM s JOIN events ev ON s.event_id = ev.event_id),
    w1 AS (
        SELECT user_id, session_id, ts, event_id, event_type,
               CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS q1,
               max(CASE WHEN event_type = 'view' THEN ts END)
                 OVER (PARTITION BY user_id, session_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS v_prev
        FROM e),
    w2 AS (
        SELECT *,
               CASE WHEN event_type = 'click' AND v_prev IS NOT NULL
                    THEN 1 ELSE 0 END AS q2
        FROM w1),
    w3 AS (
        SELECT *,
               CASE WHEN event_type = 'purchase' AND c_prev IS NOT NULL
                    THEN 1 ELSE 0 END AS q3
        FROM (SELECT *,
                     max(CASE WHEN q2 = 1 THEN ts END)
                       OVER (PARTITION BY user_id, session_id
                             ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS c_prev
              FROM w2)),
    d AS (SELECT user_id, session_id,
                 CAST(max(q1) + max(q2) + max(q3) AS INT) AS funnel_step
          FROM w3 GROUP BY 1, 2)
    SELECT funnel_step, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM d GROUP BY 1""",
)
def session_funnel_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped funnel: view→click→purchase depth per SESSION
    (the gap sessionizer bounds the chain instead of a per-step clock —
    "did the user convert within one visit", the canonical product-
    analytics cut), rolled up to the depth distribution.

    Composition: the shared sessionizer (windows.sessionize — the same
    lag+cumsum every session oracle uses) feeds temporal.funnel_steps
    with the (user, session) composite as the funnel key and the step
    window disabled (interval ≫ any session: within a session, order
    alone qualifies — the session gap already bounds time).

    Scale: the sessionizer's user window and the funnel's stacked
    windows both key on the user prefix — one corpus shuffle for the
    sessionizer, one for the composite key; the depth rollup is 4 rows.
    """
    from metadata_driven_etl_spark.operators import temporal as temporal_ops

    events = _t(spark, sf_dir, "events")
    s = temporal_ops.session_scoped(events, gap_seconds=1800)
    d = temporal_ops.funnel_steps(
        s,
        ["view", "click", "purchase"],
        user_col="_sk",
        window="3650 days",  # >> any session span: order alone gates
    )
    return d.groupBy("funnel_step").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )


# Rolling z-score window width and alert threshold — shared verbatim.
_ZWIN_ROWS = 100
_Z_THRESH = 3


@workload(
    "window_rolling_zscore",
    oracle=f"""
    WITH d AS (
        SELECT event_type, event_id, ts,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x
        FROM events),
    m AS (
        SELECT event_type, event_id, x,
               CAST(COUNT(*) OVER w AS HUGEINT) AS n,
               SUM(CAST(x AS HUGEINT)) OVER w AS s,
               SUM(CAST(x AS HUGEINT) * x) OVER w AS s2
        FROM d
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN {_ZWIN_ROWS - 1} PRECEDING
                              AND CURRENT ROW)),
    z AS (
        SELECT event_type, event_id,
               CAST(CAST(n * x - s AS VARCHAR) AS DOUBLE)
                 / sqrt(CAST(CAST(n * s2 - s * s AS VARCHAR) AS DOUBLE))
                 AS zscore
        FROM m
        WHERE n * s2 - s * s > 0)
    SELECT event_type, event_id, zscore
    FROM z WHERE zscore > {_Z_THRESH} OR zscore < -{_Z_THRESH}""",
)
def window_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection per event type: each event
    scored against the trailing 100-row window's population moments —
    the streaming-telemetry outlier primitive (a fixed global threshold
    misses regime changes; the rolling window adapts).

    Hash-exact via the z identity: z = (x−μ)/σ over the window equals
    (n·x − S) / √(n·S2 − S²) — numerator and radicand are EXACT
    integers from the window sums, so the emitted double is one
    conversion + one sqrt + one division (fixed IEEE chain) and the
    |z| > 3 alert predicate can never flip per engine. Zero-variance
    windows are excluded exactly (integer compare, not a float eps).

    Moments ride int64 (probe-measured ~6× cheaper than decimal window
    state): the binding terms are S² and n·S2, both ≤ w²·cents², so the
    identity is exact while w²·cents² < 2⁶³ — values to ~$3·10⁵ at
    w=100 (NOT w·cents²: that bound over-promises 10×). Wider frames or
    larger values move the sums to decimal(38,0), same plan.

    Scale: ONE event_type-keyed window shuffle; all three moment
    aggregates share one WindowExec frame (one sort); Spark evaluates
    the ROWS frame with a sliding accumulator — O(n) per partition,
    state bounded by the frame width. Parallelism = |event types| (the
    partition key) — at corpus scale key on a finer entity (type ×
    device, type × region) exactly as any per-key window. Output is
    |alerts| rows."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    x = F.floor(F.col("value") * 100 + 0.5).cast("long")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_ZWIN_ROWS - 1), 0)
    )
    m = ev.select(
        "event_type", "event_id", "ts", x.alias("x")
    ).select(
        "event_type",
        "event_id",
        "x",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("s2"),
    )
    var_num = F.col("n") * F.col("s2") - F.col("s") * F.col("s")
    zscore = (
        (F.col("n") * F.col("x") - F.col("s")).cast("double")
        / F.sqrt(var_num.cast("double"))
    )
    return (
        m.filter(var_num > 0)
        .select("event_type", "event_id", zscore.alias("zscore"))
        .filter(
            (F.col("zscore") > _Z_THRESH) | (F.col("zscore") < -_Z_THRESH)
        )
    )


_DRIFT_DIMS = 8
_DRIFT_SCALE = 10_000


@workload(
    "embedding_centroid_drift",
    oracle=(
        "WITH q AS (SELECT label, "
        + ", ".join(
            f"CAST(FLOOR(embedding[{i + 1}] * {_DRIFT_SCALE} + 0.5) "
            f"AS HUGEINT) AS q{i}"
            for i in range(_DRIFT_DIMS)
        )
        + " FROM embeddings), "
        "g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS gn, "
        + ", ".join(f"SUM(q{i}) AS gt{i}" for i in range(_DRIFT_DIMS))
        + " FROM q), "
        "l AS (SELECT label, CAST(COUNT(*) AS HUGEINT) AS ln, "
        + ", ".join(f"SUM(q{i}) AS lt{i}" for i in range(_DRIFT_DIMS))
        + " FROM q GROUP BY 1) "
        "SELECT label, CAST(ln AS BIGINT) AS n_vecs, "
        "sqrt(CAST(CAST("
        + " + ".join(
            f"(lt{i} * gn - gt{i} * ln) * (lt{i} * gn - gt{i} * ln)"
            for i in range(_DRIFT_DIMS)
        )
        + " AS VARCHAR) AS DOUBLE)) "
        "/ (CAST(CAST(ln * gn AS VARCHAR) AS DOUBLE) "
        f"* {_DRIFT_SCALE}.0) AS drift_dist "
        "FROM l CROSS JOIN g"
    ),
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group embedding centroid drift: the Euclidean distance from
    each label group's centroid to the GLOBAL centroid (first 8 dims) —
    the embedding-space drift/imbalance monitor (which sources or
    batches pull the representation away from the corpus mean).

    Hash-exact: centroid difference Δ_i = lt_i/ln − gt_i/gn is kept
    RATIONAL — numerator lt_i·gn − gt_i·ln and denominator ln·gn are
    exact decimal integers; dist = √(Σ num_i²)/(ln·gn·scale), where the
    Σ over the 8 dims is a fixed EXPRESSION chain over exact decimals
    (never a data-order float sum), so one sqrt + one division emit the
    double.

    Overflow bound (decimal(38,0) holds < 10³⁸): |num_i| ≤
    scale·n_label·n_total, so num_i² stays representable while
    scale·n_label·n_total < 10¹⁹ — e.g. 10⁷ vectors per label in a 10⁸
    corpus at scale 10⁴. Beyond that, drop scale (coarser quantization)
    or emit Σ num² via a two-limb decimal split — Spark decimal
    overflow is a silent NULL (non-ANSI), so the bound is load-bearing.

    Scale: ONE aggregation pass with d+1 decimal states per group (the
    embedding_comoments posture without the second moments); the 1-row
    global frame broadcasts back onto the |labels|-row frame."""
    d38 = "decimal(38,0)"
    emb = _emb(spark, sf_dir)
    q = emb.select(
        "label",
        *[
            F.floor(
                F.col("embedding").getItem(i) * _DRIFT_SCALE + 0.5
            )
            .cast("long")
            .alias(f"q{i}")
            for i in range(_DRIFT_DIMS)
        ],
    )
    lagg = q.groupBy("label").agg(
        F.count(F.lit(1)).cast(d38).alias("ln"),
        *[
            F.sum(F.col(f"q{i}").cast(d38)).cast(d38).alias(f"lt{i}")
            for i in range(_DRIFT_DIMS)
        ],
    )
    gagg = q.agg(
        F.count(F.lit(1)).cast(d38).alias("gn"),
        *[
            F.sum(F.col(f"q{i}").cast(d38)).cast(d38).alias(f"gt{i}")
            for i in range(_DRIFT_DIMS)
        ],
    )
    num_sq = None
    for i in range(_DRIFT_DIMS):
        term = (
            F.col(f"lt{i}") * F.col("gn") - F.col(f"gt{i}") * F.col("ln")
        ).cast(d38)
        sq = (term * term).cast(d38)
        num_sq = sq if num_sq is None else (num_sq + sq).cast(d38)
    return lagg.crossJoin(F.broadcast(gagg)).select(
        "label",
        F.col("ln").cast("long").alias("n_vecs"),
        (
            F.sqrt(num_sq.cast("double"))
            / (
                (F.col("ln") * F.col("gn")).cast(d38).cast("double")
                * float(_DRIFT_SCALE)
            )
        ).alias("drift_dist"),
    )


@workload(
    "window_cume_dist",
    oracle="""
    SELECT l_returnflag, l_orderkey, l_linenumber,
           cume_dist() OVER (
               PARTITION BY l_returnflag
               ORDER BY CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
             AS cd
    FROM lineitem WHERE l_suppkey < 10""",
)
def window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist() — the remaining rank-family window function (rank /
    dense_rank / percent_rank / ntile are covered elsewhere): the share
    of partition rows ordered at or below the current row's value.
    Ties need NO tie-break for determinism (all peers of a value share
    one cume_dist — ordering by the integer-cents value alone is
    engine-stable), which is exactly what separates it from rank-based
    scores.

    Hash-exact: cume_dist = peers_cum / n, both exact integers, ONE
    IEEE division per row.

    Scale: one flag-keyed window shuffle; the suppkey slice bounds the
    driver output only (the plan is identical unfiltered — at corpus
    scale the group key should be finer or the distributed-rank
    pattern applies, as with any coarse-partition window)."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 10)
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    w = Window.partitionBy("l_returnflag").orderBy(cents)
    return li.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.cume_dist().over(w).alias("cd"),
    )


@workload(
    "agg_mode_per_group",
    oracle="""
    WITH c AS (
        SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1, 2),
    r AS (
        SELECT l_returnflag, q, cnt,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY cnt DESC, q ASC) AS rn
        FROM c)
    SELECT l_returnflag, q AS mode_quantity, cnt AS n_occurrences
    FROM r WHERE rn = 1""",
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical MODE per group (most frequent value, smallest-value
    tie-break) — the missing member of the central-tendency trio next
    to the exact median (agg_percentile) and mean: two stacked hash
    aggregations, the second a max_by over the (count, −value) struct —
    never a window over the fact.

    Determinism: the (cnt desc, value asc) selection is a total order
    over the |group × distinct value| frame; all integers.

    Scale: the fact shuffles once into value counts (map-side
    combinable); the mode selection aggregates the |group × values|
    domain frame — the KS domain discipline applied to an argmax."""
    li = _t(spark, sf_dir, "lineitem")
    c = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("long").alias("q")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return c.groupBy("l_returnflag").agg(
        F.expr("max_by(q, struct(cnt, -q))").alias("mode_quantity"),
        F.max("cnt").alias("n_occurrences"),
    )


@workload(
    "histogram_equi_depth",
    oracle="""
    WITH d AS (
        SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                 AS cents,
               l_orderkey, l_linenumber
        FROM lineitem),
    b AS (SELECT cents,
                 ntile(10) OVER (ORDER BY cents, l_orderkey, l_linenumber)
                   AS bucket
          FROM d)
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(cents) AS BIGINT) AS lo_cents,
           CAST(MAX(cents) AS BIGINT) AS hi_cents,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM b GROUP BY 1""",
)
def histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram of line prices (each bucket holds the same
    row count; bucket BOUNDARIES adapt to the distribution) — the
    optimizer-statistics / data-profiling complement to the equi-WIDTH
    agg_histogram: equal-width bins starve in the tails, equi-depth
    bins are the quantile sketch warehouses actually keep.

    The bucket cut is ``windows.distributed_ntile`` over the full fact
    (range shuffle + broadcast offsets — NO single-partition sort of
    |lineitem| rows; the (cents, orderkey, linenumber) tie-break makes
    the total order engine-stable), then one map-side-combinable
    aggregate per bucket. All outputs exact integers."""
    from metadata_driven_etl_spark.operators.windows import (
        distributed_ntile,
    )

    li = _t(spark, sf_dir, "lineitem")
    d = li.select(
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    b = distributed_ntile(
        d,
        10,
        [
            F.col("cents").asc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        ],
        "bucket",
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("cents").alias("lo_cents"),
        F.max("cents").alias("hi_cents"),
        F.sum("cents").alias("sum_cents"),
    )


_MOVERS_M_A = "1995-03-01"
_MOVERS_M_B = "1995-04-01"
_MOVERS_TOPK = 20


@workload(
    "rank_movers_monthly",
    oracle=f"""
    WITH rev AS (
        SELECT l_partkey,
               date_trunc('month', CAST(l_shipdate AS DATE)) AS m,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem
        WHERE date_trunc('month', CAST(l_shipdate AS DATE))
              IN (DATE '{_MOVERS_M_A}', DATE '{_MOVERS_M_B}')
        GROUP BY 1, 2),
    rk AS (
        SELECT l_partkey, m, cents,
               CAST(rank() OVER (PARTITION BY m
                                 ORDER BY cents DESC, l_partkey)
                 AS BIGINT) AS rnk
        FROM rev),
    j AS (
        SELECT a.l_partkey, a.rnk AS rank_a, b.rnk AS rank_b,
               CAST(a.rnk - b.rnk AS BIGINT) AS rank_delta
        FROM rk a JOIN rk b ON a.l_partkey = b.l_partkey
        WHERE a.m = DATE '{_MOVERS_M_A}' AND b.m = DATE '{_MOVERS_M_B}')
    SELECT l_partkey, rank_a, rank_b, rank_delta
    FROM j
    ORDER BY abs(rank_delta) DESC, l_partkey
    LIMIT {_MOVERS_TOPK}""",
)
def rank_movers_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top rank movers between two months: parts whose revenue RANK
    changed most month-over-month — the "biggest movers" leaderboard
    every sales/trending dashboard runs (rank delta, not revenue delta:
    rank is scale-free across months of different volume).

    Determinism: rank carries the part-key tie-break; the final top-k
    orders by (|Δrank| desc, part) — total at the LIMIT; all integers.

    Scale: one fact aggregation into the |parts × 2 months| frame
    (materialized once — it feeds both month slices), per-month rank
    windows partition on the month, and the self-join is an equi-join
    on the part key over |parts|-row frames. At corpus scale a month
    is a coarse rank partition — the distributed-rank pattern applies
    (documented; here the frame is |parts|, not |lineitem|)."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    m = F.trunc(F.to_date("l_shipdate"), "month")
    rev = (
        li.select(
            "l_partkey",
            m.alias("m"),
            F.floor(F.col("l_extendedprice") * 100 + 0.5)
            .cast("long")
            .alias("c"),
        )
        .filter(
            F.col("m").isin(
                F.lit(_MOVERS_M_A).cast("date"),
                F.lit(_MOVERS_M_B).cast("date"),
            )
        )
        .groupBy("l_partkey", "m")
        .agg(F.sum("c").alias("cents"))
    )
    w = Window.partitionBy("m").orderBy(
        F.col("cents").desc(), F.col("l_partkey").asc()
    )
    rk = materialize(rev.withColumn(
        "rnk", F.rank().over(w).cast("long")
    ))
    a = rk.filter(F.col("m") == _MOVERS_M_A).select(
        "l_partkey", F.col("rnk").alias("rank_a")
    )
    b = rk.filter(F.col("m") == _MOVERS_M_B).select(
        "l_partkey", F.col("rnk").alias("rank_b")
    )
    return (
        a.join(b, "l_partkey")
        .select(
            "l_partkey",
            "rank_a",
            "rank_b",
            (F.col("rank_a") - F.col("rank_b")).alias("rank_delta"),
        )
        .orderBy(F.abs(F.col("rank_delta")).desc(), "l_partkey")
        .limit(_MOVERS_TOPK)
    )


@workload(
    "audience_overlap_jaccard",
    oracle="""
    WITH d AS (SELECT DISTINCT user_id, event_type FROM events
               WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
    pairs AS (
        SELECT a.event_type AS seg_a, b.event_type AS seg_b,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM d a JOIN d b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2),
    items AS (SELECT event_type AS seg, CAST(COUNT(*) AS BIGINT) AS n
              FROM d GROUP BY 1)
    SELECT seg_a, seg_b, n_both,
           ia.n AS n_a, ib.n AS n_b,
           CAST(n_both AS DOUBLE)
             / CAST(ia.n + ib.n - n_both AS DOUBLE) AS jaccard
    FROM pairs
    JOIN items ia ON pairs.seg_a = ia.seg
    JOIN items ib ON pairs.seg_b = ib.seg""",
)
def audience_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap matrix: for every pair of behavioral segments
    (users who did event type X), the co-membership count and Jaccard
    overlap — the ad-platform / growth-analytics primitive behind
    audience dedup, reach planning, and lookalike seeding.

    Single-shuffle basket machinery (baskets = users, items =
    segments): the membership frame gathers ONCE
    (cooccur.basket_pair_jaccard) and feeds BOTH the map-side pair
    expansion and the segment sizes — one fact scan, and any basket cap
    would apply to both consistently (here: uncapped, mirroring the
    oracle — |segments| is 5, no degenerate-basket guard needed);
    Jaccard = n_both/(n_a+n_b−n_both), one division of exact bigints.

    Scale: pair space per user is k(k−1)/2 over that user's DISTINCT
    segments (k ≤ |segments|, here 5) — never a user×user or
    member-list join; the overlap matrix is |segments|² rows."""
    ev = _t(spark, sf_dir, "events")
    return cooccur_ops.basket_pair_jaccard(
        ev, "user_id", "event_type", max_basket_size=None
    ).select(
        F.col("item_a").alias("seg_a"),
        F.col("item_b").alias("seg_b"),
        "n_both",
        "n_a",
        "n_b",
        "jaccard",
    )


_DISTINCT_SRC_A = "src0"
_DISTINCT_SRC_B = "src1"
_DISTINCT_TOPK = 50


@workload(
    "distinctive_terms_by_source",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({text_ops.sql_tokens('text')}) AS term
        FROM documents
        WHERE source IN ('{_DISTINCT_SRC_A}', '{_DISTINCT_SRC_B}')),
    c AS (SELECT term,
                 CAST(SUM(CASE WHEN source = '{_DISTINCT_SRC_A}'
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(SUM(CASE WHEN source = '{_DISTINCT_SRC_B}'
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_b
          FROM tok GROUP BY 1),
    t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS tot_a,
                 CAST(SUM(n_b) AS BIGINT) AS tot_b FROM c)
    SELECT term, n_a, n_b,
           CAST(CAST(CAST((n_a + 1) AS HUGEINT) * (tot_b + 1)
                     AS VARCHAR) AS DOUBLE)
             / CAST(CAST(CAST((n_b + 1) AS HUGEINT) * (tot_a + 1)
                         AS VARCHAR) AS DOUBLE) AS rate_ratio
    FROM c CROSS JOIN t
    ORDER BY rate_ratio DESC, term
    LIMIT {_DISTINCT_TOPK}""",
)
def distinctive_terms_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distinctive vocabulary between two corpus slices: terms most
    over-represented in source A vs source B by the add-one-smoothed
    rate ratio ((n_a+1)/(tot_a+1)) / ((n_b+1)/(tot_b+1)) — the
    corpus-drift / style-diagnostic readout (what vocabulary makes this
    source different), log-odds-ratio's hash-exact cousin (no logs: the
    RATIO itself, one division of two exactly-converted decimal
    products, preserves the same ordering the log would).

    Scale: tokens explode map-side; one partial-aggregated term count
    (two conditional sums in one pass — the corpus never scans twice);
    the 1-row totals broadcast back. Top-k is TakeOrderedAndProject
    with a deterministic (ratio, term) order — the ratio is one IEEE
    division of exact products, bit-identical per engine."""
    d38 = "decimal(38,0)"
    docs = _docs(spark, sf_dir).filter(
        F.col("source").isin(_DISTINCT_SRC_A, _DISTINCT_SRC_B)
    )
    tok = docs.select(
        "source", F.explode(text_ops.tokens("text")).alias("term")
    )
    c = materialize(tok.groupBy("term").agg(
        F.sum(
            F.when(F.col("source") == _DISTINCT_SRC_A, 1).otherwise(0)
        ).alias("n_a"),
        F.sum(
            F.when(F.col("source") == _DISTINCT_SRC_B, 1).otherwise(0)
        ).alias("n_b"),
    ))
    t = c.agg(
        F.sum("n_a").alias("tot_a"), F.sum("n_b").alias("tot_b")
    )
    num = ((F.col("n_a") + 1).cast(d38) * (F.col("tot_b") + 1).cast(d38)).cast(d38)
    den = ((F.col("n_b") + 1).cast(d38) * (F.col("tot_a") + 1).cast(d38)).cast(d38)
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "term",
            "n_a",
            "n_b",
            (num.cast("double") / den.cast("double")).alias("rate_ratio"),
        )
        .orderBy(F.desc("rate_ratio"), "term")
        .limit(_DISTINCT_TOPK)
    )


_BFS_SEED_MOD = 211
_BFS_MAX_LEVEL = 3


def _bfs_oracle() -> str:
    pairs = cooccur_ops.sql_basket_pair_counts(
        "lineitem", "l_orderkey", "l_partkey"
    )
    lvls = []
    prev_union = "SELECT node FROM l0"
    for k in range(1, _BFS_MAX_LEVEL + 1):
        lvls.append(
            f"l{k} AS (SELECT DISTINCT e.dst AS node FROM edges e "
            f"JOIN l{k - 1} ON e.src = l{k - 1}.node "
            f"WHERE e.dst NOT IN ({prev_union}))"
        )
        prev_union += f" UNION ALL SELECT node FROM l{k}"
    selects = " UNION ALL ".join(
        f"SELECT node, CAST({k} AS INTEGER) AS level FROM l{k}"
        for k in range(_BFS_MAX_LEVEL + 1)
    )
    return f"""
    WITH p2 AS ({pairs} HAVING COUNT(*) >= 2),
    edges AS (SELECT item_a AS src, item_b AS dst FROM p2
              UNION ALL SELECT item_b, item_a FROM p2),
    l0 AS (SELECT DISTINCT src AS node FROM edges
           WHERE src % {_BFS_SEED_MOD} = 0),
    {", ".join(lvls)}
    {selects}"""


@workload("bfs_levels_copurchase", oracle=_bfs_oracle())
def bfs_levels_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS levels over the co-purchase graph: hop distance
    (≤ 3) from a seed set — the "blast radius" / related-products-
    within-k-hops primitive (recall expansion, recommendation
    candidates, impact analysis). Levels are exact integers, so this
    iterative traversal carries a full value oracle (the unrolled
    recursive-CTE twin), like PageRank and k-core before it.

    Per level: frontier ⋈ edges (equi-join on src) → distinct → anti
    join against the visited set; each level's frontier materializes
    once (lineage truncation — the fixed-depth cousin of
    dedup._iteration_regime's loop discipline). Never materializes
    all-pairs reachability; state is the visited frontier.

    Scale: level-k cost is |frontier_k ⋈ edges| — bounded by edge
    count per round; hub-degree caps (the RA link-prediction
    discipline) apply when real graphs have power-law hubs."""
    li = _t(spark, sf_dir, "lineitem")
    pairs = materialize(
        cooccur_ops.basket_pair_counts(li, "l_orderkey", "l_partkey")
        .filter(F.col("n_baskets") >= 2)
    )
    edges = materialize(pairs.select(
        F.col("item_a").alias("src"), F.col("item_b").alias("dst")
    ).union(
        pairs.select(F.col("item_b").alias("src"), F.col("item_a").alias("dst"))
    ))
    frontier = materialize(
        edges.select(F.col("src").alias("node"))
        .filter(F.col("node") % _BFS_SEED_MOD == 0)
        .distinct()
    )
    visited = frontier.withColumn("level", F.lit(0).cast("int"))
    out = [visited]
    for k in range(1, _BFS_MAX_LEVEL + 1):
        nxt = materialize(
            edges.join(
                frontier.withColumnRenamed("node", "src"), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
        )
        lvl = nxt.withColumn("level", F.lit(k).cast("int"))
        out.append(lvl)
        visited = visited.unionByName(lvl)
        frontier = nxt
    res = out[0]
    for lvl in out[1:]:
        res = res.unionByName(lvl)
    return res


@workload(
    "percent_of_parent_rollup",
    oracle="""
    WITH rev AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2),
    reg AS (SELECT region, CAST(SUM(cents) AS BIGINT) AS region_cents
            FROM rev GROUP BY 1),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total_cents FROM rev)
    SELECT rev.region, nation, cents, region_cents,
           CAST(cents AS DOUBLE) / CAST(region_cents AS DOUBLE)
             AS share_of_region,
           CAST(region_cents AS DOUBLE) / CAST(total_cents AS DOUBLE)
             AS region_share_of_total
    FROM rev JOIN reg ON rev.region = reg.region CROSS JOIN tot""",
)
def percent_of_parent_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent rollup (the OLAP cube's "% of parent row" every
    BI tool computes): nation revenue as a share of its region, region
    revenue as a share of the grand total — two hierarchy levels from
    ONE fact aggregation.

    Scale: the fact aggregates once into the |nation|-row frame
    (dimensions broadcast into the fact scan); the parent level and the
    grand total re-aggregate THAT frame (metadata-size) and broadcast
    back — the fact is never re-scanned per level (unlike the naive
    per-level GROUPING SETS re-scan). Shares are single divisions of
    exact integer cents."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = materialize(
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("cents")
        )
    )
    reg = rev.groupBy("region").agg(F.sum("cents").alias("region_cents"))
    tot = rev.agg(F.sum("cents").alias("total_cents"))
    return (
        rev.join(F.broadcast(reg), "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "region",
            "nation",
            "cents",
            "region_cents",
            (
                F.col("cents").cast("double")
                / F.col("region_cents").cast("double")
            ).alias("share_of_region"),
            (
                F.col("region_cents").cast("double")
                / F.col("total_cents").cast("double")
            ).alias("region_share_of_total"),
        )
    )


@workload(
    "dau_mau_stickiness",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events
                WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    b AS (SELECT MAX(day) AS d1 FROM ud),
    dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
    cover AS (SELECT user_id,
                     CAST(unnest(generate_series(day, day + 29,
                                                 INTERVAL 1 DAY)) AS DATE)
                       AS win_day
              FROM ud),
    mau AS (SELECT win_day AS day,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
            FROM cover CROSS JOIN b WHERE win_day <= d1 GROUP BY 1)
    SELECT mau.day, COALESCE(dau.dau, 0) AS dau, mau.mau,
           CAST(COALESCE(dau.dau, 0) AS DOUBLE) / CAST(mau.mau AS DOUBLE)
             AS stickiness
    FROM mau LEFT JOIN dau ON mau.day = dau.day""",
)
def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day — the engagement-depth ratio every
    product review tracks (what share of the monthly audience shows up
    on a given day). MAU is the trailing-30-day distinct-actives via
    the WAU coverage identity (dedup user-days FIRST, explode each to
    the 30 days it covers, count distinct per day — linear with a 30×
    map-side expansion of user-DAYS, never an O(days × users) window);
    DAU is the plain per-day distinct count off the SAME deduped frame.

    Exactness: counts are exact; stickiness is one IEEE division.
    Days beyond the corpus max are trimmed (partial future windows).
    Shared core: temporal.stickiness_daily (also the declarable gold
    ``analysis: stickiness``)."""
    from metadata_driven_etl_spark.operators import temporal as temporal_ops

    ev = _t(spark, sf_dir, "events")
    return temporal_ops.stickiness_daily(ev, window_days=30)


@workload(
    "new_vs_returning_daily",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events
                WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    f AS (SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY 1)
    SELECT day,
           CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN day > first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS returning_users
    FROM ud JOIN f ON ud.user_id = f.user_id
    GROUP BY 1""",
)
def new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New vs returning active users per day — the acquisition/retention
    split on every growth dashboard. A user is "new" on their first
    active day, "returning" on every later active day.

    Scale: dedup to distinct (user, day) first (the WAU discipline),
    ONE user-keyed window carries each user's first day onto their
    rows (no join back), then one map-side-combinable day rollup.
    All counts exact. NULL users/timestamps are excluded EXPLICITLY on
    both sides — a NULL user would survive the Spark window's NULL
    partition but never the oracle's equi-join (the _gather_baskets
    NULL discipline). Shared core: temporal.new_vs_returning (also the
    declarable gold ``analysis: new_vs_returning``)."""
    from metadata_driven_etl_spark.operators import temporal as temporal_ops

    ev = _t(spark, sf_dir, "events")
    return temporal_ops.new_vs_returning(ev)


# Allowed direct transitions (the expected product flow) — shared
# verbatim with the oracle. Anything else observed back-to-back for a
# user is a sequence violation worth surfacing.
_SEQ_ALLOWED = (
    ("view", "click"), ("click", "purchase"), ("view", "view"),
    ("click", "click"), ("signup", "view"), ("view", "signup"),
    ("purchase", "view"), ("error", "view"),
)
_SEQ_ALLOWED_SQL = ", ".join(f"('{a}', '{b}')" for a, b in _SEQ_ALLOWED)


@workload(
    "sequence_violations_by_user",
    oracle=f"""
    WITH s AS (
        SELECT user_id, event_type AS next_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events),
    v AS (SELECT user_id, prev_type, next_type FROM s
          WHERE prev_type IS NOT NULL
            AND (prev_type, next_type) NOT IN ({_SEQ_ALLOWED_SQL}))
    SELECT prev_type, next_type,
           CAST(COUNT(*) AS BIGINT) AS n_violations,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM v GROUP BY 1, 2""",
)
def sequence_violations_by_user(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Event-sequence contract validation: back-to-back transitions
    outside the declared allowed set, counted by transition and by
    distinct offending user — the process-mining / instrumentation-QA
    readout (purchases with no preceding click, errors flowing into
    checkout, SDK double-fires).

    Scale: ONE user-keyed window (lag — the transition-matrix shuffle),
    the allowed-set test is a map-side literal IN over the pair, and
    the violation rollup partial-aggregates |types|²-bounded groups.
    The allowed set is config data at 100 TB (broadcast anti join);
    here it is a literal shared verbatim with the oracle."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        F.col("event_type").alias("next_type"),
        "ts",
        "event_id",
    ).withColumn("prev_type", F.lag("next_type").over(w))
    allowed = F.struct(
        F.col("prev_type"), F.col("next_type")
    ).isin(
        [
            F.struct(F.lit(a).alias("prev_type"), F.lit(b).alias("next_type"))
            for a, b in _SEQ_ALLOWED
        ]
    )
    v = s.filter(F.col("prev_type").isNotNull() & ~allowed)
    return v.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_violations"),
        F.countDistinct("user_id").alias("n_users"),
    )


_KANON_K = 5


@workload(
    "k_anonymity_audit",
    oracle=f"""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0
                                        THEN 'neg' ELSE 'nonneg' END)
                    AS BIGINT) AS l_diversity
        FROM customer GROUP BY 1, 2)
    SELECT c_nationkey, c_mktsegment, n_members, l_diversity,
           CAST(CASE WHEN n_members < {_KANON_K} THEN 1 ELSE 0 END
                AS INTEGER) AS k_violation,
           CAST(CASE WHEN l_diversity < 2 THEN 1 ELSE 0 END
                AS INTEGER) AS l_violation
    FROM g
    WHERE n_members < {_KANON_K} OR l_diversity < 2""",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over quasi-identifiers — the
    privacy gate a dataset passes before release (and a training-data
    pipeline's PII-risk screen beyond regex redaction): every
    (nation, market segment) quasi-identifier group with fewer than k=5
    members (re-identification risk) or fewer than 2 distinct values of
    the sensitive attribute (attribute disclosure — here the account
    balance's sign class). Emits the VIOLATING groups with both flags.

    Scale: ONE map-side-combinable groupBy over the table (count +
    count-distinct of a 2-value class — constant aggregation state);
    the violation filter runs on the |quasi-id groups| frame. Exact
    integers throughout; suppression/generalization of the flagged
    groups is the downstream action."""
    c = _t(spark, sf_dir, "customer")
    sens = F.when(F.col("c_acctbal") < 0, "neg").otherwise("nonneg")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.countDistinct(sens).alias("l_diversity"),
    )
    return g.filter(
        (F.col("n_members") < _KANON_K) | (F.col("l_diversity") < 2)
    ).select(
        "c_nationkey",
        "c_mktsegment",
        "n_members",
        "l_diversity",
        F.when(F.col("n_members") < _KANON_K, 1)
        .otherwise(0)
        .cast("int")
        .alias("k_violation"),
        F.when(F.col("l_diversity") < 2, 1)
        .otherwise(0)
        .cast("int")
        .alias("l_violation"),
    )


@workload(
    "interpurchase_gap_quantiles",
    oracle="""
    WITH p AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM events WHERE event_type = 'purchase'),
    gaps AS (
        SELECT CAST((epoch_us(ts) - epoch_us(prev_ts)) // 3600000000
                    AS BIGINT) AS gap_hours
        FROM p WHERE prev_ts IS NOT NULL)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(quantile_disc(gap_hours, 0.25) AS BIGINT) AS p25_hours,
           CAST(quantile_disc(gap_hours, 0.50) AS BIGINT) AS p50_hours,
           CAST(quantile_disc(gap_hours, 0.75) AS BIGINT) AS p75_hours,
           CAST(quantile_disc(gap_hours, 0.90) AS BIGINT) AS p90_hours
    FROM gaps""",
)
def interpurchase_gap_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Purchase-cadence distribution: exact quantiles of the gap between
    a user's consecutive purchases (in whole hours) — the replenishment/
    retention-forecast input (when to expect the next order, when a
    customer has lapsed). Complements conversion_latency_quantiles
    (view→purchase) with the purchase→purchase rhythm.

    Exactness: gaps are integer hours (floor of exact microsecond
    deltas); percentile_disc is rank-selection — it RETURNS one of the
    data values, no interpolation arithmetic to diverge (the
    outlier_mad_group discipline).

    Scale: ONE user-keyed lag window over the purchase slice (filter
    pushed to the scan), then a single quantile aggregation over
    |gaps| rows."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select("user_id", "ts", F.col("event_id").alias("event_id"))
    gaps = (
        p.withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            F.floor(
                (F.unix_micros("ts") - F.unix_micros("prev_ts"))
                / F.lit(3_600_000_000)
            )
            .cast("long")
            .alias("gap_hours")
        )
    )
    q = lambda f: F.expr(  # noqa: E731
        f"percentile_disc({f}) WITHIN GROUP (ORDER BY gap_hours)"
    ).cast("long")
    return gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        q(0.25).alias("p25_hours"),
        q(0.50).alias("p50_hours"),
        q(0.75).alias("p75_hours"),
        q(0.90).alias("p90_hours"),
    )


@workload(
    "cohort_ltv_monthly",
    oracle="""
    WITH f AS (
        SELECT o_custkey,
               MIN(date_trunc('month', CAST(o_orderdate AS DATE)))
                 AS cohort_month
        FROM orders GROUP BY 1),
    r AS (
        SELECT f.cohort_month,
               CAST((year(date_trunc('month', CAST(o.o_orderdate AS DATE)))
                     * 12
                     + month(date_trunc('month', CAST(o.o_orderdate AS DATE))))
                    - (year(f.cohort_month) * 12 + month(f.cohort_month))
                    AS BIGINT) AS month_index,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o JOIN f ON o.o_custkey = f.o_custkey
        GROUP BY 1, 2)
    SELECT cohort_month, month_index, cents,
           CAST(SUM(cents) OVER (PARTITION BY cohort_month
                ORDER BY month_index
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_cents
    FROM r""",
)
def cohort_ltv_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: cumulative revenue per acquisition cohort by
    months-since-first-order — the growth metric behind payback-period
    and LTV/CAC decisions (cohort_retention tracks WHO comes back; this
    tracks what they're WORTH). Month index is exact integer calendar
    arithmetic (year·12+month differences — never float
    months_between).

    Scale: one customer groupBy assigns cohorts, carried onto orders by
    ONE window over the customer partition (no join back at corpus
    scale the cohort frame broadcasts); revenue partial-aggregates into
    the |cohorts × months| domain frame, whose cumulative window is
    metadata-sized. All cents exact; the curve is the hashed surface."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    m = F.trunc(F.to_date("o_orderdate"), "month")
    w_c = Window.partitionBy("o_custkey")
    tagged = o.select(
        "o_custkey",
        m.alias("om"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("c"),
    ).withColumn("cohort_month", F.min("om").over(w_c))
    midx = (
        (F.year("om") * 12 + F.month("om"))
        - (F.year("cohort_month") * 12 + F.month("cohort_month"))
    ).cast("long")
    r = tagged.groupBy("cohort_month", midx.alias("month_index")).agg(
        F.sum("c").alias("cents")
    )
    w_cum = (
        Window.partitionBy("cohort_month")
        .orderBy("month_index")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return r.select(
        "cohort_month",
        "month_index",
        "cents",
        F.sum("cents").over(w_cum).alias("cum_cents"),
    )


# Flesch reading-ease constants — literal doubles shared verbatim with
# the oracle (the Benford literal discipline).
_FLESCH_A = 206.835
_FLESCH_B = 1.015
_FLESCH_C = 84.6


@workload(
    "text_readability_flesch",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               {text_ops.sql_tokens('text')} AS toks,
               GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
                 AS n_sentences
        FROM documents),
    w AS (
        SELECT doc_id, n_sentences, t.x AS tok
        FROM d, LATERAL (SELECT unnest(toks) AS x) t),
    s AS (
        SELECT doc_id, n_sentences,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(GREATEST(1,
                        len(regexp_extract_all(tok, '[aeiouy]+'))))
                    AS BIGINT) AS n_syllables
        FROM w GROUP BY 1, 2)
    SELECT doc_id, n_words, CAST(n_sentences AS BIGINT) AS n_sentences,
           n_syllables,
           {_FLESCH_A}
             - {_FLESCH_B} * (CAST(n_words AS DOUBLE)
                              / CAST(n_sentences AS DOUBLE))
             - {_FLESCH_C} * (CAST(n_syllables AS DOUBLE)
                              / CAST(n_words AS DOUBLE)) AS flesch
    FROM s WHERE n_words > 0""",
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the readability quality
    signal curation pipelines pair with the length/stopword features
    (too-hard and too-trivial text both correlate with low training
    value). Syllables via the standard vowel-group heuristic (≥1 per
    word), sentences via terminal-punctuation runs (≥1 per doc) — both
    exact integer counts through the SHARED tokenizer, so the score is
    a fixed IEEE chain (two divisions, two multiplies, two subtractions
    over literal constants) — bit-identical per engine.

    Scale: map-side explode + one per-doc aggregation (partial
    combinable); no joins, no windows."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id",
        F.explode(text_ops.tokens("text")).alias("tok"),
        F.greatest(
            F.lit(1),
            F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")),
        ).alias("n_sentences"),
    )
    syll = F.greatest(
        F.lit(1),
        F.size(F.expr("regexp_extract_all(tok, '[aeiouy]+', 0)")),
    )
    s = d.groupBy("doc_id", "n_sentences").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(syll).alias("n_syllables"),
    )
    flesch = (
        F.lit(_FLESCH_A)
        - F.lit(_FLESCH_B)
        * (F.col("n_words").cast("double") / F.col("n_sentences").cast("double"))
        - F.lit(_FLESCH_C)
        * (
            F.col("n_syllables").cast("double")
            / F.col("n_words").cast("double")
        )
    )
    return s.filter(F.col("n_words") > 0).select(
        "doc_id",
        "n_words",
        F.col("n_sentences").cast("long").alias("n_sentences"),
        "n_syllables",
        flesch.alias("flesch"),
    )


@workload(
    "funnel_step_rates",
    oracle="""
    WITH w1 AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS q1,
               max(CASE WHEN event_type = 'view' THEN ts END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS v_prev
        FROM events),
    w2 AS (
        SELECT *,
               CASE WHEN event_type = 'click' AND v_prev IS NOT NULL
                         AND v_prev > ts - INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS q2
        FROM w1),
    w3 AS (
        SELECT *,
               CASE WHEN event_type = 'purchase' AND c_prev IS NOT NULL
                         AND c_prev > ts - INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS q3
        FROM (SELECT *,
                     max(CASE WHEN q2 = 1 THEN ts END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS c_prev
              FROM w2)),
    d AS (SELECT user_id,
                 CAST(max(q1) + max(q2) + max(q3) AS INT) AS depth
          FROM w3 GROUP BY 1),
    c AS (SELECT
            CAST(SUM(CASE WHEN depth >= 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS r1,
            CAST(SUM(CASE WHEN depth >= 2 THEN 1 ELSE 0 END) AS BIGINT)
              AS r2,
            CAST(SUM(CASE WHEN depth >= 3 THEN 1 ELSE 0 END) AS BIGINT)
              AS r3,
            CAST(COUNT(*) AS BIGINT) AS n_users
          FROM d)
    SELECT 1 AS step, 'view' AS step_name, r1 AS n_reached,
           CASE WHEN n_users > 0 THEN
             CAST(r1 AS DOUBLE) / CAST(n_users AS DOUBLE) END AS step_rate,
           CASE WHEN n_users > 0 THEN
             CAST(r1 AS DOUBLE) / CAST(n_users AS DOUBLE) END AS cum_rate
    FROM c
    UNION ALL
    SELECT 2, 'click', r2,
           CASE WHEN r1 > 0 THEN
             CAST(r2 AS DOUBLE) / CAST(r1 AS DOUBLE) END,
           CASE WHEN n_users > 0 THEN
             CAST(r2 AS DOUBLE) / CAST(n_users AS DOUBLE) END
    FROM c
    UNION ALL
    SELECT 3, 'purchase', r3,
           CASE WHEN r2 > 0 THEN
             CAST(r3 AS DOUBLE) / CAST(r2 AS DOUBLE) END,
           CASE WHEN n_users > 0 THEN
             CAST(r3 AS DOUBLE) / CAST(n_users AS DOUBLE) END
    FROM c""",
)
def funnel_step_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel CHART readout: per step, users reached, step-to-step
    conversion rate (reached_k / reached_{k−1}), and cumulative rate vs
    all users — the numbers the dashboard actually renders on top of
    the per-user depth the funnel operator emits (where the drop-off
    is, not just how deep people go).

    Composition: temporal.funnel_steps (per-step 30-minute window) →
    one scalar aggregation over the |users| depth frame → a 3-row
    literal unpivot of the reach counters. Rates are single divisions
    of exact counts.

    Scale: the funnel's one user shuffle dominates; everything after
    the depth frame is a 1-row aggregate broadcast into 3 rows.
    Shared core: temporal.funnel_rates (also the declarable gold
    ``analysis: funnel_rates``)."""
    from metadata_driven_etl_spark.operators import temporal as temporal_ops

    ev = _t(spark, sf_dir, "events")
    return temporal_ops.funnel_rates(
        ev, ["view", "click", "purchase"], window="30 minutes"
    )


@workload(
    "supplier_hhi_by_nation",
    oracle="""
    WITH rev AS (
        SELECT s.s_nationkey AS nation, l.l_suppkey,
               CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2),
    agg AS (
        SELECT nation,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               SUM(CAST(cents AS HUGEINT) * cents) AS ssq,
               CAST(SUM(cents) AS HUGEINT) AS tot
        FROM rev GROUP BY 1)
    SELECT nation, n_suppliers,
           CAST(CAST(ssq AS VARCHAR) AS DOUBLE)
             / (CAST(CAST(tot AS VARCHAR) AS DOUBLE)
                * CAST(CAST(tot AS VARCHAR) AS DOUBLE)) AS hhi
    FROM agg""",
)
def supplier_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue concentration per nation — the
    Herfindahl-Hirschman index (Σ share², 1/n ≤ HHI ≤ 1), the
    procurement-risk / antitrust concentration metric: a nation whose
    lineitem revenue concentrates in one supplier scores near 1.

    Hash-exact: HHI = Σ cents² / (Σ cents)² — numerator Σ cents² is an
    exact decimal sum, the denominator squares one exactly-converted
    total; one division emits the double (never Σ of per-supplier float
    share² — that sum is data-order-dependent). Bound: cents² exact in
    decimal(38,0) to ~10¹⁹-cent suppliers.

    Scale: one fact aggregation into the |nation × supplier| frame
    (supplier dim broadcasts into the scan), then a second
    map-side-combinable rollup with constant state per nation."""
    d38 = "decimal(38,0)"
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("nation"), "l_suppkey")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
            ).alias("cents")
        )
    )
    agg = rev.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum((F.col("cents").cast(d38) * F.col("cents")).cast(d38))
        .cast(d38)
        .alias("ssq"),
        F.sum(F.col("cents").cast(d38)).cast(d38).alias("tot"),
    )
    return agg.select(
        "nation",
        "n_suppliers",
        (
            F.col("ssq").cast("double")
            / (F.col("tot").cast("double") * F.col("tot").cast("double"))
        ).alias("hhi"),
    )


# =========================================================================
# Round-9 additions: stats family (Spearman, ANOVA, Gini concentration,
# IQR outliers, autocorrelation, day-of-week seasonality)
# =========================================================================


@workload(
    "spearman_corr_price_quantity",
    oracle="""
    WITH f AS (SELECT CAST(FLOOR(l_extendedprice*100+0.5) AS BIGINT) AS x,
                      CAST(l_quantity AS BIGINT) AS y FROM lineitem),
    dx AS (SELECT x, CAST(COUNT(*) AS HUGEINT) AS c FROM f GROUP BY 1),
    ux AS (SELECT x, 2*SUM(c) OVER (ORDER BY x) - c + 1 AS u FROM dx),
    dy AS (SELECT y, CAST(COUNT(*) AS HUGEINT) AS c FROM f GROUP BY 1),
    uy AS (SELECT y, 2*SUM(c) OVER (ORDER BY y) - c + 1 AS v FROM dy),
    j AS (SELECT u, v FROM f JOIN ux USING (x) JOIN uy USING (y)),
    s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                 SUM(u) AS su, SUM(v) AS sv, SUM(u*v) AS suv,
                 SUM(u*u) AS suu, SUM(v*v) AS svv FROM j)
    SELECT CAST(n AS BIGINT) AS n_rows,
           -- guard (r12 degenerate sweep): a constant axis has no rho
           CASE WHEN n*suu - su*su > 0 AND n*svv - sv*sv > 0 THEN
             CAST(CAST(n*suv - su*sv AS VARCHAR) AS DOUBLE)
               / (sqrt(CAST(CAST(n*suu - su*su AS VARCHAR) AS DOUBLE))
                  * sqrt(CAST(CAST(n*svv - sv*sv AS VARCHAR) AS DOUBLE)))
           END AS spearman_rho
    FROM s""",
)
def spearman_corr_price_quantity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rank correlation of price vs quantity — the monotone-
    association screen (Pearson's heavy-tail-safe sibling; linreg
    already covers the linear fit). Tie-aware: average ranks per tie
    group, computed as DOUBLED ranks so halves never materialize —
    2·avgrank = 2·cum_before + cnt + 1, an integer from the KS domain
    frame — then Pearson on the doubled ranks (affine-invariant, so ρ
    is unchanged).

    Hash-exact: every moment (Σu, Σuv, Σu², …) is an exact decimal sum
    of integers; ρ = num / (√d1·√d2) is a fixed chain of correctly-
    rounded double ops over exactly-converted operands (the chisq/OLS
    pattern). Bound: n·Σuv ≤ 4n⁴ < 10³⁸ to ~10⁹ rows.

    Scale: one groupBy per axis into |distinct values| domain frames
    (the KS shape), rank-carry joins back onto the fact (quantity side
    broadcasts — 50 distinct values), ONE moment aggregation."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    f = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
    )

    def doubled_ranks(col: str, out: str) -> DataFrame:
        d = f.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        return d.select(
            col,
            (2 * F.sum("c").over(w) - F.col("c") + 1).alias(out),
        )

    j = f.join(doubled_ranks("x", "u"), "x").join(
        F.broadcast(doubled_ranks("y", "v")), "y"
    )
    s = j.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("u").cast(d38)).cast(d38).alias("su"),
        F.sum(F.col("v").cast(d38)).cast(d38).alias("sv"),
        F.sum((F.col("u").cast(d38) * F.col("v")).cast(d38))
        .cast(d38)
        .alias("suv"),
        F.sum((F.col("u").cast(d38) * F.col("u")).cast(d38))
        .cast(d38)
        .alias("suu"),
        F.sum((F.col("v").cast(d38) * F.col("v")).cast(d38))
        .cast(d38)
        .alias("svv"),
    )
    num = (F.col("n") * F.col("suv") - F.col("su") * F.col("sv")).cast(d38)
    d1 = (F.col("n") * F.col("suu") - F.col("su") * F.col("su")).cast(d38)
    d2 = (F.col("n") * F.col("svv") - F.col("sv") * F.col("sv")).cast(d38)
    return s.select(
        F.col("n").cast("long").alias("n_rows"),
        # guard (r12 degenerate sweep): a constant axis has no rho
        F.when(
            (d1 > 0) & (d2 > 0),
            num.cast("double")
            / (F.sqrt(d1.cast("double")) * F.sqrt(d2.cast("double"))),
        ).alias("spearman_rho"),
    )


# The five event types are testdata literals shared with the funnel /
# sequence workloads; the ANOVA pivot needs them spelled out so the
# between-group sum is a FIXED-ORDER scalar expression (a float SUM over
# group rows would be data-order-dependent).
_ANOVA_TYPES = ("click", "error", "purchase", "signup", "view")


@workload(
    "anova_f_value_by_type",
    oracle=f"""
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS HUGEINT) AS n_g,
               SUM(CAST(CAST(FLOOR(value*100+0.5) AS BIGINT) AS HUGEINT))
                 AS s_g,
               SUM(CAST(CAST(FLOOR(value*100+0.5) AS BIGINT) AS HUGEINT)
                   * CAST(FLOOR(value*100+0.5) AS BIGINT)) AS q_g
        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        GROUP BY 1),
    p AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n_g) AS BIGINT) AS n_rows,
               CAST(CAST(SUM(s_g) AS VARCHAR) AS DOUBLE) AS s,
               CAST(CAST(SUM(q_g) AS VARCHAR) AS DOUBLE) AS q,
               {", ".join(
                   "COALESCE(MAX(CASE WHEN event_type = '" + t + "' THEN "
                   "CAST(CAST(s_g*s_g AS VARCHAR) AS DOUBLE)"
                   " / CAST(n_g AS DOUBLE) END), 0.0) AS t_" + t
                   for t in _ANOVA_TYPES
               )}
        FROM g),
    e AS (SELECT k, n_rows, s, q,
                 {" + ".join("t_" + t for t in _ANOVA_TYPES)} AS st
          FROM p)
    SELECT k, n_rows,
           -- guards (r12 degenerate sweep): F is undefined with one
           -- group, no within-group df, or zero within-group variance
           CASE WHEN k > 1 AND n_rows > k AND q - st > 0 THEN
             ((st - s*s/CAST(n_rows AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
               / ((q - st) / CAST(n_rows - k AS DOUBLE))
           END AS f_stat
    FROM e""",
)
def anova_f_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-statistic for event value across event types —
    the k-group mean-difference omnibus test (the two-sample z/t tests'
    k-ary sibling; pairs with ks_test / mannwhitney for distributional
    and rank variants).

    Hash-exact: per-group (n, Σx, Σx²) in exact decimal; the between-
    group term Σ_g S_g²/n_g is pivoted into FIVE literal columns and
    summed as one left-associated scalar expression (a float SUM over
    group rows would be data-order-dependent) — each term and the final
    F are fixed chains of correctly-rounded double ops. Absent groups
    contribute COALESCE 0.

    Scale: ONE map-side-combinable aggregation over the fact (constant
    per-group state), then literal-width pivot arithmetic on a 5-row
    frame."""
    d38 = "decimal(38,0)"
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum(cents.cast(d38)).cast(d38).alias("s_g"),
        F.sum((cents.cast(d38) * cents).cast(d38)).cast(d38).alias("q_g"),
    )
    term = (
        (F.col("s_g").cast(d38) * F.col("s_g")).cast(d38).cast("double")
        / F.col("n_g").cast("double")
    )
    p = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n_rows"),
        F.sum(F.col("s_g")).cast(d38).cast("double").alias("s"),
        F.sum(F.col("q_g")).cast(d38).cast("double").alias("q"),
        *[
            F.coalesce(
                F.max(F.when(F.col("event_type") == t, term)), F.lit(0.0)
            ).alias(f"t_{t}")
            for t in _ANOVA_TYPES
        ],
    )
    st = F.col(f"t_{_ANOVA_TYPES[0]}")
    for t in _ANOVA_TYPES[1:]:
        st = st + F.col(f"t_{t}")
    e = p.select("k", "n_rows", "s", "q", st.alias("st"))
    ssb = F.col("st") - F.col("s") * F.col("s") / F.col("n_rows").cast(
        "double"
    )
    ssw = F.col("q") - F.col("st")
    return e.select(
        "k",
        "n_rows",
        # guards (r12 degenerate sweep): one group / no df / zero SSW
        F.when(
            (F.col("k") > 1)
            & (F.col("n_rows") > F.col("k"))
            & (ssw > 0),
            (ssb / (F.col("k") - 1).cast("double"))
            / (ssw / (F.col("n_rows") - F.col("k")).cast("double")),
        ).alias("f_stat"),
    )


@workload(
    "gini_concentration_revenue",
    oracle="""
    WITH r AS (SELECT o_custkey,
                      CAST(SUM(CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT))
                           AS BIGINT) AS cents
               FROM orders GROUP BY 1),
    d AS (SELECT cents, CAST(COUNT(*) AS HUGEINT) AS c FROM r GROUP BY 1),
    w AS (SELECT cents, c, SUM(c) OVER (ORDER BY cents) - c AS prev
          FROM d),
    s AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                 SUM(CAST(cents AS HUGEINT) * c) AS tot,
                 SUM(CAST(cents AS HUGEINT)
                     * (c*prev + c*(c+1)//2)) AS six
          FROM w)
    SELECT n AS n_customers,
           CAST(tot AS BIGINT) AS total_cents,
           CAST(CAST(2*six - (CAST(n AS HUGEINT)+1)*tot AS VARCHAR)
                AS DOUBLE)
             / CAST(CAST(CAST(n AS HUGEINT)*tot AS VARCHAR) AS DOUBLE)
             AS gini
    FROM s""",
)
def gini_concentration_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gini coefficient of customer revenue — the inequality /
    concentration readout ("what share of revenue sits with the top
    customers", the Lorenz-curve scalar; complements the supplier HHI
    and pareto_abc). Population: customers WITH orders.

    Tie-safe exact form: G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) with
    ascending ranks; a tie group of c equal values at cumulative
    position p contributes x·(c·p + c(c+1)/2) — all integers via the
    KS domain frame (c(c+1) is always even), so G is ONE division of
    two exactly-converted decimals.

    Scale: one fact aggregation to |customers|, one groupBy to the
    |distinct revenue| domain frame, one cumulative window over it,
    one scalar rollup."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    r = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("cents")
        )
    )
    d = r.groupBy("cents").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    t = d.select(
        "cents",
        "c",
        (F.sum("c").over(w) - F.col("c")).alias("prev"),
    )
    rank_sum = (
        F.col("c").cast(d38) * F.col("prev")
        + (F.col("c").cast(d38) * (F.col("c") + 1)) / 2
    ).cast(d38)
    s = t.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("cents").cast(d38) * F.col("c")).cast(d38).alias("tot"),
        F.sum((F.col("cents").cast(d38) * rank_sum).cast(d38))
        .cast(d38)
        .alias("six"),
    )
    n38 = F.col("n").cast(d38)
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("tot").cast("long").alias("total_cents"),
        (
            (2 * F.col("six") - (n38 + 1) * F.col("tot"))
            .cast(d38)
            .cast("double")
            / (n38 * F.col("tot")).cast(d38).cast("double")
        ).alias("gini"),
    )


@workload(
    "outlier_iqr_group",
    oracle="""
    WITH f AS (SELECT event_type AS grp,
                      CAST(FLOOR(value*100+0.5) AS BIGINT) AS cents
               FROM events),
    q AS (SELECT grp,
                 CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(quantile_disc(cents, 0.25) AS BIGINT) AS q1,
                 CAST(quantile_disc(cents, 0.75) AS BIGINT) AS q3
          FROM f GROUP BY 1)
    SELECT f.grp, MAX(n_rows) AS n_rows, MAX(q1) AS q1_cents,
           MAX(q3) AS q3_cents,
           CAST(SUM(CASE WHEN 2*cents < 2*q1 - 3*(q3-q1)
                           OR 2*cents > 2*q3 + 3*(q3-q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM f JOIN q ON f.grp = q.grp
    GROUP BY 1""",
)
def outlier_iqr_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outliers per group: values outside
    [q1 − 1.5·IQR, q3 + 1.5·IQR] — the boxplot rule, completing the
    robust-outlier family (zscore = moment-based, MAD = median-based,
    IQR = quartile-based). Quartiles are percentile_disc rank selection
    (they RETURN data values); the 1.5 factor is cleared by doubling
    both sides, so the fence test is pure INTEGER comparison — no float
    enters the predicate at all.

    Scale: two rank-selection aggregations shuffled on the group key,
    4-row stats frame broadcast back over the scan, one counting
    rollup."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    q = ev.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)")
        .cast("long")
        .alias("q1"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY cents)")
        .cast("long")
        .alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    is_out = (2 * F.col("cents") < 2 * F.col("q1") - 3 * iqr) | (
        2 * F.col("cents") > 2 * F.col("q3") + 3 * iqr
    )
    return (
        ev.join(F.broadcast(q), "grp")
        .groupBy("grp")
        .agg(
            F.max("n_rows").alias("n_rows"),
            F.max("q1").alias("q1_cents"),
            F.max("q3").alias("q3_cents"),
            F.sum(F.when(is_out, 1).otherwise(0)).alias("n_outliers"),
        )
    )


_ACF_MAX_LAG = 7


@workload(
    "acf_daily_revenue",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value*100+0.5) AS BIGINT)) AS BIGINT)
                 AS x
        FROM events GROUP BY 1),
    ix AS (SELECT x,
                  CAST(date_diff('day', (SELECT MIN(day) FROM daily), day)
                       AS BIGINT) AS idx
           FROM daily),
    s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                 SUM(CAST(x AS HUGEINT)) AS sx,
                 SUM(CAST(x AS HUGEINT)*x) AS qx
          FROM ix),
    lags AS (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS lag),
    p AS (SELECT lag,
                 CAST(COUNT(*) AS HUGEINT) AS m,
                 SUM(CAST(h.x AS HUGEINT) * t.x) AS sxy,
                 SUM(CAST(h.x AS HUGEINT)) AS sh,
                 SUM(CAST(t.x AS HUGEINT)) AS st
          FROM lags JOIN ix h ON TRUE JOIN ix t ON t.idx = h.idx + lag
          GROUP BY 1)
    SELECT CAST(lag AS INTEGER) AS lag,
           CAST(m AS BIGINT) AS n_pairs,
           CAST(CAST(n*n*sxy - n*sx*(sh+st) + m*sx*sx AS VARCHAR)
                AS DOUBLE)
             / CAST(CAST(n*n*qx - n*sx*sx AS VARCHAR) AS DOUBLE) AS acf
    FROM p CROSS JOIN s""",
)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily revenue series at lags 1–7 —
    the seasonality/persistence diagnostic behind every forecasting
    model choice (a strong lag-7 spike = weekly cycle).

    Exactness: the ACF r_L = Σ(x_t−x̄)(x_{t+L}−x̄) / Σ(x_t−x̄)² over the
    MATCHED pairs (m = |pairs at lag L|; on a gap-free calendar
    m = N−L, and on a series with missing days the mean-cross term
    must use m — using N−L there would mix pair-restricted sums with a
    gap-free count) is cleared of the rational mean by multiplying
    through by N²:
    r_L = (N²·Σx_t x_{t+L} − N·S·(Σ_head+Σ_tail) + m·S²)
          / (N²·Q − N·S²) — every term an exact decimal integer, ONE
    final division (the FMA trap never arises: no double a·b−c·d).

    Scale: one fact aggregation to |days|; the lag self-join runs on
    the tiny daily frame (materialized once) against 7 literal lags."""
    d38 = "decimal(38,0)"
    daily = materialize(
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).alias("x")
        )
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    ix = materialize(daily.crossJoin(F.broadcast(d0)).select(
        "x", F.datediff(F.col("day"), F.col("d0")).cast("long").alias("idx")
    ))
    s = ix.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("x").cast(d38)).cast(d38).alias("sx"),
        F.sum((F.col("x").cast(d38) * F.col("x")).cast(d38))
        .cast(d38)
        .alias("qx"),
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    h = ix.crossJoin(F.broadcast(lags)).select(
        "lag", F.col("x").alias("xh"), (F.col("idx") + F.col("lag")).alias("tidx")
    )
    t = ix.select(F.col("idx").alias("tidx"), F.col("x").alias("xt"))
    p = h.join(t, "tidx").groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("xh").cast(d38) * F.col("xt")).cast(d38))
        .cast(d38)
        .alias("sxy"),
        F.sum(F.col("xh").cast(d38)).cast(d38).alias("sh"),
        F.sum(F.col("xt").cast(d38)).cast(d38).alias("st"),
    )
    n, sx, qx = F.col("n"), F.col("sx"), F.col("qx")
    num = (
        n * n * F.col("sxy")
        - n * sx * (F.col("sh") + F.col("st"))
        + F.col("n_pairs").cast(d38) * sx * sx
    ).cast(d38)
    den = (n * n * qx - n * sx * sx).cast(d38)
    return p.crossJoin(F.broadcast(s)).select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n_pairs"),
        (num.cast("double") / den.cast("double")).alias("acf"),
    )


@workload(
    "dow_seasonality_index",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value*100+0.5) AS BIGINT)) AS BIGINT)
                 AS x
        FROM events GROUP BY 1),
    d AS (SELECT CAST(isodow(day) AS INTEGER) AS dow,
                 CAST(COUNT(*) AS BIGINT) AS n_days,
                 CAST(SUM(x) AS BIGINT) AS total_cents
          FROM daily GROUP BY 1),
    s AS (SELECT CAST(SUM(n_days) AS HUGEINT) AS nd,
                 CAST(SUM(total_cents) AS HUGEINT) AS st FROM d)
    SELECT dow, n_days, total_cents,
           CAST(CAST(CAST(total_cents AS HUGEINT) * nd AS VARCHAR)
                AS DOUBLE)
             / CAST(CAST(CAST(n_days AS HUGEINT) * st AS VARCHAR)
                    AS DOUBLE) AS seasonality_index
    FROM d CROSS JOIN s""",
)
def dow_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index: average daily revenue per ISO
    weekday relative to the overall daily average (index > 1 = that
    weekday over-indexes) — the seasonal-naive baseline every forecast
    is judged against, and the multiplicative-decomposition seasonal
    component at weekly period.

    Exactness: index = (total_dow·D) / (days_dow·S) as one division of
    two exact decimal cross-products (never avg/avg of two rationals).
    ISO weekday shared exactly: Spark (dayofweek+5)%7+1 ≡ DuckDB
    isodow (Monday=1).

    Scale: one fact aggregation to |days|, a 7-row rollup, 1-row total
    broadcast back."""
    d38 = "decimal(38,0)"
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).alias("x")
        )
    )
    d = daily.groupBy(
        (((F.dayofweek("day") + 5) % 7) + 1).cast("int").alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").alias("total_cents"),
    )
    s = d.agg(
        F.sum("n_days").cast(d38).alias("nd"),
        F.sum("total_cents").cast(d38).alias("st"),
    )
    return d.crossJoin(F.broadcast(s)).select(
        "dow",
        "n_days",
        "total_cents",
        (
            (F.col("total_cents").cast(d38) * F.col("nd"))
            .cast(d38)
            .cast("double")
            / (F.col("n_days").cast(d38) * F.col("st"))
            .cast(d38)
            .cast("double")
        ).alias("seasonality_index"),
    )


# =========================================================================
# Round-9 additions: retail analytics family
# =========================================================================


@workload(
    "market_basket_substitutes",
    oracle=cooccur_ops.sql_substitute_pairs(
        "lineitem", "l_orderkey", "l_partkey", top_m=50
    ),
)
def market_basket_substitutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substitute detection — assoc_rules' mirror: pairs of FREQUENT
    parts that co-occur LESS than independence predicts (lift < 1,
    including never-co-bought pairs — the strongest substitution
    signal). Candidate space = the full cross of the top-50 most
    frequent parts, a LITERAL bound (the zero-co-occurrence pairs the
    observed-pair frame can never contain).

    Scale + exactness: see cooccur.substitute_pairs — one basket
    gather materialized once, top-m TakeOrdered with an item tie-break,
    per-basket pair fan-out bounded by C(50,2), integer
    cross-multiplied lift filter."""
    li = _t(spark, sf_dir, "lineitem")
    return cooccur_ops.substitute_pairs(
        li, "l_orderkey", "l_partkey", top_m=50
    )


_SLA_DAYS = 30


@workload(
    "fill_rate_sla_monthly",
    oracle=f"""
    WITH j AS (
        SELECT date_trunc('month', CAST(o.o_orderdate AS DATE)) AS month,
               CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                   CAST(l.l_shipdate AS DATE))
                         <= {_SLA_DAYS}
                    THEN 1 ELSE 0 END AS within
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
    SELECT month,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(within) AS BIGINT) AS n_within_sla,
           CAST(SUM(within) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS fill_rate
    FROM j GROUP BY 1""",
)
def fill_rate_sla_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-line fill rate against a 30-day ship SLA, per order month —
    the fulfillment-health KPI (share of lines shipped within SLA of
    order placement) every operations dashboard tracks.

    Exactness: the SLA test is an integer day-difference comparison;
    the rate is one division of exact counts.

    Scale: one fact⋈fact equi-join on the order key (orders projected
    to 2 columns), then one map-side-combinable month rollup."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.trunc(F.to_date("o_orderdate"), "month").alias("month"),
        F.when(
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
            <= _SLA_DAYS,
            1,
        )
        .otherwise(0)
        .alias("within"),
    )
    return j.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("within").alias("n_within_sla"),
        (
            F.sum("within").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("fill_rate"),
    )


@workload(
    "basket_size_revenue_bands",
    oracle="""
    WITH b AS (
        SELECT l_orderkey,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(FLOOR(l_extendedprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem GROUP BY 1)
    SELECT n_lines,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(CAST(SUM(CAST(cents AS HUGEINT)) AS VARCHAR) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_order_cents
    FROM b GROUP BY 1""",
)
def basket_size_revenue_bands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Basket-size distribution with revenue per band: how many orders
    have k lines and what they're worth — the order-economics readout
    behind free-shipping thresholds and bundle design (do bigger
    baskets pay?).

    Exactness: per-order cents are exact integer sums; the band average
    is ONE division of an exactly-converted decimal total by the exact
    count.

    Scale: one fact aggregation to |orders| (map-side combinable), one
    ~7-row band rollup."""
    d38 = "decimal(38,0)"
    b = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
            ).alias("cents"),
        )
    )
    return b.groupBy("n_lines").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("total_cents"),
        (
            F.sum(F.col("cents").cast(d38)).cast(d38).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_order_cents"),
    )


@workload(
    "repeat_purchase_rate_monthly",
    oracle="""
    WITH cm AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               o_custkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1, 2)
    SELECT month,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeat,
           CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS repeat_rate
    FROM cm GROUP BY 1""",
)
def repeat_purchase_rate_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Repeat-purchase rate per month: share of that month's active
    customers who ordered at least twice within the month — the
    within-period loyalty KPI (new_vs_returning tracks across-period
    acquisition; this tracks within-period repeat intensity).

    Scale: one two-key aggregation to |customer-months| (map-side
    combinable), one month rollup. Rates are single divisions of exact
    counts."""
    cm = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.trunc(F.to_date("o_orderdate"), "month").alias("month"),
            "o_custkey",
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    rep = F.when(F.col("n_orders") >= 2, 1).otherwise(0)
    return cm.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum(rep).alias("n_repeat"),
        (F.sum(rep).cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "repeat_rate"
        ),
    )


# Monthly-spend tier boundaries in cents (calibrated to the testdata's
# customer-month tertiles ~17.5M / ~34.4M) — shared verbatim with the
# oracle. Fixed literal bands, NOT per-month quantiles: tiers stay
# comparable across months and the tiering is a map-side expression (a
# per-month ntile would re-rank every customer every month).
_TIER_LOW_LT = 20_000_000
_TIER_MID_LT = 40_000_000


@workload(
    "customer_tier_migration",
    oracle=f"""
    WITH cm AS (
        SELECT o_custkey,
               date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               CAST(SUM(CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2),
    t AS (
        SELECT o_custkey, month,
               CASE WHEN cents < {_TIER_LOW_LT} THEN 'low'
                    WHEN cents < {_TIER_MID_LT} THEN 'mid'
                    ELSE 'high' END AS tier,
               lag(CASE WHEN cents < {_TIER_LOW_LT} THEN 'low'
                        WHEN cents < {_TIER_MID_LT} THEN 'mid'
                        ELSE 'high' END)
                 OVER (PARTITION BY o_custkey ORDER BY month) AS prev_tier
        FROM cm)
    SELECT prev_tier AS from_tier, tier AS to_tier,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM t WHERE prev_tier IS NOT NULL
    GROUP BY 1, 2""",
)
def customer_tier_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend-tier migration matrix: transitions between
    low/mid/high monthly-spend tiers across a customer's consecutive
    ACTIVE months (gaps allowed — the transition is month-over-active-
    month, documented) — the upgrade/downgrade flow behind retention
    economics.

    Tiers are FIXED literal cent bands (shared verbatim with the
    oracle), not per-month quantiles: map-side tiering, cross-month
    comparability, and no per-month global ranking.

    Scale: one aggregation to |customer-months|, ONE customer-keyed lag
    window, a 9-row matrix rollup."""
    from pyspark.sql import Window

    cm = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            "o_custkey",
            F.trunc(F.to_date("o_orderdate"), "month").alias("month"),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("cents")
        )
    )
    tier = (
        F.when(F.col("cents") < _TIER_LOW_LT, "low")
        .when(F.col("cents") < _TIER_MID_LT, "mid")
        .otherwise("high")
    )
    w = Window.partitionBy("o_custkey").orderBy("month")
    t = cm.select(
        "o_custkey", "month", tier.alias("tier")
    ).withColumn("prev_tier", F.lag("tier").over(w))
    return (
        t.filter(F.col("prev_tier").isNotNull())
        .groupBy(
            F.col("prev_tier").alias("from_tier"),
            F.col("tier").alias("to_tier"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@workload(
    "cart_abandonment_daily",
    oracle=f"""
    WITH s AS ({_SESSIONIZE_SQL}),
    e AS (SELECT s.user_id, s.session_id, s.ts, ev.event_type
          FROM s JOIN events ev ON s.event_id = ev.event_id),
    per AS (
        SELECT user_id, session_id,
               CAST(MIN(ts) AS DATE) AS day,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS has_click,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS has_purchase
        FROM e GROUP BY 1, 2)
    SELECT day,
           CAST(SUM(has_click) AS BIGINT) AS n_click_sessions,
           CAST(SUM(CASE WHEN has_click = 1 AND has_purchase = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_abandoned,
           CAST(SUM(CASE WHEN has_click = 1 AND has_purchase = 0
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(SUM(has_click) AS DOUBLE) AS abandonment_rate
    FROM per GROUP BY 1
    HAVING SUM(has_click) > 0""",
)
def cart_abandonment_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cart abandonment per day: share of sessions that clicked (intent)
    but never purchased, bucketed by the session's start day — the
    conversion-leak KPI the session-scoped funnel's drop-off explains.

    Composition: the shared sessionizer (temporal.session_scoped's
    underlying windows.sessionize), one per-session aggregation, one
    day rollup. Days with zero click sessions are excluded (rate is
    0/0 there) — HAVING on both engines.

    Scale: one user-keyed sessionizer window + one (user, session)
    aggregation (same key family, no new skew), then a |days| rollup.
    Shared core: temporal.abandonment_daily (also the declarable gold
    ``analysis: abandonment``)."""
    from metadata_driven_etl_spark.operators import temporal as temporal_ops

    ev = _t(spark, sf_dir, "events")
    return temporal_ops.abandonment_daily(
        ev, intent_type="click", convert_type="purchase", gap_seconds=1800
    ).withColumnsRenamed({"n_intent_sessions": "n_click_sessions"})


# =========================================================================
# Round-9 additions: text / graph / events / embeddings readouts
# =========================================================================


@workload(
    "text_hapax_ratio_by_source",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({text_ops.sql_tokens("text")}) AS tok
        FROM documents WHERE source IS NOT NULL),
    tc AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok GROUP BY 1, 2)
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS hapax,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS hapax_ratio,
           CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
             AS type_token_ratio
    FROM tc GROUP BY 1""",
)
def text_hapax_ratio_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lexical-richness profile per source: hapax-legomenon share of the
    vocabulary (terms occurring exactly once) and type/token ratio —
    the corpus-health signals behind tokenizer sizing and synthetic-text
    screening (machine-generated text skews hapax-poor; OCR noise
    skews hapax-rich).

    Scale: one shared-tokenizer explode (map-side), one (source, token)
    aggregation — the TF/DF shuffle shape — then a |sources| rollup.
    Ratios are single divisions of exact counts."""
    d = _docs(spark, sf_dir).filter(F.col("source").isNotNull())
    tc = (
        d.select("source", F.explode(text_ops.tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    hap = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return tc.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        hap.alias("hapax"),
        (hap.cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "hapax_ratio"
        ),
        (
            F.count(F.lit(1)).cast("double") / F.sum("c").cast("double")
        ).alias("type_token_ratio"),
    )


_COVERAGE_KS = (10, 100, 1000)


@workload(
    "token_coverage_topk",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({text_ops.sql_tokens("text")}) AS tok
        FROM documents),
    tc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok GROUP BY 1),
    r AS (SELECT c,
                 row_number() OVER (ORDER BY c DESC, tok) AS rnk
          FROM tc),
    s AS (SELECT CAST(SUM(c) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS vocab,
                 {", ".join(
                     "CAST(SUM(CASE WHEN rnk <= " + str(k)
                     + " THEN c ELSE 0 END) AS BIGINT) AS cov" + str(k)
                     for k in _COVERAGE_KS
                 )}
          FROM r)
    {" UNION ALL ".join(
        "SELECT " + str(k) + " AS k, cov" + str(k) + " AS covered_tokens, "
        "total AS total_tokens, vocab, "
        "CAST(cov" + str(k) + " AS DOUBLE) / CAST(total AS DOUBLE) "
        "AS coverage FROM s"
        for k in _COVERAGE_KS
    )}""",
)
def token_coverage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-token coverage curve: what share of all corpus tokens the
    top-10/100/1000 most frequent types cover — the Zipf-head readout
    behind vocabulary truncation and stopword-list sizing (a tokenizer
    whose top-1000 types cover 95% of tokens wastes its budget).

    Determinism: ranks are row_number over (count DESC, token ASC) — a
    total order shared verbatim, so ties at the k-th boundary resolve
    identically in both engines.

    Scale: one tokenizer explode + token aggregation (the TF/DF shape),
    then the global rank rides windows.distributed_rank (range
    exchange + broadcast per-partition offsets — VERDICT r11 item 2:
    the |vocab| frame is CORPUS-GROWING under Heaps' law, not a
    value-bounded domain, so a bare unpartitioned row_number would
    funnel 10^8-10^9 types through ONE task at web scale; ranks under
    the shared total order are identical, oracle hash unchanged), and
    a scalar rollup unpivoted into 3 literal rows."""
    d = _docs(spark, sf_dir)
    tc = (
        d.select(F.explode(text_ops.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    r = window_ops.distributed_rank(
        tc, [F.desc("c"), F.asc("tok")], "rnk"
    ).select("c", "rnk")
    aggs = [
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("vocab"),
    ] + [
        F.sum(F.when(F.col("rnk") <= k, F.col("c")).otherwise(0)).alias(
            f"cov{k}"
        )
        for k in _COVERAGE_KS
    ]
    s = materialize(r.agg(*aggs))
    out = None
    for k in _COVERAGE_KS:
        part = s.select(
            F.lit(k).cast("int").alias("k"),
            F.col(f"cov{k}").alias("covered_tokens"),
            F.col("total").alias("total_tokens"),
            "vocab",
            (
                F.col(f"cov{k}").cast("double")
                / F.col("total").cast("double")
            ).alias("coverage"),
        )
        out = part if out is None else out.unionByName(part)
    return out


@workload(
    "graph_degree_histogram",
    oracle=f"""
    WITH e AS ({_COPURCHASE_EDGES_SQL}),
    nodes AS (SELECT src AS node FROM e
              UNION ALL SELECT dst FROM e),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
            FROM nodes GROUP BY 1)
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY 1""",
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph — the first plot of
    any graph analysis (power-law vs bounded degree decides which hub
    caps and join strategies the heavier operators need; the repo's
    deg≤256 contracts are calibrated from exactly this readout).

    Scale: edges are the capped basket-pair frame; degrees are one
    count over the endpoint list (2|E| rows, map-side combinable), the
    histogram one more tiny rollup. Endpoints come from ONE explode of
    [src, dst] per edge row — the earlier unionAll of two selects made
    Spark execute the whole edge subtree (basket gather + pair
    aggregation, 2 shuffles) once per branch (r12 plan: 12 Exchanges →
    5); an explode is the same multiset in a single pass."""
    e = _copurchase_edges(spark, sf_dir)
    nodes = e.select(
        F.explode(F.array(F.col("src"), F.col("dst"))).alias("node")
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@workload(
    "sessions_concurrent_peak_daily",
    oracle=f"""
    WITH s AS ({_SESSIONIZE_SQL}),
    per AS (SELECT user_id, session_id,
                   MIN(ts) AS start_ts, MAX(ts) AS end_ts
            FROM s GROUP BY 1, 2),
    ep AS (SELECT CAST(start_ts AS DATE) AS day, start_ts AS ts,
                  1 AS delta, user_id, session_id FROM per
           UNION ALL
           SELECT CAST(start_ts AS DATE), end_ts, -1, user_id, session_id
           FROM per),
    run AS (SELECT day,
                   SUM(delta) OVER (PARTITION BY day
                                    ORDER BY ts, delta DESC,
                                             user_id, session_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS conc
            FROM ep)
    SELECT day, CAST(MAX(conc) AS BIGINT) AS peak_concurrent
    FROM run GROUP BY 1""",
)
def sessions_concurrent_peak_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Peak concurrent sessions per day — the capacity-planning number
    (how many sessions overlap at the busiest instant): the classic
    +1/−1 endpoint sweep over session intervals. Convention: at equal
    timestamps starts sort BEFORE ends (touching sessions count as
    concurrent) and a session is attributed to its start day; the
    sweep order (ts, delta DESC, user, session) is a shared total
    order, so the running sum is engine-identical.

    Scale: the sessionizer's user window + one (user, session)
    aggregation, then a per-DAY partitioned sweep window (2 endpoint
    rows per session; day partitions grow with time, never with
    corpus-per-day beyond session count). Shared core:
    temporal.concurrent_session_peaks (also the probe's shape — one
    implementation)."""
    from metadata_driven_etl_spark.operators import temporal as temporal_ops

    ev = _t(spark, sf_dir, "events")
    return temporal_ops.concurrent_session_peaks(ev, gap_seconds=1800)


@workload(
    "doc_length_deciles_by_source",
    oracle="""
    WITH d AS (
        SELECT source, n_chars,
               ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
        FROM documents)
    SELECT source, CAST(decile AS INTEGER) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM d GROUP BY 1, 2""",
)
def doc_length_deciles_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus-mix by length decile: GLOBAL document-length deciles
    crossed with source — which sources dominate the short and long
    tails (the pre-training length-bucketing readout: packing
    efficiency and truncation loss both hinge on it).

    The global decile cut rides windows.distributed_ntile (range
    shuffle + broadcast offsets — never a single-partition ntile
    window; fourth consumer after rfm / decile_lift / equi-depth
    histogram), tie-broken by doc_id for a total order."""
    from metadata_driven_etl_spark.operators.windows import (
        distributed_ntile,
    )

    d = _docs(spark, sf_dir).select("source", "n_chars", "doc_id")
    cut = distributed_ntile(
        d, 10, [F.col("n_chars").asc(), F.col("doc_id").asc()], "decile"
    )
    return cut.groupBy("source", "decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@workload(
    "ab_test_proportions_ztest",
    oracle="""
    WITH u AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(user_id % 2 AS INTEGER) AS variant,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS converted
        FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2, 3),
    v AS (SELECT
            CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_0,
            CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_1,
            CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END)
                 AS BIGINT) AS conv_0,
            CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END)
                 AS BIGINT) AS conv_1
          FROM u)
    SELECT n_0, n_1, conv_0, conv_1,
           -- guards (r12 degenerate sweep): z is undefined with an
           -- empty arm or an all-0/all-1 pooled rate
           CASE WHEN n_0 > 0 AND n_1 > 0
                 AND conv_0 + conv_1 > 0
                 AND conv_0 + conv_1 < n_0 + n_1 THEN
             (CAST(conv_0 AS DOUBLE) / CAST(n_0 AS DOUBLE)
              - CAST(conv_1 AS DOUBLE) / CAST(n_1 AS DOUBLE))
             / sqrt(
                 (CAST(conv_0 + conv_1 AS DOUBLE)
                  / CAST(n_0 + n_1 AS DOUBLE))
                 * (1.0 - CAST(conv_0 + conv_1 AS DOUBLE)
                          / CAST(n_0 + n_1 AS DOUBLE))
                 * (1.0 / CAST(n_0 AS DOUBLE) + 1.0 / CAST(n_1 AS DOUBLE)))
           END AS z_stat
    FROM v""",
)
def ab_test_proportions_ztest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-proportion z-test on daily conversion (a user-day with ≥1
    purchase) between hash variants — the A/B readout for binary
    outcomes (CUPED covers continuous spend; SRM guards the assignment
    itself). Units are user-DAYS: randomization stays at the user, the
    outcome is measured per active day (the per-user outcome is
    degenerate here — every user eventually purchases — and the
    user-day grain is the standard daily-conversion practice; the
    pseudo-replication caveat is the analyst's, documented). Pooled-
    variance form: z = (p₀−p₁) / √(p̂(1−p̂)(1/n₀+1/n₁)).

    Hash-exact: all counts integer; z is ONE fixed chain of correctly-
    rounded double ops over exact-cast counts, written identically in
    both engines (the chisq/OLS discipline).

    Scale: one user-day aggregation (map-side combinable), one 1-row
    conditional rollup — the unit-level frame never leaves the
    cluster."""
    u = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy(
            "user_id",
            F.to_date("ts").alias("day"),
            (F.col("user_id") % 2).cast("int").alias("variant"),
        )
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted")
        )
    )
    v = u.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_1"),
        F.sum(
            F.when(F.col("variant") == 0, F.col("converted")).otherwise(0)
        ).alias("conv_0"),
        F.sum(
            F.when(F.col("variant") == 1, F.col("converted")).otherwise(0)
        ).alias("conv_1"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    p0 = dbl("conv_0") / dbl("n_0")
    p1 = dbl("conv_1") / dbl("n_1")
    pooled = (F.col("conv_0") + F.col("conv_1")).cast("double") / (
        F.col("n_0") + F.col("n_1")
    ).cast("double")
    z = (p0 - p1) / F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (F.lit(1.0) / dbl("n_0") + F.lit(1.0) / dbl("n_1"))
    )
    # guards (r12 degenerate sweep): empty arm / all-0 / all-1 rate
    conv = F.col("conv_0") + F.col("conv_1")
    z = F.when(
        (F.col("n_0") > 0)
        & (F.col("n_1") > 0)
        & (conv > 0)
        & (conv < F.col("n_0") + F.col("n_1")),
        z,
    )
    return v.select("n_0", "n_1", "conv_0", "conv_1", z.alias("z_stat"))


@workload(
    "churn_monthly_active",
    oracle="""
    WITH um AS (
        SELECT DISTINCT o_custkey AS user_id,
               date_trunc('month', CAST(o_orderdate AS DATE)) AS month
        FROM orders),
    nx AS (SELECT user_id, month,
                  lead(month) OVER (PARTITION BY user_id ORDER BY month)
                    AS next_month
           FROM um),
    mx AS (SELECT MAX(month) AS last_month FROM um)
    SELECT month,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(SUM(CASE WHEN next_month IS NULL
                           OR next_month > month + INTERVAL 1 MONTH
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
           CAST(SUM(CASE WHEN next_month IS NULL
                           OR next_month > month + INTERVAL 1 MONTH
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS churn_rate
    FROM nx CROSS JOIN mx
    WHERE month < last_month
    GROUP BY 1""",
)
def churn_monthly_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly churn: share of month-m purchase-active customers NOT
    active in month m+1 (next-month retention's complement) — the
    top-line retention KPI. Runs on the orders fact (80 observed
    months; the events table spans a single month, which would leave
    the readout vacuous after censoring). The final observed month is
    censored (its churn is unknowable) and excluded on both engines.

    Scale: dedup to |customer-months| first (the WAU discipline), ONE
    customer-keyed lead window, a |months| rollup with the 1-row
    max-month bound broadcast in."""
    from pyspark.sql import Window

    um = materialize(
        _t(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("user_id"),
            F.trunc(F.to_date("o_orderdate"), "month").alias("month"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("month")
    nx = um.withColumn("next_month", F.lead("month").over(w))
    mx = um.agg(F.max("month").alias("last_month"))
    churned = F.when(
        F.col("next_month").isNull()
        | (F.col("next_month") > F.add_months(F.col("month"), 1)),
        1,
    ).otherwise(0)
    return (
        nx.crossJoin(F.broadcast(mx))
        .filter(F.col("month") < F.col("last_month"))
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(churned).alias("n_churned"),
            (
                F.sum(churned).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("churn_rate"),
        )
    )


@workload(
    "embedding_dim_range_by_label",
    oracle="""
    WITH x AS (
        SELECT label, unnest(embedding) AS v,
               unnest(generate_series(1, len(embedding))) AS dim
        FROM embeddings)
    SELECT label, CAST(dim AS INTEGER) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(v) AS DOUBLE) AS min_val,
           CAST(MAX(v) AS DOUBLE) AS max_val
    FROM x GROUP BY 1, 2""",
)
def embedding_dim_range_by_label(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-dimension value ranges per label — the quantizer-calibration
    profile (int8 quantization picks scales from exactly these min/max
    envelopes; a dimension whose range collapses per label is a
    label-leaking feature). min/max of floats involve NO arithmetic, so
    parity is representation-exact without any decimal machinery — but
    BOTH sides must widen the float32 picks to double: the r10 red
    driver row (CORRECTNESS_r10, the only one in five rounds) was this
    oracle leaving MIN/MAX as FLOAT while Spark cast to double; the
    driver's pandas canonicalizer keeps float32, whose repr differs
    from the widened double even though every value is identical
    (float→double widening is exact, so the CAST itself is lossless).
    tests/oracle_check.py now rejects FLOAT-typed oracle columns
    outright — the class, not just this instance.

    Scale: one posexplode (64× map-side, same expansion class as the
    stickiness coverage explode) into a (label, dim) aggregation with
    constant state."""
    e = _emb(spark, sf_dir)
    x = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select("label", (F.col("pos") + 1).cast("int").alias("dim"), "v")
    return x.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("v").cast("double").alias("min_val"),
        F.max("v").cast("double").alias("max_val"),
    )


@workload(
    "lorenz_deciles_revenue",
    oracle="""
    WITH r AS (SELECT o_custkey,
                      CAST(SUM(CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT))
                           AS BIGINT) AS cents
               FROM orders GROUP BY 1),
    d AS (SELECT cents,
                 ntile(10) OVER (ORDER BY cents, o_custkey) AS decile
          FROM r),
    g AS (SELECT CAST(decile AS INTEGER) AS decile,
                 CAST(COUNT(*) AS BIGINT) AS n_customers,
                 CAST(SUM(cents) AS BIGINT) AS decile_cents
          FROM d GROUP BY 1),
    s AS (SELECT CAST(SUM(decile_cents) AS HUGEINT) AS tot FROM g)
    SELECT decile, n_customers, decile_cents,
           CAST(CAST(CAST(SUM(decile_cents)
                          OVER (ORDER BY decile) AS HUGEINT) AS VARCHAR)
                AS DOUBLE)
             / CAST(CAST(tot AS VARCHAR) AS DOUBLE) AS cum_share
    FROM g CROSS JOIN s""",
)
def lorenz_deciles_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at decile resolution: customers sorted by revenue,
    cut into GLOBAL deciles, with each decile's revenue and the
    cumulative share — the curve whose area deficit the Gini scalar
    (gini_concentration_revenue) summarizes; "the bottom 50% of
    customers hold X% of revenue".

    The global cut rides windows.distributed_ntile (tie-broken by
    custkey); the cumulative share is an exact-integer prefix sum over
    the 10-row decile frame divided once by the exactly-converted
    total.

    Scale: one fact aggregation to |customers|, the range-shuffle
    ntile, a 10-row rollup + 10-row window."""
    from pyspark.sql import Window

    from metadata_driven_etl_spark.operators.windows import (
        distributed_ntile,
    )

    d38 = "decimal(38,0)"
    r = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("cents")
        )
    )
    cut = distributed_ntile(
        r, 10, [F.col("cents").asc(), F.col("o_custkey").asc()], "decile"
    )
    g = cut.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("decile_cents"),
    )
    s = g.agg(F.sum(F.col("decile_cents").cast(d38)).cast(d38).alias("tot"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return g.crossJoin(F.broadcast(s)).select(
        "decile",
        "n_customers",
        "decile_cents",
        (
            F.sum(F.col("decile_cents").cast(d38))
            .over(w)
            .cast(d38)
            .cast("double")
            / F.col("tot").cast("double")
        ).alias("cum_share"),
    )


@workload(
    "aov_trend_monthly",
    oracle="""
    WITH m AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders GROUP BY 1),
    t AS (SELECT month, n_orders, total_cents,
                 CAST(CAST(CAST(total_cents AS HUGEINT) AS VARCHAR)
                      AS DOUBLE) / CAST(n_orders AS DOUBLE) AS aov_cents,
                 lag(total_cents) OVER (ORDER BY month) AS prev_cents,
                 lag(n_orders) OVER (ORDER BY month) AS prev_orders
          FROM m)
    SELECT month, n_orders, total_cents, aov_cents,
           CASE WHEN prev_cents IS NULL THEN NULL
                ELSE CAST(CAST(CAST(total_cents AS HUGEINT) * prev_orders
                               AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(CAST(prev_cents AS HUGEINT) * n_orders
                                 AS VARCHAR) AS DOUBLE) - 1.0
           END AS aov_mom_delta
    FROM t""",
)
def aov_trend_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average order value per month with the month-over-month delta —
    the pricing/mix-shift trend line. The MoM ratio is computed as ONE
    division of two exact integer cross-products
    (aov_m/aov_{m−1} = total_m·n_{m−1} / (total_{m−1}·n_m)) minus 1 —
    never a ratio of two already-rounded doubles.

    Scale: one month aggregation (map-side combinable) to the |months|
    frame; the lag window runs over ~80 rows."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    m = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.trunc(F.to_date("o_orderdate"), "month").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("total_cents"),
        )
    )
    w = Window.orderBy("month")
    t = m.select(
        "month",
        "n_orders",
        "total_cents",
        (
            F.col("total_cents").cast(d38).cast("double")
            / F.col("n_orders").cast("double")
        ).alias("aov_cents"),
        F.lag("total_cents").over(w).alias("prev_cents"),
        F.lag("n_orders").over(w).alias("prev_orders"),
    )
    mom = (
        (F.col("total_cents").cast(d38) * F.col("prev_orders"))
        .cast(d38)
        .cast("double")
        / (F.col("prev_cents").cast(d38) * F.col("n_orders"))
        .cast(d38)
        .cast("double")
        - 1.0
    )
    return t.select(
        "month",
        "n_orders",
        "total_cents",
        "aov_cents",
        F.when(F.col("prev_cents").isNull(), F.lit(None).cast("double"))
        .otherwise(mom)
        .alias("aov_mom_delta"),
    )


@workload(
    "interarrival_burstiness",
    oracle="""
    WITH g AS (
        SELECT event_type, ts, event_id,
               lag(ts) OVER (PARTITION BY event_type
                             ORDER BY ts, event_id) AS prev_ts
        FROM events),
    d AS (SELECT event_type,
                 CAST(epoch_us(ts) - epoch_us(prev_ts) AS BIGINT) AS gap
          FROM g WHERE prev_ts IS NOT NULL),
    s AS (SELECT event_type,
                 CAST(COUNT(*) AS HUGEINT) AS n,
                 SUM(CAST(gap AS HUGEINT)) AS sg,
                 SUM(CAST(gap AS HUGEINT) * gap) AS qg
          FROM d GROUP BY 1)
    SELECT event_type,
           CAST(n AS BIGINT) AS n_gaps,
           (sqrt(CAST(CAST(n*qg - sg*sg AS VARCHAR) AS DOUBLE))
            - CAST(CAST(sg AS VARCHAR) AS DOUBLE))
           / (sqrt(CAST(CAST(n*qg - sg*sg AS VARCHAR) AS DOUBLE))
              + CAST(CAST(sg AS VARCHAR) AS DOUBLE)) AS burstiness
    FROM s""",
)
def interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh–Barabási burstiness of event interarrival times per type:
    B = (σ−μ)/(σ+μ) ∈ (−1, 1) — B≈0 is Poisson traffic, B→1 is bursty
    (retry storms, bot scrapes), B→−1 is metronomic (cron) — the
    traffic-shape fingerprint behind anomaly baselining and capacity
    headroom.

    Hash-exact: gaps are integer microseconds; with population σ² =
    (n·Q−S²)/n², B simplifies to (√(nQ−S²) − S)/(√(nQ−S²) + S) — the
    n's cancel, so numerator and denominator use ONE exactly-computed
    decimal radicand and sum, and B is a fixed chain of three
    correctly-rounded double ops.

    Scale: one event_type-keyed lag window (the transition-matrix
    shuffle), one map-side-combinable moment aggregation."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            (
                F.unix_micros(F.col("ts"))
                - F.unix_micros(F.lag("ts").over(w))
            ).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    s = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("gap").cast(d38)).cast(d38).alias("sg"),
        F.sum((F.col("gap").cast(d38) * F.col("gap")).cast(d38))
        .cast(d38)
        .alias("qg"),
    )
    rad = (F.col("n") * F.col("qg") - F.col("sg") * F.col("sg")).cast(d38)
    sd = F.sqrt(rad.cast("double"))
    sg = F.col("sg").cast("double")
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_gaps"),
        ((sd - sg) / (sd + sg)).alias("burstiness"),
    )


# TPC-H priority literals, shared verbatim with the oracle (the ANOVA
# literal-pivot discipline: a float SUM over cell rows would be
# data-order-dependent, so the chi² total is a fixed-order scalar sum).
_PRIORITIES = (
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
)


@workload(
    "mix_drift_monthly_chi2",
    oracle=f"""
    WITH c AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               o_orderpriority AS p,
               CAST(COUNT(*) AS BIGINT) AS obs
        FROM orders GROUP BY 1, 2),
    m AS (SELECT month, CAST(SUM(obs) AS BIGINT) AS n_m,
                 {", ".join(
                     "CAST(COALESCE(MAX(CASE WHEN p = '" + p + "' "
                     "THEN obs END), 0) AS BIGINT) AS o" + str(i)
                     for i, p in enumerate(_PRIORITIES)
                 )}
          FROM c GROUP BY 1),
    g AS (SELECT CAST(SUM(n_m) AS BIGINT) AS n,
                 {", ".join(
                     "CAST(SUM(o" + str(i) + ") AS BIGINT) AS g" + str(i)
                     for i in range(len(_PRIORITIES))
                 )}
          FROM m)
    SELECT month, n_m,
           {" + ".join(
               "(CASE WHEN g" + str(i) + " > 0 THEN "
               "(CAST(o" + str(i) + " AS DOUBLE) - CAST(n_m AS DOUBLE)"
               " * CAST(g" + str(i) + " AS DOUBLE) / CAST(n AS DOUBLE))"
               " * (CAST(o" + str(i) + " AS DOUBLE)"
               " - CAST(n_m AS DOUBLE) * CAST(g" + str(i) + " AS DOUBLE)"
               " / CAST(n AS DOUBLE))"
               " / (CAST(n_m AS DOUBLE) * CAST(g" + str(i) + " AS DOUBLE)"
               " / CAST(n AS DOUBLE)) ELSE 0.0 END)"
               for i in range(len(_PRIORITIES))
           )} AS chi2
    FROM m CROSS JOIN g""",
)
def mix_drift_monthly_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category-mix drift per month: chi² distance of each month's
    order-priority distribution from the all-time mix — the
    mix-shift monitor (a month whose chi² spikes changed composition,
    not just volume; the SRM guardrail's time-series sibling).

    Hash-exact: cell counts pivot into FIVE literal columns (the ANOVA
    fixed-order discipline); each per-cell term and the left-associated
    5-term sum are fixed chains of correctly-rounded double ops over
    exact counts.

    Scale: one (month, priority) aggregation (map-side combinable), a
    |months|-row pivot, 1-row global mix broadcast back."""
    c = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.trunc(F.to_date("o_orderdate"), "month").alias("month"),
            F.col("o_orderpriority").alias("p"),
        )
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    m = c.groupBy("month").agg(
        F.sum("obs").alias("n_m"),
        *[
            F.coalesce(
                F.max(F.when(F.col("p") == p, F.col("obs"))), F.lit(0)
            ).alias(f"o{i}")
            for i, p in enumerate(_PRIORITIES)
        ],
    )
    g = m.agg(
        F.sum("n_m").alias("n"),
        *[
            F.sum(f"o{i}").alias(f"g{i}")
            for i in range(len(_PRIORITIES))
        ],
    )
    j = m.crossJoin(F.broadcast(g))
    dbl = lambda c_: F.col(c_).cast("double")  # noqa: E731
    chi2 = None
    for i in range(len(_PRIORITIES)):
        exp = dbl("n_m") * dbl(f"g{i}") / dbl("n")
        # guard (r12 degenerate sweep): a category with zero GLOBAL
        # mass has no expectation — it contributes 0, not a /0 error
        term = F.when(
            F.col(f"g{i}") > 0,
            (dbl(f"o{i}") - exp) * (dbl(f"o{i}") - exp) / exp,
        ).otherwise(F.lit(0.0))
        chi2 = term if chi2 is None else chi2 + term
    return j.select("month", "n_m", chi2.alias("chi2"))


@workload(
    "trailing_7d_purchase_rate",
    oracle="""
    WITH ud AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS actives,
               CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                        THEN user_id END) AS BIGINT)
                 AS purchasers
        FROM events GROUP BY 1),
    w AS (SELECT day,
                 SUM(actives) OVER (ORDER BY day
                                    ROWS BETWEEN 6 PRECEDING
                                    AND CURRENT ROW) AS a7,
                 SUM(purchasers) OVER (ORDER BY day
                                       ROWS BETWEEN 6 PRECEDING
                                       AND CURRENT ROW) AS p7
          FROM ud)
    SELECT day, CAST(a7 AS BIGINT) AS active_user_days_7d,
           CAST(p7 AS BIGINT) AS purchase_user_days_7d,
           CAST(p7 AS DOUBLE) / CAST(a7 AS DOUBLE) AS purchase_rate_7d
    FROM w""",
)
def trailing_7d_purchase_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trailing-7-day purchase rate per day: purchase user-days over
    active user-days in the window — the smoothed conversion trend
    line (daily rates are too noisy; the 7-day ratio is what the
    dashboard plots). Units are USER-DAYS on both sides (trailing
    distinct users would need the coverage explode — that is the
    `rolling_active_users`/`dau_mau_stickiness` identity; this is the
    summable-ratio sibling).

    Scale: one day aggregation over the fact (distinct-state per day),
    then a ROWS window over the tiny |days| domain frame; the rate is
    one division of exact counts."""
    from pyspark.sql import Window

    ud = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.countDistinct("user_id").alias("actives"),
            F.countDistinct(
                F.when(F.col("event_type") == "purchase", F.col("user_id"))
            ).alias("purchasers"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    t = ud.select(
        "day",
        F.sum("actives").over(w).alias("a7"),
        F.sum("purchasers").over(w).alias("p7"),
    )
    return t.select(
        "day",
        F.col("a7").alias("active_user_days_7d"),
        F.col("p7").alias("purchase_user_days_7d"),
        (F.col("p7").cast("double") / F.col("a7").cast("double")).alias(
            "purchase_rate_7d"
        ),
    )


@workload(
    "graph_clustering_coefficient",
    oracle=(
        "WITH e AS (" + _COPURCHASE_EDGES_SQL + "),\n"
        "tri AS ("
        + graph_ops.sql_triangle_counts(_COPURCHASE_EDGES_SQL)
        + "),\n"
        """t AS (SELECT CAST(COALESCE(SUM(n_triangles), 0) AS HUGEINT)
                 AS n_tri FROM tri),
    nodes AS (SELECT src AS node FROM e UNION ALL SELECT dst FROM e),
    deg AS (SELECT node, CAST(COUNT(*) AS HUGEINT) AS d
            FROM nodes GROUP BY 1),
    w AS (SELECT CAST(SUM(d*(d-1)//2) AS HUGEINT) AS n_wedges FROM deg)
    SELECT CAST(n_tri AS BIGINT) AS n_triangles,
           CAST(n_wedges AS BIGINT) AS n_wedges,
           CAST(CAST(3*n_tri AS VARCHAR) AS DOUBLE)
             / CAST(CAST(n_wedges AS VARCHAR) AS DOUBLE)
             AS global_clustering
    FROM t CROSS JOIN w"""
    ),
)
def graph_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Global clustering coefficient of the co-purchase graph:
    C = 3·#triangles / #wedges (transitivity) — the one-number
    community-structure summary (how often "bought with both" closes
    into "bought together"), riding the existing degree-oriented
    triangle operator plus an exact wedge count Σ d(d−1)/2.

    Scale: triangle_counts' bounded wedge join (see its docstring) +
    one degree aggregation over 2|E| endpoint rows; C is ONE division
    of exactly-converted decimals."""
    d38 = "decimal(38,0)"
    e = materialize(_copurchase_edges(spark, sf_dir))
    tri = graph_ops.triangle_counts(e).agg(
        F.coalesce(F.sum("n_triangles"), F.lit(0)).cast(d38).alias("n_tri")
    )
    nodes = e.select(F.col("src").alias("node")).unionAll(
        e.select(F.col("dst").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    wedges = deg.agg(
        F.sum(
            (F.col("d").cast(d38) * (F.col("d") - 1)).cast(d38) / 2
        )
        .cast(d38)
        .alias("n_wedges")
    )
    return tri.crossJoin(F.broadcast(wedges)).select(
        F.col("n_tri").cast("long").alias("n_triangles"),
        F.col("n_wedges").cast("long").alias("n_wedges"),
        (
            (3 * F.col("n_tri")).cast(d38).cast("double")
            / F.col("n_wedges").cast("double")
        ).alias("global_clustering"),
    )


@workload(
    "text_numeric_density_by_source",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({text_ops.sql_tokens("text")}) AS tok
        FROM documents WHERE source IS NOT NULL)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN regexp_full_match(tok, '[0-9]+')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_numeric,
           CAST(SUM(CASE WHEN regexp_full_match(tok, '[0-9]+')
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS numeric_ratio
    FROM tok GROUP BY 1""",
)
def text_numeric_density_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Numeric-token density per source — the table/boilerplate/OCR
    screen quality filters key on (a source whose token stream is
    one-third digits is logs or tables, not prose; C4 drops such
    lines). Complements the stopword/punctuation features in
    quality_features with the numeric axis.

    Scale: one shared-tokenizer explode + one source rollup; the digit
    test is a full-match regex on the already-materialized token (both
    engines anchor: rlike '^[0-9]+$' ≡ regexp_full_match '[0-9]+')."""
    d = _docs(spark, sf_dir).filter(F.col("source").isNotNull())
    tok = d.select(
        "source", F.explode(text_ops.tokens("text")).alias("tok")
    )
    is_num = F.when(F.col("tok").rlike("^[0-9]+$"), 1).otherwise(0)
    return tok.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(is_num).alias("n_numeric"),
        (
            F.sum(is_num).cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("numeric_ratio"),
    )


@workload(
    "token_fertility_by_lang",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM({text_ops.sql_token_count("text")}) AS BIGINT)
             AS total_words,
           CAST(SUM({text_ops.sql_bpe_ish_token_count("text")}) AS BIGINT)
             AS total_pieces,
           CAST(SUM({text_ops.sql_bpe_ish_token_count("text")}) AS DOUBLE)
             / CAST(SUM({text_ops.sql_token_count("text")}) AS DOUBLE)
             AS fertility
    FROM documents WHERE lang IS NOT NULL
    GROUP BY 1""",
)
def token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish pieces per whitespace
    word — the tokenizer-efficiency metric multilingual-corpus work
    tracks (a language whose fertility is 2× pays 2× the context
    budget per word; vocab allocation follows this readout).

    Scale: two map-side regex counters (the shared word and BPE-ish
    piece counters) over the scan, one |langs| rollup; fertility is ONE
    division of exact totals."""
    d = _docs(spark, sf_dir).filter(F.col("lang").isNotNull())
    c = d.select(
        "lang",
        text_ops.token_count("text").alias("w"),
        text_ops.bpe_ish_token_count("text").alias("p"),
    )
    return c.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("total_words"),
        F.sum("p").alias("total_pieces"),
        (F.sum("p").cast("double") / F.sum("w").cast("double")).alias(
            "fertility"
        ),
    )


@workload(
    "dedup_cross_source_matrix",
    oracle=f"""
    WITH h AS (SELECT md5(array_to_string(
                           {text_ops.sql_tokens("text")}[1:16], ' '))
                 AS fp, source
               FROM documents
               WHERE text IS NOT NULL AND source IS NOT NULL),
    c AS (SELECT fp, source, CAST(COUNT(*) AS BIGINT) AS n
          FROM h GROUP BY 1, 2),
    dup AS (SELECT fp FROM c GROUP BY 1 HAVING SUM(n) > 1),
    k AS (SELECT c.* FROM c JOIN dup USING (fp)),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(SUM(a.n * b.n) AS BIGINT) AS n_pairs
        FROM k a JOIN k b ON a.fp = b.fp AND a.source < b.source
        GROUP BY 1, 2
        UNION ALL
        SELECT source, source,
               CAST(SUM(CAST(n AS HUGEINT)*(n-1)//2) AS BIGINT)
        FROM k WHERE n > 1 GROUP BY 1, 2)
    SELECT source_a, source_b,
           CAST(SUM(n_pairs) AS BIGINT) AS n_dup_pairs
    FROM pairs GROUP BY 1, 2""",
)
def dedup_cross_source_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-flow matrix between sources: for every source pair
    (and each source with itself), how many document pairs share the
    same 16-token OPENING fingerprint — WHO copies WHOM (syndication
    rings, mirror crawls, shared boilerplate templates), the dedup
    observability readout that decides which source loses the
    keep-best tiebreak. The prefix fingerprint is the template
    detector (this corpus has no byte-identical documents — the
    whole-text md5 variant is a WHERE-clause swap).

    Scale: fingerprints aggregate to the |cluster × source| frame
    FIRST (the fact never self-joins); the pair join runs on that
    metadata-sized frame keyed by fingerprint, restricted to clusters
    with >1 doc. Counts are exact products n_a·n_b / C(n,2).

    Cites reference dq_engine.py's duplicate counting (rows only) —
    this is the cross-container generalization. Shared core:
    dedup.dup_flow_matrix (also the probe's shape — one
    implementation)."""
    d = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull() & F.col("source").isNotNull())
        .select(
            F.md5(
                F.concat_ws(
                    " ", F.slice(text_ops.tokens("text"), 1, 16)
                )
            ).alias("fp"),
            "source",
        )
    )
    return dedup_ops.dup_flow_matrix(d, "fp", "source")


_PACK_SEQ_LEN = 256


@workload(
    "pack_efficiency_by_source",
    oracle=f"""
    WITH d AS (
        SELECT source,
               {text_ops.sql_token_count("text")} AS tok
        FROM documents WHERE source IS NOT NULL),
    c AS (SELECT source, tok,
                 CAST(ceil(tok / {_PACK_SEQ_LEN}.0) AS BIGINT) AS chunks
          FROM d)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS total_tokens,
           CAST(SUM(chunks) * {_PACK_SEQ_LEN} AS BIGINT) AS total_slots,
           CAST(SUM(tok) AS DOUBLE)
             / CAST(SUM(chunks) * {_PACK_SEQ_LEN} AS DOUBLE)
             AS utilization
    FROM c GROUP BY 1""",
)
def pack_efficiency_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sequence-packing efficiency per source at a 256-token window:
    tokens used over slots allocated when each document is chunked to
    ceil(tokens/256) windows — the padding-waste readout behind
    pack_sequences / text_chunk_windows sizing (a source of short docs
    at 30% utilization wastes 70% of its compute unless packed
    cross-doc).

    Exactness: 256 is a power of two, so tok/256 is an EXACT binary
    division and ceil is exact; all totals integer, utilization one
    division.

    Scale: one map-side token count + ceil, one |sources| rollup."""
    d = _docs(spark, sf_dir).filter(F.col("source").isNotNull())
    c = d.select(
        "source",
        text_ops.token_count("text").alias("tok"),
    ).select(
        "source",
        "tok",
        F.ceil(F.col("tok") / _PACK_SEQ_LEN).cast("long").alias("chunks"),
    )
    return c.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").alias("total_tokens"),
        (F.sum("chunks") * _PACK_SEQ_LEN).alias("total_slots"),
        (
            F.sum("tok").cast("double")
            / (F.sum("chunks") * _PACK_SEQ_LEN).cast("double")
        ).alias("utilization"),
    )


@workload(
    "events_before_first_purchase",
    oracle="""
    WITH w AS (
        SELECT user_id, ts, event_id, event_type,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                 OVER (PARTITION BY user_id) AS fp_ts
        FROM events WHERE user_id IS NOT NULL),
    f AS (SELECT w.*,
                 MIN(CASE WHEN event_type = 'purchase' AND ts = fp_ts
                          THEN event_id END)
                   OVER (PARTITION BY user_id) AS fp_id
          FROM w),
    per AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN ts < fp_ts
                               OR (ts = fp_ts AND event_id < fp_id)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_before
        FROM f WHERE fp_ts IS NOT NULL GROUP BY 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(quantile_disc(n_before, 0.25) AS BIGINT) AS p25,
           CAST(quantile_disc(n_before, 0.50) AS BIGINT) AS p50,
           CAST(quantile_disc(n_before, 0.75) AS BIGINT) AS p75,
           CAST(quantile_disc(n_before, 0.90) AS BIGINT) AS p90
    FROM per""",
)
def events_before_first_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Activation effort: how many events a converting user generates
    STRICTLY before their first purchase — the activation-funnel
    length distribution (quantiles of touches-to-first-conversion),
    the number onboarding experiments move. Users who never purchase
    are excluded (their effort is censored).

    Determinism: "first purchase" is the (ts, event_id)-minimal
    purchase (the repo's total-order tie-break); "before" compares the
    same composite, spelled as two NULL-safe window carries so both
    engines pick the identical anchor. Quantiles are rank-selection.

    Scale: ONE user-keyed window pass (two conditional carries share
    the spec), one per-user aggregation, one scalar quantile rollup."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id")
    fp_ts = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    t = ev.withColumn("fp_ts", fp_ts)
    fp_id = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") == F.col("fp_ts")),
            F.col("event_id"),
        )
    ).over(w)
    f = t.withColumn("fp_id", fp_id).filter(F.col("fp_ts").isNotNull())
    before = F.when(
        (F.col("ts") < F.col("fp_ts"))
        | (
            (F.col("ts") == F.col("fp_ts"))
            & (F.col("event_id") < F.col("fp_id"))
        ),
        1,
    ).otherwise(0)
    per = f.groupBy("user_id").agg(F.sum(before).alias("n_before"))
    return per.agg(
        F.count(F.lit(1)).alias("n_users"),
        *[
            F.expr(
                f"percentile_disc({q}) WITHIN GROUP (ORDER BY n_before)"
            )
            .cast("long")
            .alias(name)
            for q, name in (
                (0.25, "p25"), (0.50, "p50"), (0.75, "p75"), (0.90, "p90"),
            )
        ],
    )


@workload(
    "tenure_value_matrix",
    oracle="""
    WITH c AS (
        SELECT o_custkey,
               CAST((year(MAX(o_orderdate)) * 12 + month(MAX(o_orderdate)))
                    - (year(MIN(o_orderdate)) * 12 + month(MIN(o_orderdate)))
                    AS BIGINT) AS tenure_months,
               CAST(SUM(CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1),
    q AS (SELECT o_custkey, cents,
                 ntile(4) OVER (ORDER BY tenure_months, o_custkey)
                   AS tenure_q,
                 ntile(4) OVER (ORDER BY cents, o_custkey) AS value_q
          FROM c)
    SELECT CAST(tenure_q AS INTEGER) AS tenure_q,
           CAST(value_q AS INTEGER) AS value_q,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM q GROUP BY 1, 2""",
)
def tenure_value_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tenure × value quartile matrix: customers cut by GLOBAL
    quartiles of relationship length (months between first and last
    order) and of lifetime revenue, cross-tabulated — the
    loyalty-economics grid ("are long-tenure customers the valuable
    ones?") behind retention-investment decisions.

    Both cuts ride windows.distributed_ntile CHAINED on one frame (the
    rfm_segments shape — range shuffle + broadcast offsets each, no
    single-partition sort); tenure is exact integer calendar months
    (year·12+month deltas, the cohort_ltv discipline — never float
    months_between).

    Scale: one fact aggregation to |customers|, two distributed ntile
    cuts, a 16-cell rollup."""
    from metadata_driven_etl_spark.operators.windows import (
        distributed_ntile,
    )

    mkey = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            (
                mkey(F.max("o_orderdate")) - mkey(F.min("o_orderdate"))
            )
            .cast("long")
            .alias("tenure_months"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("cents"),
        )
    )
    q = distributed_ntile(
        cust,
        4,
        [F.col("tenure_months").asc(), F.col("o_custkey").asc()],
        "tenure_q",
    )
    q = distributed_ntile(
        q, 4, [F.col("cents").asc(), F.col("o_custkey").asc()], "value_q"
    )
    return q.groupBy("tenure_q", "value_q").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("total_cents"),
    )


@workload(
    "session_entry_exit_matrix",
    oracle=f"""
    WITH s AS ({_SESSIONIZE_SQL}),
    e AS (SELECT s.user_id, s.session_id, s.ts, s.event_id, ev.event_type
          FROM s JOIN events ev ON s.event_id = ev.event_id),
    r AS (SELECT user_id, session_id, event_type,
                 row_number() OVER (PARTITION BY user_id, session_id
                                    ORDER BY ts, event_id) AS rn_in,
                 row_number() OVER (PARTITION BY user_id, session_id
                                    ORDER BY ts DESC, event_id DESC)
                   AS rn_out
          FROM e),
    per AS (SELECT user_id, session_id,
                   MAX(CASE WHEN rn_in = 1 THEN event_type END)
                     AS entry_type,
                   MAX(CASE WHEN rn_out = 1 THEN event_type END)
                     AS exit_type
            FROM r GROUP BY 1, 2)
    SELECT entry_type, exit_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM per GROUP BY 1, 2""",
)
def session_entry_exit_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session entry/exit matrix: the first and last event type of every
    session, cross-tabulated — landing-to-leaving flow (which entries
    end in purchases vs errors), the aggregate the per-step funnel and
    transition matrix don't show.

    Determinism: entry/exit are min_by/max_by over the (ts, event_id)
    composite — the OHLC open/close idiom (associative extremum state,
    no per-session sort on the Spark side); the oracle spells the same
    selection with row_number under the identical total order.

    Scale: the sessionizer's user window, then ONE map-side-combinable
    (user, session) aggregation; the matrix is |types|²-bounded.
    Shared core: temporal.session_entry_exit (also the declarable gold
    ``analysis: entry_exit``)."""
    from metadata_driven_etl_spark.operators import temporal as temporal_ops

    ev = _t(spark, sf_dir, "events")
    return temporal_ops.session_entry_exit(ev, gap_seconds=1800)


# =========================================================================
# Round-9 additions (second wave): hypothesis-testing completion
# (Welch t, Kruskal–Wallis, Cramér's V, Mann–Kendall trend)
# =========================================================================


@workload(
    "welch_ttest_price_by_flag",
    oracle="""
    WITH f AS (
        SELECT l_returnflag AS g,
               CAST(FLOOR(l_extendedprice*100+0.5) AS BIGINT) AS x
        FROM lineitem WHERE l_returnflag IN ('A', 'R')),
    m AS (SELECT
        -- COUNT, not SUM(CASE..1 ELSE 0): over ZERO input rows SUM is
        -- NULL while the engine's F.count is 0 (r12 degenerate sweep)
        CAST(COUNT(CASE WHEN g='A' THEN 1 END) AS HUGEINT) AS na,
        SUM(CASE WHEN g='A' THEN CAST(x AS HUGEINT) END) AS sa,
        SUM(CASE WHEN g='A' THEN CAST(x AS HUGEINT)*x END) AS qa,
        CAST(COUNT(CASE WHEN g='R' THEN 1 END) AS HUGEINT) AS nr,
        SUM(CASE WHEN g='R' THEN CAST(x AS HUGEINT) END) AS sr,
        SUM(CASE WHEN g='R' THEN CAST(x AS HUGEINT)*x END) AS qr
        FROM f),
    d AS (SELECT
        CAST(na AS BIGINT) AS n_a, CAST(nr AS BIGINT) AS n_r,
        CAST(CAST(sa AS VARCHAR) AS DOUBLE) AS sad,
        CAST(CAST(sr AS VARCHAR) AS DOUBLE) AS srd,
        CAST(CAST(na AS VARCHAR) AS DOUBLE) AS nad,
        CAST(CAST(nr AS VARCHAR) AS DOUBLE) AS nrd,
        CAST(CAST(na*qa - sa*sa AS VARCHAR) AS DOUBLE) AS ca,
        CAST(CAST(na*(na-1) AS VARCHAR) AS DOUBLE) AS da,
        CAST(CAST(nr*qr - sr*sr AS VARCHAR) AS DOUBLE) AS cr,
        CAST(CAST(nr*(nr-1) AS VARCHAR) AS DOUBLE) AS dr
        FROM m)
    SELECT n_a, n_r,
           sad/nad/100.0 AS mean_a, srd/nrd/100.0 AS mean_r,
           (sad/nad - srd/nrd)
             / sqrt(ca/da/nad + cr/dr/nrd) AS t_stat,
           (ca/da/nad + cr/dr/nrd) * (ca/da/nad + cr/dr/nrd)
             / ((ca/da/nad)*(ca/da/nad)/(nad-1.0)
                + (cr/dr/nrd)*(cr/dr/nrd)/(nrd-1.0)) AS welch_df
    FROM d""",
)
def welch_ttest_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test (unequal variances) of extended price,
    returned ('A') vs neither ('R') line items — the default two-group
    mean-difference test (the parametric sibling of the shipped
    Mann-Whitney U; CUPED covers the variance-reduced variant). Reports
    t and the Welch-Satterthwaite degrees of freedom.

    Hash-exact: ONE conditional aggregation yields six exact decimal
    moments (n, Σx, Σx² per group, x in cents); every derived value —
    means, sample variances via (n·Q − S²)/(n(n−1)), the pooled
    standard error, t, df — is a fixed chain of correctly-rounded
    double ops over exactly-converted operands (sqrt is correctly
    rounded; ln never appears). Bound: n·Q ≤ 1.2e14·n² < 10³⁸ to
    ~10¹¹ rows. t and df are cent/dollar scale-invariant; means are
    reported in dollars (one extra /100 each side).

    Scale: a single map-side-combinable aggregation to ONE row — no
    shuffle wider than the six-column partial state."""
    d38 = "decimal(38,0)"
    f = _t(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("A", "R")
    ).select(
        F.col("l_returnflag").alias("g"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("x"),
    )

    def grp(tag: str, col: str):
        x = F.when(F.col("g") == tag, F.col(col))
        return x

    m = f.agg(
        F.count(F.when(F.col("g") == "A", F.lit(1))).cast(d38).alias("na"),
        F.sum(grp("A", "x").cast(d38)).cast(d38).alias("sa"),
        F.sum(
            (grp("A", "x").cast(d38) * F.col("x")).cast(d38)
        ).cast(d38).alias("qa"),
        F.count(F.when(F.col("g") == "R", F.lit(1))).cast(d38).alias("nr"),
        F.sum(grp("R", "x").cast(d38)).cast(d38).alias("sr"),
        F.sum(
            (grp("R", "x").cast(d38) * F.col("x")).cast(d38)
        ).cast(d38).alias("qr"),
    )
    na, nr = F.col("na"), F.col("nr")
    nad = na.cast("double")
    nrd = nr.cast("double")
    sad = F.col("sa").cast("double")
    srd = F.col("sr").cast("double")
    ca = (na * F.col("qa") - F.col("sa") * F.col("sa")).cast(d38).cast(
        "double"
    )
    da = (na * (na - 1)).cast(d38).cast("double")
    cr = (nr * F.col("qr") - F.col("sr") * F.col("sr")).cast(d38).cast(
        "double"
    )
    dr = (nr * (nr - 1)).cast(d38).cast("double")
    sea = ca / da / nad
    ser = cr / dr / nrd
    return m.select(
        na.cast("long").alias("n_a"),
        nr.cast("long").alias("n_r"),
        (sad / nad / F.lit(100.0)).alias("mean_a"),
        (srd / nrd / F.lit(100.0)).alias("mean_r"),
        ((sad / nad - srd / nrd) / F.sqrt(sea + ser)).alias("t_stat"),
        (
            (sea + ser) * (sea + ser)
            / (
                sea * sea / (nad - F.lit(1.0))
                + ser * ser / (nrd - F.lit(1.0))
            )
        ).alias("welch_df"),
    )


# The five event types are testdata literals (shared with the ANOVA /
# funnel pivots); Kruskal-Wallis needs the fixed-order literal pivot so
# the 5-term rank-moment sum is a deterministic scalar chain.
_KW_TYPES = ("click", "error", "purchase", "signup", "view")


@workload(
    "kruskal_wallis_value_by_type",
    oracle=f"""
    WITH f AS (
        SELECT event_type AS g,
               CAST(FLOOR(value*100+0.5) AS BIGINT) AS x
        FROM events),
    dx AS (SELECT x, CAST(COUNT(*) AS HUGEINT) AS c FROM f GROUP BY 1),
    ux AS (SELECT x, 2*SUM(c) OVER (ORDER BY x) - c + 1 AS u, c FROM dx),
    t AS (SELECT SUM(c*c*c - c) AS ties FROM ux),
    j AS (SELECT g, u FROM f JOIN ux USING (x)),
    m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        {", ".join(
            "SUM(CASE WHEN g = '" + g + "' THEN u END) AS u" + str(i)
            + ", CAST(SUM(CASE WHEN g = '" + g + "' THEN 1 ELSE 0 END)"
            " AS HUGEINT) AS c" + str(i)
            for i, g in enumerate(_KW_TYPES)
        )}
        FROM j),
    d AS (SELECT CAST(n AS BIGINT) AS n_rows,
        CAST(CAST(n AS VARCHAR) AS DOUBLE) AS nd,
        {" + ".join(
            "CAST(CAST(u" + str(i) + " AS VARCHAR) AS DOUBLE)"
            " * CAST(CAST(u" + str(i) + " AS VARCHAR) AS DOUBLE)"
            " / CAST(CAST(c" + str(i) + " AS VARCHAR) AS DOUBLE)"
            for i in range(len(_KW_TYPES))
        )} AS s5,
        CAST(CAST((SELECT ties FROM t) AS VARCHAR) AS DOUBLE) AS tie,
        CAST(CAST(n*n*n - n AS VARCHAR) AS DOUBLE) AS n3
        FROM m)
    SELECT n_rows,
           3.0*s5/(nd*(nd+1.0)) - 3.0*(nd+1.0) AS h_stat,
           1.0 - tie/n3 AS tie_correction,
           (3.0*s5/(nd*(nd+1.0)) - 3.0*(nd+1.0)) / (1.0 - tie/n3)
             AS h_adjusted
    FROM d""",
)
def kruskal_wallis_value_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kruskal-Wallis H: do the five event types draw their values from
    the same distribution? The k-group rank ANOVA — the non-parametric
    sibling of the shipped one-way F (and the k-group extension of
    Mann-Whitney U). Reports raw H and the tie-corrected H.

    Hash-exact: DOUBLED average ranks (2·avgrank = 2·cum_before+cnt+1,
    the Spearman domain-frame idiom) so halves never materialize; with
    U_i = Σ(2r) per group, H = 3·Σ U_i²/n_i / (N(N+1)) − 3(N+1)
    (the 12 folds into 3 because U_i = 2R_i). The 5-term Σ pivots into
    literal columns (ANOVA fixed-order discipline); the tie factor
    C = 1 − Σ(t³−t)/(N³−N) comes from the same domain frame. Every
    term converts exactly-once to double; the final chains mirror the
    oracle token-for-token. Bound: N³ < 10³⁸ to ~10¹² rows.

    Scale: one groupBy to the |distinct cents| domain frame (ranks +
    tie counts in the SAME pass), one rank-carry join back, ONE pivot
    aggregation to a single row."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    f = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("x"),
    )
    dx = f.groupBy("x").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    ux = materialize(dx.select(
        "x",
        (2 * F.sum("c").over(w) - F.col("c") + 1).alias("u"),
        "c",
    ))
    ties = ux.agg(
        F.sum(
            (
                F.col("c").cast(d38) * F.col("c") * F.col("c")
                - F.col("c")
            ).cast(d38)
        ).cast(d38).alias("ties")
    )
    j = f.join(ux.select("x", "u"), "x")
    m = j.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        *[
            a
            for i, g in enumerate(_KW_TYPES)
            for a in (
                F.sum(
                    F.when(F.col("g") == g, F.col("u")).cast(d38)
                ).cast(d38).alias(f"u{i}"),
                F.count(F.when(F.col("g") == g, F.lit(1)))
                .cast(d38)
                .alias(f"c{i}"),
            )
        ],
    ).crossJoin(F.broadcast(ties))
    nd = F.col("n").cast("double")
    s5 = None
    for i in range(len(_KW_TYPES)):
        ud = F.col(f"u{i}").cast("double")
        term = ud * ud / F.col(f"c{i}").cast("double")
        s5 = term if s5 is None else s5 + term
    tie = F.col("ties").cast("double")
    n3 = (
        F.col("n") * F.col("n") * F.col("n") - F.col("n")
    ).cast(d38).cast("double")
    h = F.lit(3.0) * s5 / (nd * (nd + F.lit(1.0))) - F.lit(3.0) * (
        nd + F.lit(1.0)
    )
    c = F.lit(1.0) - tie / n3
    return m.select(
        F.col("n").cast("long").alias("n_rows"),
        h.alias("h_stat"),
        c.alias("tie_correction"),
        (h / c).alias("h_adjusted"),
    )


# Contingency literals for the Cramér's V cross-tab (TPC-H enumerated
# domains — the chi² cells must pivot in fixed order).
_CV_FLAGS = ("A", "N", "R")
_CV_STATUS = ("F", "O")


@workload(
    "cramers_v_flag_status",
    oracle=f"""
    WITH m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        {", ".join(
            "CAST(SUM(CASE WHEN l_returnflag = '" + fl
            + "' AND l_linestatus = '" + st + "' THEN 1 ELSE 0 END)"
            " AS HUGEINT) AS o" + str(i) + "_" + str(j)
            for i, fl in enumerate(_CV_FLAGS)
            for j, st in enumerate(_CV_STATUS)
        )}
        FROM lineitem),
    d AS (SELECT CAST(n AS BIGINT) AS n_rows,
        CAST(CAST(n AS VARCHAR) AS DOUBLE) AS nd,
        {", ".join(
            "CAST(CAST(o" + str(i) + "_" + str(j)
            + " AS VARCHAR) AS DOUBLE) AS c" + str(i) + "_" + str(j)
            for i in range(3) for j in range(2)
        )},
        {", ".join(
            "CAST(CAST(" + " + ".join(
                "o" + str(i) + "_" + str(j) for j in range(2)
            ) + " AS VARCHAR) AS DOUBLE) AS r" + str(i)
            for i in range(3)
        )},
        {", ".join(
            "CAST(CAST(" + " + ".join(
                "o" + str(i) + "_" + str(j) for i in range(3)
            ) + " AS VARCHAR) AS DOUBLE) AS k" + str(j)
            for j in range(2)
        )}
        FROM m)
    SELECT n_rows,
           {" + ".join(
               "(CASE WHEN r" + c[0] + "*k" + c[2] + " > 0 THEN "
               "(c" + c + " - r" + c[0] + "*k" + c[2] + "/nd)"
               " * (c" + c + " - r" + c[0] + "*k" + c[2] + "/nd)"
               " / (r" + c[0] + "*k" + c[2] + "/nd) ELSE 0.0 END)"
               for c in ("0_0", "0_1", "1_0", "1_1", "2_0", "2_1")
           )} AS chi2,
           CAST(2 AS INTEGER) AS dof,
           CASE WHEN nd > 0 THEN
           sqrt(({" + ".join(
               "(CASE WHEN r" + c[0] + "*k" + c[2] + " > 0 THEN "
               "(c" + c + " - r" + c[0] + "*k" + c[2] + "/nd)"
               " * (c" + c + " - r" + c[0] + "*k" + c[2] + "/nd)"
               " / (r" + c[0] + "*k" + c[2] + "/nd) ELSE 0.0 END)"
               for c in ("0_0", "0_1", "1_0", "1_1", "2_0", "2_1")
           )}) / nd) END AS cramers_v
    FROM d""",
)
def cramers_v_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V for the returnflag × linestatus contingency — the
    normalized effect-size companion to the shipped per-cell chi²
    residuals (chisq_cells_flag_status answers WHERE the association
    is; V answers HOW STRONG on a 0–1 scale comparable across tables).
    V = √(χ²/(N·(min(r,c)−1))) with min(3,2)−1 = 1.

    Hash-exact: ONE conditional aggregation pivots the 6 cells into
    literal columns; row/column margins are literal sums of those
    cells (exact HUGEINT/decimal before the single double conversion
    each); the 6-term χ² chain and the final sqrt mirror the oracle
    token-for-token (sqrt is correctly rounded).

    Scale: a single map-side-combinable aggregation to ONE row."""
    d38 = "decimal(38,0)"
    cells = [(i, j) for i in range(3) for j in range(2)]
    m = _t(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        *[
            F.count(
                F.when(
                    (F.col("l_returnflag") == _CV_FLAGS[i])
                    & (F.col("l_linestatus") == _CV_STATUS[j]),
                    F.lit(1),
                )
            ).cast(d38).alias(f"o{i}_{j}")
            for i, j in cells
        ],
    )
    nd = F.col("n").cast("double")
    cd = {(i, j): F.col(f"o{i}_{j}").cast("double") for i, j in cells}
    rowt = {
        i: (F.col(f"o{i}_0") + F.col(f"o{i}_1")).cast(d38).cast("double")
        for i in range(3)
    }
    colt = {
        j: (F.col(f"o0_{j}") + F.col(f"o1_{j}") + F.col(f"o2_{j}"))
        .cast(d38)
        .cast("double")
        for j in range(2)
    }
    chi2 = None
    for i, j in cells:
        exp = rowt[i] * colt[j] / nd
        # guard (r12 degenerate sweep): an empty row/column margin has
        # no expectation — the cell contributes 0, not a /0 error
        term = F.when(
            rowt[i] * colt[j] > 0,
            (cd[(i, j)] - exp) * (cd[(i, j)] - exp) / exp,
        ).otherwise(F.lit(0.0))
        chi2 = term if chi2 is None else chi2 + term
    return m.select(
        F.col("n").cast("long").alias("n_rows"),
        chi2.alias("chi2"),
        F.lit(2).cast("int").alias("dof"),
        F.when(F.col("n") > 0, F.sqrt(chi2 / nd)).alias("cramers_v"),
    )


@workload(
    "mann_kendall_trend_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value*100+0.5) AS BIGINT)) AS BIGINT)
                 AS x
        FROM events GROUP BY 1),
    s AS (SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                               WHEN b.x < a.x THEN -1
                               ELSE 0 END) AS BIGINT) AS s_stat
          FROM daily a JOIN daily b ON b.day > a.day),
    t AS (SELECT CAST((SELECT COUNT(*) FROM daily) AS HUGEINT) AS n,
                 SUM(CAST(c AS HUGEINT)*(c-1)*(2*c+5)) AS tie_term
          FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS c
                FROM daily GROUP BY 1)),
    v AS (SELECT CAST(n AS BIGINT) AS n_days, s_stat,
                 CAST(CAST(n*(n-1)*(2*n+5) - tie_term AS VARCHAR)
                      AS DOUBLE) / 18.0 AS var_s
          FROM s CROSS JOIN t)
    SELECT n_days, s_stat, var_s,
           CASE WHEN s_stat > 0
                  THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
                WHEN s_stat < 0
                  THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
                ELSE 0.0 END AS z_stat
    FROM v""",
)
def mann_kendall_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the daily revenue series — the
    distribution-free monotone-trend detector (is revenue drifting up
    or down, ignoring its shape?), the hypothesis-test companion to
    the ACF/seasonality diagnostics. S = Σ_{i<j} sign(x_j − x_i), with
    the tie-corrected variance and the continuity-corrected Z.

    Hash-exact: S and the tie term Σt(t−1)(2t+5) are exact integers;
    var_S = (N(N−1)(2N+5) − ties)/18 is ONE exactly-converted double
    division; Z is a fixed correctly-rounded chain.

    Scale: the pairwise space is over the DATE DOMAIN, not the fact —
    one fact aggregation to |days| rows, then a |days|² broadcast
    nested-loop self-join on the tiny checkpointed frame (the
    Theil-Sen/changepoint regime: quadratic in calendar days, CONSTANT
    in fact rows; ~3k days of history = 4.5M sign evaluations)."""
    daily = materialize(
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).alias("x")
        )
    )
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    s = (
        a.join(F.broadcast(b), F.col("db") > F.col("da"))
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            ).cast("long").alias("s_stat")
        )
    )
    d38 = "decimal(38,0)"
    # n is the DAY count; the tie term sums over the |distinct value|
    # groups — conflating the two (an earlier draft did) under-reports
    # n_days and mis-scales Var(S) whenever two days tie on revenue.
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(
                (
                    F.col("c").cast(d38)
                    * (F.col("c") - 1)
                    * (2 * F.col("c") + 5)
                ).cast(d38)
            ).cast(d38).alias("tie_term"),
        )
    )
    t = daily.agg(F.count(F.lit(1)).cast(d38).alias("n")).crossJoin(
        F.broadcast(ties)
    )
    n = F.col("n")
    var_s = (
        (n * (n - 1) * (2 * n + 5) - F.col("tie_term")).cast(d38)
    ).cast("double") / F.lit(18.0)
    sd = F.col("s_stat").cast("double")
    return s.crossJoin(F.broadcast(t)).select(
        n.cast("long").alias("n_days"),
        "s_stat",
        var_s.alias("var_s"),
        F.when(
            F.col("s_stat") > 0, (sd - F.lit(1.0)) / F.sqrt(var_s)
        )
        .when(F.col("s_stat") < 0, (sd + F.lit(1.0)) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
        .alias("z_stat"),
    )


# =========================================================================
# Round-9 additions (second wave): time-series diagnostics
# (lagged cross-correlation, RSI, changepoint, Hellinger mix drift)
# =========================================================================

_XCORR_MAX_LAG = 7


@workload(
    "crosscorr_revenue_volume",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value*100+0.5) AS BIGINT)) AS BIGINT)
                 AS x,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1),
    ix AS (SELECT x, y,
                  CAST(date_diff('day', (SELECT MIN(day) FROM daily), day)
                       AS BIGINT) AS idx
           FROM daily),
    lags AS (SELECT unnest(generate_series(0, {_XCORR_MAX_LAG})) AS lag),
    p AS (SELECT lag,
                 CAST(COUNT(*) AS HUGEINT) AS m,
                 SUM(CAST(h.x AS HUGEINT) * t.y) AS sxy,
                 SUM(CAST(h.x AS HUGEINT)) AS sx,
                 SUM(CAST(h.x AS HUGEINT) * h.x) AS qx,
                 SUM(CAST(t.y AS HUGEINT)) AS sy,
                 SUM(CAST(t.y AS HUGEINT) * t.y) AS qy
          FROM lags JOIN ix h ON TRUE JOIN ix t ON t.idx = h.idx + lag
          GROUP BY 1)
    SELECT CAST(lag AS INTEGER) AS lag,
           CAST(m AS BIGINT) AS n_pairs,
           -- guard (r12 degenerate sweep): a constant series has no r
           CASE WHEN m*qx - sx*sx > 0 AND m*qy - sy*sy > 0 THEN
             CAST(CAST(m*sxy - sx*sy AS VARCHAR) AS DOUBLE)
               / (sqrt(CAST(CAST(m*qx - sx*sx AS VARCHAR) AS DOUBLE))
                  * sqrt(CAST(CAST(m*qy - sy*sy AS VARCHAR) AS DOUBLE)))
           END AS xcorr
    FROM p""",
)
def crosscorr_revenue_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between daily revenue and daily event
    volume (lags 0–7): does volume LEAD revenue, and by how many days?
    The lead-lag diagnostic behind demand forecasting with exogenous
    drivers (the two-series sibling of the shipped ACF).

    Definition: Pearson r over the MATCHED pairs (x_t, y_{t+L}) using
    pair-restricted moments — on a gappy calendar every moment (both
    means included) is computed over exactly the m aligned pairs, so
    no mixed-population term arises (the subtlety the ACF workload
    documents is avoided rather than cleared here).

    Hash-exact: all six moments are exact decimal integers;
    r = (m·Σxy − Σx·Σy) / (√(m·Σx²−(Σx)²)·√(m·Σy²−(Σy)²)) is the
    Spearman final chain (exactly-converted operands, correctly-
    rounded sqrt/mul/div). Bound: m·Σxy < 10³⁸ to ~10¹⁰ days — the
    calendar domain never gets there.

    Scale: one fact aggregation to |days|; the 8-lag alignment
    self-join runs on the tiny checkpointed daily frame."""
    d38 = "decimal(38,0)"
    daily = materialize(
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).alias("x"),
            F.count(F.lit(1)).alias("y"),
        )
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    ix = materialize(daily.crossJoin(F.broadcast(d0)).select(
        "x", "y",
        F.datediff(F.col("day"), F.col("d0")).cast("long").alias("idx"),
    ))
    lags = spark.range(0, _XCORR_MAX_LAG + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    h = ix.crossJoin(F.broadcast(lags)).select(
        "lag", F.col("x").alias("xh"),
        (F.col("idx") + F.col("lag")).alias("tidx"),
    )
    t = ix.select(F.col("idx").alias("tidx"), F.col("y").alias("yt"))
    p = h.join(t, "tidx").groupBy("lag").agg(
        F.count(F.lit(1)).cast(d38).alias("m"),
        F.sum((F.col("xh").cast(d38) * F.col("yt")).cast(d38))
        .cast(d38).alias("sxy"),
        F.sum(F.col("xh").cast(d38)).cast(d38).alias("sx"),
        F.sum((F.col("xh").cast(d38) * F.col("xh")).cast(d38))
        .cast(d38).alias("qx"),
        F.sum(F.col("yt").cast(d38)).cast(d38).alias("sy"),
        F.sum((F.col("yt").cast(d38) * F.col("yt")).cast(d38))
        .cast(d38).alias("qy"),
    )
    m = F.col("m")
    num = (m * F.col("sxy") - F.col("sx") * F.col("sy")).cast(d38)
    dxx = (m * F.col("qx") - F.col("sx") * F.col("sx")).cast(d38)
    dyy = (m * F.col("qy") - F.col("sy") * F.col("sy")).cast(d38)
    return p.select(
        F.col("lag").cast("int").alias("lag"),
        m.cast("long").alias("n_pairs"),
        # guard (r12 degenerate sweep): a constant series has no r
        F.when(
            (dxx > 0) & (dyy > 0),
            num.cast("double")
            / (F.sqrt(dxx.cast("double")) * F.sqrt(dyy.cast("double"))),
        ).alias("xcorr"),
    )


_RSI_WINDOW = 14


@workload(
    "rsi_14d_daily",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value*100+0.5) AS BIGINT)) AS BIGINT)
                 AS x
        FROM events GROUP BY 1),
    d AS (SELECT day, x - lag(x) OVER (ORDER BY day) AS diff,
                 row_number() OVER (ORDER BY day) AS rn
          FROM daily),
    w AS (SELECT day, rn,
                 SUM(CASE WHEN diff > 0 THEN diff ELSE 0 END)
                   OVER (ORDER BY day
                         ROWS BETWEEN {_RSI_WINDOW - 1} PRECEDING
                         AND CURRENT ROW) AS gain,
                 SUM(CASE WHEN diff < 0 THEN -diff ELSE 0 END)
                   OVER (ORDER BY day
                         ROWS BETWEEN {_RSI_WINDOW - 1} PRECEDING
                         AND CURRENT ROW) AS loss
          FROM d)
    SELECT day, CAST(gain AS BIGINT) AS gain_cents,
           CAST(loss AS BIGINT) AS loss_cents,
           CASE WHEN gain + loss = 0 THEN NULL
                ELSE 100.0 * CAST(gain AS DOUBLE)
                     / CAST(gain + loss AS DOUBLE) END AS rsi
    FROM w WHERE rn > {_RSI_WINDOW}""",
)
def rsi_14d_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day Relative Strength Index of daily revenue (simple-average
    variant): RSI = 100·G/(G+L) where G/L are trailing-14-day sums of
    up-moves/down-moves — the bounded momentum oscillator (RSI > 70 =
    overheated growth, < 30 = sustained decline), the CUSUM family's
    bounded-scale sibling. Emitted only once a full lookback exists
    (rn > 14: 14 complete diffs).

    Hash-exact: day-over-day diffs, gains, and losses are exact cent
    integers down ROWS windows; RSI is ONE division of exact integers
    (NULL on a flat 14-day window rather than 0/0).

    Scale: one fact aggregation to |days|, then ROWS windows on the
    daily domain frame (single tiny partition by design — the
    documented domain-frame exemption)."""
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).alias("x")
        )
    )
    wo = Window.orderBy("day")
    wr = wo.rowsBetween(-(_RSI_WINDOW - 1), 0)
    d = daily.select(
        "day",
        (F.col("x") - F.lag("x").over(wo)).alias("diff"),
        F.row_number().over(wo).alias("rn"),
    )
    w = d.select(
        "day", "rn",
        F.sum(
            F.when(F.col("diff") > 0, F.col("diff")).otherwise(F.lit(0))
        ).over(wr).alias("gain"),
        F.sum(
            F.when(F.col("diff") < 0, -F.col("diff")).otherwise(F.lit(0))
        ).over(wr).alias("loss"),
    )
    tot = F.col("gain") + F.col("loss")
    return w.where(F.col("rn") > _RSI_WINDOW).select(
        "day",
        F.col("gain").cast("long").alias("gain_cents"),
        F.col("loss").cast("long").alias("loss_cents"),
        F.when(tot == 0, F.lit(None).cast("double"))
        .otherwise(
            F.lit(100.0) * F.col("gain").cast("double")
            / tot.cast("double")
        )
        .alias("rsi"),
    )


@workload(
    "changepoint_mean_shift_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value*100+0.5) AS BIGINT)) AS BIGINT)
                 AS x
        FROM events GROUP BY 1),
    c AS (SELECT day,
                 SUM(CAST(x AS HUGEINT)) OVER (ORDER BY day) AS sl,
                 row_number() OVER (ORDER BY day) AS nl
          FROM daily),
    g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                 SUM(CAST(x AS HUGEINT)) AS s FROM daily),
    m AS (SELECT day, nl, n - nl AS nr,
                 CAST(CAST(sl*(n-nl) - (s-sl)*nl AS VARCHAR) AS DOUBLE)
                   AS dd,
                 sl, s - sl AS sr
          FROM c CROSS JOIN g WHERE nl < n),
    sc AS (SELECT day,
                  CAST(nl AS BIGINT) AS n_left,
                  CAST(nr AS BIGINT) AS n_right,
                  CAST(CAST(sl AS VARCHAR) AS DOUBLE)
                    / CAST(nl AS DOUBLE) / 100.0 AS mean_left,
                  CAST(CAST(sr AS VARCHAR) AS DOUBLE)
                    / CAST(CAST(nr AS VARCHAR) AS DOUBLE) / 100.0
                    AS mean_right,
                  dd * dd
                    / CAST(CAST(nl*nr AS VARCHAR) AS DOUBLE) AS g_stat
           FROM m)
    SELECT day AS split_day, n_left, n_right, mean_left, mean_right,
           g_stat
    FROM sc ORDER BY g_stat DESC, split_day ASC LIMIT 1""",
)
def changepoint_mean_shift_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Single changepoint detection on daily revenue: the split day τ
    maximizing the between-segment scaled mean shift
    G(τ) = n_l·n_r·(mean_l − mean_r)² — the CUSUM-equivalent offline
    changepoint locator (AMOC / binary-segmentation step 1). Where
    cusum_alerts answers "did the level shift recently?", this answers
    "WHEN did it shift?".

    Hash-exact: prefix sums and counts are exact; the shift score is
    computed from D = S_l·n_r − S_r·n_l (ONE exact integer, converted
    once) as D²/(n_l·n_r) — equal to n·G(τ) (constant factor, same
    argmax). Argmax is ORDER BY (g_stat DESC, day ASC) LIMIT 1: the
    score is a deterministic double both sides, date breaks ties.
    Bound: D < Σcents·|days| — exact to ~10³⁴ cent-days, far past any
    calendar.

    Scale: one fact aggregation to |days|; prefix sums down the daily
    domain frame; TakeOrderedAndProject(1) — never a global sort of
    the fact."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    daily = materialize(
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).alias("x")
        )
    )
    wo = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = daily.select(
        "day",
        F.sum(F.col("x").cast(d38)).over(wo).cast(d38).alias("sl"),
        F.row_number().over(Window.orderBy("day")).alias("nl"),
    )
    g = daily.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("x").cast(d38)).cast(d38).alias("s"),
    )
    m = c.crossJoin(F.broadcast(g)).where(F.col("nl") < F.col("n"))
    nl = F.col("nl").cast(d38)
    nr = (F.col("n") - nl).cast(d38)
    sr = (F.col("s") - F.col("sl")).cast(d38)
    dd = (F.col("sl") * nr - sr * nl).cast(d38).cast("double")
    sc = m.select(
        F.col("day").alias("split_day"),
        nl.cast("long").alias("n_left"),
        nr.cast("long").alias("n_right"),
        (
            F.col("sl").cast("double") / F.col("nl").cast("double")
            / F.lit(100.0)
        ).alias("mean_left"),
        (sr.cast("double") / nr.cast("double") / F.lit(100.0)).alias(
            "mean_right"
        ),
        (dd * dd / (nl * nr).cast(d38).cast("double")).alias("g_stat"),
    )
    return sc.orderBy(F.col("g_stat").desc(), F.col("split_day").asc()).limit(1)


@workload(
    "hellinger_drift_monthly",
    oracle=f"""
    WITH c AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               o_orderpriority AS p,
               CAST(COUNT(*) AS BIGINT) AS obs
        FROM orders GROUP BY 1, 2),
    m AS (SELECT month, CAST(SUM(obs) AS BIGINT) AS n_m,
                 {", ".join(
                     "CAST(COALESCE(MAX(CASE WHEN p = '" + p + "' "
                     "THEN obs END), 0) AS BIGINT) AS o" + str(i)
                     for i, p in enumerate(_PRIORITIES)
                 )}
          FROM c GROUP BY 1),
    g AS (SELECT CAST(SUM(n_m) AS BIGINT) AS n,
                 {", ".join(
                     "CAST(SUM(o" + str(i) + ") AS BIGINT) AS g" + str(i)
                     for i in range(len(_PRIORITIES))
                 )}
          FROM m),
    h AS (SELECT month, n_m,
        0.5 * ({" + ".join(
            "(sqrt(CAST(o" + str(i) + " AS DOUBLE) / CAST(n_m AS DOUBLE))"
            " - sqrt(CAST(g" + str(i) + " AS DOUBLE) / CAST(n AS DOUBLE)))"
            " * (sqrt(CAST(o" + str(i) + " AS DOUBLE)"
            " / CAST(n_m AS DOUBLE))"
            " - sqrt(CAST(g" + str(i) + " AS DOUBLE) / CAST(n AS DOUBLE)))"
            for i in range(len(_PRIORITIES))
        )}) AS h2
        FROM m CROSS JOIN g)
    SELECT month, n_m, h2, sqrt(h2) AS hellinger
    FROM h""",
)
def hellinger_drift_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger distance of each month's order-priority mix from the
    all-time mix — the BOUNDED drift metric (0 ≤ H ≤ 1, comparable
    across months and tables, unlike χ² which scales with n_m; the
    industry pairing is PSI, but PSI's Σ(p−q)·ln(p/q) cannot
    hash-match — ln is not correctly rounded in either libm — while
    H² = ½Σ(√p−√q)² is a pure sqrt chain, and sqrt IS correctly
    rounded).

    Hash-exact: cell counts pivot into FIVE literal columns (the
    ANOVA fixed-order discipline); each √(o/n) is one correctly-
    rounded division then sqrt over exact counts; the 5-term sum is a
    fixed left-associated chain mirrored token-for-token by the
    oracle.

    Scale: one (month, priority) aggregation, a |months|-row pivot,
    1-row global mix broadcast back — the mix_drift_monthly_chi2 plan
    with a different scalar readout."""
    c = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.trunc(F.to_date("o_orderdate"), "month").alias("month"),
            F.col("o_orderpriority").alias("p"),
        )
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    m = c.groupBy("month").agg(
        F.sum("obs").alias("n_m"),
        *[
            F.coalesce(
                F.max(F.when(F.col("p") == p, F.col("obs"))), F.lit(0)
            ).alias(f"o{i}")
            for i, p in enumerate(_PRIORITIES)
        ],
    )
    g = m.agg(
        F.sum("n_m").alias("n"),
        *[
            F.sum(f"o{i}").alias(f"g{i}")
            for i in range(len(_PRIORITIES))
        ],
    )
    j = m.crossJoin(F.broadcast(g))
    h2 = None
    for i in range(len(_PRIORITIES)):
        d = F.sqrt(
            F.col(f"o{i}").cast("double") / F.col("n_m").cast("double")
        ) - F.sqrt(
            F.col(f"g{i}").cast("double") / F.col("n").cast("double")
        )
        term = d * d
        h2 = term if h2 is None else h2 + term
    h2 = F.lit(0.5) * h2
    return j.select(
        "month", "n_m", h2.alias("h2"), F.sqrt(h2).alias("hellinger")
    )


# =========================================================================
# Round-9 additions (second wave): LLM-corpus text ops
# (trigram novelty, Heaps-law vocabulary growth)
# =========================================================================


@workload(
    "ngram_novelty_by_source",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, {text_ops.sql_tokens('text')} AS toks
        FROM documents),
    tri AS (
        SELECT DISTINCT doc_id,
               unnest({text_ops.sql_trigrams_from_tokens('toks')}) AS gram
        FROM tok WHERE len(toks) >= 3),
    first AS (
        SELECT gram, MIN(doc_id) AS first_doc FROM tri GROUP BY 1),
    per AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS slots,
               CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS novel
        FROM tri t JOIN first f USING (gram) GROUP BY 1)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.slots) AS BIGINT) AS gram_slots,
           CAST(SUM(p.novel) AS BIGINT) AS novel_grams,
           CAST(SUM(p.novel) AS DOUBLE) / CAST(SUM(p.slots) AS DOUBLE)
             AS novelty_rate
    FROM per p JOIN documents d USING (doc_id)
    GROUP BY 1""",
)
def ngram_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram novelty per source: the share of each document's DISTINCT
    word-trigrams that the document itself introduces to the corpus
    (its doc_id is the trigram's global minimum) — the incremental-
    information readout behind dedup-aware data valuation (a source
    whose novelty rate collapses is re-serving the corpus; the
    cross-source dup matrix says who copies whom, this says who adds
    anything). Docs with <3 tokens carry no trigram slots.

    Hash-exact: counts and the min-doc first-claimant are exact
    integers; novelty_rate is ONE division per source row.

    Scale: trigram formation is a per-row array expression (map-side);
    ONE shuffle groups the gram frame into the |distinct grams| domain
    (min-doc in the same pass), one inverted-index equi-join carries
    the first-claimant back, one per-doc then per-source rollup —
    never all-pairs, the bigram-LM plan with min instead of count. The
    gram frame is consumed twice (claimant build + scoring) so it is
    materialized once. Shared core:
    text.trigram_novelty (also the scaling probe's subject)."""
    docs = _docs(spark, sf_dir)
    per = text_ops.trigram_novelty(docs, text_col="text", id_col="doc_id")
    return (
        per.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("slots").alias("gram_slots"),
            F.sum("novel").alias("novel_grams"),
            (
                F.sum("novel").cast("double")
                / F.sum("slots").cast("double")
            ).alias("novelty_rate"),
        )
    )


@workload(
    "vocab_growth_deciles",
    oracle=f"""
    WITH cut AS (
        SELECT doc_id, ntile(10) OVER (ORDER BY doc_id) AS decile
        FROM documents),
    tok AS (
        SELECT doc_id, unnest({text_ops.sql_tokens('text')}) AS token
        FROM documents),
    tpd AS (
        SELECT c.decile, CAST(COUNT(*) AS BIGINT) AS toks
        FROM tok t JOIN cut c USING (doc_id) GROUP BY 1),
    first AS (
        SELECT token, MIN(doc_id) AS first_doc FROM tok GROUP BY 1),
    vpd AS (
        SELECT c.decile, CAST(COUNT(*) AS BIGINT) AS new_vocab
        FROM first f JOIN cut c ON c.doc_id = f.first_doc GROUP BY 1),
    dpd AS (
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM cut GROUP BY 1)
    SELECT CAST(d.decile AS INTEGER) AS decile, d.n_docs,
           CAST(SUM(COALESCE(t.toks, 0)) OVER (ORDER BY d.decile)
                AS BIGINT) AS cum_tokens,
           CAST(SUM(COALESCE(v.new_vocab, 0)) OVER (ORDER BY d.decile)
                AS BIGINT) AS cum_vocab
    FROM dpd d LEFT JOIN tpd t USING (decile)
               LEFT JOIN vpd v USING (decile)""",
)
def vocab_growth_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth: cumulative distinct-token count vs
    cumulative token count at ten corpus checkpoints (doc-id deciles) —
    the sublinear V(n) ~ K·n^β curve that sizes tokenizer vocabularies
    and detects template-saturated corpora (a flat tail = no new
    language is arriving; near-linear growth = noise/IDs inflating the
    vocab).

    Hash-exact: the decile cut is windows.distributed_ntile over the
    unique doc_id (proven hash-identical to the builtin ntile); each
    token's first-occurrence doc is an exact MIN; cumulative sums run
    over the 10-row decile frame.

    Scale: ONE shuffle to the |vocabulary| domain frame (min-doc per
    token), one broadcast join of the 10-row decile map onto it, one
    map-side token count per decile — the fact is never re-shuffled;
    windows touch only 10 rows."""
    from pyspark.sql import Window

    from metadata_driven_etl_spark.operators.windows import (
        distributed_ntile,
    )

    docs = _docs(spark, sf_dir)
    cut = materialize(distributed_ntile(
        docs.select("doc_id"), 10, [F.col("doc_id").asc()], "decile"
    ))
    tok = docs.select(
        "doc_id", F.explode(text_ops.tokens("text")).alias("token")
    )
    tpd = (
        tok.join(F.broadcast(cut), "doc_id")
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("toks"))
    )
    first = tok.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    vpd = (
        first.join(
            F.broadcast(cut.withColumnRenamed("doc_id", "first_doc")),
            "first_doc",
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("new_vocab"))
    )
    dpd = cut.groupBy("decile").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    # LEFT joins: a decile that introduces no new vocabulary (a tiny or
    # template-saturated corpus segment) must still emit its checkpoint
    # row with the running totals carried forward.
    return (
        dpd.join(tpd, "decile", "left")
        .join(vpd, "decile", "left")
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_docs",
            F.sum(F.coalesce(F.col("toks"), F.lit(0)))
            .over(w)
            .cast("long")
            .alias("cum_tokens"),
            F.sum(F.coalesce(F.col("new_vocab"), F.lit(0)))
            .over(w)
            .cast("long")
            .alias("cum_vocab"),
        )
    )


# =========================================================================
# Round-9 additions (second wave): embedding-space ML primitives
# (one k-means iteration, norm-outlier screen)
# =========================================================================

# Quantization scale for exact-integer embedding arithmetic: coarse
# enough that Σ over dims and the squared per-label moments stay inside
# decimal(38,0) to ~1e9 vectors (see docstrings), fine enough that the
# readouts are meaningful.
_KM_SCALE = 1000
_KM_K = 8


@workload(
    "kmeans_assign_recompute",
    oracle=f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE)*{_KM_SCALE}+0.5)
                             AS BIGINT)) AS qv
        FROM embeddings),
    cent AS (
        SELECT vec_id AS cid, qv AS cv FROM q
        ORDER BY vec_id LIMIT {_KM_K}),
    d AS (
        SELECT vec_id, cid,
               list_sum(list_transform(list_zip(qv, cv),
                        p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist
        FROM q CROSS JOIN cent),
    a AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM d) WHERE rn = 1),
    g AS (
        SELECT a.cid AS cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               SUM(qv[1]) AS s1, SUM(qv[2]) AS s2,
               SUM(qv[3]) AS s3, SUM(qv[4]) AS s4
        FROM a JOIN q USING (vec_id) GROUP BY 1)
    SELECT cluster_id, n_members,
           CAST(s1 AS DOUBLE) / CAST(n_members AS DOUBLE) AS mean_q1,
           CAST(s2 AS DOUBLE) / CAST(n_members AS DOUBLE) AS mean_q2,
           CAST(s3 AS DOUBLE) / CAST(n_members AS DOUBLE) AS mean_q3,
           CAST(s4 AS DOUBLE) / CAST(n_members AS DOUBLE) AS mean_q4
    FROM g""",
)
def kmeans_assign_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact k-means iteration (Lloyd step) over the embedding
    corpus: assign every vector to its nearest of k=8 seed centroids
    (the k lowest vec_ids — deterministic seeding), then recompute the
    cluster means — the iterate the IVF coarse quantizer and semantic-
    dedup clustering loops both run; emitting sizes plus the first four
    recomputed centroid coordinates keeps the readout bounded.

    Hash-exact: vectors quantize to integers (q = ⌊x·1000 + 0.5⌋, the
    covariance idiom), so every squared-L2 distance is an EXACT BIGINT
    (≤ 64·(2·10³·x_max)² — no float summation order anywhere);
    assignment ties break by centroid id; recomputed means are one
    exact-integer division each. Bound: per-label moment sums stay
    under 10³⁸ past 10⁹ vectors.

    Scale: the centroid frame is TakeOrdered(k) then BROADCAST; the
    assign stage is a map-side broadcast nested-loop over k=8 (never a
    shuffle); ONE aggregation by cluster ends the iteration — the
    canonical distributed Lloyd step (repeat = loop this plan with the
    new centroids broadcast back)."""
    q = materialize(_emb(spark, sf_dir).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _KM_SCALE + 0.5).cast(
                "long"
            ),
        ).alias("qv"),
    ))
    cent = (
        q.orderBy("vec_id")
        .limit(_KM_K)
        .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"))
    )
    d = q.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        F.aggregate(
            F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dist"),
    )
    a = (
        d.groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cid")).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cid"))
    )
    g = (
        a.join(q, "vec_id")
        .groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            *[
                F.sum(F.element_at("qv", i)).alias(f"s{i}")
                for i in range(1, 5)
            ],
        )
    )
    return g.select(
        "cluster_id",
        "n_members",
        *[
            (
                F.col(f"s{i}").cast("double")
                / F.col("n_members").cast("double")
            ).alias(f"mean_q{i}")
            for i in range(1, 5)
        ],
    )


@workload(
    "embedding_norm_outliers",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label,
               list_sum(list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE)*{_KM_SCALE}+0.5)
                             AS BIGINT)
                        * CAST(FLOOR(CAST(x AS DOUBLE)*{_KM_SCALE}+0.5)
                               AS BIGINT))) AS norm2q
        FROM embeddings),
    m AS (
        SELECT label, CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(CAST(norm2q AS HUGEINT)) AS s,
               SUM(CAST(norm2q AS HUGEINT)*norm2q) AS qq
        FROM q GROUP BY 1),
    z AS (
        SELECT q.vec_id, q.label,
               CAST(q.norm2q AS BIGINT) AS norm2q,
               -- guard (r12 degenerate sweep): 1-vector / constant-norm
               -- labels have no z
               CASE WHEN n > 1 AND n*qq - s*s > 0 THEN
                 CAST(CAST(n*norm2q - s AS VARCHAR) AS DOUBLE)
                   / sqrt(CAST(CAST(n*(n*qq - s*s) AS VARCHAR) AS DOUBLE)
                          / CAST(CAST(n - 1 AS VARCHAR) AS DOUBLE))
               END AS z_score
        FROM q JOIN m USING (label))
    SELECT vec_id, label, norm2q, z_score
    FROM z WHERE abs(z_score) > 2.0""",
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Norm-outlier screen per label: vectors whose squared-L2 norm
    z-scores beyond ±2 within their label — the embedding-corpus
    hygiene gate (degenerate near-zero vectors and exploded-norm
    vectors both poison cosine ANN; catching them per label avoids
    flagging a legitimately hot class).

    Hash-exact: norms are exact integers on the quantized grid (the
    covariance idiom); per-label moments (n, Σ, Σ²) are exact
    decimals; z = (n·x − Σ) / √(n·(n·Σ² − Σ·Σ)/(n−1)) converts each
    exact operand once (bound: n·Σ² < 10³⁸ to ~10⁹ vectors at
    SCALE=10³). The |z| > 2 cut compares identical doubles.

    Scale: one map-side fold per row, one |labels|-row moment
    aggregation broadcast back onto the fact — the outlier_zscore
    plan lifted to embedding space. The 3-column norm frame is
    materialized ONCE (both the moment pass and the z join read it),
    so the 64-dim embedding column is scanned and folded a single
    time."""
    d38 = "decimal(38,0)"
    q = materialize(_emb(spark, sf_dir).select(
        "vec_id",
        "label",
        F.aggregate(
            F.transform(
                "embedding",
                lambda x: F.floor(
                    x.cast("double") * _KM_SCALE + 0.5
                ).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v * v,
        ).alias("norm2q"),
    ))
    m = q.groupBy("label").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("norm2q").cast(d38)).cast(d38).alias("s"),
        F.sum((F.col("norm2q").cast(d38) * F.col("norm2q")).cast(d38))
        .cast(d38)
        .alias("qq"),
    )
    n, s = F.col("n"), F.col("s")
    num = (n * F.col("norm2q") - s).cast(d38).cast("double")
    var_num = (n * F.col("qq") - s * s).cast(d38)
    den = F.sqrt(
        (n * (n * F.col("qq") - s * s)).cast(d38).cast("double")
        / (n - 1).cast(d38).cast("double")
    )
    # guard (r12 degenerate sweep): 1-vector / constant-norm labels
    zcol = F.when((n > 1) & (var_num > 0), num / den)
    z = q.join(F.broadcast(m), "label").select(
        "vec_id", "label", "norm2q", zcol.alias("z_score")
    )
    return z.where(F.abs(F.col("z_score")) > 2.0)


# =========================================================================
# Round-9 additions (second wave): retail economics
# (arc price elasticity, XYZ demand variability)
# =========================================================================


@workload(
    "arc_elasticity_monthly_brand",
    oracle="""
    WITH bm AS (
        SELECT p.p_brand AS brand,
               date_trunc('month', CAST(l.l_shipdate AS DATE)) AS month,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q,
               CAST(SUM(CAST(FLOOR(l.l_extendedprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS r
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2),
    lagd AS (
        SELECT brand, month, q, r,
               lag(q) OVER (PARTITION BY brand ORDER BY month) AS q0,
               lag(r) OVER (PARTITION BY brand ORDER BY month) AS r0
        FROM bm)
    SELECT brand, month, q AS qty, q0 AS qty_prev,
           CASE WHEN CAST(r AS HUGEINT)*q0 - CAST(r0 AS HUGEINT)*q = 0
                  THEN NULL
                ELSE CAST(CAST(CAST(q - q0 AS HUGEINT)
                          * (CAST(r AS HUGEINT)*q0 + CAST(r0 AS HUGEINT)*q)
                          AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(CAST(q + q0 AS HUGEINT)
                            * (CAST(r AS HUGEINT)*q0
                               - CAST(r0 AS HUGEINT)*q)
                            AS VARCHAR) AS DOUBLE) END AS elasticity
    FROM lagd WHERE q0 IS NOT NULL""",
)
def arc_elasticity_monthly_brand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Arc price elasticity of demand per brand, month over month:
    e = (ΔQ/Q̄)/(ΔP/P̄) with midpoint bases — the pricing-analytics
    staple (|e| > 1 = elastic demand; the log-log OLS variant cannot
    hash-match because ln is not correctly rounded, so the arc form IS
    the exact-arithmetic representative). Average price enters as the
    rational P = R/Q and is CLEARED by cross-multiplication:
    (P₂−P₁)/(P₂+P₁) = (R₂Q₁ − R₁Q₂)/(R₂Q₁ + R₁Q₂), so
    e = (Q₂−Q₁)(R₂Q₁ + R₁Q₂) / ((Q₂+Q₁)(R₂Q₁ − R₁Q₂)) — exact
    integers, ONE double division (NULL when the price didn't move).

    Hash-exact: revenue in cents, quantities integral; bound
    Q·R·Q < 10³⁸ holds past 10¹⁰ rows/brand-month.

    Scale: one (brand, month) fact aggregation behind a broadcast part
    join; the lag window partitions by brand over the |brand×month|
    domain frame."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bm = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.trunc(F.to_date("l_shipdate"), "month").alias("month"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("q"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
            ).alias("r"),
        )
    )
    w = Window.partitionBy("brand").orderBy("month")
    lagd = bm.select(
        "brand", "month", "q", "r",
        F.lag("q").over(w).alias("q0"),
        F.lag("r").over(w).alias("r0"),
    ).where(F.col("q0").isNotNull())
    rq = (F.col("r").cast(d38) * F.col("q0")).cast(d38)
    r0q = (F.col("r0").cast(d38) * F.col("q")).cast(d38)
    num = ((F.col("q") - F.col("q0")).cast(d38) * (rq + r0q)).cast(d38)
    den = ((F.col("q") + F.col("q0")).cast(d38) * (rq - r0q)).cast(d38)
    return lagd.select(
        "brand", "month",
        F.col("q").alias("qty"),
        F.col("q0").alias("qty_prev"),
        F.when((rq - r0q) == 0, F.lit(None).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
        .alias("elasticity"),
    )


def _brand_qty_moments(spark: SparkSession, sf_dir: str, grain):
    """Shared (brand, grain) demand-moment rollup: broadcast part join,
    exact integer quantities per (brand, grain) bucket, then per-brand
    decimal moments (n, Σq, Σq²) — the frame both the XYZ variability
    classification (monthly grain) and the safety-stock readout (daily
    grain) derive their Welch-identity statistics from."""
    d38 = "decimal(38,0)"
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), grain)
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
    )
    return per.groupBy("brand").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("q").cast(d38)).cast(d38).alias("s"),
        F.sum((F.col("q").cast(d38) * F.col("q")).cast(d38))
        .cast(d38)
        .alias("qq"),
    )


@workload(
    "demand_variability_xyz",
    oracle="""
    WITH bm AS (
        SELECT p.p_brand AS brand,
               date_trunc('month', CAST(l.l_shipdate AS DATE)) AS month,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2),
    m AS (
        SELECT brand, CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(CAST(q AS HUGEINT)) AS s,
               SUM(CAST(q AS HUGEINT)*q) AS qq
        FROM bm GROUP BY 1),
    cv AS (
        SELECT brand, CAST(n AS BIGINT) AS n_months,
               CAST(CAST(s AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(n AS VARCHAR) AS DOUBLE) AS mean_qty,
               -- guard (r12 degenerate sweep): a 1-month brand has no
               -- CV, hence no class
               CASE WHEN n > 1 THEN
                 sqrt(CAST(CAST(n*(n*qq - s*s) AS VARCHAR) AS DOUBLE)
                      / CAST(CAST(n - 1 AS VARCHAR) AS DOUBLE))
                   / CAST(CAST(s AS VARCHAR) AS DOUBLE)
               END AS cv
        FROM m)
    SELECT brand, n_months, mean_qty, cv,
           CASE WHEN cv IS NULL THEN NULL
                WHEN cv <= 0.5 THEN 'X'
                WHEN cv <= 1.0 THEN 'Y'
                ELSE 'Z' END AS xyz_class
    FROM cv""",
)
def demand_variability_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification per brand: the coefficient
    of variation of monthly shipped quantity, bucketed X (steady,
    CV ≤ 0.5) / Y (fluctuating, ≤ 1.0) / Z (erratic) — the standard
    inventory-planning companion to the shipped ABC revenue
    classification (pareto_abc_parts): ABC says what matters, XYZ says
    what's forecastable. Months with no demand for a brand simply
    don't exist as rows (observed-month CV; the gap-fill workload
    covers densification).

    Hash-exact: monthly quantities are exact integers;
    CV = √(n(nQ − S²)/(n−1)) / S converts each exact decimal operand
    once (the Welch variance identity over months); class cuts compare
    identical doubles against literals.

    Scale: one (brand, month) fact aggregation behind a broadcast part
    join, then a |brands|-row moment rollup."""
    d38 = "decimal(38,0)"
    m = _brand_qty_moments(
        spark, sf_dir,
        F.trunc(F.to_date("l_shipdate"), "month").alias("month"),
    )
    n, s = F.col("n"), F.col("s")
    # guard (r12 degenerate sweep): a 1-month brand has no CV/class
    cv = F.when(
        n > 1,
        F.sqrt(
            (n * (n * F.col("qq") - s * s)).cast(d38).cast("double")
            / (n - 1).cast(d38).cast("double")
        ) / s.cast("double"),
    )
    out = m.select(
        "brand",
        n.cast("long").alias("n_months"),
        (s.cast("double") / n.cast("double")).alias("mean_qty"),
        cv.alias("cv"),
    )
    return out.select(
        "brand", "n_months", "mean_qty", "cv",
        F.when(F.col("cv").isNull(), F.lit(None).cast("string"))
        .when(F.col("cv") <= 0.5, F.lit("X"))
        .when(F.col("cv") <= 1.0, F.lit("Y"))
        .otherwise(F.lit("Z"))
        .alias("xyz_class"),
    )


# =========================================================================
# Round-9 additions (third wave): temporal-relational + robust stats
# (SCD2 point-in-time join, Theil-Sen slope, geo kNN, seasonal strength)
# =========================================================================


@workload(
    "scd2_point_in_time_join",
    oracle="""
    WITH dim AS (
        SELECT c_custkey, c_mktsegment, c_acctbal - 50 AS bal,
               DATE '1992-01-01' AS valid_from,
               CASE WHEN c_custkey % 2 = 0 THEN DATE '1995-07-01' END
                 AS valid_to,
               1 AS version
        FROM customer
        UNION ALL
        SELECT c_custkey, c_mktsegment, c_acctbal,
               DATE '1995-07-01', CAST(NULL AS DATE), 2
        FROM customer WHERE c_custkey % 2 = 0),
    j AS (
        SELECT d.c_mktsegment AS segment,
               CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
               d.version,
               CAST(FLOOR(d.bal*100+0.5) AS BIGINT) AS bal_cents
        FROM orders o JOIN dim d
          ON o.o_custkey = d.c_custkey
         AND CAST(o.o_orderdate AS DATE) >= d.valid_from
         AND (d.valid_to IS NULL
              OR CAST(o.o_orderdate AS DATE) < d.valid_to))
    SELECT segment, order_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN version = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_on_v2,
           CAST(SUM(bal_cents) AS BIGINT) AS bal_cents_sum
    FROM j GROUP BY 1, 2""",
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) join against a type-2 dimension: each order
    picks the dimension version whose [valid_from, valid_to) interval
    contains its order date — the query side of SCD2 (the
    scd2_dimension_update workload builds the history; this is how
    every fact query then reads it correctly, instead of joining the
    current row and silently rewriting the past). The versioned dim is
    derived deterministically from `customer` in both engines: even
    keys carry two versions split at 1995-07-01 (balance −50 before),
    odd keys one open-ended version.

    Hash-exact: the interval test is pure date comparison; the readout
    is exact counts + cent sums per (segment, order year).

    Scale: the join is an EQUI-join on the dimension key carrying the
    interval predicate as a residual filter — each fact row meets only
    its key's version rows (2 here; version count per key in general),
    NEVER a range-only theta join; the dim broadcasts at dimension
    scale, and at fact-sized dims the same plan shuffles on the key."""
    cust = _t(spark, sf_dir, "customer")
    v1 = cust.select(
        "c_custkey", "c_mktsegment",
        (F.col("c_acctbal") - 50).alias("bal"),
        F.lit("1992-01-01").cast("date").alias("valid_from"),
        F.when(
            F.col("c_custkey") % 2 == 0, F.lit("1995-07-01").cast("date")
        ).alias("valid_to"),
        F.lit(1).alias("version"),
    )
    v2 = cust.where(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_mktsegment",
        F.col("c_acctbal").alias("bal"),
        F.lit("1995-07-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(2).alias("version"),
    )
    dim = v1.unionByName(v2)
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("od")
    )
    j = o.join(
        F.broadcast(dim),
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("od") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("od") < F.col("valid_to"))),
    )
    return j.groupBy(
        F.col("c_mktsegment").alias("segment"),
        F.year("od").cast("int").alias("order_year"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("version") == 2, 1).otherwise(0)).alias(
            "n_on_v2"
        ),
        F.sum(
            F.floor(F.col("bal") * 100 + 0.5).cast("long")
        ).alias("bal_cents_sum"),
    )


@workload(
    "theil_sen_slope_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value*100+0.5) AS BIGINT)) AS BIGINT)
                 AS x
        FROM events GROUP BY 1),
    ix AS (SELECT x,
                  CAST(date_diff('day', (SELECT MIN(day) FROM daily), day)
                       AS BIGINT) AS idx
           FROM daily),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                 CAST(COUNT(*) AS BIGINT)*(CAST(COUNT(*) AS BIGINT)-1)//2
                   AS n_pairs
          FROM ix),
    p AS (SELECT a.idx AS ia, b.idx AS ib,
                 CAST(b.x - a.x AS DOUBLE) / CAST(b.idx - a.idx AS DOUBLE)
                   AS slope
          FROM ix a JOIN ix b ON b.idx > a.idx),
    r AS (SELECT slope,
                 row_number() OVER (ORDER BY slope, ia, ib) AS rn
          FROM p),
    m AS (SELECT MIN(slope) AS s1, MAX(slope) AS s2
          FROM r CROSS JOIN g
          WHERE rn = (n_pairs + 1) // 2 OR rn = (n_pairs + 2) // 2)
    SELECT n_days, n_pairs,
           (s1 + s2) / 2.0 AS sen_slope_cents,
           (s1 + s2) / 2.0 / 100.0 AS sen_slope_dollars
    FROM g CROSS JOIN m""",
)
def theil_sen_slope_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend slope of daily revenue: the median of all
    pairwise slopes — the outlier-proof companion to the Mann-Kendall
    test (MK answers IS there a monotone trend; Sen answers HOW STEEP,
    with up to ~29% contaminated days tolerated where OLS breaks).

    Determinism: every pairwise slope is ONE division of exact integers
    (identical doubles both engines); the median is selected by rank
    under the total order (slope, i, j) and the even-count midpoint is
    (min+max)/2 over the ≤2 selected rows — no floating accumulation
    anywhere.

    Scale: the pair space is quadratic in the DATE DOMAIN only (the
    Mann-Kendall probe regime — constant in fact rows). The median is
    selected by windows.distributed_rank (r10, VERDICT r9 item 7):
    range shuffle + broadcast offsets — NO single-partition sort over
    the pair frame at any calendar length (the former bare
    Window.orderBy funneled all ~4.5M pair rows through one task;
    probe row `theil_sen_pairframe` in SCALE.md measures the two
    forms at 10× days = 100× pairs)."""
    from metadata_driven_etl_spark.operators.windows import distributed_rank

    daily = materialize(
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).alias("x")
        )
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    ix = materialize(daily.crossJoin(F.broadcast(d0)).select(
        "x", F.datediff(F.col("day"), F.col("d0")).cast("long").alias("idx")
    ))
    g = ix.agg(F.count(F.lit(1)).cast("long").alias("n_days")).select(
        "n_days",
        (F.col("n_days") * (F.col("n_days") - 1) / 2)
        .cast("long")
        .alias("n_pairs"),
    )
    a = ix.select(F.col("idx").alias("ia"), F.col("x").alias("xa"))
    b = ix.select(F.col("idx").alias("ib"), F.col("x").alias("xb"))
    p = a.join(F.broadcast(b), F.col("ib") > F.col("ia")).select(
        "ia", "ib",
        (
            (F.col("xb") - F.col("xa")).cast("double")
            / (F.col("ib") - F.col("ia")).cast("double")
        ).alias("slope"),
    )
    r = distributed_rank(
        p,
        [F.col("slope").asc(), F.col("ia").asc(), F.col("ib").asc()],
        "rn",
        total_col="n_tot",
    )
    m = r.where(
        (F.col("rn") == F.floor((F.col("n_tot") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("n_tot") + 2) / 2))
    ).agg(F.min("slope").alias("s1"), F.max("slope").alias("s2"))
    sen = (F.col("s1") + F.col("s2")) / F.lit(2.0)
    return g.crossJoin(F.broadcast(m)).select(
        "n_days", "n_pairs",
        sen.alias("sen_slope_cents"),
        (sen / F.lit(100.0)).alias("sen_slope_dollars"),
    )


_KNN_K = 3


@workload(
    "knn_geo_topk",
    oracle=f"""
    WITH c AS (SELECT c_custkey,
                      (c_custkey * 48271) % {_GEO_M} AS cx,
                      (c_custkey * 16807) % {_GEO_M} AS cy
               FROM customer),
    s AS (SELECT s_suppkey,
                 (s_suppkey * 69621) % {_GEO_M} AS sx,
                 (s_suppkey * 40692) % {_GEO_M} AS sy
          FROM supplier),
    d AS (SELECT s_suppkey, c_custkey,
                 (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) AS d2
          FROM s JOIN c
            ON (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)
               <= CAST({_GEO_R} AS BIGINT) * {_GEO_R}),
    r AS (SELECT s_suppkey, c_custkey, CAST(d2 AS BIGINT) AS d2,
                 row_number() OVER (PARTITION BY s_suppkey
                                    ORDER BY d2, c_custkey) AS nn_rank
          FROM d)
    SELECT s_suppkey, CAST(nn_rank AS INTEGER) AS nn_rank, c_custkey, d2
    FROM r WHERE nn_rank <= {_KNN_K}""",
)
def knn_geo_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbors (k=3) within radius r for every supplier
    probe point — the bounded-kNN spatial primitive (store-to-nearest-
    warehouses, sensor-to-neighbors): the radius join's top-k sibling
    (geo_radius_join counts the catchment; this ranks it). Unbounded
    kNN cannot grid-prune — the radius bound is what makes the
    candidate set the 9-cell density, the standard production trade
    (probe with growing r on the rare empty neighborhood).

    Hash-exact: squared distances are exact integers on the LCG grid;
    ranking ties break by customer key (total order both sides). The
    oracle is the brute-force theta join, so the hash match proves the
    grid pruning loses no neighbor.

    Scale: grid-binned equi-join (cell = r, 3×3 probe explode) then a
    per-probe top-k window — WindowGroupLimit pushes the k=3 cut below
    the sort, so no probe's candidate list materializes fully."""
    from metadata_driven_etl_spark.operators import spatial as spatial_ops
    from pyspark.sql import Window

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 48271) % _GEO_M).alias("cx"),
        ((F.col("c_custkey") * 16807) % _GEO_M).alias("cy"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 69621) % _GEO_M).alias("sx"),
        ((F.col("s_suppkey") * 40692) % _GEO_M).alias("sy"),
    )
    pairs = spatial_ops.grid_radius_join(
        supp, cust, radius=_GEO_R,
        left_xy=("sx", "sy"), right_xy=("cx", "cy"), max_coord=_GEO_M,
    )
    w = Window.partitionBy("s_suppkey").orderBy("d2", "c_custkey")
    return (
        pairs.select(
            "s_suppkey", "c_custkey", F.col("_d2").alias("d2")
        )
        .withColumn("nn_rank", F.row_number().over(w))
        .where(F.col("nn_rank") <= _KNN_K)
        .select(
            "s_suppkey",
            F.col("nn_rank").cast("int").alias("nn_rank"),
            "c_custkey",
            "d2",
        )
    )


@workload(
    "seasonal_strength_dow",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value*100+0.5) AS BIGINT)) AS BIGINT)
                 AS x
        FROM events GROUP BY 1),
    d AS (SELECT CAST(isodow(day) AS INTEGER) AS dow, x FROM daily),
    m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                 SUM(CAST(x AS HUGEINT)) AS s,
                 SUM(CAST(x AS HUGEINT)*x) AS q,
                 {", ".join(
                     "SUM(CASE WHEN dow = " + str(i)
                     + " THEN CAST(x AS HUGEINT) END) AS s" + str(i)
                     + ", CAST(SUM(CASE WHEN dow = " + str(i)
                     + " THEN 1 ELSE 0 END) AS HUGEINT) AS c" + str(i)
                     for i in range(1, 8)
                 )}
          FROM d),
    v AS (SELECT CAST(n AS BIGINT) AS n_days,
                 CAST(CAST(n AS VARCHAR) AS DOUBLE) AS nd,
                 CAST(CAST(s AS VARCHAR) AS DOUBLE) AS sd,
                 CAST(CAST(q AS VARCHAR) AS DOUBLE) AS qd,
                 {" + ".join(
                     "CAST(CAST(COALESCE(s" + str(i)
                     + ", 0) AS VARCHAR) AS DOUBLE)"
                     " * CAST(CAST(COALESCE(s" + str(i)
                     + ", 0) AS VARCHAR) AS DOUBLE)"
                     " / CAST(CAST(GREATEST(c" + str(i)
                     + ", 1) AS VARCHAR) AS DOUBLE)"
                     for i in range(1, 8)
                 )} AS sum7
          FROM m)
    SELECT n_days,
           sum7 - sd*sd/nd AS ss_between,
           qd - sd*sd/nd AS ss_total,
           -- guard (r12 degenerate sweep): constant / 1-day series has
           -- no seasonal share (SST = 0)
           CASE WHEN qd - sd*sd/nd > 0
                THEN (sum7 - sd*sd/nd) / (qd - sd*sd/nd)
           END AS seasonal_strength
    FROM v""",
)
def seasonal_strength_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal strength of the weekly cycle: the share of daily-revenue
    variance explained by ISO weekday (the one-way ANOVA R² with
    day-of-week as the factor) — the decomposition-quality readout that
    says whether dow_seasonality_index's multiplicative factors are
    signal or noise (strength ≈ 0 → don't deseasonalize).

    Hash-exact: per-weekday sums pivot into SEVEN literal columns (the
    ANOVA fixed-order discipline; an absent weekday contributes 0/1 via
    COALESCE/GREATEST identically in both engines); SSB = Σ S_d²/n_d −
    S²/N and SST = Q − S²/N are fixed chains of correctly-rounded
    double ops over exactly-converted decimal moments.

    Scale: one fact aggregation to |days|, then ONE single-row pivot
    aggregation — the daily domain frame never re-shuffles."""
    d38 = "decimal(38,0)"
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).alias("x")
        )
    )
    d = daily.select(
        ((F.dayofweek("day") + 5) % 7 + 1).cast("int").alias("dow"), "x"
    )
    m = d.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("x").cast(d38)).cast(d38).alias("s"),
        F.sum((F.col("x").cast(d38) * F.col("x")).cast(d38))
        .cast(d38)
        .alias("q"),
        *[
            a
            for i in range(1, 8)
            for a in (
                F.sum(
                    F.when(F.col("dow") == i, F.col("x")).cast(d38)
                ).cast(d38).alias(f"s{i}"),
                F.count(F.when(F.col("dow") == i, F.lit(1)))
                .cast(d38)
                .alias(f"c{i}"),
            )
        ],
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    qd = F.col("q").cast("double")
    sum7 = None
    for i in range(1, 8):
        si = F.coalesce(F.col(f"s{i}"), F.lit(0).cast(d38)).cast("double")
        ci = F.greatest(F.col(f"c{i}"), F.lit(1).cast(d38)).cast("double")
        term = si * si / ci
        sum7 = term if sum7 is None else sum7 + term
    ssb = sum7 - sd * sd / nd
    sst = qd - sd * sd / nd
    return m.select(
        F.col("n").cast("long").alias("n_days"),
        ssb.alias("ss_between"),
        sst.alias("ss_total"),
        # guard (r12 degenerate sweep): SST = 0 has no seasonal share
        F.when(sst > 0, ssb / sst).alias("seasonal_strength"),
    )


# =========================================================================
# Round-9 additions (fourth wave): randomness/serial-correlation tests,
# drawdown, term burstiness
# =========================================================================


@workload(
    "runs_test_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value*100+0.5) AS BIGINT)) AS BIGINT)
                 AS x
        FROM events GROUP BY 1),
    d AS (SELECT day, x - lag(x) OVER (ORDER BY day) AS diff FROM daily),
    s AS (SELECT day, CASE WHEN diff > 0 THEN 1 ELSE -1 END AS sgn
          FROM d WHERE diff IS NOT NULL AND diff <> 0),
    r AS (SELECT sgn, lag(sgn) OVER (ORDER BY day) AS prev FROM s),
    m AS (SELECT
        CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
        CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS HUGEINT) AS n2,
        CAST(1 + SUM(CASE WHEN prev IS NOT NULL AND sgn <> prev
                          THEN 1 ELSE 0 END) AS HUGEINT) AS runs
        FROM r),
    v AS (SELECT CAST(n1 AS BIGINT) AS n_plus,
                 CAST(n2 AS BIGINT) AS n_minus,
                 CAST(runs AS BIGINT) AS n_runs,
                 CAST(CAST(n1 + n2 AS VARCHAR) AS DOUBLE) AS nd,
                 CAST(CAST(2*n1*n2 AS VARCHAR) AS DOUBLE) AS p2,
                 CAST(CAST(2*n1*n2*(2*n1*n2 - n1 - n2) AS VARCHAR)
                      AS DOUBLE) AS vnum,
                 CAST(CAST((n1+n2)*(n1+n2)*(n1+n2-1) AS VARCHAR)
                      AS DOUBLE) AS vden,
                 CAST(CAST(runs AS VARCHAR) AS DOUBLE) AS rd
          FROM m)
    SELECT n_plus, n_minus, n_runs,
           CASE WHEN n_plus = 0 OR n_minus = 0 THEN NULL
                ELSE (rd - (p2/nd + 1.0)) / sqrt(vnum/vden) END AS z_stat
    FROM v""",
)
def runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the signs of day-over-day revenue
    moves: too FEW runs = trending/sticky days, too MANY = oscillation
    — the randomness gate that tells you whether the ACF/Mann-Kendall
    findings are even worth reading (an i.i.d. series should pass).
    Zero diffs are excluded (standard treatment).

    Hash-exact: run counting is a lag comparison over the sign
    sequence; n₁, n₂, R are exact integers; μ = 2n₁n₂/n + 1 and
    σ² = 2n₁n₂(2n₁n₂−n)/(n²(n−1)) convert each exact decimal operand
    once into a fixed correctly-rounded chain (NULL z when one sign
    never occurs).

    Scale: one fact aggregation to |days|; diff/lag windows on the
    daily domain frame (documented exemption); ONE single-row
    rollup."""
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).alias("x")
        )
    )
    wo = Window.orderBy("day")
    d = daily.select(
        "day", (F.col("x") - F.lag("x").over(wo)).alias("diff")
    )
    s = d.where(F.col("diff").isNotNull() & (F.col("diff") != 0)).select(
        "day", F.when(F.col("diff") > 0, 1).otherwise(-1).alias("sgn")
    )
    r = s.select("sgn", F.lag("sgn").over(Window.orderBy("day")).alias("prev"))
    d38 = "decimal(38,0)"
    m = r.agg(
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0))
        .cast(d38)
        .alias("n1"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0))
        .cast(d38)
        .alias("n2"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("sgn") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        ).cast(d38).alias("runs"),
    )
    n1, n2, runs = F.col("n1"), F.col("n2"), F.col("runs")
    nd = (n1 + n2).cast(d38).cast("double")
    p2 = (2 * n1 * n2).cast(d38).cast("double")
    vnum = (2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)).cast(d38).cast("double")
    vden = ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)).cast(d38).cast("double")
    rd = runs.cast("double")
    return m.select(
        n1.cast("long").alias("n_plus"),
        n2.cast("long").alias("n_minus"),
        runs.cast("long").alias("n_runs"),
        F.when(
            (n1 == 0) | (n2 == 0), F.lit(None).cast("double")
        ).otherwise(
            (rd - (p2 / nd + F.lit(1.0))) / F.sqrt(vnum / vden)
        ).alias("z_stat"),
    )


@workload(
    "max_drawdown_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value*100+0.5) AS BIGINT)) AS BIGINT)
                 AS x
        FROM events GROUP BY 1),
    c AS (SELECT day,
                 SUM(CAST(x AS HUGEINT)) OVER (ORDER BY day) AS cum
          FROM daily),
    p AS (SELECT day, CAST(cum AS BIGINT) AS cum_cents,
                 CAST(MAX(cum) OVER (ORDER BY day) AS BIGINT)
                   AS peak_cents
          FROM c)
    SELECT day AS trough_day, cum_cents, peak_cents,
           peak_cents - cum_cents AS drawdown_cents
    FROM p ORDER BY drawdown_cents DESC, trough_day ASC LIMIT 1""",
)
def max_drawdown_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of cumulative daily revenue: the deepest
    peak-to-trough fall of the running total — the worst-case
    sustained-decline readout (the changepoint locator says WHEN the
    level shifted; drawdown says HOW MUCH a decline ever cost from its
    high-water mark).

    Hash-exact: prefix sum and running max are exact cent integers;
    the argmax row is ORDER BY (drawdown DESC, day ASC) LIMIT 1 —
    total order, TakeOrderedAndProject.

    Scale: one fact aggregation to |days|; two stacked windows on the
    daily domain frame (shared sort order — one window pass); never a
    global sort of the fact."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).alias("x")
        )
    )
    wo = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = daily.select(
        "day", F.sum(F.col("x").cast(d38)).over(wo).cast(d38).alias("cum")
    )
    p = c.select(
        "day",
        F.col("cum").cast("long").alias("cum_cents"),
        F.max("cum").over(wo).cast("long").alias("peak_cents"),
    )
    return (
        p.select(
            F.col("day").alias("trough_day"),
            "cum_cents",
            "peak_cents",
            (F.col("peak_cents") - F.col("cum_cents")).alias(
                "drawdown_cents"
            ),
        )
        .orderBy(F.col("drawdown_cents").desc(), F.col("trough_day").asc())
        .limit(1)
    )


@workload(
    "durbin_watson_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value*100+0.5) AS BIGINT)) AS BIGINT)
                 AS x
        FROM events GROUP BY 1),
    ix AS (SELECT x,
                  CAST(date_diff('day', (SELECT MIN(day) FROM daily), day)
                       AS BIGINT) AS t
           FROM daily),
    m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                 SUM(CAST(t AS HUGEINT)) AS st,
                 SUM(CAST(x AS HUGEINT)) AS sx,
                 SUM(CAST(t AS HUGEINT)*t) AS stt,
                 SUM(CAST(t AS HUGEINT)*x) AS stx
          FROM ix),
    co AS (SELECT CAST(n AS BIGINT) AS n_days,
                  -- guard (r12 degenerate sweep): a 1-day series has
                  -- no time variance, hence no fit
                  CASE WHEN n*stt - st*st > 0 THEN
                    CAST(CAST(n*stx - st*sx AS VARCHAR) AS DOUBLE)
                      / CAST(CAST(n*stt - st*st AS VARCHAR) AS DOUBLE)
                  END AS beta,
                  CASE WHEN n*stt - st*st > 0 THEN
                    (CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                     - CAST(CAST(n*stx - st*sx AS VARCHAR) AS DOUBLE)
                       / CAST(CAST(n*stt - st*st AS VARCHAR) AS DOUBLE)
                       * CAST(CAST(st AS VARCHAR) AS DOUBLE))
                      / CAST(CAST(n AS VARCHAR) AS DOUBLE)
                  END AS alpha
           FROM m),
    e AS (SELECT t,
                 CAST(FLOOR(CAST(x AS DOUBLE) - alpha - beta
                            * CAST(t AS DOUBLE) + 0.5) AS BIGINT) AS eq
          FROM ix CROSS JOIN co),
    de AS (SELECT eq, eq - lag(eq) OVER (ORDER BY t) AS d FROM e),
    agg AS (SELECT COUNT(*) AS nr,
                   SUM(CAST(eq AS HUGEINT)*eq) AS see,
                   SUM(CAST(d AS HUGEINT)*d) AS sdd
            FROM de)
    SELECT (SELECT n_days FROM co) AS n_days,
           (SELECT beta FROM co) AS beta,
           CASE WHEN see > 0 THEN
             CAST(CAST(sdd AS VARCHAR) AS DOUBLE)
               / CAST(CAST(see AS VARCHAR) AS DOUBLE)
           END AS dw_stat
    FROM agg
    -- empty-input alignment (r12): the engine's grouped aggregate
    -- emits no rows over an empty series; nr>0 is a no-op otherwise
    WHERE nr > 0""",
)
def durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson serial-correlation test on the residuals of the
    daily-revenue-on-time OLS fit: DW ≈ 2(1−ρ₁) of the RESIDUALS —
    the autocorrelation-after-detrending diagnostic (the raw ACF
    conflates trend with persistence; DW is what validates the OLS
    error assumption that every forecast interval rests on).

    Determinism: α and β are fixed correctly-rounded chains over exact
    decimal moments; each residual evaluates to an identical double
    per row and is QUANTIZED to integer cents (⌊e+0.5⌋) — from there
    Σe², Σ(Δe)² are exact integers and DW is ONE division. (A fully
    exact rational residual would need Σ(nD·e)² ≈ 10⁵⁰-scale integers
    — past decimal(38); cent quantization keeps exactness where it
    matters and is documented as ±0.5-cent per-residual noise, ~1e-9
    relative on this series.)

    Scale: one fact aggregation to |days|; one moment pass; residual
    quantization map-side under a broadcast 1-row coefficient frame;
    lag window on the daily domain frame."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    daily = materialize(
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).alias("x")
        )
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    ix = materialize(daily.crossJoin(F.broadcast(d0)).select(
        "x", F.datediff(F.col("day"), F.col("d0")).cast("long").alias("t")
    ))
    m = ix.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("t").cast(d38)).cast(d38).alias("st"),
        F.sum(F.col("x").cast(d38)).cast(d38).alias("sx"),
        F.sum((F.col("t").cast(d38) * F.col("t")).cast(d38))
        .cast(d38)
        .alias("stt"),
        F.sum((F.col("t").cast(d38) * F.col("x")).cast(d38))
        .cast(d38)
        .alias("stx"),
    )
    n = F.col("n")
    bnum = (n * F.col("stx") - F.col("st") * F.col("sx")).cast(d38)
    bden = (n * F.col("stt") - F.col("st") * F.col("st")).cast(d38)
    # guard (r12 degenerate sweep): a 1-day series has no fit
    beta = F.when(bden > 0, bnum.cast("double") / bden.cast("double"))
    alpha = F.when(
        bden > 0,
        (
            F.col("sx").cast("double")
            - bnum.cast("double") / bden.cast("double")
            * F.col("st").cast("double")
        ) / n.cast("double"),
    )
    co = m.select(
        n.cast("long").alias("n_days"),
        beta.alias("beta"),
        alpha.alias("alpha"),
    )
    e = ix.crossJoin(F.broadcast(co)).select(
        "t",
        "n_days",
        "beta",
        F.floor(
            F.col("x").cast("double")
            - F.col("alpha")
            - F.col("beta") * F.col("t").cast("double")
            + 0.5
        ).cast("long").alias("eq"),
    )
    de = e.select(
        "n_days", "beta", "eq",
        (F.col("eq") - F.lag("eq").over(Window.orderBy("t"))).alias("d"),
    )
    agg = de.groupBy("n_days", "beta").agg(
        F.sum((F.col("eq").cast(d38) * F.col("eq")).cast(d38))
        .cast(d38)
        .alias("see"),
        F.sum((F.col("d").cast(d38) * F.col("d")).cast(d38))
        .cast(d38)
        .alias("sdd"),
    )
    return agg.select(
        "n_days",
        "beta",
        F.when(
            F.col("see") > 0,
            F.col("sdd").cast("double") / F.col("see").cast("double"),
        ).alias("dw_stat"),
    )


@workload(
    "term_burstiness_vmr",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({text_ops.sql_tokens('text')}) AS term
        FROM documents),
    per AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS c
            FROM tok GROUP BY 1, 2),
    t AS (SELECT term,
                 CAST(COUNT(*) AS BIGINT) AS n_docs_with,
                 CAST(SUM(c) AS BIGINT) AS total_occ,
                 CAST(SUM(CAST(c AS HUGEINT)*c) AS HUGEINT) AS q
          FROM per GROUP BY 1),
    g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS nd FROM documents)
    SELECT term, n_docs_with, total_occ,
           CAST(CAST(nd*q - CAST(total_occ AS HUGEINT)*total_occ
                     AS VARCHAR) AS DOUBLE)
             / CAST(CAST(nd*total_occ AS VARCHAR) AS DOUBLE) AS vmr
    FROM t CROSS JOIN g""",
)
def term_burstiness_vmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness as the variance-to-mean ratio of per-document
    counts (zeros included via the closed form (N·Q − S²)/(N·S)) —
    the Church-Gale dispersion diagnostic: VMR ≈ 1 is Poisson
    scatter (function words), VMR ≫ 1 is bursty content vocabulary;
    stop-word lists, keyword weighting, and boilerplate screens all
    key off it. Interarrival burstiness covers the TIME axis; this is
    the document axis.

    Hash-exact: per-(term, doc) counts, their sums/squares, and the
    document total are exact integers; the population VMR folds the
    (N − d) zero documents in algebraically — no zero-row
    densification — and is ONE division per term.

    Scale: one map-side tokenize, one (term, doc) aggregation, one
    |vocabulary| rollup with the 1-row doc total broadcast back —
    vocabulary-bounded output, never a doc×term matrix."""
    d38 = "decimal(38,0)"
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.explode(text_ops.tokens("text")).alias("term")
    )
    per = tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    t = per.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_docs_with"),
        F.sum("c").alias("total_occ"),
        F.sum((F.col("c").cast(d38) * F.col("c")).cast(d38))
        .cast(d38)
        .alias("q"),
    )
    g = docs.agg(F.count(F.lit(1)).cast(d38).alias("nd"))
    j = t.crossJoin(F.broadcast(g))
    num = (
        F.col("nd") * F.col("q")
        - F.col("total_occ").cast(d38) * F.col("total_occ")
    ).cast(d38)
    den = (F.col("nd") * F.col("total_occ")).cast(d38)
    return j.select(
        "term", "n_docs_with", "total_occ",
        (num.cast("double") / den.cast("double")).alias("vmr"),
    )


# =========================================================================
# Round-9 additions (fifth wave): nearest as-of join, intra-label
# similarity histogram
# =========================================================================


@workload(
    "join_asof_nearest",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, value FROM events
          WHERE event_type = 'click'),
    b AS (SELECT p.event_id, c.ts AS bts
          FROM p ASOF LEFT JOIN c
            ON p.user_id = c.user_id AND p.ts >= c.ts),
    f AS (SELECT p.event_id, c.ts AS fts
          FROM p ASOF LEFT JOIN c
            ON p.user_id = c.user_id AND p.ts <= c.ts),
    j AS (SELECT p.event_id, p.user_id, p.ts, b.bts, f.fts,
                 epoch_us(p.ts) - epoch_us(b.bts) AS bdt,
                 epoch_us(f.fts) - epoch_us(p.ts) AS fdt
          FROM p JOIN b USING (event_id) JOIN f USING (event_id))
    SELECT event_id, user_id, ts,
           CASE WHEN bts IS NULL AND fts IS NULL THEN NULL
                WHEN fts IS NULL THEN bts
                WHEN bts IS NULL THEN fts
                WHEN bdt <= fdt THEN bts ELSE fts END AS nearest_click_ts,
           CASE WHEN bts IS NULL AND fts IS NULL THEN NULL
                WHEN fts IS NULL THEN bdt
                WHEN bts IS NULL THEN fdt
                WHEN bdt <= fdt THEN bdt ELSE fdt END AS nearest_dt_us,
           CASE WHEN bts IS NULL AND fts IS NULL THEN NULL
                WHEN fts IS NULL THEN 'backward'
                WHEN bts IS NULL THEN 'forward'
                WHEN bdt <= fdt THEN 'backward'
                ELSE 'forward' END AS side
    FROM j""",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas ``merge_asof
    direction='nearest'``): for each purchase, the user's click closest
    in time in EITHER direction, ties to the earlier click — the third
    direction completing the as-of family (backward = feature lookup,
    forward = next-event, nearest = sensor/beacon alignment where
    "which reading belongs to this moment" has no preferred side).

    Routed through the SHARED operator (temporal.asof_join
    direction='nearest' — also reachable as the declarable silver
    enrichment knob): BOTH directional carries run over ONE union
    frame as two window passes (ascending + descending), no alignment
    join; the pick is an exact integer-microsecond comparison
    map-side, NULL-complete on both one-sided and no-click users.

    Hash-exact: timestamps and Δt are exact microseconds; the
    backward-on-tie contract is the same deterministic total order
    both engines evaluate.

    Scale: two user-keyed window passes on the same frame — each
    linear; the nearest pick adds no shuffle and NO join at all."""
    from metadata_driven_etl_spark.operators import temporal

    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    out = temporal.asof_join(
        purchases, clicks, key="user_id", left_ts="ts",
        right_ts="click_ts", right_cols=["click_ts"], prefix="near_",
        direction="nearest",
    )
    nts = F.col("near_click_ts")
    dt = F.when(
        nts.isNotNull(),
        F.when(
            nts <= F.col("ts"),
            F.unix_micros(F.col("ts")) - F.unix_micros(nts),
        ).otherwise(F.unix_micros(nts) - F.unix_micros(F.col("ts"))),
    )
    return out.select(
        "event_id", "user_id", "ts",
        nts.alias("nearest_click_ts"),
        dt.cast("long").alias("nearest_dt_us"),
        F.when(nts.isNull(), F.lit(None).cast("string"))
        .when(nts <= F.col("ts"), F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("side"),
    )


_SIM_HIST_BINS = 20


@workload(
    "embedding_sim_histogram_intra_label",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE)*{_KM_SCALE}+0.5)
                             AS BIGINT)) AS qv
        FROM embeddings),
    n AS (SELECT vec_id, label, qv,
                 list_sum(list_transform(qv, v -> v*v)) AS n2
          FROM q),
    p AS (SELECT a.label,
                 CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
                      z -> z[1]*z[2])) AS DOUBLE)
                   / (sqrt(CAST(a.n2 AS DOUBLE))
                      * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
          FROM n a JOIN n b
            ON a.label = b.label AND a.vec_id < b.vec_id),
    h AS (SELECT CAST(FLOOR(cos * {_SIM_HIST_BINS}) AS INTEGER) AS bin,
                 CAST(COUNT(*) AS BIGINT) AS n_pairs
          FROM p GROUP BY 1)
    SELECT bin, n_pairs FROM h""",
)
def embedding_sim_histogram_intra_label(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Within-label cosine-similarity histogram (bins of 1/20) — the
    embedding-space health diagnostic ANN tuning starts from: a
    near-dup threshold or IVF n_probe is chosen off exactly this
    distribution, and a collapsed/anisotropic embedding space shows up
    as mass piling against 1.0.

    Pair generation is BLOCKED on the label (the IVF/SemDeDup coarse-
    cell posture): the pair space is Σ_cells |cell|² — never corpus-
    quadratic; at 100 TB the label is ivf_build_index's cell id, cells
    stay bounded, and cells only multiply.

    Determinism: quantized integer dot products and squared norms are
    exact; each cosine is one fixed correctly-rounded chain; binning
    floors identical doubles.

    Scale: one equi-join on the label, map-side fold per pair, one
    |bins| rollup."""
    q = _emb(spark, sf_dir).select(
        "vec_id", "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _KM_SCALE + 0.5).cast(
                "long"
            ),
        ).alias("qv"),
    )
    n = materialize(q.select(
        "vec_id", "label", "qv",
        F.aggregate(
            "qv", F.lit(0).cast("long"), lambda acc, v: acc + v * v
        ).alias("n2"),
    ))
    a = n.select(
        F.col("label"), F.col("vec_id").alias("ia"),
        F.col("qv").alias("qa"), F.col("n2").alias("na"),
    )
    b = n.select(
        F.col("label"), F.col("vec_id").alias("ib"),
        F.col("qv").alias("qb"), F.col("n2").alias("nb"),
    )
    pairs = a.join(b, "label").where(F.col("ia") < F.col("ib"))
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    cos = dot.cast("double") / (
        F.sqrt(F.col("na").cast("double"))
        * F.sqrt(F.col("nb").cast("double"))
    )
    return (
        pairs.select(
            F.floor(cos * _SIM_HIST_BINS).cast("int").alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# =========================================================================
# Round-9 additions (sixth wave): ops-capacity and inventory planning
# =========================================================================


@workload(
    "hourly_load_profile",
    oracle="""
    WITH e AS (
        SELECT CAST(isodow(CAST(ts AS DATE)) AS INTEGER) AS dow,
               CAST(hour(ts) AS INTEGER) AS hour
        FROM events),
    c AS (SELECT dow, hour, CAST(COUNT(*) AS BIGINT) AS n_events
          FROM e GROUP BY 1, 2),
    g AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM c)
    SELECT dow, hour, n_events,
           CAST(n_events AS DOUBLE) / CAST(total AS DOUBLE) AS load_share
    FROM c CROSS JOIN g""",
)
def hourly_load_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour traffic heatmap: event counts and load share per
    (ISO weekday, hour-of-day) cell — the capacity-planning staple
    (autoscaling schedules, maintenance windows, on-call load) and the
    finer-grained sibling of dow_seasonality_index.

    Hash-exact: counts are exact; each share is ONE division against
    the broadcast 1-row total; the ISO weekday formula is the shared
    (dayofweek+5)%7+1 ≡ isodow identity.

    Scale: one map-side (dow, hour) extraction, one 168-cell-bounded
    aggregation, 1-row total broadcast back. Shared core:
    temporal.hourly_load_profile (also gold ``analysis: hourly_load``
    — one implementation, YAML ≡ direct by construction)."""
    from metadata_driven_etl_spark.operators import temporal as temporal_ops

    return temporal_ops.hourly_load_profile(_t(spark, sf_dir, "events"))


# Literal service-level knobs for the safety-stock readout: z at 95%
# service level, 7-day replenishment lead time. Literals so the readout
# is a fixed correctly-rounded chain both engines evaluate identically.
_SS_Z = 1.645
_SS_LEAD_DAYS = 7


@workload(
    "safety_stock_reorder_point",
    oracle=f"""
    WITH bd AS (
        SELECT p.p_brand AS brand,
               CAST(l.l_shipdate AS DATE) AS day,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2),
    m AS (SELECT brand, CAST(COUNT(*) AS HUGEINT) AS n,
                 SUM(CAST(q AS HUGEINT)) AS s,
                 SUM(CAST(q AS HUGEINT)*q) AS qq
          FROM bd GROUP BY 1),
    d AS (SELECT brand, CAST(n AS BIGINT) AS n_days,
                 CAST(CAST(s AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(n AS VARCHAR) AS DOUBLE) AS mu,
                 -- guard (r12 degenerate sweep): one shipping day has
                 -- no daily sigma
                 CASE WHEN n > 1 THEN
                   sqrt(CAST(CAST(n*(n*qq - s*s) AS VARCHAR) AS DOUBLE)
                        / CAST(CAST(n - 1 AS VARCHAR) AS DOUBLE))
                     / CAST(CAST(n AS VARCHAR) AS DOUBLE)
                 END AS sigma
          FROM m)
    SELECT brand, n_days, mu AS mu_daily, sigma AS sigma_daily,
           {_SS_Z} * sigma * sqrt(CAST({_SS_LEAD_DAYS} AS DOUBLE))
             AS safety_stock,
           mu * {_SS_LEAD_DAYS}
             + {_SS_Z} * sigma * sqrt(CAST({_SS_LEAD_DAYS} AS DOUBLE))
             AS reorder_point
    FROM d""",
)
def safety_stock_reorder_point(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Safety stock and reorder point per brand at a 95% service level:
    SS = z·σ_daily·√L, ROP = μ_daily·L + SS (z = 1.645, L = 7 days) —
    the inventory-planning readout that CONSUMES the demand-variability
    classification (XYZ says which brands are forecastable; this says
    how much buffer the variability costs in units). Observed shipping
    days only, like the XYZ workload.

    Hash-exact: daily quantities are exact integers; μ and σ convert
    each exact decimal moment once (σ via the Welch identity
    √(n(nQ−S²)/(n−1))/n — note the /n: the identity's radical is n²·
    sample-variance); SS/ROP are fixed correctly-rounded chains with
    literal z and √L.

    Scale: one (brand, day) fact aggregation behind a broadcast part
    join, then a |brands|-row moment rollup — the demand_variability
    plan at daily grain."""
    d38 = "decimal(38,0)"
    m = _brand_qty_moments(
        spark, sf_dir, F.to_date("l_shipdate").alias("day")
    )
    n, sm = F.col("n"), F.col("s")
    mu = sm.cast("double") / n.cast("double")
    # guard (r12 degenerate sweep): one shipping day has no sigma
    sigma = F.when(
        n > 1,
        F.sqrt(
            (n * (n * F.col("qq") - sm * sm)).cast(d38).cast("double")
            / (n - 1).cast(d38).cast("double")
        ) / n.cast("double"),
    )
    ss = F.lit(_SS_Z) * sigma * F.sqrt(F.lit(float(_SS_LEAD_DAYS)))
    return m.select(
        "brand",
        n.cast("long").alias("n_days"),
        mu.alias("mu_daily"),
        sigma.alias("sigma_daily"),
        ss.alias("safety_stock"),
        (mu * _SS_LEAD_DAYS + ss).alias("reorder_point"),
    )


@workload(
    "dwell_time_by_type",
    oracle="""
    WITH w AS (
        SELECT event_type, ts,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS nxt
        FROM events WHERE user_id IS NOT NULL),
    d AS (SELECT event_type,
                 epoch_us(nxt) - epoch_us(ts) AS gap_us
          FROM w WHERE nxt IS NOT NULL)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_dwells,
           CAST(SUM(gap_us) AS BIGINT) AS total_dwell_us,
           CAST(SUM(gap_us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             / 1000000.0 AS avg_dwell_sec
    FROM d GROUP BY 1""",
)
def dwell_time_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average dwell time after each event type: the gap to the user's
    next event (any type) — the engagement readout behind "which pages
    hold attention" (a long dwell after view = reading; a long dwell
    after error = abandonment risk; session_metrics sums the visit,
    this attributes the time to the step that held it). Last events
    per user have no successor and carry no dwell.

    Hash-exact: gaps are exact integer microseconds under the (ts,
    event_id) total order; the average is ONE division of exact sums.

    Scale: ONE user-keyed window shuffle (the sessionizer/funnel
    family's shuffle), then a |types|-row partial-aggregated rollup.
    Shared core: temporal.dwell_time_by_type (also gold ``analysis:
    dwell_time`` — one implementation, YAML ≡ direct by construction)."""
    from metadata_driven_etl_spark.operators import temporal as temporal_ops

    return temporal_ops.dwell_time_by_type(_t(spark, sf_dir, "events"))


# =========================================================================
# Round-10 additions, wave 1: hypothesis-testing / effect-size /
# robust-stats completion — Kendall tau-b, Brown-Forsythe, Cohen's d,
# Mood's median test, jackknife influence, ridge regression.
# =========================================================================


@workload(
    "kendall_tau_revenue_volume",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value*100+0.5) AS BIGINT)) AS BIGINT)
                 AS x,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1),
    p AS (SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
          FROM daily a JOIN daily b ON b.day > a.day),
    c AS (SELECT
        CAST(COUNT(*) AS BIGINT) AS n0,
        CAST(SUM(CASE WHEN (xa < xb AND ya < yb)
                        OR (xa > xb AND ya > yb) THEN 1 ELSE 0 END)
             AS BIGINT) AS conc,
        CAST(SUM(CASE WHEN (xa < xb AND ya > yb)
                        OR (xa > xb AND ya < yb) THEN 1 ELSE 0 END)
             AS BIGINT) AS disc,
        CAST(SUM(CASE WHEN xa = xb THEN 1 ELSE 0 END) AS BIGINT) AS tx,
        CAST(SUM(CASE WHEN ya = yb THEN 1 ELSE 0 END) AS BIGINT) AS ty
        FROM p),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily)
    SELECT n_days, n0 AS n_pairs, conc AS concordant, disc AS discordant,
           CASE WHEN n0 - tx = 0 OR n0 - ty = 0 THEN NULL
                ELSE CAST(conc - disc AS DOUBLE)
                  / (sqrt(CAST(n0 - tx AS DOUBLE))
                     * sqrt(CAST(n0 - ty AS DOUBLE))) END AS tau_b
    FROM c CROSS JOIN g""",
)
def kendall_tau_revenue_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kendall's tau-b between daily revenue and daily event volume —
    the concordance-based rank correlation (the robust sibling of the
    shipped Spearman: tau counts pair INVERSIONS, so a single wild day
    moves it by at most 2(n−1) pairs, and tau-b's tie correction
    handles the discrete volume counts Spearman's midranks smear).

    Hash-exact: every pair verdict (concordant / discordant / tied) is
    an integer comparison; tau_b = (C−D)/(√(n0−t_x)·√(n0−t_y)) is a
    fixed chain over exactly-converted counts (sqrt factors taken
    separately on both sides — one √(a·b) would round differently).

    Scale: one fact aggregation to |days|, then the calendar-bounded
    pair join (quadratic in the DATE DOMAIN only — the Mann-Kendall /
    theil-sen probe regime; SCALE.md `mann_kendall_shape` row) with
    the small side broadcast. The verdict aggregation is map-side."""
    daily = materialize(
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).alias("x"),
            F.count(F.lit(1)).alias("y"),
        )
    )
    a = daily.select(
        F.col("day").alias("da"), F.col("x").alias("xa"),
        F.col("y").alias("ya"),
    )
    b = daily.select(
        F.col("day").alias("db"), F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    p = a.join(F.broadcast(b), F.col("db") > F.col("da"))
    conc = (
        ((F.col("xa") < F.col("xb")) & (F.col("ya") < F.col("yb")))
        | ((F.col("xa") > F.col("xb")) & (F.col("ya") > F.col("yb")))
    ).cast("long")
    disc = (
        ((F.col("xa") < F.col("xb")) & (F.col("ya") > F.col("yb")))
        | ((F.col("xa") > F.col("xb")) & (F.col("ya") < F.col("yb")))
    ).cast("long")
    c = p.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum(conc).alias("conc"),
        F.sum(disc).alias("disc"),
        F.sum((F.col("xa") == F.col("xb")).cast("long")).alias("tx"),
        F.sum((F.col("ya") == F.col("yb")).cast("long")).alias("ty"),
    )
    g = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    # ADVICE r10: when all days tie on x or y the denominator is 0 —
    # Spark's x/0 yields NULL while DuckDB IEEE division yields
    # inf/NaN, so a degenerate dataset would hash-mismatch. Emit NULL
    # explicitly on BOTH engines (the oracle carries the same CASE).
    tau = F.when(
        (F.col("n0") != F.col("tx")) & (F.col("n0") != F.col("ty")),
        (F.col("conc") - F.col("disc")).cast("double")
        / (
            F.sqrt((F.col("n0") - F.col("tx")).cast("double"))
            * F.sqrt((F.col("n0") - F.col("ty")).cast("double"))
        ),
    )
    return c.crossJoin(F.broadcast(g)).select(
        "n_days",
        F.col("n0").alias("n_pairs"),
        F.col("conc").alias("concordant"),
        F.col("disc").alias("discordant"),
        tau.alias("tau_b"),
    )


@workload(
    "brown_forsythe_variance_test",
    oracle=f"""
    WITH f AS (
        SELECT event_type AS g,
               CAST(FLOOR(value*100+0.5) AS BIGINT) AS cents
        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
    d AS (SELECT g, cents, CAST(COUNT(*) AS BIGINT) AS c
          FROM f GROUP BY 1, 2),
    w AS (SELECT g, cents, c,
                 CAST(SUM(c) OVER (PARTITION BY g ORDER BY cents
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS BIGINT)
                   AS cum,
                 CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS tot
          FROM d),
    med AS (SELECT g,
                   CAST(MIN(CASE WHEN 2*cum >= tot THEN cents END)
                        AS BIGINT) AS med
            FROM w GROUP BY 1),
    z AS (SELECT f.g, ABS(f.cents - med.med) AS z
          FROM f JOIN med ON med.g = f.g),
    gm AS (SELECT g, CAST(COUNT(*) AS HUGEINT) AS n_g,
                  SUM(CAST(z AS HUGEINT)) AS s_g,
                  SUM(CAST(z AS HUGEINT)*z) AS q_g
           FROM z GROUP BY 1),
    pv AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                  CAST(SUM(n_g) AS BIGINT) AS n_rows,
                  CAST(CAST(SUM(s_g) AS VARCHAR) AS DOUBLE) AS s,
                  CAST(CAST(SUM(q_g) AS VARCHAR) AS DOUBLE) AS q,
                  {", ".join(
                      "COALESCE(MAX(CASE WHEN g = '" + t + "' THEN "
                      "CAST(CAST(s_g*s_g AS VARCHAR) AS DOUBLE)"
                      " / CAST(n_g AS DOUBLE) END), 0.0) AS t_" + t
                      for t in _KW_TYPES
                  )}
           FROM gm),
    e AS (SELECT k, n_rows, s, q,
                 {" + ".join("t_" + t for t in _KW_TYPES)} AS st
          FROM pv)
    SELECT k, n_rows,
           -- guards (r12 degenerate sweep): same df/SSW conditions as
           -- the plain ANOVA F
           CASE WHEN k > 1 AND n_rows > k AND q - st > 0 THEN
             ((st - s*s/CAST(n_rows AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
               / ((q - st) / CAST(n_rows - k AS DOUBLE))
           END AS bf_stat
    FROM e""",
)
def brown_forsythe_variance_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brown-Forsythe test for equal variances across event types: the
    one-way ANOVA F computed on z = |x − group MEDIAN| — the
    heteroscedasticity gate to run BEFORE trusting the plain ANOVA
    (Levene's mean-centered form is itself outlier-sensitive; the
    median-centered variant is the robust standard). Lower-median
    convention (smallest x with 2·cum ≥ n) keeps the center an exact
    integer, so every z is an exact integer.

    Hash-exact: per-group medians by integer cross-multiplication over
    the |group × distinct cents| domain frame; z integer; the F chain
    is the shipped ANOVA pivot (per-group S²/n as literal columns,
    left-associated scalar sum, fixed double ops).

    Scale: one domain-frame median pass (the weighted-median
    discipline), one broadcast 5-row median join back onto the fact,
    one map-side-combinable moment aggregation."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    f = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    d = f.groupBy("g", "cents").agg(F.count(F.lit(1)).alias("c"))
    wc = Window.partitionBy("g").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("g")
    med = (
        d.select(
            "g", "cents",
            F.sum("c").over(wc).alias("cum"),
            F.sum("c").over(wt).alias("tot"),
        )
        .groupBy("g")
        .agg(
            F.min(
                F.when(2 * F.col("cum") >= F.col("tot"), F.col("cents"))
            ).alias("med")
        )
    )
    z = f.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("cents") - F.col("med")).alias("z")
    )
    gm = z.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum(F.col("z").cast(d38)).cast(d38).alias("s_g"),
        F.sum((F.col("z").cast(d38) * F.col("z")).cast(d38))
        .cast(d38)
        .alias("q_g"),
    )
    term = (
        (F.col("s_g").cast(d38) * F.col("s_g")).cast(d38).cast("double")
        / F.col("n_g").cast("double")
    )
    pv = gm.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n_rows"),
        F.sum(F.col("s_g")).cast(d38).cast("double").alias("s"),
        F.sum(F.col("q_g")).cast(d38).cast("double").alias("q"),
        *[
            F.coalesce(
                F.max(F.when(F.col("g") == t, term)), F.lit(0.0)
            ).alias(f"t_{t}")
            for t in _KW_TYPES
        ],
    )
    st = F.col(f"t_{_KW_TYPES[0]}")
    for t in _KW_TYPES[1:]:
        st = st + F.col(f"t_{t}")
    e = pv.select("k", "n_rows", "s", "q", st.alias("st"))
    ssb = F.col("st") - F.col("s") * F.col("s") / F.col("n_rows").cast(
        "double"
    )
    ssw = F.col("q") - F.col("st")
    return e.select(
        "k", "n_rows",
        # guards (r12 degenerate sweep): same conditions as ANOVA F
        F.when(
            (F.col("k") > 1)
            & (F.col("n_rows") > F.col("k"))
            & (ssw > 0),
            (ssb / (F.col("k") - 1).cast("double"))
            / (ssw / (F.col("n_rows") - F.col("k")).cast("double")),
        ).alias("bf_stat"),
    )


@workload(
    "effect_size_cohens_d",
    oracle="""
    WITH f AS (
        SELECT l_returnflag AS g,
               CAST(FLOOR(l_extendedprice*100+0.5) AS BIGINT) AS x
        FROM lineitem WHERE l_returnflag IN ('A', 'R')),
    m AS (SELECT
        -- COUNT, not SUM(CASE..1 ELSE 0): over ZERO input rows SUM is
        -- NULL while the engine's F.count is 0 (r12 degenerate sweep)
        CAST(COUNT(CASE WHEN g='A' THEN 1 END) AS HUGEINT) AS na,
        SUM(CASE WHEN g='A' THEN CAST(x AS HUGEINT) END) AS sa,
        SUM(CASE WHEN g='A' THEN CAST(x AS HUGEINT)*x END) AS qa,
        CAST(COUNT(CASE WHEN g='R' THEN 1 END) AS HUGEINT) AS nr,
        SUM(CASE WHEN g='R' THEN CAST(x AS HUGEINT) END) AS sr,
        SUM(CASE WHEN g='R' THEN CAST(x AS HUGEINT)*x END) AS qr
        FROM f),
    d AS (SELECT
        CAST(na AS BIGINT) AS n_a, CAST(nr AS BIGINT) AS n_r,
        CAST(CAST(sa AS VARCHAR) AS DOUBLE) AS sad,
        CAST(CAST(sr AS VARCHAR) AS DOUBLE) AS srd,
        CAST(CAST(na AS VARCHAR) AS DOUBLE) AS nad,
        CAST(CAST(nr AS VARCHAR) AS DOUBLE) AS nrd,
        CAST(CAST(na*qa - sa*sa AS VARCHAR) AS DOUBLE) AS ca,
        CAST(CAST(nr*qr - sr*sr AS VARCHAR) AS DOUBLE) AS cr
        FROM m)
    SELECT n_a, n_r,
           (sad/nad - srd/nrd) / 100.0 AS mean_diff_dollars,
           (sad/nad - srd/nrd)
             / sqrt((ca/nad + cr/nrd)
                    / CAST(n_a + n_r - 2 AS DOUBLE)) AS cohens_d,
           ((sad/nad - srd/nrd)
             / sqrt((ca/nad + cr/nrd)
                    / CAST(n_a + n_r - 2 AS DOUBLE)))
             * (1.0 - 3.0 / (4.0*CAST(n_a + n_r AS DOUBLE) - 9.0))
             AS hedges_g
    FROM d""",
)
def effect_size_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d (pooled-SD standardized mean difference) and the
    Hedges' g small-sample correction, returned ('A') vs neither ('R')
    line items — the EFFECT SIZE the shipped Welch t omits: with
    millions of rows any difference is "significant"; d says whether it
    is LARGE. Pooled sum of squares via the Welch identity
    (n·Q − S²)/n = (n−1)·s², so the pooled variance is
    (c_A/n_A + c_R/n_R)/(n_A+n_R−2).

    Hash-exact: the same six exact decimal moments as the Welch twin;
    d, g, and the dollar mean-difference are fixed chains of
    correctly-rounded double ops (d is cent/dollar scale-invariant).

    Scale: ONE map-side-combinable conditional aggregation to one
    row."""
    d38 = "decimal(38,0)"
    f = _t(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("A", "R")
    ).select(
        F.col("l_returnflag").alias("g"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("x"),
    )
    cond = lambda tag: F.when(F.col("g") == tag, F.col("x"))  # noqa: E731
    m = f.agg(
        F.count(F.when(F.col("g") == "A", F.lit(1))).cast(d38).alias("na"),
        F.sum(cond("A").cast(d38)).cast(d38).alias("sa"),
        F.sum((cond("A").cast(d38) * F.col("x")).cast(d38))
        .cast(d38)
        .alias("qa"),
        F.count(F.when(F.col("g") == "R", F.lit(1))).cast(d38).alias("nr"),
        F.sum(cond("R").cast(d38)).cast(d38).alias("sr"),
        F.sum((cond("R").cast(d38) * F.col("x")).cast(d38))
        .cast(d38)
        .alias("qr"),
    )
    na, nr = F.col("na"), F.col("nr")
    nad, nrd = na.cast("double"), nr.cast("double")
    sad, srd = F.col("sa").cast("double"), F.col("sr").cast("double")
    ca = (na * F.col("qa") - F.col("sa") * F.col("sa")).cast(d38).cast(
        "double"
    )
    cr = (nr * F.col("qr") - F.col("sr") * F.col("sr")).cast(d38).cast(
        "double"
    )
    diff = sad / nad - srd / nrd
    pooled = F.sqrt(
        (ca / nad + cr / nrd)
        / (na + nr - 2).cast(d38).cast("double")
    )
    d_val = diff / pooled
    j = F.lit(1.0) - F.lit(3.0) / (
        F.lit(4.0) * (na + nr).cast(d38).cast("double") - F.lit(9.0)
    )
    return m.select(
        na.cast("long").alias("n_a"),
        nr.cast("long").alias("n_r"),
        (diff / F.lit(100.0)).alias("mean_diff_dollars"),
        d_val.alias("cohens_d"),
        (d_val * j).alias("hedges_g"),
    )


@workload(
    "mood_median_test",
    oracle="""
    WITH f AS (
        SELECT event_type AS g,
               CAST(FLOOR(value*100+0.5) AS BIGINT) AS cents
        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
    d AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY 1),
    w AS (SELECT cents,
                 CAST(SUM(c) OVER (ORDER BY cents
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS BIGINT)
                   AS cum,
                 CAST(SUM(c) OVER () AS BIGINT) AS tot
          FROM d),
    med AS (SELECT CAST(MIN(CASE WHEN 2*cum >= tot THEN cents END)
                        AS BIGINT) AS med
            FROM w),
    ct AS (SELECT g,
                  CAST(SUM(CASE WHEN cents > med THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_above,
                  CAST(SUM(CASE WHEN cents <= med THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_le
           FROM f CROSS JOIN med GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_above) AS BIGINT) AS ta,
                   CAST(SUM(n_le) AS BIGINT) AS tl,
                   CAST(SUM(n_above + n_le) AS BIGINT) AS n
            FROM ct)
    SELECT g AS event_type, n_above, n_le,
           -- guards (r12 degenerate sweep): an empty margin (all
           -- values on one side of the median) has zero expectation
           -- and contributes 0, not a /0 error
           (CASE WHEN ta > 0 THEN
             (CAST(n_above AS DOUBLE)
                - CAST(n_above + n_le AS DOUBLE) * CAST(ta AS DOUBLE)
                  / CAST(n AS DOUBLE))
               * (CAST(n_above AS DOUBLE)
                  - CAST(n_above + n_le AS DOUBLE) * CAST(ta AS DOUBLE)
                    / CAST(n AS DOUBLE))
               / (CAST(n_above + n_le AS DOUBLE) * CAST(ta AS DOUBLE)
                  / CAST(n AS DOUBLE)) ELSE 0.0 END)
           + (CASE WHEN tl > 0 THEN
             (CAST(n_le AS DOUBLE)
                - CAST(n_above + n_le AS DOUBLE) * CAST(tl AS DOUBLE)
                  / CAST(n AS DOUBLE))
               * (CAST(n_le AS DOUBLE)
                  - CAST(n_above + n_le AS DOUBLE) * CAST(tl AS DOUBLE)
                    / CAST(n AS DOUBLE))
               / (CAST(n_above + n_le AS DOUBLE) * CAST(tl AS DOUBLE)
                  / CAST(n AS DOUBLE)) ELSE 0.0 END) AS chi2_contrib
    FROM ct CROSS JOIN tot""",
)
def mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across event types: classify every value as
    above / at-or-below the GLOBAL lower median, then the 2×k
    chi-square on the contingency — the median-based k-group location
    test (more robust than Kruskal-Wallis when tails are wild, and the
    natural consumer of the repo's integer-median machinery). One row
    per type with its chi-square contribution (Σ over rows = the
    statistic, df = k−1).

    Hash-exact: the global median comes from the |distinct cents|
    domain frame by integer cross-multiplication; cell counts are
    exact; each contribution (o−e)²/e is a fixed double chain over
    exactly-converted counts (no FMA-shaped a·b−c·d anywhere — e is a
    mul/div chain, the square is an explicit diff·diff).

    Scale: one domain-frame median pass (domain window over |distinct
    cents| rows — calendar/value-domain bounded, the skyline
    exemption), one broadcast median join, one map-side contingency
    aggregation to k rows."""
    from pyspark.sql import Window

    f = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    d = f.groupBy("cents").agg(F.count(F.lit(1)).alias("c"))
    wc = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    med = (
        d.select(
            "cents",
            F.sum("c").over(wc).alias("cum"),
            F.sum("c").over(wt).alias("tot"),
        )
        .agg(
            F.min(
                F.when(2 * F.col("cum") >= F.col("tot"), F.col("cents"))
            ).alias("med")
        )
    )
    ct = f.crossJoin(F.broadcast(med)).groupBy("g").agg(
        F.sum((F.col("cents") > F.col("med")).cast("long")).alias(
            "n_above"
        ),
        F.sum((F.col("cents") <= F.col("med")).cast("long")).alias("n_le"),
    )
    tot = ct.agg(
        F.sum("n_above").alias("ta"),
        F.sum("n_le").alias("tl"),
        F.sum(F.col("n_above") + F.col("n_le")).alias("n"),
    )
    row_n = (F.col("n_above") + F.col("n_le")).cast("double")
    nd = F.col("n").cast("double")
    ea = row_n * F.col("ta").cast("double") / nd
    el = row_n * F.col("tl").cast("double") / nd
    da = F.col("n_above").cast("double") - ea
    dl = F.col("n_le").cast("double") - el
    return ct.crossJoin(F.broadcast(tot)).select(
        F.col("g").alias("event_type"),
        "n_above",
        "n_le",
        # guards (r12 degenerate sweep): empty margins contribute 0
        (
            F.when(F.col("ta") > 0, da * da / ea).otherwise(F.lit(0.0))
            + F.when(F.col("tl") > 0, dl * dl / el).otherwise(F.lit(0.0))
        ).alias("chi2_contrib"),
    )


@workload(
    "jackknife_loo_monthly",
    oracle="""
    WITH m AS (
        SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
               CAST(COUNT(*) AS BIGINT) AS n_m,
               CAST(SUM(CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS s_m
        FROM orders GROUP BY 1),
    g AS (SELECT CAST(SUM(n_m) AS BIGINT) AS n,
                 CAST(SUM(s_m) AS BIGINT) AS s
          FROM m)
    SELECT month, n_m AS n_orders,
           -- guard (r12 degenerate sweep): a single-month corpus has
           -- no leave-one-out complement
           CASE WHEN n > n_m THEN
             CAST(s - s_m AS DOUBLE) / CAST(n - n_m AS DOUBLE) / 100.0
           END AS loo_mean_dollars,
           CASE WHEN n > n_m THEN
             CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
               - CAST(s - s_m AS DOUBLE) / CAST(n - n_m AS DOUBLE) / 100.0
           END AS influence_dollars
    FROM m CROSS JOIN g""",
)
def jackknife_loo_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-month-out jackknife of the mean order value: for each
    month, the grand mean recomputed WITHOUT that month, and the
    month's influence (grand − LOO) — the delete-a-block jackknife
    that answers "is the headline average propped up by one month?"
    (block = month because orders within a month are correlated; the
    classic delete-1 jackknife under-states influence there).

    Hash-exact: LOO means are (S−s_m)/(n−n_m) over exact integer
    sums — no resampling, no randomness; influence is a fixed double
    chain.

    Scale: one monthly aggregation, a 1-row broadcast of the grand
    totals, map-side arithmetic per month row."""
    m = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM").alias(
                "month"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_m"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("s_m"),
        )
    )
    g = m.agg(F.sum("n_m").alias("n"), F.sum("s_m").alias("s"))
    loo = (
        (F.col("s") - F.col("s_m")).cast("double")
        / (F.col("n") - F.col("n_m")).cast("double")
        / F.lit(100.0)
    )
    grand = (
        F.col("s").cast("double") / F.col("n").cast("double") / F.lit(100.0)
    )
    # guard (r12 degenerate sweep): single-month corpus has no LOO
    has_rest = F.col("n") > F.col("n_m")
    return m.crossJoin(F.broadcast(g)).select(
        "month",
        F.col("n_m").alias("n_orders"),
        F.when(has_rest, loo).alias("loo_mean_dollars"),
        F.when(has_rest, grand - loo).alias("influence_dollars"),
    )


# Ridge penalty per unit of x-variance (literal so the shrinkage chain
# is deterministic): b_ridge = Sxy_c / (Sxx_c + RIDGE_LAMBDA·n²) — i.e.
# cov(x,y)/(var(x)+λ) after dividing through by n².
_RIDGE_LAMBDA = 100


@workload(
    "ridge_regression_price_quantity",
    oracle=f"""
    WITH f AS (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(FLOOR(l_extendedprice*100+0.5) AS BIGINT) AS y
        FROM lineitem),
    m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                 SUM(CAST(x AS HUGEINT)) AS sx,
                 SUM(CAST(y AS HUGEINT)) AS sy,
                 SUM(CAST(x AS HUGEINT)*y) AS sxy,
                 SUM(CAST(x AS HUGEINT)*x) AS sxx
          FROM f),
    d AS (SELECT CAST(n AS BIGINT) AS n_rows,
                 CAST(CAST(n*sxy - sx*sy AS VARCHAR) AS DOUBLE) AS cxy,
                 CAST(CAST(n*sxx - sx*sx AS VARCHAR) AS DOUBLE) AS cxx,
                 CAST(CAST(n*sxx - sx*sx
                           + {_RIDGE_LAMBDA}*n*n AS VARCHAR) AS DOUBLE)
                   AS cxx_r,
                 CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
                 CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
                 CAST(CAST(n AS VARCHAR) AS DOUBLE) AS nd
          FROM m)
    SELECT n_rows,
           -- guards (r12 degenerate sweep): constant x / empty input
           CASE WHEN cxx > 0 THEN cxy / cxx END AS slope_ols_cents,
           CASE WHEN cxx_r > 0 THEN cxy / cxx_r END AS slope_ridge_cents,
           CASE WHEN cxx_r > 0 THEN cxx / cxx_r END AS shrinkage,
           CASE WHEN cxx > 0 THEN
             (syd - (cxy / cxx) * sxd) / nd / 100.0
           END AS intercept_ols_dollars
    FROM d""",
)
def ridge_regression_price_quantity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ridge-regularized simple regression of line price on quantity
    next to its OLS twin: b_ridge = cov/(var+λ) with λ = 100 cents²
    per unit of x-variance — the L2-shrunk slope (the one-feature
    normal-equation case where ridge is closed-form; the shrinkage
    column shows exactly how much the penalty bites). Complements the
    shipped linreg workload with the regularized estimator a feature
    pipeline actually ships.

    Hash-exact: all five moments exact decimal; the centered
    cross/auto moments n·Σxy−ΣxΣy stay in decimal (the FMA trap), the
    ridge denominator adds λ·n² IN DECIMAL before the single double
    conversion; every reported value is a fixed double chain.

    Scale: ONE map-side-combinable aggregation to one row."""
    d38 = "decimal(38,0)"
    f = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("y"),
    )
    m = f.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("x").cast(d38)).cast(d38).alias("sx"),
        F.sum(F.col("y").cast(d38)).cast(d38).alias("sy"),
        F.sum((F.col("x").cast(d38) * F.col("y")).cast(d38))
        .cast(d38)
        .alias("sxy"),
        F.sum((F.col("x").cast(d38) * F.col("x")).cast(d38))
        .cast(d38)
        .alias("sxx"),
    )
    n = F.col("n")
    cxy = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast(d38).cast(
        "double"
    )
    cxx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast(d38).cast(
        "double"
    )
    cxx_r = (
        n * F.col("sxx")
        - F.col("sx") * F.col("sx")
        + F.lit(_RIDGE_LAMBDA) * n * n
    ).cast(d38).cast("double")
    slope = cxy / cxx
    # guards (r12 degenerate sweep): constant x / empty input
    return m.select(
        n.cast("long").alias("n_rows"),
        F.when(cxx > 0, slope).alias("slope_ols_cents"),
        F.when(cxx_r > 0, cxy / cxx_r).alias("slope_ridge_cents"),
        F.when(cxx_r > 0, cxx / cxx_r).alias("shrinkage"),
        F.when(
            cxx > 0,
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / n.cast("double")
            / F.lit(100.0),
        ).alias("intercept_ols_dollars"),
    )


# =========================================================================
# Round-10 additions, wave 2: retail economics / ETL reconciliation —
# unit-value price index, promo diff-in-diff, shift-share growth
# decomposition, order-total reconciliation, growth accounting,
# naive-forecast error baselines, partition-skew report.
# =========================================================================


@workload(
    "unit_value_index_monthly_brand",
    oracle="""
    WITH m AS (
        SELECT p.p_brand AS brand,
               strftime(CAST(l.l_shipdate AS DATE), '%Y-%m') AS month,
               CAST(SUM(CAST(FLOOR(l.l_extendedprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS rev,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2),
    b AS (SELECT brand, MIN(month) AS m0 FROM m GROUP BY 1),
    base AS (SELECT m.brand, m.rev AS rev0, m.qty AS qty0
             FROM m JOIN b ON b.brand = m.brand AND m.month = b.m0)
    SELECT m.brand, m.month, m.rev AS rev_cents, m.qty,
           CAST(CAST(CAST(m.rev AS HUGEINT) * base.qty0 AS VARCHAR)
                AS DOUBLE)
             / CAST(CAST(CAST(m.qty AS HUGEINT) * base.rev0 AS VARCHAR)
                    AS DOUBLE) AS unit_value_index
    FROM m JOIN base ON base.brand = m.brand""",
)
def unit_value_index_monthly_brand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unit-value price index per brand-month against the brand's first
    shipping month: UVI = (Rev_m/Qty_m)/(Rev_0/Qty_0) — the trade-
    statistics price index that needs no constant item price (unit
    prices VARY per part in this data, so Laspeyres basket reweighting
    has no fixed p to hold; the unit-value form is the estimator
    actually used on transaction data).

    Hash-exact: the rational ratio-of-ratios is cleared to ONE integer
    cross-product per side — Rev_m·Qty_0 and Qty_m·Rev_0 in exact
    decimal — then a single double division (the arc-elasticity
    cross-multiplication discipline).

    Scale: one (brand, month) fact aggregation behind a broadcast part
    join; the base-month frame is |brands| rows, broadcast back."""
    d38 = "decimal(38,0)"
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = materialize(
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_format(F.to_date("l_shipdate"), "yyyy-MM").alias(
                "month"
            ),
        )
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
            ).alias("rev"),
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        )
    )
    base = m.groupBy("brand").agg(
        F.min_by("rev", "month").alias("rev0"),
        F.min_by("qty", "month").alias("qty0"),
    )
    num = (F.col("rev").cast(d38) * F.col("qty0")).cast(d38).cast("double")
    den = (F.col("qty").cast(d38) * F.col("rev0")).cast(d38).cast("double")
    return m.join(F.broadcast(base), "brand").select(
        "brand", "month",
        F.col("rev").alias("rev_cents"),
        "qty",
        (num / den).alias("unit_value_index"),
    )


# DiD period boundary: orders span 1995-2001 in the synthetic data; the
# literal split keeps both cells populated at every SF.
_DID_SPLIT = "1998-01-01"


@workload(
    "promo_uplift_did",
    oracle=f"""
    WITH f AS (
        SELECT CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END
                 AS is_promo,
               CASE WHEN CAST(o.o_orderdate AS DATE)
                         >= DATE '{_DID_SPLIT}' THEN 1 ELSE 0 END
                 AS is_late,
               CAST(FLOOR(l.l_extendedprice*100+0.5) AS BIGINT) AS cents
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey),
    m AS (SELECT
        SUM(CASE WHEN is_promo=1 AND is_late=0 THEN CAST(cents AS HUGEINT)
            END) AS s_pe,
        CAST(SUM(CASE WHEN is_promo=1 AND is_late=0 THEN 1 ELSE 0 END)
             AS HUGEINT) AS n_pe,
        SUM(CASE WHEN is_promo=1 AND is_late=1 THEN CAST(cents AS HUGEINT)
            END) AS s_pl,
        CAST(SUM(CASE WHEN is_promo=1 AND is_late=1 THEN 1 ELSE 0 END)
             AS HUGEINT) AS n_pl,
        SUM(CASE WHEN is_promo=0 AND is_late=0 THEN CAST(cents AS HUGEINT)
            END) AS s_oe,
        CAST(SUM(CASE WHEN is_promo=0 AND is_late=0 THEN 1 ELSE 0 END)
             AS HUGEINT) AS n_oe,
        SUM(CASE WHEN is_promo=0 AND is_late=1 THEN CAST(cents AS HUGEINT)
            END) AS s_ol,
        CAST(SUM(CASE WHEN is_promo=0 AND is_late=1 THEN 1 ELSE 0 END)
             AS HUGEINT) AS n_ol
        FROM f),
    d AS (SELECT
        CAST(CAST(s_pe AS VARCHAR) AS DOUBLE)/CAST(n_pe AS DOUBLE)/100.0
          AS mean_promo_early,
        CAST(CAST(s_pl AS VARCHAR) AS DOUBLE)/CAST(n_pl AS DOUBLE)/100.0
          AS mean_promo_late,
        CAST(CAST(s_oe AS VARCHAR) AS DOUBLE)/CAST(n_oe AS DOUBLE)/100.0
          AS mean_other_early,
        CAST(CAST(s_ol AS VARCHAR) AS DOUBLE)/CAST(n_ol AS DOUBLE)/100.0
          AS mean_other_late
        FROM m)
    SELECT mean_promo_early, mean_promo_late,
           mean_other_early, mean_other_late,
           (mean_promo_late - mean_promo_early)
             - (mean_other_late - mean_other_early) AS did_dollars
    FROM d""",
)
def promo_uplift_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences uplift of promo-type parts: the change
    in mean line revenue for PROMO parts across the period split minus
    the same change for everything else — the quasi-experimental
    estimator that nets out market-wide drift a naive before/after
    comparison absorbs (the observational sibling of the shipped
    CUPED/AB-z experiment readouts).

    Hash-exact: ONE conditional aggregation yields the 2×2 cell sums
    and counts in exact decimal; the four means and the DiD are fixed
    double chains (means computed once in a CTE, the DiD subtracts the
    named columns — no mult anywhere near a subtraction, so no FMA
    exposure on either engine).

    Scale: fact join behind a broadcast part dim, one map-side 2×2
    aggregation to one row."""
    d38 = "decimal(38,0)"
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey",
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.to_date("o_orderdate") >= F.lit(_DID_SPLIT))
        .cast("int")
        .alias("is_late"),
    )
    pt = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_type").startswith("PROMO").cast("int").alias("is_promo"),
    )
    f = li.join(o, li.l_orderkey == o.o_orderkey).join(
        F.broadcast(pt), li.l_partkey == pt.p_partkey
    )

    def cell(p: int, late: int):
        cond = (F.col("is_promo") == p) & (F.col("is_late") == late)
        s = F.sum(F.when(cond, F.col("cents")).cast(d38)).cast(d38)
        n = F.count(F.when(cond, F.lit(1))).cast(d38)
        return s, n

    s_pe, n_pe = cell(1, 0)
    s_pl, n_pl = cell(1, 1)
    s_oe, n_oe = cell(0, 0)
    s_ol, n_ol = cell(0, 1)
    m = f.agg(
        s_pe.alias("s_pe"), n_pe.alias("n_pe"),
        s_pl.alias("s_pl"), n_pl.alias("n_pl"),
        s_oe.alias("s_oe"), n_oe.alias("n_oe"),
        s_ol.alias("s_ol"), n_ol.alias("n_ol"),
    )
    mean = lambda s, n: (  # noqa: E731
        F.col(s).cast("double") / F.col(n).cast("double") / F.lit(100.0)
    )
    d = m.select(
        mean("s_pe", "n_pe").alias("mean_promo_early"),
        mean("s_pl", "n_pl").alias("mean_promo_late"),
        mean("s_oe", "n_oe").alias("mean_other_early"),
        mean("s_ol", "n_ol").alias("mean_other_late"),
    )
    return d.select(
        "mean_promo_early", "mean_promo_late",
        "mean_other_early", "mean_other_late",
        (
            (F.col("mean_promo_late") - F.col("mean_promo_early"))
            - (F.col("mean_other_late") - F.col("mean_other_early"))
        ).alias("did_dollars"),
    )


@workload(
    "shift_share_nation_growth",
    oracle=f"""
    WITH f AS (
        SELECT n.n_name AS nation,
               CASE WHEN CAST(o.o_orderdate AS DATE)
                         >= DATE '{_DID_SPLIT}' THEN 1 ELSE 0 END
                 AS is_late,
               CAST(FLOOR(o.o_totalprice*100+0.5) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey),
    per AS (SELECT nation,
                   CAST(SUM(CASE WHEN is_late=0 THEN cents ELSE 0 END)
                        AS BIGINT) AS r0,
                   CAST(SUM(CASE WHEN is_late=1 THEN cents ELSE 0 END)
                        AS BIGINT) AS r1
            FROM f GROUP BY 1),
    tot AS (SELECT CAST(SUM(r0) AS BIGINT) AS t0,
                   CAST(SUM(r1) AS BIGINT) AS t1
            FROM per),
    e AS (SELECT nation, r0, r1,
                 CAST(r1 - r0 AS DOUBLE) AS actual_growth,
                 CAST(r0 AS DOUBLE)
                   * (CAST(t1 AS DOUBLE)/CAST(t0 AS DOUBLE) - 1.0)
                   AS expected_growth
          FROM per CROSS JOIN tot)
    SELECT nation, r0 AS rev_early_cents, r1 AS rev_late_cents,
           expected_growth AS expected_growth_cents,
           actual_growth - expected_growth AS competitive_shift_cents
    FROM e""",
)
def shift_share_nation_growth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shift-share decomposition of revenue growth by customer nation:
    each nation's actual growth across the period split, the growth it
    would have had at the GLOBAL rate (the "share" term), and the
    residual competitive shift — the regional-economics standard for
    separating "the market grew" from "this nation outgrew the market".

    Hash-exact: period revenues are exact integers; expected growth
    r0·(T1/T0 − 1) and the shift are computed in SEQUENTIAL select
    stages so the shift subtraction references a named column, never
    an inline a − b·c (the FMA trap).

    Scale: one fact aggregation to |nations| behind broadcast dims, a
    1-row total broadcast back."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.to_date("o_orderdate") >= F.lit(_DID_SPLIT))
        .cast("int")
        .alias("is_late"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    f = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    per = f.groupBy(F.col("n_name").alias("nation")).agg(
        F.sum(
            F.when(F.col("is_late") == 0, F.col("cents")).otherwise(0)
        ).alias("r0"),
        F.sum(
            F.when(F.col("is_late") == 1, F.col("cents")).otherwise(0)
        ).alias("r1"),
    )
    tot = per.agg(F.sum("r0").alias("t0"), F.sum("r1").alias("t1"))
    e = per.crossJoin(F.broadcast(tot)).select(
        "nation", "r0", "r1",
        (F.col("r1") - F.col("r0")).cast("double").alias("actual_growth"),
        (
            F.col("r0").cast("double")
            * (
                F.col("t1").cast("double") / F.col("t0").cast("double")
                - F.lit(1.0)
            )
        ).alias("expected_growth"),
    )
    return e.select(
        "nation",
        F.col("r0").alias("rev_early_cents"),
        F.col("r1").alias("rev_late_cents"),
        F.col("expected_growth").alias("expected_growth_cents"),
        (F.col("actual_growth") - F.col("expected_growth")).alias(
            "competitive_shift_cents"
        ),
    )


@workload(
    "reconcile_order_totals",
    oracle="""
    WITH s AS (
        SELECT l_orderkey,
               SUM(CAST(FLOOR(l_extendedprice*100+0.5) AS HUGEINT)
                   * (100 - CAST(FLOOR(l_discount*100+0.5) AS BIGINT))
                   * (100 + CAST(FLOOR(l_tax*100+0.5) AS BIGINT)))
                 AS micro
        FROM lineitem GROUP BY 1),
    d AS (SELECT CAST(FLOOR(o.o_totalprice*100+0.5) AS HUGEINT) * 10000
                   - s.micro AS diff,
                 s.micro AS micro
          FROM orders o JOIN s ON s.l_orderkey = o.o_orderkey),
    b AS (SELECT CASE
                   WHEN diff = 0 THEN 'exact'
                   WHEN ABS(diff)*1000 <= micro THEN 'within_0.1pct'
                   WHEN ABS(diff)*100 <= micro THEN 'within_1pct'
                   WHEN ABS(diff)*10 <= micro THEN 'within_10pct'
                   ELSE 'over_10pct' END AS bucket,
                 diff
          FROM d)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(ABS(diff)) AS VARCHAR) AS total_abs_diff_microcents
    FROM b GROUP BY 1""",
)
def reconcile_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact reconciliation: does each order's header total equal
    Σ extendedprice·(1−discount)·(1+tax) over its lines? The classic
    warehouse integrity audit (header vs detail) — and on THIS
    synthetic data the generator does NOT maintain the identity, which
    is exactly what the report surfaces: relative-error buckets with
    counts and total absolute drift.

    Hash-exact: the line formula is computed entirely in integer
    micro-cents (cents × (100−d) × (100+t)); the header side scales to
    the same grid; bucket thresholds are integer cross-multiplications
    (|diff|·1000 ≤ micro ⟺ rel ≤ 0.1%), so no float division decides a
    bucket. The 38-digit decimal column is emitted as VARCHAR (exact
    on both engines; the driver hashes strings).

    Scale: one per-order line aggregation (the natural join key), one
    equi-join to headers, a ≤5-row bucket rollup."""
    d38 = "decimal(38,0)"
    li = _t(spark, sf_dir, "lineitem")
    micro_line = (
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast(d38)
        * (
            F.lit(100)
            - F.floor(F.col("l_discount") * 100 + 0.5).cast("long")
        )
        * (
            F.lit(100) + F.floor(F.col("l_tax") * 100 + 0.5).cast("long")
        )
    ).cast(d38)
    s = li.groupBy("l_orderkey").agg(
        F.sum(micro_line).cast(d38).alias("micro")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast(d38)
            * F.lit(10000)
        ).cast(d38).alias("header_micro"),
    )
    d = o.join(s, o.o_orderkey == s.l_orderkey).select(
        (F.col("header_micro") - F.col("micro")).cast(d38).alias("diff"),
        "micro",
    )
    adiff = F.abs(F.col("diff")).cast(d38)
    bucket = (
        F.when(F.col("diff") == 0, F.lit("exact"))
        .when((adiff * 1000).cast(d38) <= F.col("micro"), "within_0.1pct")
        .when((adiff * 100).cast(d38) <= F.col("micro"), "within_1pct")
        .when((adiff * 10).cast(d38) <= F.col("micro"), "within_10pct")
        .otherwise("over_10pct")
    )
    return d.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(adiff)
        .cast(d38)
        .cast("string")
        .alias("total_abs_diff_microcents"),
    )


@workload(
    "growth_accounting_monthly",
    oracle="""
    WITH a AS (
        SELECT DISTINCT o_custkey AS u,
               (year(CAST(o_orderdate AS DATE)) - 1995) * 12
                 + month(CAST(o_orderdate AS DATE)) - 1 AS mi
        FROM orders),
    fm AS (SELECT u, MIN(mi) AS first_mi FROM a GROUP BY 1),
    cls AS (SELECT a.u, a.mi,
                   CASE WHEN a.mi = fm.first_mi THEN 'new'
                        WHEN p.u IS NOT NULL THEN 'retained'
                        ELSE 'resurrected' END AS kind
            FROM a JOIN fm ON fm.u = a.u
            LEFT JOIN a p ON p.u = a.u AND p.mi = a.mi - 1),
    act AS (SELECT mi,
                   CAST(SUM(CASE WHEN kind='new' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_new,
                   CAST(SUM(CASE WHEN kind='retained' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_retained,
                   CAST(SUM(CASE WHEN kind='resurrected' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_resurrected
            FROM cls GROUP BY 1),
    ch AS (SELECT prev.mi + 1 AS mi,
                  CAST(COUNT(*) AS BIGINT) AS n_churned
           FROM a prev
           LEFT JOIN a cur ON cur.u = prev.u AND cur.mi = prev.mi + 1
           WHERE cur.u IS NULL
           GROUP BY 1)
    SELECT act.mi AS month_index, act.n_new, act.n_retained,
           act.n_resurrected,
           COALESCE(ch.n_churned, 0) AS n_churned
    FROM act LEFT JOIN ch ON ch.mi = act.mi""",
)
def growth_accounting_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Monthly growth accounting over ordering customers: new (first
    active month), retained (also active the previous month),
    resurrected (active before, skipped last month), and churned
    (active last month, not this) — the canonical DAU/MAU-era growth
    decomposition whose four flows sum to the month-over-month active
    delta (new + resurrected − churned = Δactive, an identity the
    e2e-style test below can assert from the output itself).

    Churn is attributed to the FIRST inactive month and reported only
    for months that appear in the activity domain (the final month's
    trailing churn has no month row to land on).

    Hash-exact: everything is integer counts over the distinct
    (customer, month-index) frame under literal calendar arithmetic.

    Scale: one distinct on (customer, month), then self-equi-joins on
    (u, mi±1) — the same key family, co-partitioned by the first
    shuffle; rollups are |months|-row. Shared core:
    temporal.growth_accounting (also gold ``analysis:
    growth_accounting`` — one implementation, YAML ≡ direct by
    construction)."""
    from metadata_driven_etl_spark.operators import temporal as temporal_ops

    return temporal_ops.growth_accounting(
        _t(spark, sf_dir, "orders"),
        user_col="o_custkey",
        ts_col="o_orderdate",
        epoch_year=1995,
    )


@workload(
    "forecast_mase_naive",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS x
        FROM orders GROUP BY 1),
    e1 AS (SELECT ABS(t.x - h.x) AS ae
           FROM daily t JOIN daily h ON h.day = t.day - INTERVAL 1 DAY),
    e7 AS (SELECT ABS(t.x - h.x) AS ae
           FROM daily t JOIN daily h ON h.day = t.day - INTERVAL 7 DAY),
    m AS (SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM e1) AS n_1d,
        (SELECT CAST(CAST(SUM(CAST(ae AS HUGEINT)) AS VARCHAR) AS DOUBLE)
         FROM e1) AS s1,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM e7) AS n_7d,
        (SELECT CAST(CAST(SUM(CAST(ae AS HUGEINT)) AS VARCHAR) AS DOUBLE)
         FROM e7) AS s7)
    SELECT n_1d, n_7d,
           s1 / CAST(n_1d AS DOUBLE) / 100.0 AS mae_naive_dollars,
           s7 / CAST(n_7d AS DOUBLE) / 100.0 AS mae_snaive7_dollars,
           (s7 / CAST(n_7d AS DOUBLE))
             / (s1 / CAST(n_1d AS DOUBLE)) AS mase_snaive_vs_naive
    FROM m""",
)
def forecast_mase_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecastability baselines for daily revenue: the mean absolute
    error of the NAIVE forecast (yesterday's value) and the SEASONAL
    NAIVE (same weekday last week), date-aligned — plus their ratio,
    the MASE of the weekly-seasonal model scaled by the naive
    benchmark (<1 ⟺ weekly seasonality carries real signal; this is
    the denominator convention every MASE-reported model comparison
    needs computed on the same data).

    Hash-exact: absolute errors are exact integers under DATE-aligned
    equi-joins (calendar gaps drop pairs on both engines identically);
    the two MAEs and the ratio are fixed double chains.

    Scale: one fact aggregation to |days|, two calendar-key
    equi-joins on the tiny daily frame."""
    daily = materialize(
        _t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("x")
        )
    )
    d38 = "decimal(38,0)"

    def err(lag_days: int) -> DataFrame:
        h = daily.select(
            F.date_add(F.col("day"), lag_days).alias("tday"),
            F.col("x").alias("hx"),
        )
        return daily.join(h, daily.day == h.tday).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.abs(F.col("x") - F.col("hx")).cast(d38))
            .cast(d38)
            .cast("double")
            .alias("s"),
        )

    e1 = err(1).select(
        F.col("n").alias("n_1d"), F.col("s").alias("s1")
    )
    e7 = err(7).select(
        F.col("n").alias("n_7d"), F.col("s").alias("s7")
    )
    m = e1.crossJoin(F.broadcast(e7))
    mae1 = F.col("s1") / F.col("n_1d").cast("double")
    mae7 = F.col("s7") / F.col("n_7d").cast("double")
    return m.select(
        "n_1d", "n_7d",
        (mae1 / F.lit(100.0)).alias("mae_naive_dollars"),
        (mae7 / F.lit(100.0)).alias("mae_snaive7_dollars"),
        (mae7 / mae1).alias("mase_snaive_vs_naive"),
    )


@workload(
    "partition_skew_report",
    oracle="""
    WITH m AS (
        SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1),
    w AS (SELECT month, n,
                 CAST(SUM(1) OVER (ORDER BY n, month
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS BIGINT)
                   AS rnk,
                 CAST(COUNT(*) OVER () AS BIGINT) AS k
          FROM m)
    SELECT CAST(MAX(k) AS BIGINT) AS n_partitions,
           CAST(SUM(n) AS BIGINT) AS total_rows,
           CAST(MAX(n) AS BIGINT) AS max_rows,
           CAST(MIN(CASE WHEN 2*rnk >= k THEN n END) AS BIGINT)
             AS median_rows,
           MAX_BY(month, lpad(CAST(n AS VARCHAR), 20, '0') || '|' || month)
             AS largest_partition,
           CAST(MAX(n) AS DOUBLE)
             / CAST(MIN(CASE WHEN 2*rnk >= k THEN n END) AS DOUBLE)
             AS skew_ratio
    FROM w""",
)
def partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout skew audit for a month-partitioned orders
    table: partition count, max and median partition row counts, the
    hottest partition, and the max/median skew ratio — the number that
    decides whether a date-partitioned 100 TB layout needs salting or
    finer grain BEFORE a hot partition stalls a stage (the planning
    twin of the runtime AQE skew-join handling).

    Hash-exact: counts are integers; the median partition size is
    rank-selected by integer cross-multiplication under the (n, month)
    total order; the hottest partition uses the same total order
    (max_by with a composite key); the ratio is one double division.

    Scale: one fact aggregation to |months|, one |months|-row domain
    window (metadata-sized by construction)."""
    from pyspark.sql import Window

    m = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM").alias(
                "month"
            )
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wr = Window.orderBy("n", "month").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wk = Window.orderBy("n", "month").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w = m.select(
        "month", "n",
        F.sum(F.lit(1)).over(wr).alias("rnk"),
        F.count(F.lit(1)).over(wk).alias("k"),
    )
    med = F.min(F.when(2 * F.col("rnk") >= F.col("k"), F.col("n")))
    return w.agg(
        F.max("k").alias("n_partitions"),
        F.sum("n").alias("total_rows"),
        F.max("n").alias("max_rows"),
        med.alias("median_rows"),
        F.max_by(
            "month",
            F.concat(
                F.lpad(F.col("n").cast("string"), 20, "0"),
                F.lit("|"),
                F.col("month"),
            ),
        ).alias("largest_partition"),
        (F.max("n").cast("double") / med.cast("double")).alias(
            "skew_ratio"
        ),
    )


# =========================================================================
# Round-10 additions, wave 3: diversity-aware selection (MMR), text /
# binary-file sources, systematic sampling over the distributed rank.
# =========================================================================


@workload(
    "mmr_diverse_topk",
    oracle=sim_ops.sql_mmr_select(query_id=0, m=32, k=5),
)
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance selection of 5 diverse exemplars from
    the 32 embeddings most relevant to query vector 0 (λ = 0.5) — the
    diversity-aware re-ranker for training-data curation: pure
    relevance top-k returns near-duplicates; each MMR step penalizes
    similarity to what's already selected. The DuckDB twin replays the
    greedy trajectory as 5 unrolled CTE stages, so the driver hash
    proves the whole selection PATH, not just the final set.

    Hash-exact: rounded-6dp cosines, id tie-breaks at every argmax,
    the λ=0.5 score kept in the single-subtraction form (rel−maxsim)/2
    (never the FMA-shaped λ·a − (1−λ)·b).

    Scale: the distributed stage is the relevance top-m (brute force
    here, the ANN probe at corpus scale); the greedy loop is k tiny
    jobs over the checkpointed m-row candidate frame — a re-rank
    window, not a corpus pass."""
    return sim_ops.mmr_select(
        _emb(spark, sf_dir), query_id=0, m=32, k=5
    )


@workload("scan_text_lines", oracle="SELECT n_name AS value FROM nation")
def scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family (extended): whole-line text source — ``spark.read.text``
    is the ingestion path for raw LLM corpus drops (one document/line
    per row, no schema). Round-trips nation names through a text file
    in a session-unique temp dir so the oracle verifies the read
    against the original table (write-once setup, same contract as
    scan_csv)."""
    path = _scan_fixture(
        spark,
        sf_dir,
        "scan_text",
        lambda p: _t(spark, sf_dir, "nation")
        .select("n_name")
        .coalesce(1)
        .write.mode("overwrite")
        .text(p),
    )
    return spark.read.text(path)


@workload(
    "scan_binary_files",
    oracle="""
    SELECT 'r' || CAST(r_regionkey AS VARCHAR) || '.bin' AS file_name,
           CAST(strlen(r_name) AS BIGINT) AS n_bytes,
           md5(r_name) AS content_md5
    FROM region""",
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family (extended): ``binaryFile`` source — the opaque-bytes
    ingestion path the multimodal stack sits on (images/audio land as
    whole files; Spark exposes path/length/content). Writes one file
    per region row (name = bytes) in a session-unique temp dir, reads
    them back as binary, and emits (file_name, byte length, md5 of
    content) — so the oracle value-checks the CONTENT round-trip, not
    just file counts.

    Scale: binaryFile is Spark's distributed whole-file reader
    (maxPartitionBytes-sized tasks); the md5 is one JVM expression per
    file — the same shape the phash/multimodal operators consume."""
    import os as _os

    def write_files(p: str) -> None:
        rows = (
            _t(spark, sf_dir, "region")
            .select("r_regionkey", "r_name")
            .collect()
        )  # 5 dimension rows — fixture setup, not a data path
        _os.makedirs(p, exist_ok=True)
        for r in rows:
            with open(
                _os.path.join(p, f"r{r.r_regionkey}.bin"), "wb"
            ) as fh:
                fh.write(r.r_name.encode("utf-8"))

    path = _scan_fixture(spark, sf_dir, "scan_binary", write_files)
    df = spark.read.format("binaryFile").load(path)
    return df.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


@workload(
    "systematic_sample_every_k",
    oracle="""
    WITH r AS (
        SELECT doc_id, n_chars,
               row_number() OVER (ORDER BY n_chars, doc_id) AS rn
        FROM documents)
    SELECT doc_id, n_chars, rn AS sample_rank
    FROM r WHERE rn % 47 = 1""",
)
def systematic_sample_every_k(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Systematic (every-k-th) sampling of documents under the
    (n_chars, doc_id) total order — the equal-interval design that
    guarantees coverage across the whole length distribution (a
    hash/Bernoulli sample can cluster; every-47th cannot). The global
    rank rides windows.distributed_rank (range shuffle + broadcast
    offsets — r10's rank operator, here its first direct oracle
    consumer), so there is NO single-partition sort at any corpus
    size.

    Hash-exact: rank selection under a total order; the k-th filter is
    integer modulo."""
    from metadata_driven_etl_spark.operators.windows import distributed_rank

    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    r = distributed_rank(
        d,
        [F.col("n_chars").asc(), F.col("doc_id").asc()],
        "sample_rank",
    )
    return r.where(F.col("sample_rank") % 47 == 1).select(
        "doc_id", "n_chars", "sample_rank"
    )


# =========================================================================
# Round-10 additions, wave 4: ML feature engineering (leakage-safe
# target encoding, k-fold assignment), privacy generalization ladder,
# linear-interpolation gap fill.
# =========================================================================


@workload(
    "target_encode_loo_brand",
    oracle="""
    WITH f AS (
        SELECT l_orderkey, l_linenumber, p.p_brand AS brand,
               CAST(FLOOR(l_extendedprice*100+0.5) AS BIGINT) AS y
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    g AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_b,
                 CAST(SUM(y) AS BIGINT) AS s_b
          FROM f GROUP BY 1)
    SELECT f.l_orderkey, f.l_linenumber, f.brand,
           CASE WHEN g.n_b > 1
                THEN CAST(g.s_b - f.y AS DOUBLE)
                       / CAST(g.n_b - 1 AS DOUBLE) / 100.0
           END AS brand_loo_mean_dollars
    FROM f JOIN g ON g.brand = f.brand""",
)
def target_encode_loo_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of part brand by line revenue: each
    row's feature is the brand's mean revenue computed WITHOUT that row
    — the leakage-safe categorical encoding (plain target encoding
    leaks the label through its own row; LOO is the standard fix, and
    (S−y)/(n−1) makes it one broadcast join, not a per-row recompute).
    Singleton brands encode NULL (no other rows to learn from) rather
    than an invented prior.

    Hash-exact: per-brand sums/counts are exact integers; each encoding
    is a fixed double chain.

    Scale: one brand aggregation (|brands| rows, broadcast back), one
    map-side expression per fact row — the fact shuffles zero times."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey",
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("y"),
    )
    pt = _t(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_brand").alias("brand")
    )
    f = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
    g = f.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n_b"), F.sum("y").alias("s_b")
    )
    return f.join(F.broadcast(g), "brand").select(
        "l_orderkey", "l_linenumber", "brand",
        F.when(
            F.col("n_b") > 1,
            (F.col("s_b") - F.col("y")).cast("double")
            / (F.col("n_b") - 1).cast("double")
            / F.lit(100.0),
        ).alias("brand_loo_mean_dollars"),
    )


@workload(
    "kfold_assignment_balance",
    oracle="""
    WITH a AS (
        SELECT lang,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    ::BIGINT % 5 AS INTEGER) AS fold
        FROM documents),
    c AS (SELECT lang, fold, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM a GROUP BY 1, 2),
    t AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_lang
          FROM c GROUP BY 1)
    SELECT c.lang, c.fold, c.n_docs,
           CAST(c.n_docs AS DOUBLE) / CAST(t.n_lang AS DOUBLE)
             AS fold_share
    FROM c JOIN t ON t.lang = c.lang""",
)
def kfold_assignment_balance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment by key hash
    (md5-mod — reproducible across runs/engines/partitionings, the
    sample_hash discipline) with the per-language balance audit: fold
    shares per stratum should sit near 0.2, and this readout is how a
    training pipeline PROVES its folds didn't cluster (random fold
    columns can't even be compared across engines).

    Hash-exact: fold membership is a pure function of doc_id; counts
    integer; shares one division.

    Scale: one map-side fold expression + one (lang, fold) aggregation
    — 5·|langs| output rows."""
    a = _docs(spark, sf_dir).select(
        "lang",
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 5
        ).cast("int").alias("fold"),
    )
    c = a.groupBy("lang", "fold").agg(F.count(F.lit(1)).alias("n_docs"))
    t = c.groupBy("lang").agg(F.sum("n_docs").alias("n_lang"))
    return c.join(F.broadcast(t), "lang").select(
        "lang", "fold", "n_docs",
        (
            F.col("n_docs").cast("double") / F.col("n_lang").cast("double")
        ).alias("fold_share"),
    )


@workload(
    "anonymization_ladder",
    oracle="""
    WITH c AS (
        SELECT n.n_name AS nation, c_mktsegment AS segment,
               CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band
        FROM customer JOIN nation n ON n.n_nationkey = c_nationkey),
    l0 AS (SELECT 0 AS level, COUNT(*) AS n_g,
                  MIN(n) AS k_achieved,
                  SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS suppressed
           FROM (SELECT COUNT(*) AS n FROM c GROUP BY nation, segment,
                 bal_band)),
    l1 AS (SELECT 1 AS level, COUNT(*) AS n_g,
                  MIN(n) AS k_achieved,
                  SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS suppressed
           FROM (SELECT COUNT(*) AS n FROM c GROUP BY nation, segment)),
    l2 AS (SELECT 2 AS level, COUNT(*) AS n_g,
                  MIN(n) AS k_achieved,
                  SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS suppressed
           FROM (SELECT COUNT(*) AS n FROM c GROUP BY segment))
    SELECT CAST(level AS INTEGER) AS level,
           CAST(n_g AS BIGINT) AS n_groups,
           CAST(k_achieved AS BIGINT) AS k_achieved,
           CAST(suppressed AS BIGINT) AS rows_suppressed_at_k5
    FROM (SELECT * FROM l0 UNION ALL SELECT * FROM l1
          UNION ALL SELECT * FROM l2)""",
)
def anonymization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalization ladder for the customer quasi-identifiers
    (nation, market segment, $1000 balance band): at each of three
    generalization levels — full QI, drop the balance band, drop the
    nation — the k-anonymity actually achieved (the SMALLEST group)
    and the row cost of suppressing to k=5 instead. This is the
    planning readout that DECIDES the k_anonymity DQ rule's
    configuration: generalize another level, or pay the suppression.

    Hash-exact: pure integer group counts at three literal
    granularities.

    Scale: three aggregations over the dimension table (or ONE
    grouping-sets pass — kept as three explicit rollups so each
    level's plan is independently visible); output is 3 rows."""
    c = materialize(
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_name"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias(
                "bal_band"
            ),
        )
    )

    def level(i: int, cols: list[str]) -> DataFrame:
        g = c.groupBy(*cols).agg(F.count(F.lit(1)).alias("n"))
        return g.agg(
            F.lit(i).cast("int").alias("level"),
            F.count(F.lit(1)).alias("n_groups"),
            F.min("n").alias("k_achieved"),
            F.sum(
                F.when(F.col("n") < 5, F.col("n")).otherwise(0)
            ).alias("rows_suppressed_at_k5"),
        )

    return (
        level(0, ["nation", "segment", "bal_band"])
        .unionByName(level(1, ["nation", "segment"]))
        .unionByName(level(2, ["segment"]))
        .select(
            "level", "n_groups", "k_achieved", "rows_suppressed_at_k5"
        )
    )


@workload(
    "resample_linear_interp_daily",
    oracle="""
    WITH obs AS (
        SELECT o_orderpriority AS priority,
               CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS v
        FROM orders GROUP BY 1, 2),
    b AS (SELECT priority, MIN(day) AS d0, MAX(day) AS d1
          FROM obs GROUP BY 1),
    grid AS (SELECT priority,
                    CAST(unnest(generate_series(d0, d1,
                         INTERVAL 1 DAY)) AS DATE) AS day
             FROM b),
    g AS (SELECT grid.priority, grid.day, obs.v
          FROM grid LEFT JOIN obs
            ON obs.priority = grid.priority AND obs.day = grid.day),
    c AS (SELECT priority, day, v,
                 last_value(v IGNORE NULLS) OVER
                   (PARTITION BY priority ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS v0,
                 last_value(CASE WHEN v IS NOT NULL THEN day END
                            IGNORE NULLS) OVER
                   (PARTITION BY priority ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS p0,
                 first_value(v IGNORE NULLS) OVER
                   (PARTITION BY priority ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS v1,
                 first_value(CASE WHEN v IS NOT NULL THEN day END
                             IGNORE NULLS) OVER
                   (PARTITION BY priority ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS p1
          FROM g)
    SELECT priority, day,
           CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
                ELSE CAST(CAST(CAST(v0 AS HUGEINT)
                               * date_diff('day', day, p1)
                               + CAST(v1 AS HUGEINT)
                               * date_diff('day', p0, day)
                          AS VARCHAR) AS DOUBLE)
                     / CAST(date_diff('day', p0, p1) AS DOUBLE)
           END AS value_filled,
           CAST(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
             AS is_observed
    FROM c""",
)
def resample_linear_interp_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily revenue per order priority on a DENSE calendar with LINEAR
    interpolation across gap days (~28% of per-priority days have no
    orders in this data): the numeric gap treatment downstream
    forecasting models need, next to resample_gap_fill's constant fill
    and the as-of step carry. Exercises temporal.resample_linear_interp
    — grid explode, two ignore-nulls carries, exact-rational
    interpolation with ONE double division.

    Hash-exact: observed days emit the exact integer as double;
    interpolated days divide a decimal numerator v0·(d1−d)+v1·(d−d0)
    by the integer span — engine-identical fixed chains."""
    from metadata_driven_etl_spark.operators import temporal as temporal_ops

    obs = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("v")
        )
    )
    return temporal_ops.resample_linear_interp(
        obs, keys=["priority"], day_col="day", value_col="v"
    )


# =========================================================================
# Round-10 additions, wave 5: exact trimmed mean, schema-evolution
# reads, interarrival silence-record alerts (batch form of the fourth
# stateful streaming twin).
# =========================================================================


@workload(
    "trimmed_mean_price_by_flag",
    oracle="""
    WITH d AS (
        SELECT l_returnflag AS g,
               CAST(FLOOR(l_extendedprice*100+0.5) AS BIGINT) AS cents,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2),
    w AS (SELECT g, cents, c,
                 CAST(SUM(c) OVER (PARTITION BY g ORDER BY cents
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS BIGINT)
                   AS cum,
                 CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n
          FROM d),
    inc AS (SELECT g, cents, n, n // 10 AS k,
                   GREATEST(CAST(0 AS BIGINT),
                            LEAST(cum, n - n // 10)
                              - GREATEST(cum - c, n // 10)) AS m
            FROM w)
    SELECT g AS l_returnflag,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(MAX(k) AS BIGINT) AS n_trimmed_each_side,
           CAST(CAST(SUM(CAST(cents AS HUGEINT) * m) AS VARCHAR)
                AS DOUBLE)
             / CAST(MAX(n) - 2 * MAX(k) AS DOUBLE) / 100.0
             AS trimmed_mean_dollars
    FROM inc GROUP BY 1""",
)
def trimmed_mean_price_by_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """10% trimmed mean of extended price per return flag: drop the
    ⌊n/10⌋ lowest and highest rows per group, average the rest — the
    robust-location estimator between the median (drops everything but
    rank n/2) and the mean (drops nothing), and the companion to the
    shipped winsorized form (winsorize CLAMPS the tails; trimming
    DROPS them — different bias under asymmetric outliers).

    Hash-exact WITHOUT per-row ranking: over the |group × distinct
    cents| domain frame, each value's included multiplicity is the
    integer interval intersection of its cumulative range (cum−c, cum]
    with the kept band (k, n−k] — so ties at the trim boundary split
    exactly, no row-order sensitivity anywhere; one decimal
    sum-of-products, one double division.

    Scale: the KS domain-frame discipline — one map-side groupBy to
    the domain frame, group-partitioned cum/total windows, one
    rollup."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    li = _t(spark, sf_dir, "lineitem")
    d = li.groupBy(
        F.col("l_returnflag").alias("g"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    ).agg(F.count(F.lit(1)).alias("c"))
    wc = Window.partitionBy("g").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("g")
    w = d.select(
        "g", "cents", "c",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(wt).alias("n"),
    )
    k = F.floor(F.col("n") / 10).cast("long")
    m = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum"), F.col("n") - k)
        - F.greatest(F.col("cum") - F.col("c"), k),
    )
    inc = w.select("g", "cents", "n", k.alias("k"), m.alias("m"))
    return inc.groupBy(F.col("g").alias("l_returnflag")).agg(
        F.max("n").alias("n_rows"),
        F.max("k").alias("n_trimmed_each_side"),
        (
            F.sum((F.col("cents").cast(d38) * F.col("m")).cast(d38))
            .cast(d38)
            .cast("double")
            / (F.max("n") - 2 * F.max("k")).cast("double")
            / F.lit(100.0)
        ).alias("trimmed_mean_dollars"),
    )


@workload(
    "scan_parquet_schema_evolution",
    oracle="""
    SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey,
           'a' AS batch
    FROM nation
    UNION ALL
    SELECT n_nationkey, CAST(NULL AS VARCHAR), n_regionkey, 'b'
    FROM nation""",
)
def scan_parquet_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """S-family (extended): schema-evolution read — two parquet batches
    with DIFFERENT column sets (an early drop without n_regionkey, a
    later one without n_name) land under one root; ``mergeSchema``
    unions the footers and fills the missing columns with NULLs, and
    the ``batch=`` directory layout comes back as a partition column.
    This is the ingestion reality every long-lived bronze table hits
    when upstream adds or drops fields.

    Session-unique write-once fixture (the scan_csv contract); the
    oracle rebuilds both batches from the source table."""
    nat = _t(spark, sf_dir, "nation")

    def write_batches(p: str) -> None:
        nat.select("n_nationkey", "n_name").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{p}/batch=a")
        nat.select("n_nationkey", "n_regionkey").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{p}/batch=b")

    path = _scan_fixture(
        spark, sf_dir, "scan_parquet_evolution", write_batches
    )
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("n_nationkey", "n_name", "n_regionkey", "batch")
    )


@workload(
    "silence_record_alerts",
    oracle="""
    WITH g AS (
        SELECT event_type, event_id,
               epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us,
               row_number() OVER w AS rn
        FROM events WHERE user_id IS NOT NULL
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
    r AS (SELECT event_type, event_id, gap_us,
                 MAX(gap_us) OVER (PARTITION BY event_type ORDER BY rn
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING) AS prev_max
          FROM g WHERE gap_us IS NOT NULL)
    SELECT event_type, event_id, CAST(gap_us AS BIGINT) AS gap_us
    FROM r WHERE prev_max IS NULL OR gap_us > prev_max""",
)
def silence_record_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-silence alerts per event type: emit a row whenever the
    interarrival gap to the previous event sets a NEW per-type maximum
    — the zero-configuration outage detector (a fixed threshold needs
    tuning per stream; "longer than we have ever been quiet" does
    not). Batch form of the fourth stateful streaming twin
    (streaming/stateful.py gap_record_stateful — exact event-time
    fold, bit-identical alerts, stream ≡ batch property-tested).

    Hash-exact: gaps are exact integer microseconds under the
    (ts, event_id) total order; the record test compares against the
    running max over STRICTLY EARLIER gaps (first gap always alerts).

    Scale: ONE type-keyed window shuffle shared by the lag and the
    running max — the sessionizer family's shape."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "event_type", "event_id",
            (
                F.unix_micros(F.col("ts"))
                - F.unix_micros(F.lag("ts").over(w))
            ).alias("gap_us"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("gap_us").isNotNull())
    )
    wm = (
        Window.partitionBy("event_type")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = g.select(
        "event_type", "event_id", "gap_us",
        F.max("gap_us").over(wm).alias("prev_max"),
    )
    return r.where(
        F.col("prev_max").isNull() | (F.col("gap_us") > F.col("prev_max"))
    ).select("event_type", "event_id", "gap_us")


# =========================================================================
# Round-10 additions, wave 6: parameter-sensitivity readouts (funnel
# window, dedup threshold) and malformed-record ingestion.
# =========================================================================


def _sql_funnel_rates_at(win_label: str, interval_sql: str) -> str:
    """One funnel_step_rates oracle block at a given step window —
    the funnel_window_sensitivity workload unions three of these."""
    return f"""
    SELECT '{win_label}' AS win, step, step_name, n_reached, step_rate,
           cum_rate
    FROM (
      WITH w1 AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS q1,
                 max(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS v_prev
          FROM events),
      w2 AS (
          SELECT *,
                 CASE WHEN event_type = 'click' AND v_prev IS NOT NULL
                           AND v_prev > ts - INTERVAL {interval_sql}
                      THEN 1 ELSE 0 END AS q2
          FROM w1),
      w3 AS (
          SELECT *,
                 CASE WHEN event_type = 'purchase' AND c_prev IS NOT NULL
                           AND c_prev > ts - INTERVAL {interval_sql}
                      THEN 1 ELSE 0 END AS q3
          FROM (SELECT *,
                       max(CASE WHEN q2 = 1 THEN ts END)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS c_prev
                FROM w2)),
      d AS (SELECT user_id,
                   CAST(max(q1) + max(q2) + max(q3) AS INT) AS depth
            FROM w3 GROUP BY 1),
      c AS (SELECT
              CAST(SUM(CASE WHEN depth >= 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS r1,
              CAST(SUM(CASE WHEN depth >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS r2,
              CAST(SUM(CASE WHEN depth >= 3 THEN 1 ELSE 0 END) AS BIGINT)
                AS r3,
              CAST(COUNT(*) AS BIGINT) AS n_users
            FROM d)
      SELECT 1 AS step, 'view' AS step_name, r1 AS n_reached,
             CASE WHEN n_users > 0 THEN
               CAST(r1 AS DOUBLE) / CAST(n_users AS DOUBLE)
             END AS step_rate,
             CASE WHEN n_users > 0 THEN
               CAST(r1 AS DOUBLE) / CAST(n_users AS DOUBLE)
             END AS cum_rate
      FROM c
      UNION ALL
      SELECT 2, 'click', r2,
             CASE WHEN r1 > 0 THEN
               CAST(r2 AS DOUBLE) / CAST(r1 AS DOUBLE) END,
             CASE WHEN n_users > 0 THEN
               CAST(r2 AS DOUBLE) / CAST(n_users AS DOUBLE) END
      FROM c
      UNION ALL
      SELECT 3, 'purchase', r3,
             CASE WHEN r2 > 0 THEN
               CAST(r3 AS DOUBLE) / CAST(r2 AS DOUBLE) END,
             CASE WHEN n_users > 0 THEN
               CAST(r3 AS DOUBLE) / CAST(n_users AS DOUBLE) END
      FROM c)"""


_FUNNEL_WINDOWS = [
    ("30m", "30 minutes", "30 MINUTE"),
    ("2h", "2 hours", "2 HOUR"),
    ("1d", "1 day", "1 DAY"),
]


@workload(
    "funnel_window_sensitivity",
    oracle="\n    UNION ALL\n".join(
        _sql_funnel_rates_at(lbl, sql) for lbl, _, sql in _FUNNEL_WINDOWS
    ),
)
def funnel_window_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Funnel-chart rates at THREE step windows (30m / 2h / 1d) in one
    table — the parameter-sensitivity readout behind every funnel
    config decision: if conversion jumps between 30m and 2h, the 30m
    window is cutting real journeys; if 1d ≈ 2h, the funnel has
    converged and the window is safe. Rides temporal.funnel_rates_multi
    (r12): every window's qualifying flags are window functions over
    the SAME (user, ts) spec, so all three windows stack over ONE
    Exchange+Sort of the events table — the per-window loop used to
    re-shuffle and re-sort the corpus 3× to change a comparison
    constant. Output rows identical (operator-level equivalence test).

    Scale: one user-keyed window shuffle total; the union is 9 literal
    rows."""
    from metadata_driven_etl_spark.operators import temporal as temporal_ops

    ev = _t(spark, sf_dir, "events")
    return temporal_ops.funnel_rates_multi(
        ev,
        ["view", "click", "purchase"],
        [(lbl, win) for lbl, win, _ in _FUNNEL_WINDOWS],
    )


@workload(
    "dedup_threshold_curve",
    oracle=f"""
    WITH pairs AS ({dedup_ops.sql_jaccard_brute_force(threshold=0.5)})
    SELECT CAST(FLOOR(jaccard * 10) AS INTEGER) AS sim_band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1""",
)
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pair counts by similarity band (J ∈ [0.5, 1.0],
    0.1-wide bands) from ONE exact prefix-filter pass at the loosest
    threshold — the dedup-tuning curve: where the mass sits decides
    whether the production threshold at 0.7 vs 0.8 removes 2% or 20%
    of the corpus, and running the candidate pass once per CANDIDATE
    threshold (the naive approach) multiplies the join cost by the
    number of thresholds probed.

    Band edges are computed on the same rounded-6dp jaccard both
    engines emit, so the floor(j·10) banding is engine-identical even
    at binary-representation boundaries (both sides floor the same
    double).

    Scale: one prefix-filtered set-similarity join at t=0.5 (the
    SSJoin machinery with its measured candidate collapse), one
    ≤6-row band rollup."""
    pairs = dedup_ops.jaccard_prefix_pairs(
        _docs(spark, sf_dir), threshold=0.5
    )
    return pairs.groupBy(
        F.floor(F.col("jaccard") * 10).cast("int").alias("sim_band")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


@workload(
    "scan_csv_malformed",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST(3 AS BIGINT) AS n_corrupt,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
    FROM nation""",
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family (extended): malformed-record handling — a CSV drop with
    3 corrupt rows (non-numeric keys) read in PERMISSIVE mode with a
    ``columnNameOfCorruptRecord`` column: good rows parse, bad rows
    land whole in the corrupt column instead of killing the job — the
    quarantine-don't-crash ingestion contract every bronze feed needs
    (FAILFAST is a retry storm; DROPMALFORMED is silent data loss).
    The oracle value-checks all three: good count, corrupt count, and
    the parsed key sum (proving corrupt rows contributed no values).

    Session-unique write-once fixture (the scan_csv contract): the
    nation table round-trips through CSV plus three appended garbage
    lines."""
    import os as _os

    def write_files(p: str) -> None:
        rows = (
            _t(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .collect()
        )  # 25 dimension rows — fixture setup, not a data path
        _os.makedirs(p, exist_ok=True)
        with open(_os.path.join(p, "part-0.csv"), "w") as fh:
            for r in rows:
                fh.write(f"{r.n_nationkey}|{r.n_name}|{r.n_regionkey}\n")
            fh.write("oops|BROKEN|x\n")
            fh.write("NaNkey|GARBAGE|9\n")
            fh.write("12.5|HALF|2\n")

    path = _scan_fixture(spark, sf_dir, "scan_csv_malformed", write_files)
    df = spark.read.options(
        delimiter="|",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_bad",
    ).schema(
        "n_nationkey int, n_name string, n_regionkey int, _bad string"
    ).csv(path)
    return df.agg(
        F.count(F.when(F.col("_bad").isNull(), F.lit(1))).alias("n_good"),
        F.count(F.col("_bad")).alias("n_corrupt"),
        F.sum(
            F.when(F.col("_bad").isNull(), F.col("n_nationkey"))
        ).alias("key_sum"),
    )


# =========================================================================
# Round-10 additions, wave 7: ML evaluation — clustering agreement
# (Rand index), thresholded precision/recall/F1, exact rank AUC.
# =========================================================================


@workload(
    "rand_index_kmeans_labels",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE)*{_KM_SCALE}+0.5)
                             AS BIGINT)) AS qv
        FROM embeddings),
    cent AS (
        SELECT vec_id AS cid, qv AS cv FROM q
        ORDER BY vec_id LIMIT {_KM_K}),
    d AS (
        SELECT vec_id, label, cid,
               list_sum(list_transform(list_zip(qv, cv),
                        p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist
        FROM q CROSS JOIN cent),
    a AS (
        SELECT vec_id, label, cid FROM (
            SELECT vec_id, label, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM d) WHERE rn = 1),
    ct AS (SELECT cid, label, CAST(COUNT(*) AS HUGEINT) AS nij
           FROM a GROUP BY 1, 2),
    m AS (SELECT
            CAST(SUM(nij) AS HUGEINT) AS n,
            SUM(nij*(nij-1)//2) AS s_ij
          FROM ct),
    ma AS (SELECT SUM(ai*(ai-1)//2) AS s_a FROM (
             SELECT CAST(SUM(nij) AS HUGEINT) AS ai FROM ct GROUP BY cid)),
    mb AS (SELECT SUM(bj*(bj-1)//2) AS s_b FROM (
             SELECT CAST(SUM(nij) AS HUGEINT) AS bj FROM ct
             GROUP BY label))
    SELECT CAST(n AS BIGINT) AS n_vectors,
           CAST(s_ij AS BIGINT) AS agree_same_pairs,
           CAST(CAST(n*(n-1)//2 - s_a - s_b + 2*s_ij AS VARCHAR)
                AS DOUBLE)
             / CAST(CAST(n*(n-1)//2 AS VARCHAR) AS DOUBLE) AS rand_index
    FROM m CROSS JOIN ma CROSS JOIN mb""",
)
def rand_index_kmeans_labels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rand index between the exact quantized k-means assignment
    (the kmeans_assign_recompute Lloyd step, same deterministic
    seeding) and the ground-truth labels — the clustering-evaluation
    readout that closes the loop on the embedding-ML family: assign,
    recompute, THEN score against labels. RI = (same-same + diff-diff
    pair agreements)/C(n,2), computed from the |clusters × labels|
    contingency by the closed-form identity
    agreements = C(n,2) − ΣC(a_i,2) − ΣC(b_j,2) + 2·ΣC(n_ij,2) —
    pair space never enumerated (the dup-flow-matrix discipline).

    Hash-exact: assignment distances are exact bigints with cid
    tie-breaks; all pair counts are exact integers; the index is one
    double division.

    Scale: the Lloyd assign stage (broadcast k centroids, map-side)
    + one contingency aggregation (k·|labels| rows) — counts close
    the pair space in O(cells)."""
    d38 = "decimal(38,0)"
    q = materialize(_emb(spark, sf_dir).select(
        "vec_id", "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _KM_SCALE + 0.5).cast(
                "long"
            ),
        ).alias("qv"),
    ))
    cent = (
        q.orderBy("vec_id")
        .limit(_KM_K)
        .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"))
    )
    dist = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    d = q.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", "cid", dist.alias("dist")
    )
    a = (
        d.groupBy("vec_id", "label")
        .agg(F.min(F.struct("dist", "cid")).alias("m"))
        .select("vec_id", "label", F.col("m.cid").alias("cid"))
    )
    ct = materialize(a.groupBy("cid", "label").agg(
        F.count(F.lit(1)).cast(d38).alias("nij")
    ))
    c2 = lambda c: (c * (c - 1) / 2).cast(d38)  # noqa: E731
    m = ct.agg(
        F.sum("nij").cast(d38).alias("n"),
        F.sum(c2(F.col("nij"))).cast(d38).alias("s_ij"),
    )
    ma = (
        ct.groupBy("cid").agg(F.sum("nij").cast(d38).alias("ai"))
        .agg(F.sum(c2(F.col("ai"))).cast(d38).alias("s_a"))
    )
    mb = (
        ct.groupBy("label").agg(F.sum("nij").cast(d38).alias("bj"))
        .agg(F.sum(c2(F.col("bj"))).cast(d38).alias("s_b"))
    )
    tot = m.crossJoin(F.broadcast(ma)).crossJoin(F.broadcast(mb))
    npairs = c2(F.col("n"))
    agree = (
        npairs - F.col("s_a") - F.col("s_b") + 2 * F.col("s_ij")
    ).cast(d38)
    return tot.select(
        F.col("n").cast("long").alias("n_vectors"),
        F.col("s_ij").cast("long").alias("agree_same_pairs"),
        (agree.cast("double") / npairs.cast("double")).alias(
            "rand_index"
        ),
    )


# Classification threshold for the precision/recall readout: order
# totals at or above this many cents predict "urgent" (literal so the
# confusion matrix is a fixed deterministic cut at every SF).
_PR_THRESHOLD_CENTS = 15_000_000


@workload(
    "precision_recall_at_threshold",
    oracle=f"""
    WITH f AS (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                 AS y,
               CASE WHEN CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT)
                         >= {_PR_THRESHOLD_CENTS} THEN 1 ELSE 0 END
                 AS yhat
        FROM orders),
    c AS (SELECT
        CAST(SUM(y*yhat) AS BIGINT) AS tp,
        CAST(SUM((1-y)*yhat) AS BIGINT) AS fp,
        CAST(SUM(y*(1-yhat)) AS BIGINT) AS fn,
        CAST(SUM((1-y)*(1-yhat)) AS BIGINT) AS tn
        FROM f),
    r AS (SELECT tp, fp, fn, tn,
                 -- guards (r12 degenerate sweep): no predicted / no
                 -- actual positives => undefined rate
                 CASE WHEN tp+fp > 0 THEN
                   CAST(tp AS DOUBLE)/CAST(tp+fp AS DOUBLE)
                 END AS precision,
                 CASE WHEN tp+fn > 0 THEN
                   CAST(tp AS DOUBLE)/CAST(tp+fn AS DOUBLE)
                 END AS recall
          FROM c)
    SELECT tp, fp, fn, tn, precision, recall,
           CASE WHEN precision + recall > 0 THEN
             2.0*precision*recall/(precision+recall)
           END AS f1
    FROM r""",
)
def precision_recall_at_threshold(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Confusion matrix + precision/recall/F1 for a thresholded score
    (order total ≥ $150k predicts urgent priority) — the model-eval
    readout every scored pipeline reports; with the exact AUC and the
    decile lift table this completes the binary-classifier evaluation
    family. Counts come from ONE conditional aggregation; the rates
    are fixed double chains over exact integers (precision/recall are
    named CTE columns, so the F1 expression carries no
    subtraction-next-to-product FMA shape).

    Scale: one map-side-combinable aggregation to one row."""
    f = _t(spark, sf_dir, "orders").select(
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("y"),
        (
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            >= F.lit(_PR_THRESHOLD_CENTS)
        ).cast("int").alias("yhat"),
    )
    c = f.agg(
        F.sum(F.col("y") * F.col("yhat")).alias("tp"),
        F.sum((1 - F.col("y")) * F.col("yhat")).alias("fp"),
        F.sum(F.col("y") * (1 - F.col("yhat"))).alias("fn"),
        F.sum((1 - F.col("y")) * (1 - F.col("yhat"))).alias("tn"),
    )
    # guards (r12 degenerate sweep): no predicted / actual positives
    r = c.select(
        "tp", "fp", "fn", "tn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fp")).cast("double"),
        ).alias("precision"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fn")).cast("double"),
        ).alias("recall"),
    )
    return r.select(
        "tp", "fp", "fn", "tn", "precision", "recall",
        F.when(
            F.col("precision") + F.col("recall") > 0,
            F.lit(2.0) * F.col("precision") * F.col("recall")
            / (F.col("precision") + F.col("recall")),
        ).alias("f1"),
    )


@workload(
    "roc_auc_urgent_price",
    oracle="""
    WITH f AS (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                 AS y,
               CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT) AS s
        FROM orders),
    d AS (SELECT s, CAST(COUNT(*) AS HUGEINT) AS t,
                 CAST(SUM(y) AS HUGEINT) AS p
          FROM f GROUP BY 1),
    w AS (SELECT s, t, p,
                 CAST(COALESCE(SUM(t) OVER (ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS HUGEINT)
                   AS before_
          FROM d),
    m AS (SELECT CAST(SUM(p) AS HUGEINT) AS n1,
                 CAST(SUM(t - p) AS HUGEINT) AS n0,
                 SUM(p * (2*before_ + t + 1)) AS r2
          FROM w)
    SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
           -- guard (r12 degenerate sweep): one-class labels have no AUC
           CASE WHEN n1 > 0 AND n0 > 0 THEN
             CAST(CAST(r2 - n1*(n1+1) AS VARCHAR) AS DOUBLE)
               / CAST(CAST(2*n1*n0 AS VARCHAR) AS DOUBLE)
           END AS auc
    FROM m""",
)
def roc_auc_urgent_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC AUC of order total as a predictor of urgent priority,
    via the midrank identity AUC = (R⁺ − n₁(n₁+1)/2)/(n₁n₀) — the
    threshold-free companion to the fixed-cut precision/recall
    readout (the Mann-Whitney U connection makes the whole ROC curve's
    area one rank statistic; no curve sampling, no trapezoid error).

    Hash-exact: midranks over tied scores stay integer by the 2×
    scaling trick — Σ 2·midrank = Σ p_c·(2·cum_before + t_c + 1) over
    the |distinct cents| domain frame — so AUC is ONE double division
    of exact integers.

    Scale: one map-side groupBy to the score-domain frame, one
    domain-bounded cumulative window (the KS discipline), one 1-row
    rollup."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    f = _t(spark, sf_dir, "orders").select(
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("y"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("s"),
    )
    d = f.groupBy("s").agg(
        F.count(F.lit(1)).cast(d38).alias("t"),
        F.sum("y").cast(d38).alias("p"),
    )
    wb = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    w = d.select(
        "s", "t", "p",
        F.coalesce(F.sum("t").over(wb), F.lit(0)).cast(d38).alias(
            "before_"
        ),
    )
    m = w.agg(
        F.sum("p").cast(d38).alias("n1"),
        F.sum(F.col("t") - F.col("p")).cast(d38).alias("n0"),
        F.sum(
            (F.col("p") * (2 * F.col("before_") + F.col("t") + 1)).cast(
                d38
            )
        ).cast(d38).alias("r2"),
    )
    return m.select(
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n0").cast("long").alias("n_neg"),
        # guard (r12 degenerate sweep): one-class labels have no AUC
        F.when(
            (F.col("n1") > 0) & (F.col("n0") > 0),
            (F.col("r2") - F.col("n1") * (F.col("n1") + 1))
            .cast(d38)
            .cast("double")
            / (2 * F.col("n1") * F.col("n0")).cast(d38).cast("double"),
        ).alias("auc"),
    )


# =========================================================================
# Round-11 additions, wave 1: agreement / interval / paired-sample
# statistics — Cohen's kappa, Matthews correlation, Wilson score CI,
# Wilcoxon signed-rank, Friedman test, Poisson rate CI.
# =========================================================================


@workload(
    "cohens_kappa_status_priority",
    oracle="""
    WITH m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                         AND o_orderstatus = 'F' THEN 1 ELSE 0 END)
               AS BIGINT) AS n11,
          CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                         AND o_orderstatus <> 'F' THEN 1 ELSE 0 END)
               AS BIGINT) AS n10,
          CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT'
                         AND o_orderstatus = 'F' THEN 1 ELSE 0 END)
               AS BIGINT) AS n01,
          CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT'
                         AND o_orderstatus <> 'F' THEN 1 ELSE 0 END)
               AS BIGINT) AS n00
        FROM orders),
    d AS (SELECT n, n11, n00,
            CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
            CAST((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00) AS DOUBLE)
              / CAST(n*n AS DOUBLE) AS pe
          FROM m)
    SELECT n AS n_orders, po AS observed_agreement,
           pe AS expected_agreement,
           (po - pe) / (1.0 - pe) AS kappa
    FROM d""",
)
def cohens_kappa_status_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cohen's kappa between two binary labelings of orders — is URGENT
    priority "agreeing" with finished status beyond chance? The
    inter-rater-agreement statistic every labeling pipeline QA needs
    (two annotators / a model vs gold): raw agreement po is inflated by
    class imbalance; kappa removes the chance floor pe.

    Hash-exact: the 2×2 cell counts are exact; po and pe are each ONE
    division of exact integers (marginal products kept in decimal on
    the Spark side — they exceed int64 beyond ~3e9 rows — and both
    sides' integers are < 2⁵³ at test SFs, so the doubles agree
    bit-for-bit); kappa is a fixed (po−pe)/(1−pe) chain.

    Scale: one map-side-combinable aggregation to a single row."""
    d38 = "decimal(38,0)"
    urg = F.col("o_orderpriority") == "1-URGENT"
    fin = F.col("o_orderstatus") == "F"
    m = _t(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((urg & fin).cast("long")).alias("n11"),
        F.sum((urg & ~fin).cast("long")).alias("n10"),
        F.sum((~urg & fin).cast("long")).alias("n01"),
        F.sum((~urg & ~fin).cast("long")).alias("n00"),
    )
    n = F.col("n")
    po = (F.col("n11") + F.col("n00")).cast("double") / n.cast("double")
    pe = (
        (F.col("n11") + F.col("n10")).cast(d38)
        * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")).cast(d38)
        * (F.col("n10") + F.col("n00"))
    ).cast(d38).cast("double") / (n.cast(d38) * n).cast(d38).cast("double")
    return m.select(
        n.alias("n_orders"),
        po.alias("observed_agreement"),
        pe.alias("expected_agreement"),
        ((po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


@workload(
    "matthews_corrcoef_urgent_price",
    oracle="""
    WITH m AS (
        SELECT
          CAST(SUM(CASE WHEN FLOOR(o_totalprice*100+0.5) > 15000000
                         AND o_orderpriority = '1-URGENT'
                        THEN 1 ELSE 0 END) AS BIGINT) AS tp,
          CAST(SUM(CASE WHEN FLOOR(o_totalprice*100+0.5) > 15000000
                         AND o_orderpriority <> '1-URGENT'
                        THEN 1 ELSE 0 END) AS BIGINT) AS fp,
          CAST(SUM(CASE WHEN FLOOR(o_totalprice*100+0.5) <= 15000000
                         AND o_orderpriority = '1-URGENT'
                        THEN 1 ELSE 0 END) AS BIGINT) AS fn,
          CAST(SUM(CASE WHEN FLOOR(o_totalprice*100+0.5) <= 15000000
                         AND o_orderpriority <> '1-URGENT'
                        THEN 1 ELSE 0 END) AS BIGINT) AS tn
        FROM orders)
    SELECT tp, fp, fn, tn,
      CASE WHEN (tp+fp)*(tp+fn) = 0 OR (tn+fp)*(tn+fn) = 0 THEN NULL
           ELSE CAST(CAST(CAST(tp AS HUGEINT)*tn
                          - CAST(fp AS HUGEINT)*fn AS VARCHAR) AS DOUBLE)
             / sqrt(CAST(CAST(CAST(tp+fp AS HUGEINT)*(tp+fn)
                              *(tn+fp)*(tn+fn) AS VARCHAR) AS DOUBLE))
      END AS mcc
    FROM m""",
)
def matthews_corrcoef_urgent_price(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matthews correlation coefficient for the "price > $150k predicts
    URGENT" classifier — the balanced single-number binary-classifier
    score (unlike accuracy/F1 it uses all four confusion cells, so a
    degenerate always-positive predictor can't score well). Complements
    precision_recall_at_threshold / roc_auc_urgent_price with the
    chance-corrected summary.

    Hash-exact: the numerator tp·tn − fp·fn stays in exact integers
    (HUGEINT / decimal38 — NEVER folded in doubles, the FMA-contraction
    trap); the 4-factor denominator product exceeds int64 and rides
    HUGEINT→VARCHAR→DOUBLE / decimal38→double (the established exact-
    conversion pair); zero marginals emit NULL on both engines.

    Scale: one map-side-combinable aggregation to a single row."""
    d38 = "decimal(38,0)"
    pred = F.floor(F.col("o_totalprice") * 100 + 0.5) > 15000000
    act = F.col("o_orderpriority") == "1-URGENT"
    m = _t(spark, sf_dir, "orders").agg(
        F.sum((pred & act).cast("long")).alias("tp"),
        F.sum((pred & ~act).cast("long")).alias("fp"),
        F.sum((~pred & act).cast("long")).alias("fn"),
        F.sum((~pred & ~act).cast("long")).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    num = (tp.cast(d38) * tn - fp.cast(d38) * fn).cast(d38)
    den = (
        ((tp + fp).cast(d38) * (tp + fn)).cast(d38)
        * ((tn + fp).cast(d38) * (tn + fn)).cast(d38)
    ).cast(d38)
    mcc = F.when(
        ((tp + fp) * (tp + fn) != 0) & ((tn + fp) * (tn + fn) != 0),
        num.cast("double") / F.sqrt(den.cast("double")),
    )
    return m.select("tp", "fp", "fn", "tn", mcc.alias("mcc"))


@workload(
    "wilson_ci_status_by_priority",
    oracle="""
    WITH g AS (
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS k
        FROM orders GROUP BY 1),
    c AS (SELECT priority, n, k,
                 CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                 -- CAST both factors: a bare 1.96*1.96 is DECIMAL in
                 -- DuckDB (z2 = 1.9208 EXACT) while Spark's double
                 -- chain gives 1.9207999999999998 — a last-ulp fork
                 -- that surfaces at the p=0/1 boundary (r12 degenerate
                 -- sweep finding)
                 CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
                   / CAST(n AS DOUBLE) AS z2n
          FROM g)
    SELECT priority, n AS n_orders, k AS n_finished, p AS p_hat,
      (p + z2n/2.0 - 1.96*sqrt(p*(1.0-p)/CAST(n AS DOUBLE)
                               + z2n/(4.0*CAST(n AS DOUBLE))))
        / (1.0 + z2n) AS ci_low,
      (p + z2n/2.0 + 1.96*sqrt(p*(1.0-p)/CAST(n AS DOUBLE)
                               + z2n/(4.0*CAST(n AS DOUBLE))))
        / (1.0 + z2n) AS ci_high
    FROM c""",
)
def wilson_ci_status_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wilson score 95% confidence interval for the finished-order rate
    per priority class — the interval every rate dashboard should use
    instead of the Wald ±1.96√(p(1−p)/n) (which collapses to zero width
    at p∈{0,1} and escapes [0,1] at small n; Wilson stays inside and
    never degenerates).

    Hash-exact: k and n are exact; the Wilson chain is written
    token-for-token identically on both engines over the SAME p = k/n
    double (every operand of every IEEE op matches, so the results
    match bit-for-bit — the safety_stock fixed-chain discipline).

    Scale: one map-side-combinable |priorities|-row aggregation."""
    g = _t(spark, sf_dir, "orders").groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            (F.col("o_orderstatus") == "F").cast("long")
        ).alias("k"),
    )
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / nd
    z = F.lit(1.96)
    z2n = z * z / nd
    margin = z * F.sqrt(
        p * (F.lit(1.0) - p) / nd + z2n / (F.lit(4.0) * nd)
    )
    return g.select(
        "priority",
        F.col("n").alias("n_orders"),
        F.col("k").alias("n_finished"),
        p.alias("p_hat"),
        ((p + z2n / 2.0 - margin) / (F.lit(1.0) + z2n)).alias("ci_low"),
        ((p + z2n / 2.0 + margin) / (F.lit(1.0) + z2n)).alias("ci_high"),
    )


@workload(
    "wilcoxon_signed_rank_yoy",
    oracle="""
    WITH mr AS (
        SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS yr,
               CAST(month(CAST(o_orderdate AS DATE)) AS INTEGER) AS mo,
               CAST(SUM(CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders
        WHERE year(CAST(o_orderdate AS DATE)) IN (1994, 1995)
        GROUP BY 1, 2),
    d AS (SELECT b.cents - a.cents AS diff
          FROM mr a JOIN mr b ON a.mo = b.mo
          WHERE a.yr = 1994 AND b.yr = 1995 AND b.cents <> a.cents),
    dm AS (SELECT ABS(diff) AS ad, CAST(COUNT(*) AS BIGINT) AS c,
                  CAST(SUM(CASE WHEN diff > 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS cpos
           FROM d GROUP BY 1),
    u AS (SELECT ad, c, cpos,
                 2*COALESCE(SUM(c) OVER (ORDER BY ad
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + c + 1 AS dmr
          FROM dm),
    s AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                 CAST(SUM(cpos*dmr) AS BIGINT) AS wp_dbl,
                 CAST(SUM((c-cpos)*dmr) AS BIGINT) AS wm_dbl
          FROM u)
    SELECT n AS n_pairs, wp_dbl AS w_plus_doubled,
           wm_dbl AS w_minus_doubled,
           CAST(2*wp_dbl - n*(n+1) AS DOUBLE)
             / (4.0*sqrt(CAST(n*(n+1)*(2*n+1) AS DOUBLE)/24.0)) AS z_stat
    FROM s""",
)
def wilcoxon_signed_rank_yoy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wilcoxon signed-rank test on paired year-over-year monthly
    revenue (1995 vs 1994, paired by calendar month) — the paired
    sibling of the shipped Mann-Whitney U (independent samples): did
    revenue shift between the years, without assuming normality of the
    monthly differences? Zero differences drop (standard Wilcoxon).

    Hash-exact: monthly revenues are exact cents; |d| ranks use DOUBLED
    midranks over the |distinct |d|| domain frame (2·cum_before+c+1 —
    the Spearman/KW idiom, halves never materialize), so W⁺/W⁻ are
    exact integers; z = (4W⁺ − n(n+1)) / (4√(n(n+1)(2n+1)/24)) folds
    the doubling into exact integer arithmetic before ONE conversion
    each side.

    Scale: the fact aggregates to ≤24 (year,month) rows; everything
    after is constant-size (the ≤12-row domain window is value-bounded
    by the calendar — the documented skyline exemption class)."""
    from pyspark.sql import Window

    mr = materialize(
        _t(spark, sf_dir, "orders")
        .withColumn("yr", F.year(F.to_date("o_orderdate")))
        .filter(F.col("yr").isin(1994, 1995))
        .groupBy(
            "yr",
            F.month(F.to_date("o_orderdate")).alias("mo"),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("cents")
        )
    )
    a = mr.filter(F.col("yr") == 1994).select(
        "mo", F.col("cents").alias("ca")
    )
    b = mr.filter(F.col("yr") == 1995).select(
        "mo", F.col("cents").alias("cb")
    )
    d = (
        a.join(F.broadcast(b), "mo")
        .filter(F.col("cb") != F.col("ca"))
        .select((F.col("cb") - F.col("ca")).alias("diff"))
    )
    dm = d.groupBy(F.abs(F.col("diff")).alias("ad")).agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum((F.col("diff") > 0).cast("long")).alias("cpos"),
    )
    w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    u = dm.select(
        "ad", "c", "cpos",
        (
            2 * F.coalesce(F.sum("c").over(w), F.lit(0).cast("long"))
            + F.col("c") + 1
        ).alias("dmr"),
    )
    s = u.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("cpos") * F.col("dmr")).cast("long").alias("wp_dbl"),
        F.sum((F.col("c") - F.col("cpos")) * F.col("dmr"))
        .cast("long")
        .alias("wm_dbl"),
    )
    n = F.col("n")
    z = (2 * F.col("wp_dbl") - n * (n + 1)).cast("double") / (
        F.lit(4.0)
        * F.sqrt((n * (n + 1) * (2 * n + 1)).cast("double") / F.lit(24.0))
    )
    return s.select(
        n.alias("n_pairs"),
        F.col("wp_dbl").alias("w_plus_doubled"),
        F.col("wm_dbl").alias("w_minus_doubled"),
        z.alias("z_stat"),
    )


@workload(
    "friedman_test_daily_type",
    oracle="""
    WITH dt AS (
        SELECT CAST(ts AS DATE) AS day, event_type AS g,
               CAST(SUM(CAST(FLOOR(value*100+0.5) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL
        GROUP BY 1, 2),
    fd AS (SELECT day FROM dt GROUP BY 1 HAVING COUNT(*) = 5),
    r AS (SELECT d.g,
                 2*(RANK() OVER (PARTITION BY d.day ORDER BY d.cents))
                   + CAST(COUNT(*) OVER (PARTITION BY d.day, d.cents)
                          AS BIGINT) - 1 AS dmr
          FROM dt d JOIN fd ON fd.day = d.day),
    uj AS (SELECT g, CAST(SUM(dmr) AS BIGINT) AS u FROM r GROUP BY 1),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM fd),
    p AS (SELECT CAST(SUM(u*u) AS BIGINT) AS su2 FROM uj)
    SELECT n AS n_blocks,
           CAST(su2 AS DOUBLE) / CAST(10*n AS DOUBLE)
             - CAST(18*n AS DOUBLE) AS q_stat
    FROM p CROSS JOIN nb""",
)
def friedman_test_daily_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test: do the five event types draw the same daily-total
    distribution, treating each day as a BLOCK? The repeated-measures
    sibling of the shipped Kruskal-Wallis (which pools all rows —
    confounded by day effects; Friedman ranks WITHIN each day, so a
    hot day lifts all types equally and cancels). Only complete blocks
    (all 5 types present) enter, the standard completeness rule.
    Ties share doubled midranks; Q is the uncorrected statistic
    (documented — the tie correction is a separate multiplier).

    Hash-exact: within-block ranks are exact integers under the
    doubled-midrank idiom (2·rank + ties − 1 from RANK + a tie count —
    both window functions agree across engines); U_j = Σ2R_j and ΣU²
    are exact longs (U_j ≤ 10·n_blocks); Q = ΣU²/(10n) − 18n folds the
    k=5 constants into exact integers, ONE conversion per operand.

    Scale: one fact aggregation to the |days × 5| frame; the ranking
    window is PARTITIONED by day (5 rows per partition, fully
    parallel); rollups are |types|- and 1-row."""
    from pyspark.sql import Window

    dt = materialize(
        _t(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isNotNull() & F.col("value").isNotNull()
        )
        .groupBy(
            F.to_date("ts").alias("day"),
            F.col("event_type").alias("g"),
        )
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).alias("cents")
        )
    )
    fd = dt.groupBy("day").agg(F.count(F.lit(1)).alias("nt")).filter(
        F.col("nt") == 5
    ).select("day")
    wr = Window.partitionBy("day").orderBy("cents")
    wt = Window.partitionBy("day", "cents")
    r = dt.join(fd, "day").select(
        "g",
        (
            2 * F.rank().over(wr)
            + F.count(F.lit(1)).over(wt).cast("long")
            - 1
        ).alias("dmr"),
    )
    uj = r.groupBy("g").agg(F.sum("dmr").cast("long").alias("u"))
    nb = fd.agg(F.count(F.lit(1)).cast("long").alias("n"))
    p = uj.agg(F.sum(F.col("u") * F.col("u")).cast("long").alias("su2"))
    return p.crossJoin(F.broadcast(nb)).select(
        F.col("n").alias("n_blocks"),
        (
            F.col("su2").cast("double")
            / (10 * F.col("n")).cast("double")
            - (18 * F.col("n")).cast("double")
        ).alias("q_stat"),
    )


@workload(
    "poisson_rate_ci_by_type",
    oracle="""
    WITH t AS (SELECT event_type,
                      CAST(COUNT(*) AS BIGINT) AS n
               FROM events GROUP BY 1),
    d AS (SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS days
          FROM events)
    SELECT event_type, n AS n_events, days AS n_days,
           CAST(n AS DOUBLE) / CAST(days AS DOUBLE) AS rate_per_day,
           CAST(n AS DOUBLE) / CAST(days AS DOUBLE)
             - 1.96*sqrt(CAST(n AS DOUBLE))/CAST(days AS DOUBLE) AS ci_low,
           CAST(n AS DOUBLE) / CAST(days AS DOUBLE)
             + 1.96*sqrt(CAST(n AS DOUBLE))/CAST(days AS DOUBLE) AS ci_high
    FROM t CROSS JOIN d""",
)
def poisson_rate_ci_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily event rate with a 95% Poisson CI (normal
    approximation λ̂ ± 1.96√N/days) — the alerting baseline: a day whose
    count falls outside its type's band is the anomaly candidate, and
    the band width is what separates "error rate doubled" from "error
    count is small, everything is noise".

    Hash-exact: N and the day count are exact integers; the rate and
    interval are a fixed √/division chain over exactly-converted
    operands, written token-identically on both engines.

    Scale: one map-side-combinable |types|-row count plus a global
    distinct-days aggregate (|days| state), broadcast back — no
    fact-sized shuffle."""
    ev = _t(spark, sf_dir, "events")
    t = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    d = ev.agg(
        F.countDistinct(F.to_date("ts")).cast("long").alias("days")
    )
    nd = F.col("n").cast("double")
    dd = F.col("days").cast("double")
    rate = nd / dd
    half = F.lit(1.96) * F.sqrt(nd) / dd
    return t.crossJoin(F.broadcast(d)).select(
        "event_type",
        F.col("n").alias("n_events"),
        F.col("days").alias("n_days"),
        rate.alias("rate_per_day"),
        (rate - half).alias("ci_low"),
        (rate + half).alias("ci_high"),
    )


# =========================================================================
# Round-11 additions, wave 2: financial / retail analytics — exact
# basis-point return moments, historical VaR + expected shortfall,
# Bollinger band breaks, the ABC×XYZ planning matrix, customer
# revenue concentration.
# =========================================================================


@workload(
    "daily_return_stats",
    oracle="""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1),
    r AS (SELECT cents, lag(cents) OVER (ORDER BY day) AS prev FROM d),
    b AS (SELECT CAST(FLOOR(CAST((cents - prev)*10000 AS DOUBLE)
                            / CAST(prev AS DOUBLE)) AS BIGINT) AS bp
          FROM r WHERE prev IS NOT NULL),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(bp AS HUGEINT)) AS s,
                 SUM(CAST(bp AS HUGEINT)*bp) AS q,
                 CAST(MIN(bp) AS BIGINT) AS mn,
                 CAST(MAX(bp) AS BIGINT) AS mx
          FROM b)
    SELECT n AS n_days,
           CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
             AS mean_bp,
           CASE WHEN n > 1 THEN
             sqrt(CAST(CAST(n*q - s*s AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(n*(n-1) AS VARCHAR) AS DOUBLE))
           ELSE NULL END AS std_bp,
           mn AS min_bp, mx AS max_bp
    FROM m""",
)
def daily_return_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue return distribution in QUANTIZED basis points —
    the volatility readout behind risk sizing (max_drawdown gives the
    worst path; this gives the per-step dispersion). Returns are
    floor-quantized to integer bp, which makes every downstream moment
    EXACT — the trick that turns an unhashable float-return series
    into decimal-sum arithmetic.

    Hash-exact: (Δcents)·10000 is exact integer; ONE identical IEEE
    division by prev and an identical floor on both engines yield the
    same integer bp; mean/std ride exact decimal Σbp, Σbp² (Welch
    identity, VARCHAR-route conversion).

    Scale: one fact aggregation to |days|; the lag window is over the
    calendar-bounded daily frame (the documented exemption class);
    moments are one map-side-combinable rollup."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    d = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("cents")
        )
    )
    r = d.select(
        "cents", F.lag("cents").over(Window.orderBy("day")).alias("prev")
    ).filter(F.col("prev").isNotNull())
    b = r.select(
        F.floor(
            ((F.col("cents") - F.col("prev")) * 10000).cast("double")
            / F.col("prev").cast("double")
        ).cast("long").alias("bp")
    )
    m = b.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("bp").cast(d38)).cast(d38).alias("s"),
        F.sum((F.col("bp").cast(d38) * F.col("bp")).cast(d38))
        .cast(d38)
        .alias("q"),
        F.min("bp").alias("mn"),
        F.max("bp").alias("mx"),
    )
    n = F.col("n")
    return m.select(
        n.alias("n_days"),
        (F.col("s").cast("double") / n.cast("double")).alias("mean_bp"),
        # n>1 guard (ADVICE r11, kendall_tau discipline): a 1-return
        # extract would divide by n·(n−1)=0 — Spark NULL vs DuckDB inf
        F.when(
            n > 1,
            F.sqrt(
                (n.cast(d38) * F.col("q") - F.col("s") * F.col("s"))
                .cast(d38)
                .cast("double")
                / (n.cast(d38) * (n - 1)).cast(d38).cast("double")
            ),
        ).alias("std_bp"),
        F.col("mn").alias("min_bp"),
        F.col("mx").alias("max_bp"),
    )


@workload(
    "value_at_risk_daily",
    oracle="""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1),
    r AS (SELECT cents, lag(cents) OVER (ORDER BY day) AS prev FROM d),
    b AS (SELECT CAST(FLOOR(CAST((cents - prev)*10000 AS DOUBLE)
                            / CAST(prev AS DOUBLE)) AS BIGINT) AS bp
          FROM r WHERE prev IS NOT NULL),
    dm AS (SELECT bp, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1),
    w AS (SELECT bp, c,
                 CAST(COALESCE(SUM(c) OVER (ORDER BY bp
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cumb
          FROM dm),
    kk AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                  CAST((5*SUM(c) + 99) // 100 AS BIGINT) AS k
           FROM dm),
    cr AS (SELECT w.bp AS kth, w.cumb AS cumb_k
           FROM w CROSS JOIN kk
           WHERE w.cumb < kk.k AND w.cumb + w.c >= kk.k),
    fs AS (SELECT CAST(COALESCE(SUM(w.c*w.bp), 0) AS BIGINT) AS full_sum
           FROM w CROSS JOIN kk WHERE w.cumb + w.c < kk.k)
    SELECT n AS n_days, k AS k_tail, kth AS var_bp,
           CAST(full_sum + (k - cumb_k)*kth AS DOUBLE)
             / CAST(k AS DOUBLE) AS es_bp
    FROM kk CROSS JOIN cr CROSS JOIN fs""",
)
def value_at_risk_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical 5% Value-at-Risk and Expected Shortfall of the daily
    revenue return series (quantized bp, daily_return_stats' series):
    VaR = the k-th worst return with k = ⌈0.05·n⌉, ES = the exact mean
    of the k worst — the tail pair every risk report carries (ES is
    the coherent one; VaR alone hides tail shape).

    Hash-exact: selection by rank over the |distinct bp| domain frame
    (exact integer cum counts — no percentile interpolation); the tail
    sum adds full below-threshold groups plus the exact partial at the
    boundary group, all integers; ES is ONE division. k = ⌈0.05n⌉ via
    integer (5n+99) div 100 on both engines.

    Scale: |days|-bounded domain frame (calendar exemption); the
    boundary row and k are 1-row broadcasts."""
    from pyspark.sql import Window

    d = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("cents")
        )
    )
    r = d.select(
        "cents", F.lag("cents").over(Window.orderBy("day")).alias("prev")
    ).filter(F.col("prev").isNotNull())
    b = r.select(
        F.floor(
            ((F.col("cents") - F.col("prev")) * 10000).cast("double")
            / F.col("prev").cast("double")
        ).cast("long").alias("bp")
    )
    dm = b.groupBy("bp").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wspec = Window.orderBy("bp").rowsBetween(Window.unboundedPreceding, -1)
    w = materialize(dm.select(
        "bp", "c",
        F.coalesce(F.sum("c").over(wspec), F.lit(0).cast("long")).alias(
            "cumb"
        ),
    ))
    kk = dm.agg(
        F.sum("c").cast("long").alias("n"),
        F.expr("CAST((5*SUM(c) + 99) DIV 100 AS BIGINT)").alias("k"),
    )
    cr = (
        w.crossJoin(F.broadcast(kk))
        .filter(
            (F.col("cumb") < F.col("k"))
            & (F.col("cumb") + F.col("c") >= F.col("k"))
        )
        .select(F.col("bp").alias("kth"), F.col("cumb").alias("cumb_k"))
    )
    fs = (
        w.crossJoin(F.broadcast(kk))
        .filter(F.col("cumb") + F.col("c") < F.col("k"))
        .agg(
            F.coalesce(F.sum(F.col("c") * F.col("bp")), F.lit(0))
            .cast("long")
            .alias("full_sum")
        )
    )
    return (
        kk.crossJoin(F.broadcast(cr))
        .crossJoin(F.broadcast(fs))
        .select(
            F.col("n").alias("n_days"),
            F.col("k").alias("k_tail"),
            F.col("kth").alias("var_bp"),
            (
                (
                    F.col("full_sum")
                    + (F.col("k") - F.col("cumb_k")) * F.col("kth")
                ).cast("double")
                / F.col("k").cast("double")
            ).alias("es_bp"),
        )
    )


@workload(
    "bollinger_band_breaks",
    oracle="""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1),
    w AS (SELECT day, cents,
            CAST(COUNT(*) OVER win AS BIGINT) AS m,
            SUM(CAST(cents AS HUGEINT)) OVER win AS s,
            SUM(CAST(cents AS HUGEINT)*cents) OVER win AS q
          FROM d
          WINDOW win AS (ORDER BY day
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
    x AS (SELECT cents,
            CAST(CAST(s AS VARCHAR) AS DOUBLE) / 20.0 AS mu,
            sqrt(CAST(CAST(20*q - s*s AS VARCHAR) AS DOUBLE) / 380.0)
              AS sd
          FROM w WHERE m = 20)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN CAST(cents AS DOUBLE) > mu + 2.0*sd
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_breaks_up,
           CAST(SUM(CASE WHEN CAST(cents AS DOUBLE) < mu - 2.0*sd
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_breaks_down
    FROM x""",
)
def bollinger_band_breaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger band breaks on daily revenue: a 20-day trailing mean
    ± 2σ envelope, counting the days that close outside it — the
    mean-reversion / regime-shift screen (RSI's volatility-aware
    sibling: RSI normalizes by gain/loss mix, Bollinger by local σ).
    Only full 20-day windows count (the first 19 days carry no band).

    Hash-exact: the window Σx and Σx² are exact decimal (cents exceed
    int64 when squared); μ = s/20 and σ = √((20q−s²)/380) convert each
    exact operand ONCE via the VARCHAR/decimal route; the band
    comparison tests the same exact-integer cents against identically
    computed doubles on both engines.

    Scale: |days|-frame trailing window over the calendar-bounded
    daily rollup (exemption class); the rollup itself is
    map-side-combinable over the fact."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    d = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("cents")
        )
    )
    win = Window.orderBy("day").rowsBetween(-19, 0)
    w = d.select(
        "cents",
        F.count(F.lit(1)).over(win).alias("m"),
        F.sum(F.col("cents").cast(d38)).over(win).cast(d38).alias("s"),
        F.sum((F.col("cents").cast(d38) * F.col("cents")).cast(d38))
        .over(win)
        .cast(d38)
        .alias("q"),
    ).filter(F.col("m") == 20)
    mu = F.col("s").cast("double") / F.lit(20.0)
    sd = F.sqrt(
        (20 * F.col("q") - F.col("s") * F.col("s")).cast(d38).cast("double")
        / F.lit(380.0)
    )
    cd = F.col("cents").cast("double")
    return w.agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum((cd > mu + 2.0 * sd).cast("long")).alias("n_breaks_up"),
        F.sum((cd < mu - 2.0 * sd).cast("long")).alias("n_breaks_down"),
    )


@workload(
    "abc_xyz_matrix",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               CAST(SUM(CAST(FLOOR(l_extendedprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem GROUP BY 1),
    t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM rev),
    c AS (SELECT l_partkey, cents,
                 CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey)
                      AS BIGINT) AS cum
          FROM rev),
    abc AS (SELECT l_partkey, cents,
                   CASE WHEN cum*100 <= total*80 THEN 'A'
                        WHEN cum*100 <= total*95 THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM c CROSS JOIN t),
    pm AS (SELECT l_partkey,
                  date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
                  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qn
           FROM lineitem GROUP BY 1, 2),
    mo AS (SELECT l_partkey, CAST(COUNT(*) AS HUGEINT) AS n,
                  SUM(CAST(qn AS HUGEINT)) AS s,
                  SUM(CAST(qn AS HUGEINT)*qn) AS qq
           FROM pm GROUP BY 1),
    xyz AS (SELECT l_partkey,
              CASE WHEN n = 1 THEN 'Z'
                   WHEN sqrt(CAST(CAST(n*(n*qq - s*s) AS VARCHAR)
                                  AS DOUBLE)
                             / CAST(CAST(n - 1 AS VARCHAR) AS DOUBLE))
                        / CAST(CAST(s AS VARCHAR) AS DOUBLE) <= 0.5
                     THEN 'X'
                   WHEN sqrt(CAST(CAST(n*(n*qq - s*s) AS VARCHAR)
                                  AS DOUBLE)
                             / CAST(CAST(n - 1 AS VARCHAR) AS DOUBLE))
                        / CAST(CAST(s AS VARCHAR) AS DOUBLE) <= 1.0
                     THEN 'Y'
                   ELSE 'Z' END AS xyz_class
            FROM mo)
    SELECT abc.abc_class, xyz.xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(abc.cents) AS BIGINT) AS cell_cents
    FROM abc JOIN xyz ON xyz.l_partkey = abc.l_partkey
    GROUP BY 1, 2""",
)
def abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ABC×XYZ planning matrix — the composition every inventory
    team actually uses: revenue importance (pareto_abc_parts' exact
    integer class bounds) crossed with demand forecastability
    (demand_variability_xyz's CV buckets, here at PART grain). AX
    cells get tight automated replenishment; CZ cells get manual
    review. Single-month parts class Z (CV undefined — treated
    erratic, documented; both engines share the CASE order).

    Hash-exact: both classifications reuse their parents' disciplines —
    integer cross-multiplied cumulative-revenue bounds; CV =
    √(n(nQ−S²)/(n−1))/S with exactly-once decimal→double conversions.

    Scale: the cumulative-revenue ranking rides
    windows.distributed_running_sum (the pareto machinery — range
    exchange + broadcast offsets, never a single-partition sort of the
    |parts| frame); the CV side is two map-side-combinable
    aggregations; the final join is |parts|-keyed and the rollup is
    ≤9 rows."""
    from metadata_driven_etl_spark.operators.windows import (
        distributed_running_sum,
    )

    d38 = "decimal(38,0)"
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
        ).alias("cents")
    )
    c = distributed_running_sum(
        rev,
        [F.col("cents").desc(), F.col("l_partkey")],
        value_col="cents",
        out_col="cum",
        total_col="total",
    )
    abc = c.select(
        "l_partkey", "cents",
        F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    pm = li.groupBy(
        "l_partkey", F.trunc(F.to_date("l_shipdate"), "month").alias("month")
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("qn"))
    mo = pm.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("qn").cast(d38)).cast(d38).alias("s"),
        F.sum((F.col("qn").cast(d38) * F.col("qn")).cast(d38))
        .cast(d38)
        .alias("qq"),
    )
    n, s = F.col("n"), F.col("s")
    cv = F.sqrt(
        (n * (n * F.col("qq") - s * s)).cast(d38).cast("double")
        / (n - 1).cast(d38).cast("double")
    ) / s.cast("double")
    xyz = mo.select(
        "l_partkey",
        F.when(n == 1, "Z")
        .when(cv <= 0.5, "X")
        .when(cv <= 1.0, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    return abc.join(xyz, "l_partkey").groupBy(
        "abc_class", "xyz_class"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("cents").cast("long").alias("cell_cents"),
    )


@workload(
    "customer_concentration_topk",
    oracle="""
    WITH cr AS (
        SELECT c.c_nationkey AS nk, o.o_custkey AS ck,
               CAST(SUM(CAST(FLOOR(o.o_totalprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
    r AS (SELECT nk, cents,
                 row_number() OVER (PARTITION BY nk
                                    ORDER BY cents DESC, ck) AS rn
          FROM cr),
    a AS (SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_customers,
                 CAST(SUM(cents) AS BIGINT) AS total_cents,
                 CAST(SUM(CASE WHEN rn <= 20 THEN cents ELSE 0 END)
                      AS BIGINT) AS top20_cents
          FROM r GROUP BY 1)
    SELECT n.n_name AS nation, a.n_customers, a.total_cents,
           a.top20_cents,
           CAST(a.top20_cents AS DOUBLE) / CAST(a.total_cents AS DOUBLE)
             AS top20_share
    FROM a JOIN nation n ON n.n_nationkey = a.nk""",
)
def customer_concentration_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Revenue concentration per nation: the share held by each
    nation's top-20 customers — the key-account-risk readout (a nation
    where 20 accounts carry 60% of revenue fails differently from one
    at 8%; the HHI workload gives the continuous index, this gives the
    planning-friendly top-k cut).

    Hash-exact: per-customer revenue in exact cents; the top-20 cut is
    a row_number under the (cents desc, custkey) total order; ONE
    share division of exact longs.

    Scale: one (nation, customer) fact aggregation (the orders⋈customer
    join shuffles on custkey); the ranking window is PARTITIONED by
    nation (parallel, |customers-per-nation| frames); nation join
    broadcast."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    cdim = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    cr = (
        o.join(cdim, o.o_custkey == cdim.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.col("o_custkey").alias("ck"),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("cents")
        )
    )
    wr = Window.partitionBy("nk").orderBy(
        F.col("cents").desc(), F.col("ck")
    )
    r = cr.select("nk", "cents", F.row_number().over(wr).alias("rn"))
    a = r.groupBy("nk").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.sum(F.when(F.col("rn") <= 20, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("top20_cents"),
    )
    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), F.col("n_name").alias("nation")
    )
    return a.join(F.broadcast(nat), "nk").select(
        "nation", "n_customers", "total_cents", "top20_cents",
        (
            F.col("top20_cents").cast("double")
            / F.col("total_cents").cast("double")
        ).alias("top20_share"),
    )


# =========================================================================
# Round-11 additions, wave 3: ETL / data-platform audits — referential
# integrity, source fingerprinting, corrupt-JSONL quarantine,
# out-of-order arrival (watermark sizing), l-diversity privacy audit.
# =========================================================================


@workload(
    "referential_integrity_audit",
    oracle="""
    SELECT 'lineitem->orders' AS check_name,
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'orders->customer',
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem->part',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey))
                AS BIGINT)
    UNION ALL
    SELECT 'supplier->nation',
           CAST((SELECT COUNT(*) FROM supplier) AS BIGINT),
           CAST((SELECT COUNT(*) FROM supplier s
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = s.s_nationkey))
                AS BIGINT)""",
)
def referential_integrity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Foreign-key orphan audit across the star schema: for each
    fact→dimension edge, total rows and rows whose key has no parent —
    the silent-join-loss detector (an inner join downstream of a
    broken FK doesn't error, it just drops revenue; this audit makes
    the loss a number BEFORE the join does it silently). Clean
    testdata reports zeros — the zeros are the assertion.

    Hash-exact: four exact count pairs.

    Scale: per edge, ONE left join on the projected key pair with a
    null-parent count folded into the same aggregation — the dimension
    side is key-projected (never wide rows); small dims broadcast, the
    orders probe shuffles key-only frames."""
    def check(name, fact, fkey, dim, dkey):
        d = dim.select(F.col(dkey).alias("_dk")).distinct()
        j = fact.select(F.col(fkey).alias("_fk")).join(
            d, F.col("_fk") == F.col("_dk"), "left"
        )
        # COALESCE the orphan SUM: over an EMPTY fact it is NULL while
        # the oracle's COUNT is 0 (r12 empty-corpus sweep)
        return j.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(
                F.sum(F.col("_dk").isNull().cast("long")), F.lit(0)
            )
            .cast("long")
            .alias("n_orphans"),
        )

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        check("lineitem->orders", li, "l_orderkey", o, "o_orderkey")
        .unionByName(check("orders->customer", o, "o_custkey", c, "c_custkey"))
        .unionByName(check("lineitem->part", li, "l_partkey", p, "p_partkey"))
        .unionByName(
            check("supplier->nation", s, "s_nationkey", n, "n_nationkey")
        )
    )


@workload(
    "source_fingerprint_audit",
    oracle="""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_texts,
           MIN(md5(text)) AS min_md5, MAX(md5(text)) AS max_md5,
           CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes
    FROM documents GROUP BY 1""",
)
def source_fingerprint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source content fingerprint: doc count, distinct-text count,
    the min/max MD5 of the texts, and total byte volume — the
    cheap-to-recompute audit signature for feed reconciliation (two
    deliveries of "the same" source that agree on counts but disagree
    on the md5 envelope differ in CONTENT; the envelope catches it
    without shipping the texts).

    Hash-exact: MD5 hex strings are identical across engines
    (lowercase hex of the same bytes); byte lengths via
    octet_length/strlen (both UTF-8); counts exact.

    Scale: one map-side-combinable aggregation — hashes computed
    map-side, only (source, md5-extremes, counts) state shuffles; the
    distinct-text count is the one expand (same class as
    approx_count_distinct's exact side — swap to the HLL sketch when
    the audit tolerates its bound)."""
    return _docs(spark, sf_dir).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("text").cast("long").alias("n_distinct_texts"),
        F.min(F.md5(F.col("text").cast("binary"))).alias("min_md5"),
        F.max(F.md5(F.col("text").cast("binary"))).alias("max_md5"),
        F.sum(F.octet_length("text").cast("long"))
        .cast("long")
        .alias("total_bytes"),
    )


@workload(
    "scan_jsonl_corrupt_records",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST(3 AS BIGINT) AS n_corrupt,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
    FROM nation""",
)
def scan_jsonl_corrupt_records(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """S-family (extended): malformed JSON-lines handling — the JSONL
    sibling of scan_csv_malformed, exercising the JSON parser's
    PERMISSIVE + columnNameOfCorruptRecord path (a DIFFERENT code path
    from CSV: the corrupt column must be part of the declared schema
    for JSON, and syntactically-broken lines land there whole). Good
    rows parse; three broken lines quarantine; the key sum proves
    corrupt rows contributed no values.

    Session-unique write-once fixture (the scan_csv contract): the
    nation table round-trips through JSONL plus three appended garbage
    lines."""
    import os as _os

    def write_files(p: str) -> None:
        rows = (
            _t(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .collect()
        )  # 25 dimension rows — fixture setup, not a data path
        _os.makedirs(p, exist_ok=True)
        with open(_os.path.join(p, "part-0.jsonl"), "w") as fh:
            for r in rows:
                fh.write(
                    '{"n_nationkey": %d, "n_name": "%s", '
                    '"n_regionkey": %d}\n'
                    % (r.n_nationkey, r.n_name, r.n_regionkey)
                )
            fh.write("oops not json\n")
            fh.write('{"n_nationkey": 1, \n')
            fh.write("}{\n")

    path = _scan_fixture(
        spark, sf_dir, "scan_jsonl_corrupt_records", write_files
    )
    df = spark.read.options(
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_bad",
    ).schema(
        "n_nationkey int, n_name string, n_regionkey int, _bad string"
    ).json(path)
    return df.agg(
        F.count(F.when(F.col("_bad").isNull(), F.lit(1))).alias("n_good"),
        F.count(F.col("_bad")).alias("n_corrupt"),
        F.sum(
            F.when(F.col("_bad").isNull(), F.col("n_nationkey"))
        ).alias("key_sum"),
    )


@workload(
    "out_of_order_arrival_stats",
    oracle="""
    WITH w AS (
        SELECT event_type, epoch_us(ts) AS tus,
               MAX(epoch_us(ts)) OVER (PARTITION BY event_type
                   ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS mx
        FROM events),
    l AS (SELECT event_type,
                 CASE WHEN mx IS NOT NULL AND mx > tus
                      THEN mx - tus ELSE 0 END AS late_us,
                 CASE WHEN mx IS NOT NULL AND mx > tus
                      THEN 1 ELSE 0 END AS is_late
          FROM w)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(is_late) AS BIGINT) AS n_late,
           CAST(MAX(late_us) AS BIGINT) AS max_late_us,
           CAST(SUM(CAST(late_us AS HUGEINT)) AS BIGINT) AS total_late_us
    FROM l GROUP BY 1""",
)
def out_of_order_arrival_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Out-of-order arrival profile per event type, treating event_id
    as ingestion order: how many events carry a timestamp EARLIER than
    something already ingested, and by how much — exactly the
    distribution that sizes a Structured Streaming WATERMARK (the
    max-lateness column IS the no-data-loss watermark bound; the
    total/count give the mean disorder the state store pays for).

    Hash-exact: lateness is exact integer microseconds against the
    strictly-earlier running max (rows ... AND 1 PRECEDING — an
    event is never late against itself); counts and sums exact.

    Scale: ONE type-keyed window shuffle (the sessionizer family's
    key), then a |types|-row rollup; lateness sums fit int64 to ~10³
    years of span × 10⁶ late events per type (documented).

    Routed through operators.temporal.out_of_order_stats — the same
    operator a YAML gold ``analysis: arrival_disorder`` model
    dispatches to, and the batch form of the
    lateness_monitor_stateful streaming twin."""
    from metadata_driven_etl_spark.operators import temporal as temporal_ops

    return temporal_ops.out_of_order_stats(_t(spark, sf_dir, "events"))


@workload(
    "l_diversity_audit",
    oracle="""
    WITH g AS (
        SELECT c_nationkey,
               CAST(FLOOR(c_acctbal/1000.0) AS BIGINT) AS bal_band,
               CAST(COUNT(*) AS BIGINT) AS n_cust,
               CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l
        FROM customer GROUP BY 1, 2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(l) AS BIGINT) AS min_l,
           CAST(MAX(l) AS BIGINT) AS max_l,
           CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_groups_below_l3,
           CAST(SUM(CASE WHEN l < 3 THEN n_cust ELSE 0 END) AS BIGINT)
             AS n_customers_below_l3
    FROM g""",
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the (nation, balance-band) quasi-
    identifier: k-anonymity (the shipped k_anonymity_audit) only says
    each group is big; if every member SHARES the sensitive value the
    group still leaks it. l = distinct sensitive values (market
    segment) per QI group; groups below l=3 are the homogeneity-attack
    surface, reported with their customer exposure.

    Hash-exact: the band floor runs the same IEEE divide-and-floor on
    both engines; everything else is exact counts.

    Scale: one QI-keyed aggregation (the distinct-sensitive count is
    per-group constant state — ≤|segments| = 5), one 1-row rollup."""
    g = _t(spark, sf_dir, "customer").groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.countDistinct("c_mktsegment").cast("long").alias("l"),
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("l").cast("long").alias("min_l"),
        F.max("l").cast("long").alias("max_l"),
        F.sum((F.col("l") < 3).cast("long")).cast("long").alias(
            "n_groups_below_l3"
        ),
        F.sum(F.when(F.col("l") < 3, F.col("n_cust")).otherwise(0))
        .cast("long")
        .alias("n_customers_below_l3"),
    )


# =========================================================================
# Round-11 additions, wave 4: LLM-corpus / embedding analytics —
# token-budget decile curve, inter-label centroid separation.
# =========================================================================


@workload(
    "token_budget_decile_curve",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               round(least(len({text_ops.sql_tokens("text")}) / 100.0,
                           1.0), 6) AS score,
               CAST(len({text_ops.sql_tokens("text")}) AS BIGINT)
                 AS n_tokens
        FROM documents),
    d AS (SELECT n_tokens,
                 ntile(10) OVER (ORDER BY score DESC, doc_id) AS decile
          FROM s),
    g AS (SELECT CAST(decile AS INTEGER) AS decile,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS decile_tokens
          FROM d GROUP BY 1),
    t AS (SELECT CAST(SUM(decile_tokens) AS BIGINT) AS tot FROM g)
    SELECT decile, n_docs, decile_tokens,
           CAST(SUM(decile_tokens) OVER (ORDER BY decile) AS BIGINT)
             AS cum_tokens,
           CAST(CAST(SUM(decile_tokens) OVER (ORDER BY decile) AS BIGINT)
                AS DOUBLE) / CAST(tot AS DOUBLE) AS cum_token_share
    FROM g CROSS JOIN t""",
)
def token_budget_decile_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The token-budget planning curve: docs ranked by quality score
    into deciles, with per-decile and cumulative token mass — answers
    "how many tokens do the best 20% of documents buy?" BEFORE
    committing to a budget (select_token_budget executes one point on
    this curve; this emits the whole curve in one pass).

    Hash-exact: the score is the select_token_budget scoring chain
    (round(least(len/100,1),6) — parity proven there); the decile cut
    is distributed_ntile under the (score desc, doc_id) total order
    (bucket-identical to the builtin by construction); token sums and
    the cumulative are exact longs; ONE share division.

    Scale: tokenization map-side; the decile cut rides
    windows.distributed_ntile (range exchange + broadcast offsets,
    never a single-partition ntile of |docs|); the cumulative window
    runs over the 10-row rollup."""
    from pyspark.sql import Window

    from metadata_driven_etl_spark.operators.windows import (
        distributed_ntile,
    )

    s = _docs(spark, sf_dir).select(
        "doc_id",
        F.round(
            F.least(
                F.size(text_ops.tokens("text")) / F.lit(100.0), F.lit(1.0)
            ),
            6,
        ).alias("score"),
        F.size(text_ops.tokens("text")).cast("long").alias("n_tokens"),
    )
    d = distributed_ntile(
        s, 10, [F.col("score").desc(), F.col("doc_id").asc()], "decile"
    )
    g = d.groupBy(F.col("decile").cast("int").alias("decile")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("decile_tokens"),
    )
    t = g.agg(F.sum("decile_tokens").cast("long").alias("tot"))
    cum = (
        F.sum("decile_tokens")
        .over(
            Window.orderBy("decile").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .cast("long")
    )
    return (
        g.select("decile", "n_docs", "decile_tokens", cum.alias("cum_tokens"))
        .crossJoin(F.broadcast(t))
        .select(
            "decile", "n_docs", "decile_tokens", "cum_tokens",
            (
                F.col("cum_tokens").cast("double")
                / F.col("tot").cast("double")
            ).alias("cum_token_share"),
        )
    )


_CM_SCALE = 1 << 20  # centroid quantization: float32 is exact at 2^-20


@workload(
    "embedding_interlabel_centroid_dist",
    oracle=f"""
    WITH q AS (
        SELECT label, unnest(embedding) AS v,
               unnest(generate_series(1, len(embedding))) AS dim
        FROM embeddings),
    s AS (SELECT label, dim,
                 SUM(CAST(FLOOR(CAST(v AS DOUBLE)*{_CM_SCALE}+0.5)
                          AS HUGEINT)) AS sv
          FROM q GROUP BY 1, 2),
    n AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS nv
          FROM embeddings GROUP BY 1),
    p AS (SELECT a.label AS label_a, b.label AS label_b,
                 na.nv AS n_a, nb.nv AS n_b,
                 SUM((a.sv*nb.nv - b.sv*na.nv)
                     * (a.sv*nb.nv - b.sv*na.nv)) AS ssq
          FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
          JOIN n na ON na.label = a.label
          JOIN n nb ON nb.label = b.label
          GROUP BY 1, 2, 3, 4)
    SELECT label_a, label_b, n_a, n_b,
           sqrt(CAST(CAST(ssq AS VARCHAR) AS DOUBLE))
             / CAST(n_a*n_b AS DOUBLE) / {_CM_SCALE}.0 AS centroid_dist
    FROM p""",
)
def embedding_interlabel_centroid_dist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise Euclidean distance between per-label embedding
    centroids — the class-separability map (labels whose centroids
    nearly coincide are the confusion risk; the intra-label similarity
    histogram gives cohesion, this gives separation — together they
    are the Fisher-style ratio).

    Hash-exact: mean floats are order-sensitive, so values quantize to
    integers at 2⁻²⁰ (exact for float32 in [-1,1] range — the kmeans
    quantization discipline) and the mean DIFFERENCE cross-multiplies:
    Σ_d (s_a·n_b − s_b·n_a)² stays exact decimal/HUGEINT (< 10³⁸ to
    ~10⁷ vectors/label at 64 dims, documented), then ONE √ and two
    exact divisions recover the distance in original units.

    Scale: a 64× map-side posexplode into the |labels × dims| frame
    (tiny); the pair join is |labels|²·dims — label cardinality is
    bounded (a 10⁶-label regime belongs to ANN, not a dense pair
    matrix)."""
    d38 = "decimal(38,0)"
    e = _emb(spark, sf_dir)
    q = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("v").cast("double") * _CM_SCALE + 0.5)
        .cast("long")
        .alias("qv"),
    )
    s = q.groupBy("label", "dim").agg(
        F.sum(F.col("qv").cast(d38)).cast(d38).alias("sv")
    )
    n = e.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("nv"))
    a = s.select(
        F.col("label").alias("label_a"), "dim", F.col("sv").alias("sa")
    )
    b = s.select(
        F.col("label").alias("label_b"),
        F.col("dim").alias("dim_b"),
        F.col("sv").alias("sb"),
    )
    na = n.select(F.col("label").alias("label_a"), F.col("nv").alias("n_a"))
    nb = n.select(F.col("label").alias("label_b"), F.col("nv").alias("n_b"))
    diff = (
        F.col("sa") * F.col("n_b") - F.col("sb") * F.col("n_a")
    ).cast(d38)
    p = (
        a.join(
            b,
            (F.col("dim") == F.col("dim_b"))
            & (F.col("label_a") < F.col("label_b")),
        )
        .join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .groupBy("label_a", "label_b", "n_a", "n_b")
        .agg(F.sum((diff * diff).cast(d38)).cast(d38).alias("ssq"))
    )
    return p.select(
        "label_a", "label_b", "n_a", "n_b",
        (
            F.sqrt(F.col("ssq").cast("double"))
            / (F.col("n_a") * F.col("n_b")).cast("double")
            / F.lit(float(_CM_SCALE))
        ).alias("centroid_dist"),
    )


# =========================================================================
# Round-11 additions, wave 5: operations / forecasting / distribution —
# error retry bursts, Theil's U2 forecastability, exact per-group
# quartiles, product adoption curve.
# =========================================================================


@workload(
    "error_burst_stats",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id FROM events
        WHERE event_type = 'error' AND user_id IS NOT NULL),
    w AS (SELECT user_id, ts, event_id,
            CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id))
                     > 60000000
                 THEN 1 ELSE 0 END AS new_burst
          FROM e),
    b AS (SELECT user_id,
            CAST(SUM(new_burst) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS burst_id
          FROM w),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS blen
          FROM b GROUP BY user_id, burst_id)
    SELECT CAST(SUM(blen) AS BIGINT) AS n_errors,
           CAST(COUNT(*) AS BIGINT) AS n_bursts,
           CAST(MAX(blen) AS BIGINT) AS max_burst_len,
           CAST(SUM(blen - 1) AS BIGINT) AS n_retries,
           CAST(SUM(blen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS avg_burst_len
    FROM s""",
)
def error_burst_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error retry-burst profile: consecutive error events by the same
    user within 60s chain into bursts (gaps-and-islands over the error
    stream); every error after the first in a burst is a RETRY — the
    retry-storm readout that separates "many users each failed once"
    (incident) from "few users hammering retries" (client bug /
    thundering herd).

    Hash-exact: burst boundaries are integer-microsecond gap
    comparisons under the (ts, event_id) total order; burst lengths,
    retry counts exact; ONE division for the mean.

    Scale: both stacked windows share ONE user-keyed partitioning
    (the gaps-islands discipline — lag and the running burst-id
    cumsum reuse the same exchange); burst sizes are a (user,
    burst)-keyed aggregation; the final rollup is 1 row."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "error") & F.col("user_id").isNotNull()
    ).select("user_id", "ts", "event_id")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_burst = F.when(
        F.lag("ts").over(wo).isNull()
        | (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wo))
            > 60000000
        ),
        1,
    ).otherwise(0)
    w = e.select("user_id", "ts", "event_id", new_burst.alias("nb"))
    b = w.select(
        "user_id",
        F.sum("nb")
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("burst_id"),
    )
    s = b.groupBy("user_id", "burst_id").agg(
        F.count(F.lit(1)).cast("long").alias("blen")
    )
    return s.agg(
        F.sum("blen").cast("long").alias("n_errors"),
        F.count(F.lit(1)).cast("long").alias("n_bursts"),
        F.max("blen").cast("long").alias("max_burst_len"),
        F.sum(F.col("blen") - 1).cast("long").alias("n_retries"),
        (
            F.sum("blen").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_burst_len"),
    )


@workload(
    "theil_u2_forecast",
    oracle="""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1),
    l AS (SELECT cents,
                 lag(cents, 1) OVER (ORDER BY day) AS p1,
                 lag(cents, 7) OVER (ORDER BY day) AS p7
          FROM d),
    v AS (SELECT CAST(cents - p7 AS HUGEINT)*(cents - p7) AS e7,
                 CAST(cents - p1 AS HUGEINT)*(cents - p1) AS e1
          FROM l WHERE p7 IS NOT NULL),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(e7) AS s7, SUM(e1) AS s1
          FROM v)
    SELECT n AS n_days,
           sqrt(CAST(CAST(s7 AS VARCHAR) AS DOUBLE)
                / CAST(n AS DOUBLE)) AS rmse_seasonal,
           sqrt(CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                / CAST(n AS DOUBLE)) AS rmse_naive,
           sqrt(CAST(CAST(s7 AS VARCHAR) AS DOUBLE)
                / CAST(CAST(s1 AS VARCHAR) AS DOUBLE)) AS u2
    FROM m""",
)
def theil_u2_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U2 for the weekly-seasonal-naive forecast of daily
    revenue against the plain naive (yesterday's value): U2 < 1 means
    the day-of-week pattern genuinely predicts (the forecastability
    gate to run BEFORE fitting anything fancier — MASE scores one
    model, U2 compares two baselines head-to-head on the same days).

    Hash-exact: both squared-error sums stay in exact decimal/HUGEINT
    over integer cents differences; RMSEs and U2 are fixed √/division
    chains over exactly-once-converted operands.

    Scale: one fact aggregation to |days|; the two lags share ONE
    calendar-bounded window (exemption class); the rollup is 1 row."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    d = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("cents")
        )
    )
    wo = Window.orderBy("day")
    x = d.select(
        "cents",
        F.lag("cents", 1).over(wo).alias("p1"),
        F.lag("cents", 7).over(wo).alias("p7"),
    ).filter(F.col("p7").isNotNull())
    e7 = (F.col("cents") - F.col("p7")).cast(d38) * (
        F.col("cents") - F.col("p7")
    )
    e1 = (F.col("cents") - F.col("p1")).cast(d38) * (
        F.col("cents") - F.col("p1")
    )
    m = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(e7.cast(d38)).cast(d38).alias("s7"),
        F.sum(e1.cast(d38)).cast(d38).alias("s1"),
    )
    nd = F.col("n").cast("double")
    s7d = F.col("s7").cast("double")
    s1d = F.col("s1").cast("double")
    return m.select(
        F.col("n").alias("n_days"),
        F.sqrt(s7d / nd).alias("rmse_seasonal"),
        F.sqrt(s1d / nd).alias("rmse_naive"),
        F.sqrt(s7d / s1d).alias("u2"),
    )


@workload(
    "exact_quartiles_price_by_flag",
    oracle="""
    WITH f AS (
        SELECT l_returnflag AS g,
               CAST(FLOOR(l_extendedprice*100+0.5) AS BIGINT) AS cents
        FROM lineitem),
    dm AS (SELECT g, cents, CAST(COUNT(*) AS BIGINT) AS c
           FROM f GROUP BY 1, 2),
    w AS (SELECT g, cents,
                 CAST(SUM(c) OVER (PARTITION BY g ORDER BY cents)
                      AS BIGINT) AS cum
          FROM dm),
    nn AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM dm GROUP BY 1)
    SELECT w.g AS returnflag, nn.n AS n_rows,
           CAST(MIN(CASE WHEN cum >= (1*nn.n + 3)//4 THEN cents END)
                AS BIGINT) AS q1_cents,
           CAST(MIN(CASE WHEN cum >= (2*nn.n + 3)//4 THEN cents END)
                AS BIGINT) AS q2_cents,
           CAST(MIN(CASE WHEN cum >= (3*nn.n + 3)//4 THEN cents END)
                AS BIGINT) AS q3_cents
    FROM w JOIN nn ON nn.g = w.g
    GROUP BY 1, 2""",
)
def exact_quartiles_price_by_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT per-group price quartiles (type-1/lower-value convention:
    the value at rank ⌈kn/4⌉) — the deterministic sibling of the
    t-digest approx_percentile pair: sketches carry an error bound,
    this carries none, and at 100 TB it still never sorts data rows
    (selection over the value DOMAIN, the weighted-median discipline
    generalized to three ranks in one pass).

    Hash-exact: ranks are exact integer ⌈kn/4⌉ = (kn+3) div 4 on both
    engines; quartiles are exact integer cents — no interpolation.

    Scale: one (group, cents) domain aggregation, a group-partitioned
    cum-count window over the domain frame, a ≤|groups|-row rollup."""
    from pyspark.sql import Window

    f = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    dm = f.groupBy("g", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = dm.select(
        "g", "cents",
        F.sum("c")
        .over(
            Window.partitionBy("g").orderBy("cents").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .cast("long")
        .alias("cum"),
    )
    nn = dm.groupBy("g").agg(F.sum("c").cast("long").alias("n"))
    j = w.join(F.broadcast(nn), "g")

    def qk(k: int):
        rank = F.expr(f"CAST(({k}*n + 3) DIV 4 AS BIGINT)")
        return (
            F.min(F.when(F.col("cum") >= rank, F.col("cents")))
            .cast("long")
            .alias(f"q{k}_cents")
        )

    return j.groupBy(
        F.col("g").alias("returnflag"), F.col("n").alias("n_rows")
    ).agg(qk(1), qk(2), qk(3))


@workload(
    "part_adoption_monthly",
    oracle="""
    WITH fo AS (SELECT l_partkey,
                       MIN(CAST(l_shipdate AS DATE)) AS first_ship
                FROM lineitem GROUP BY 1),
    m AS (SELECT date_trunc('month', first_ship) AS month,
                 CAST(COUNT(*) AS BIGINT) AS n_new_parts
          FROM fo GROUP BY 1),
    t AS (SELECT CAST(SUM(n_new_parts) AS BIGINT) AS total FROM m)
    SELECT month, n_new_parts,
           CAST(SUM(n_new_parts) OVER (ORDER BY month) AS BIGINT)
             AS cum_parts,
           CAST(CAST(SUM(n_new_parts) OVER (ORDER BY month) AS BIGINT)
                AS DOUBLE) / CAST(total AS DOUBLE) AS adoption_share
    FROM m CROSS JOIN t""",
)
def part_adoption_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product adoption curve: parts by FIRST shipment month, with the
    cumulative count and share — the assortment-rollout readout (a
    catalog whose adoption curve flattened stopped introducing
    products; the month a cohort of parts first moves is when its
    carrying cost starts earning).

    Hash-exact: first-ship dates are exact MIN over dates; counts and
    the cumulative are exact; ONE share division.

    Scale: one |parts|-keyed min aggregation (map-side combinable),
    a ≤|months| rollup, and a cumulative window over that ≤84-row
    frame (value-bounded by the calendar)."""
    from pyspark.sql import Window

    fo = _t(spark, sf_dir, "lineitem").groupBy("l_partkey").agg(
        F.min(F.to_date("l_shipdate")).alias("first_ship")
    )
    m = fo.groupBy(
        F.trunc("first_ship", "month").alias("month")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_new_parts"))
    t = m.agg(F.sum("n_new_parts").cast("long").alias("total"))
    cum = (
        F.sum("n_new_parts")
        .over(
            Window.orderBy("month").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .cast("long")
    )
    return (
        m.select("month", "n_new_parts", cum.alias("cum_parts"))
        .crossJoin(F.broadcast(t))
        .select(
            "month", "n_new_parts", "cum_parts",
            (
                F.col("cum_parts").cast("double")
                / F.col("total").cast("double")
            ).alias("adoption_share"),
        )
    )


# =========================================================================
# Round-11 additions, wave 6: shipping logistics — fulfillment latency
# quartiles, late-delivery compliance trend.
# =========================================================================


@workload(
    "ship_latency_quartiles_by_priority",
    oracle="""
    WITH f AS (
        SELECT o.o_orderpriority AS priority,
               datediff('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE)) AS lat_days
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
    dm AS (SELECT priority, lat_days, CAST(COUNT(*) AS BIGINT) AS c
           FROM f GROUP BY 1, 2),
    w AS (SELECT priority, lat_days,
                 CAST(SUM(c) OVER (PARTITION BY priority
                                   ORDER BY lat_days) AS BIGINT) AS cum
          FROM dm),
    nn AS (SELECT priority, CAST(SUM(c) AS BIGINT) AS n,
                  SUM(CAST(lat_days AS HUGEINT)*c) AS s
           FROM dm GROUP BY 1)
    SELECT w.priority, nn.n AS n_lines,
           CAST(MIN(CASE WHEN cum >= (1*nn.n + 3)//4 THEN lat_days END)
                AS BIGINT) AS q1_days,
           CAST(MIN(CASE WHEN cum >= (2*nn.n + 3)//4 THEN lat_days END)
                AS BIGINT) AS q2_days,
           CAST(MIN(CASE WHEN cum >= (3*nn.n + 3)//4 THEN lat_days END)
                AS BIGINT) AS q3_days,
           CAST(CAST(MAX(nn.s) AS VARCHAR) AS DOUBLE)
             / CAST(nn.n AS DOUBLE) AS mean_days
    FROM w JOIN nn ON nn.priority = w.priority
    GROUP BY 1, 2""",
)
def ship_latency_quartiles_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-to-ship latency distribution per order priority: exact
    type-1 quartiles plus the mean, in days — does URGENT actually
    ship faster? fill_rate_sla_monthly answers "what share beat the
    SLA threshold"; this emits the latency DISTRIBUTION the threshold
    was cut from (means hide the P75 tail the priority promise is
    really about).

    Hash-exact: latencies are exact integer day differences; quartile
    selection is the ⌈kn/4⌉ domain-frame discipline
    (exact_quartiles_price_by_flag); the mean is ONE division of an
    exact decimal sum.

    Scale: the orders join shuffles on orderkey (J1 class); the
    latency DOMAIN per priority is calendar-bounded, so the quartile
    window is metadata-sized."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("sd")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        F.to_date("o_orderdate").alias("od"),
    )
    f = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff("sd", "od").cast("long").alias("lat_days"),
    )
    dm = f.groupBy("priority", "lat_days").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = dm.select(
        "priority", "lat_days",
        F.sum("c")
        .over(
            Window.partitionBy("priority").orderBy("lat_days").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .cast("long")
        .alias("cum"),
    )
    nn = dm.groupBy("priority").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("lat_days").cast(d38) * F.col("c"))
        .cast(d38)
        .alias("s"),
    )
    j = w.join(F.broadcast(nn), "priority")

    def qk(k: int):
        rank = F.expr(f"CAST(({k}*n + 3) DIV 4 AS BIGINT)")
        return (
            F.min(F.when(F.col("cum") >= rank, F.col("lat_days")))
            .cast("long")
            .alias(f"q{k}_days")
        )

    return j.groupBy(
        F.col("priority"), F.col("n").alias("n_lines")
    ).agg(
        qk(1), qk(2), qk(3),
        (
            F.max(F.col("s")).cast("double")
            / F.col("n").cast("double")
        ).alias("mean_days"),
    )


@workload(
    "discount_band_volume",
    oracle="""
    SELECT CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT) AS discount_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
           CAST(SUM(CAST(FLOOR(l_extendedprice*(1 - l_discount)*100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS net_revenue_cents
    FROM lineitem GROUP BY 1""",
)
def discount_band_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume response by discount band: per integer discount percent,
    line counts, quantity, average quantity, and net revenue — the
    "does discounting actually move units" readout (TPC-H Q6 prices a
    single hypothetical band; promotions teams need the whole response
    curve, and a flat avg_qty across bands means the discounts bought
    nothing).

    Hash-exact: the band is an integer percent floor (the same
    floor+0.5 cents idiom); quantities exact; net revenue uses the
    TPC-H price*(1−discount) product floor-quantized to cents
    identically on both engines; ONE division for the mean.

    Scale: one map-side-combinable ≤11-group aggregation — no join,
    no window."""
    li = _t(spark, sf_dir, "lineitem")
    net = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    return li.groupBy(
        F.floor(F.col("l_discount") * 100 + 0.5)
        .cast("long")
        .alias("discount_pct")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias(
            "total_qty"
        ),
        (
            F.sum(F.col("l_quantity").cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_qty"),
        F.sum(net).cast("long").alias("net_revenue_cents"),
    )


# =========================================================================
# Round-11 additions, wave 7: order / catalog profiling — order size
# histogram, never-sold parts, unit-price dispersion, price endings.
# =========================================================================


@workload(
    "order_size_histogram",
    oracle="""
    WITH s AS (SELECT l_orderkey,
                      CAST(COUNT(*) AS BIGINT) AS n_lines,
                      CAST(SUM(CAST(FLOOR(l_extendedprice*100+0.5)
                                    AS BIGINT)) AS BIGINT) AS cents
               FROM lineitem GROUP BY 1)
    SELECT n_lines,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents,
           CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS avg_order_cents
    FROM s GROUP BY 1""",
)
def order_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order size distribution: orders bucketed by line count, with
    revenue per bucket — the order-shape profile behind picking-cost
    models and batch-size tuning (an order stream dominated by
    single-line orders prices fulfillment differently from one
    dominated by 7-line baskets).

    Hash-exact: line counts and cents sums exact; ONE mean division.

    Scale: one orderkey-keyed aggregation (map-side combinable — the
    natural lineitem clustering makes the shuffle nearly free), then a
    ≤7-row rollup."""
    s = _t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
        ).cast("long").alias("cents"),
    )
    return s.groupBy("n_lines").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("revenue_cents"),
        (
            F.sum("cents").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avg_order_cents"),
    )


@workload(
    "cold_start_parts",
    oracle="""
    WITH sold AS (SELECT DISTINCT l_partkey FROM lineitem)
    SELECT p.p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CASE WHEN s.l_partkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_never_sold,
           CAST(SUM(CASE WHEN s.l_partkey IS NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS never_sold_rate
    FROM part p LEFT JOIN sold s ON s.l_partkey = p.p_partkey
    GROUP BY 1""",
)
def cold_start_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-stock screen: per brand, catalog size and the parts that
    have NEVER shipped — the assortment-rationalization counterpart of
    part_adoption_monthly (that one times when parts start moving;
    this finds the ones that never did, the carrying-cost leak).

    Hash-exact: a null-parent count over the distinct-sold key set;
    ONE rate division.

    Scale: the sold side is a key-projected distinct (|sold parts|
    keys, never wide rows); the left join shuffles on partkey; the
    rollup is |brands|-row."""
    sold = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("sk"))
        .distinct()
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = p.join(sold, p.p_partkey == sold.sk, "left")
    never = F.col("sk").isNull().cast("long")
    return j.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(never).cast("long").alias("n_never_sold"),
        (
            F.sum(never).cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("never_sold_rate"),
    )


@workload(
    "unit_price_dispersion_by_brand",
    oracle="""
    WITH u AS (
        SELECT p.p_brand AS brand,
               CAST(FLOOR(CAST(l.l_extendedprice*100 AS DOUBLE)
                          / CAST(l.l_quantity AS DOUBLE) + 0.5)
                    AS BIGINT) AS unit_cents
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    m AS (SELECT brand, CAST(COUNT(*) AS HUGEINT) AS n,
                 SUM(CAST(unit_cents AS HUGEINT)) AS s,
                 SUM(CAST(unit_cents AS HUGEINT)*unit_cents) AS qq
          FROM u GROUP BY 1)
    SELECT brand, CAST(n AS BIGINT) AS n_lines,
           CAST(CAST(s AS VARCHAR) AS DOUBLE)
             / CAST(CAST(n AS VARCHAR) AS DOUBLE) / 100.0
             AS mean_unit_price,
           CASE WHEN n > 1 THEN
             sqrt(CAST(CAST(n*qq - s*s AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(n*(n-1) AS VARCHAR) AS DOUBLE))
               / (CAST(CAST(s AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(n AS VARCHAR) AS DOUBLE))
           ELSE NULL END AS unit_price_cv
    FROM m""",
)
def unit_price_dispersion_by_brand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Realized unit-price dispersion per brand: the coefficient of
    variation of per-line price-per-unit — the price-integrity screen
    (a brand whose identical units transact at widely varying realized
    prices leaks margin through inconsistent pricing; the XYZ CV
    classifies demand, this classifies PRICE discipline).

    Hash-exact: the unit price is ONE identical IEEE division
    (extprice·100 exact / quantity) floored to integer cents on both
    engines; moments ride exact decimal sums; CV is the Welch-identity
    fixed chain.  A single-line brand emits NULL cv explicitly on BOTH
    sides (ADVICE r11 — the kendall_tau discipline: n·(n−1)=0 would be
    Spark-NULL vs DuckDB-inf, the exact cross-engine degenerate-
    denominator divergence; latent at TPC-H SFs but not at filtered or
    tiny extracts).

    Scale: one broadcast part join (dim side), one (brand)-keyed
    moment aggregation — map-side combinable."""
    d38 = "decimal(38,0)"
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(
            (F.col("l_extendedprice") * 100).cast("double")
            / F.col("l_quantity").cast("double")
            + 0.5
        ).cast("long").alias("unit_cents"),
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    u = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"), "unit_cents"
    )
    m = u.groupBy("brand").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("unit_cents").cast(d38)).cast(d38).alias("s"),
        F.sum(
            (F.col("unit_cents").cast(d38) * F.col("unit_cents")).cast(d38)
        ).cast(d38).alias("qq"),
    )
    n, s = F.col("n"), F.col("s")
    mean = s.cast("double") / n.cast("double")
    sd = F.sqrt(
        (n * F.col("qq") - s * s).cast(d38).cast("double")
        / (n * (n - 1)).cast(d38).cast("double")
    )
    return m.select(
        "brand",
        n.cast("long").alias("n_lines"),
        (mean / F.lit(100.0)).alias("mean_unit_price"),
        F.when(n > 1, sd / mean).alias("unit_price_cv"),
    )


@workload(
    "price_ending_profile",
    oracle="""
    WITH e AS (SELECT CAST(FLOOR(p_retailprice*100+0.5) AS BIGINT) % 100
                 AS cents_ending
               FROM part),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM e)
    SELECT cents_ending,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(COUNT(*) AS DOUBLE) / CAST(MAX(total) AS DOUBLE) AS share
    FROM e CROSS JOIN t GROUP BY 1""",
)
def price_ending_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog price-ending distribution: retail prices bucketed by
    their cents ending (0-99) — the pricing-convention audit (human-
    set catalogs cluster on .99/.95/.00; a uniform ending profile is
    the signature of generated or converted prices — the trailing-
    digit sibling of the shipped Benford leading-digit screen).

    Hash-exact: endings are exact integer cents mod 100; ONE share
    division against the broadcast total.

    Scale: one map-side ≤100-group aggregation over the part dim."""
    e = _t(spark, sf_dir, "part").select(
        (
            F.floor(F.col("p_retailprice") * 100 + 0.5).cast("long") % 100
        ).alias("cents_ending")
    )
    t = e.agg(F.count(F.lit(1)).cast("long").alias("total"))
    return e.crossJoin(F.broadcast(t)).groupBy("cents_ending").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        (
            F.count(F.lit(1)).cast("double")
            / F.max("total").cast("double")
        ).alias("share"),
    )


# =========================================================================
# Round-11 additions, wave 8: classic reporting / decomposition —
# additive day-of-week decomposition, ABC class migration, Z-chart.
# =========================================================================


@workload(
    "seasonal_dow_additive",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value*100+0.5) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM events GROUP BY 1),
    w AS (SELECT day, cents,
            CAST(COUNT(*) OVER win AS BIGINT) AS m,
            CAST(SUM(cents) OVER win AS BIGINT) AS s7
          FROM d
          WINDOW win AS (ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    x AS (SELECT CAST(isodow(day) AS INTEGER) AS dow,
                 7*cents - s7 AS det7
          FROM w WHERE m = 7),
    g AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
                 SUM(CAST(det7 AS HUGEINT)) AS sd
          FROM x GROUP BY 1)
    SELECT dow, n_days,
           CAST(CAST(sd AS VARCHAR) AS DOUBLE)
             / CAST(CAST(7*n_days AS VARCHAR) AS DOUBLE)
             AS mean_detrended_cents
    FROM g""",
)
def seasonal_dow_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive day-of-week decomposition of daily revenue: detrend
    with a centered 7-day moving average, then average the residual
    per ISO weekday — the STL-lite seasonal component in CENTS
    ("Mondays run ~X dollars below trend"), complementing
    dow_seasonality_index's multiplicative ratio (additive effects are
    what you subtract for anomaly detection; ratios are what you
    divide for forecasting).

    Hash-exact via the ×7 trick: the centered MA is s7/7, so the
    detrended value scales to 7·cents − s7 — an exact integer — and
    the per-dow mean divides the exact decimal Σ by 7n ONCE at the
    end. ISO weekday shared exactly: Spark (dayofweek+5)%7+1 ≡ DuckDB
    isodow. Edge days (incomplete 7-day window) drop, the standard
    centered-MA convention.

    Scale: one fact aggregation to |days|; one calendar-bounded
    centered window (exemption class); a 7-row rollup."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    d = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).alias("cents")
        )
    )
    win = Window.orderBy("day").rowsBetween(-3, 3)
    w = d.select(
        "day", "cents",
        F.count(F.lit(1)).over(win).alias("m"),
        F.sum("cents").over(win).cast("long").alias("s7"),
    ).filter(F.col("m") == 7)
    x = w.select(
        (((F.dayofweek("day") + 5) % 7) + 1).cast("int").alias("dow"),
        (7 * F.col("cents") - F.col("s7")).alias("det7"),
    )
    g = x.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("det7").cast(d38)).cast(d38).alias("sd"),
    )
    return g.select(
        "dow", "n_days",
        (
            F.col("sd").cast("double")
            / (7 * F.col("n_days")).cast(d38).cast("double")
        ).alias("mean_detrended_cents"),
    )


@workload(
    "abc_class_migration_halves",
    oracle="""
    WITH h1 AS (
        SELECT l_partkey,
               CAST(SUM(CAST(FLOOR(l_extendedprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem WHERE CAST(l_shipdate AS DATE) < DATE '1995-07-01'
        GROUP BY 1),
    h2 AS (
        SELECT l_partkey,
               CAST(SUM(CAST(FLOOR(l_extendedprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem WHERE CAST(l_shipdate AS DATE) >= DATE '1995-07-01'
        GROUP BY 1),
    t1 AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM h1),
    t2 AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM h2),
    c1 AS (SELECT l_partkey,
                  CASE WHEN CAST(SUM(cents) OVER (ORDER BY cents DESC,
                            l_partkey) AS BIGINT)*100 <= total*80 THEN 'A'
                       WHEN CAST(SUM(cents) OVER (ORDER BY cents DESC,
                            l_partkey) AS BIGINT)*100 <= total*95 THEN 'B'
                       ELSE 'C' END AS cls
           FROM h1 CROSS JOIN t1),
    c2 AS (SELECT l_partkey,
                  CASE WHEN CAST(SUM(cents) OVER (ORDER BY cents DESC,
                            l_partkey) AS BIGINT)*100 <= total*80 THEN 'A'
                       WHEN CAST(SUM(cents) OVER (ORDER BY cents DESC,
                            l_partkey) AS BIGINT)*100 <= total*95 THEN 'B'
                       ELSE 'C' END AS cls
           FROM h2 CROSS JOIN t2)
    SELECT COALESCE(c1.cls, 'N') AS class_h1,
           COALESCE(c2.cls, 'N') AS class_h2,
           CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM c1 FULL OUTER JOIN c2 ON c2.l_partkey = c1.l_partkey
    GROUP BY 1, 2""",
)
def abc_class_migration_halves(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ABC class migration between the two halves of the shipping
    calendar (split at 1995-07-01): the matrix of parts that moved
    between revenue classes — A→C decays are the delisting candidates,
    C→A risers the replenishment surprises, and 'N' rows the
    entries/exits the static classification can't show. The temporal
    companion of abc_xyz_matrix (same classes, time axis instead of
    variability axis).

    Hash-exact: both classifications are the pareto integer
    cross-multiplication; the matrix is exact counts over the
    full-outer join with 'N' for absent halves (same COALESCE both
    engines).

    Scale: two half-filtered part aggregations, each ranked by
    windows.distributed_running_sum (never a single-partition sort);
    one |parts|-keyed full-outer join; a ≤16-row rollup."""
    from metadata_driven_etl_spark.operators.windows import (
        distributed_running_sum,
    )

    li = _t(spark, sf_dir, "lineitem")

    def classify(half):
        rev = half.groupBy("l_partkey").agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
            ).alias("cents")
        )
        c = distributed_running_sum(
            rev,
            [F.col("cents").desc(), F.col("l_partkey")],
            value_col="cents",
            out_col="cum",
            total_col="total",
        )
        return c.select(
            "l_partkey",
            F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
            .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
            .otherwise("C")
            .alias("cls"),
        )

    cut = F.to_date("l_shipdate") < F.lit("1995-07-01").cast("date")
    c1 = classify(li.filter(cut)).select(
        F.col("l_partkey").alias("k1"), F.col("cls").alias("cls1")
    )
    c2 = classify(li.filter(~cut)).select(
        F.col("l_partkey").alias("k2"), F.col("cls").alias("cls2")
    )
    j = c1.join(c2, c1.k1 == c2.k2, "full_outer")
    return j.groupBy(
        F.coalesce(F.col("cls1"), F.lit("N")).alias("class_h1"),
        F.coalesce(F.col("cls2"), F.lit("N")).alias("class_h2"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_parts"))


@workload(
    "z_chart_monthly_revenue",
    oracle="""
    WITH m AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               CAST(SUM(CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1)
    SELECT month, cents,
           CAST(SUM(cents) OVER (PARTITION BY year(month)
                                 ORDER BY month) AS BIGINT) AS ytd_cents,
           CASE WHEN CAST(COUNT(*) OVER mat AS BIGINT) = 12
                THEN CAST(SUM(cents) OVER mat AS BIGINT) END
             AS mat_cents
    FROM m
    WINDOW mat AS (ORDER BY month
                   ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)""",
)
def z_chart_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-chart: monthly revenue, year-to-date cumulative, and the
    12-month moving annual total on one frame — the classic
    management-report triple (the MAT line flattens seasonality so
    trend breaks are visible; the YTD line resets each January; the
    monthly line carries the noise). MAT is NULL until 12 months
    exist, the standard convention.

    Hash-exact: all three lines are exact integer cents; the MAT
    NULL-gate is the same COUNT=12 comparison on both engines.

    Scale: one fact aggregation to |months|, then year-partitioned and
    calendar-bounded windows over the ≤84-row rollup."""
    from pyspark.sql import Window

    m = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.trunc(F.to_date("o_orderdate"), "month").alias("month")
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("cents")
        )
    )
    ytd = Window.partitionBy(F.year("month")).orderBy("month").rowsBetween(
        Window.unboundedPreceding, 0
    )
    mat = Window.orderBy("month").rowsBetween(-11, 0)
    return m.select(
        "month", "cents",
        F.sum("cents").over(ytd).cast("long").alias("ytd_cents"),
        F.when(
            F.count(F.lit(1)).over(mat) == 12,
            F.sum("cents").over(mat).cast("long"),
        ).alias("mat_cents"),
    )


# =========================================================================
# Round-11 additions, wave 9: engagement / lifecycle distributions —
# session duration quartiles, order-frequency histogram, part
# staleness profile.
# =========================================================================


@workload(
    "session_duration_quartiles",
    oracle=f"""
    WITH s AS ({_SESSIONIZE_SQL}),
    per_session AS (
        SELECT user_id, session_id,
               CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000
                    AS BIGINT) AS dur_s
        FROM s GROUP BY 1, 2),
    dm AS (SELECT dur_s, CAST(COUNT(*) AS BIGINT) AS c
           FROM per_session GROUP BY 1),
    w AS (SELECT dur_s,
                 CAST(SUM(c) OVER (ORDER BY dur_s) AS BIGINT) AS cum
          FROM dm),
    nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM dm)
    SELECT nn.n AS n_sessions,
           CAST(MIN(CASE WHEN cum >= (1*nn.n + 3)//4 THEN dur_s END)
                AS BIGINT) AS q1_sec,
           CAST(MIN(CASE WHEN cum >= (2*nn.n + 3)//4 THEN dur_s END)
                AS BIGINT) AS q2_sec,
           CAST(MIN(CASE WHEN cum >= (3*nn.n + 3)//4 THEN dur_s END)
                AS BIGINT) AS q3_sec
    FROM w CROSS JOIN nn GROUP BY 1""",
)
def session_duration_quartiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact session-duration quartiles (whole seconds) over the
    gap-sessionized event stream — the engagement distribution behind
    session_metrics_daily's averages (a median session of 40s under a
    mean of 4 minutes means a bounce-heavy product with a long-tail
    power cohort; averages alone cannot show that).

    Hash-exact: the sessionizer is the shared 30-min-gap window
    (sessionize_events' exact shape); durations floor-quantize to
    SECONDS so the quartile domain is value-bounded (µs durations
    would make the domain |sessions|-sized and put a single-partition
    sort back in the plan — the quantization IS the scale fix);
    selection is the ⌈kn/4⌉ discipline.

    Scale: ONE user-keyed sessionizer shuffle, a (user, session)
    rollup, then a value-domain-bounded cum window (seconds ≤ max
    session length — skyline exemption class)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    wlag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = F.when(
        F.lag("ts").over(wlag).isNull()
        | (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wlag))
            > 1800000000
        ),
        1,
    ).otherwise(0)
    s = ev.select(
        "user_id", "ts", "event_id", new_sess.alias("ns")
    ).select(
        "user_id", "ts",
        F.sum("ns")
        .over(wlag.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("session_id"),
    )
    per = s.groupBy("user_id", "session_id").agg(
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            / F.lit(1000000)
        ).cast("long").alias("dur_s")
    )
    dm = per.groupBy("dur_s").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = dm.select(
        "dur_s",
        F.sum("c")
        .over(
            Window.orderBy("dur_s").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .cast("long")
        .alias("cum"),
    )
    nn = dm.agg(F.sum("c").cast("long").alias("n"))
    j = w.crossJoin(F.broadcast(nn))

    def qk(k: int):
        rank = F.expr(f"CAST(({k}*n + 3) DIV 4 AS BIGINT)")
        return (
            F.min(F.when(F.col("cum") >= rank, F.col("dur_s")))
            .cast("long")
            .alias(f"q{k}_sec")
        )

    return j.groupBy(F.col("n").alias("n_sessions")).agg(
        qk(1), qk(2), qk(3)
    )


@workload(
    "customer_order_frequency_histogram",
    oracle="""
    WITH oc AS (
        SELECT o_custkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1),
    c AS (SELECT c.c_custkey,
                 COALESCE(oc.n_orders, 0) AS n_orders,
                 COALESCE(oc.cents, 0) AS cents
          FROM customer c LEFT JOIN oc ON oc.o_custkey = c.c_custkey)
    SELECT n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM c GROUP BY 1""",
)
def customer_order_frequency_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-frequency histogram over the FULL customer base,
    dormant accounts included: customers per lifetime order count with
    the revenue each frequency band carries — the base-health profile
    (TPC-H Q13's customer-distribution shape, extended with the
    revenue column that turns it into a value-concentration readout;
    bucket 0 is the dormant book Q22 bills as idle).

    Hash-exact: counts and cents sums exact; no divisions at all.

    Scale: one custkey-keyed order aggregation, a left join from the
    customer dim (COALESCE keeps the zero bucket), a ≤|max orders per
    customer|-row rollup."""
    oc = _t(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
        ).cast("long").alias("cents"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    j = c.join(oc, c.c_custkey == oc.o_custkey, "left").select(
        F.coalesce(F.col("n_orders"), F.lit(0).cast("long")).alias(
            "n_orders"
        ),
        F.coalesce(F.col("cents"), F.lit(0).cast("long")).alias("cents"),
    )
    return j.groupBy("n_orders").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


@workload(
    "part_staleness_profile",
    oracle="""
    WITH ls AS (
        SELECT l_partkey,
               MAX(year(CAST(l_shipdate AS DATE))*12
                   + month(CAST(l_shipdate AS DATE))) AS last_mi,
               CAST(SUM(CAST(FLOOR(l_extendedprice*100+0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem GROUP BY 1),
    mx AS (SELECT MAX(last_mi) AS anchor FROM ls),
    b AS (SELECT CASE WHEN anchor - last_mi < 3 THEN '0-2mo'
                      WHEN anchor - last_mi < 6 THEN '3-5mo'
                      WHEN anchor - last_mi < 12 THEN '6-11mo'
                      ELSE '12mo+' END AS staleness,
                 cents
          FROM ls CROSS JOIN mx)
    SELECT staleness,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS lifetime_cents
    FROM b GROUP BY 1""",
)
def part_staleness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory staleness profile: parts bucketed by months since
    their LAST shipment (anchored at the corpus's latest shipping
    month), with the lifetime revenue each staleness band represents —
    the slow-mover screen between cold_start_parts (never sold) and
    the ABC classes (how much, ever): a 12mo+ band carrying real
    lifetime revenue is the discontinue-or-promote decision queue.

    Hash-exact: month indices are exact integers (year·12+month);
    bucket cuts are integer comparisons against the broadcast anchor;
    counts and cents exact.

    Scale: one |parts|-keyed max/sum aggregation, a 1-row anchor
    broadcast, a 4-row rollup."""
    mi = F.year(F.to_date("l_shipdate")) * 12 + F.month(
        F.to_date("l_shipdate")
    )
    ls = _t(spark, sf_dir, "lineitem").groupBy("l_partkey").agg(
        F.max(mi).alias("last_mi"),
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
        ).cast("long").alias("cents"),
    )
    mx = ls.agg(F.max("last_mi").alias("anchor"))
    age = F.col("anchor") - F.col("last_mi")
    bucket = (
        F.when(age < 3, "0-2mo")
        .when(age < 6, "3-5mo")
        .when(age < 12, "6-11mo")
        .otherwise("12mo+")
    )
    return (
        ls.crossJoin(F.broadcast(mx))
        .groupBy(bucket.alias("staleness"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("cents").cast("long").alias("lifetime_cents"),
        )
    )


# =========================================================================
# Round-12 additions, wave 1: ETL surrogate-key / sequence / payment
# audits — the data-platform integrity screens between the referential
# audits (do FKs resolve?) and the DQ rules (is each row valid?):
# is the KEY SPACE itself healthy (gaps, dense line sequences,
# double-billing fingerprints)?
# =========================================================================


@workload(
    "surrogate_key_gap_islands",
    oracle="""
    WITH r AS (
        SELECT o_orderkey AS k,
               row_number() OVER (ORDER BY o_orderkey) AS rnk
        FROM orders),
    i AS (SELECT k - rnk AS island,
                 CAST(COUNT(*) AS BIGINT) AS ilen,
                 CAST(MIN(k) AS BIGINT) AS mn,
                 CAST(MAX(k) AS BIGINT) AS mx
          FROM r GROUP BY 1)
    SELECT CAST(SUM(ilen) AS BIGINT) AS n_keys,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(MAX(ilen) AS BIGINT) AS max_island_len,
           CAST(MIN(mn) AS BIGINT) AS min_key,
           CAST(MAX(mx) AS BIGINT) AS max_key,
           CAST(MAX(mx) - MIN(mn) + 1 - SUM(ilen) AS BIGINT) AS n_missing
    FROM i""",
)
def surrogate_key_gap_islands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Surrogate-key continuity audit: islands of CONSECUTIVE order
    keys (the gaps-islands identity key − rank) — the key-space health
    readout behind sequence-generator monitoring (a sudden island
    break-up means a generator reset, a partial load, or deletes; the
    TPC-H key space is deliberately sparse, so the audit bites).  The
    |days|-domain sibling is ``gaps_islands_daily``; THIS frame grows
    with the entity count, so the rank rides
    ``windows.distributed_rank`` (range exchange + broadcast offsets —
    the SCALE.md §2 classification rule: entity-growing frames never
    get a bare global window).

    Hash-exact: rank under the unique-key total order is identical to
    row_number; islands, lengths, and the missing-count identity
    (max − min + 1 − n) are exact integers.

    Scale: the range exchange, one island-keyed aggregation (island
    ids inherit the key distribution — uniform), a 1-row rollup."""
    k = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    r = window_ops.distributed_rank(k, [F.asc("k")], "rnk")
    isl = r.groupBy((F.col("k") - F.col("rnk")).alias("island")).agg(
        F.count(F.lit(1)).cast("long").alias("ilen"),
        F.min("k").cast("long").alias("mn"),
        F.max("k").cast("long").alias("mx"),
    )
    return isl.agg(
        F.sum("ilen").cast("long").alias("n_keys"),
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.max("ilen").cast("long").alias("max_island_len"),
        F.min("mn").cast("long").alias("min_key"),
        F.max("mx").cast("long").alias("max_key"),
        (F.max("mx") - F.min("mn") + 1 - F.sum("ilen"))
        .cast("long")
        .alias("n_missing"),
    )


@workload(
    "linenumber_sequence_audit",
    oracle="""
    WITH l AS (
        SELECT l_orderkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX(l_linenumber) AS BIGINT) AS mx,
               CAST(COUNT(DISTINCT l_linenumber) AS BIGINT) AS d
        FROM lineitem GROUP BY 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN mx = n AND d = n THEN 1 ELSE 0 END)
                AS BIGINT) AS n_complete,
           CAST(SUM(CASE WHEN d < n THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_linenumbers,
           CAST(SUM(CASE WHEN mx > n THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gapped,
           CAST(SUM(CASE WHEN mx = n AND d = n THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS complete_rate
    FROM l""",
)
def linenumber_sequence_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dense-sequence completeness audit: every order's line numbers
    must be exactly 1..n (no duplicates, no gaps) — the detail-table
    integrity contract an order-lines loader is supposed to preserve,
    checked in closed form per group: complete ⇔ max = count AND
    distinct = count.  The ordering sibling is
    ``sequence_violations_by_user`` (event ordering); this audits
    SEQUENCE DENSITY.

    Hash-exact: counts, max, distinct counts, and the two boolean
    identities are exact integers; one rate division.

    Scale: one order-keyed aggregation (count-distinct planned as the
    two-phase expand), a 1-row rollup."""
    l_ = _t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("l_linenumber").cast("long").alias("mx"),
        F.countDistinct("l_linenumber").cast("long").alias("d"),
    )
    complete = F.when(
        (F.col("mx") == F.col("n")) & (F.col("d") == F.col("n")), 1
    ).otherwise(0)
    return l_.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(complete).cast("long").alias("n_complete"),
        F.sum(F.when(F.col("d") < F.col("n"), 1).otherwise(0))
        .cast("long")
        .alias("n_dup_linenumbers"),
        F.sum(F.when(F.col("mx") > F.col("n"), 1).otherwise(0))
        .cast("long")
        .alias("n_gapped"),
        (
            F.sum(complete).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("complete_rate"),
    )


@workload(
    "duplicate_payment_screen",
    oracle="""
    WITH g AS (
        SELECT o_custkey,
               CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT) AS cents,
               CAST(o_orderdate AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2, 3)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(COALESCE(SUM(CASE WHEN c > 1 THEN 1 END), 0) AS BIGINT)
             AS n_dup_groups,
           CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
             AS n_dup_orders,
           CAST(COALESCE(SUM(CASE WHEN c > 1 THEN (c-1)*cents END), 0)
                AS BIGINT) AS exposure_cents
    FROM g""",
)
def duplicate_payment_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Double-billing fingerprint screen: orders sharing an exact
    (customer, amount, date) triple — the classic AP-audit duplicate-
    payment test (same payee, same amount, same day ⇒ investigate).
    ``exposure_cents`` prices the risk: every copy beyond the first in
    a group counts its full amount.  The content-hash sibling is
    ``dedup_exact`` (payload identity); this screens BUSINESS-KEY
    collisions.

    Hash-exact: the triple is exact integers/dates; counts and the
    (c−1)·cents exposure are exact; COALESCE pins the zero-duplicate
    corpus to 0 on both engines (no NULL-vs-0 drift).

    Scale: one hash aggregation on the triple (uniform — amount·date
    scatter), a 1-row rollup."""
    g = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    dup = F.col("c") > 1
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.coalesce(F.sum(F.when(dup, 1)), F.lit(0))
        .cast("long")
        .alias("n_dup_groups"),
        F.coalesce(F.sum(F.when(dup, F.col("c"))), F.lit(0))
        .cast("long")
        .alias("n_dup_orders"),
        F.coalesce(
            F.sum(F.when(dup, (F.col("c") - 1) * F.col("cents"))),
            F.lit(0),
        )
        .cast("long")
        .alias("exposure_cents"),
    )


# =========================================================================
# Round-12 additions, wave 2: statistical process control + calendar
# artifacts — the p-chart (attribute SPC with binomial 3σ limits, the
# proportion sibling of the shipped z-chart/CUSUM family) and the
# month-end closing-spike screen (books-closing revenue pull-forward).
# =========================================================================


@workload(
    "p_chart_return_rate_monthly",
    oracle="""
    WITH m AS (
        SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returned
        FROM lineitem GROUP BY 1),
    t AS (SELECT CAST(SUM(n_lines) AS BIGINT) AS tn,
                 CAST(SUM(n_returned) AS BIGINT) AS tr
          FROM m)
    SELECT month, n_lines, n_returned,
           CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE) AS p,
           CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE) AS p_bar,
           (CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE))
             + 3.0 * sqrt((CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE))
                          * (1.0 - CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE))
                          / CAST(n_lines AS DOUBLE)) AS ucl,
           greatest(0.0,
             (CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE))
               - 3.0 * sqrt((CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE))
                            * (1.0 - CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE))
                            / CAST(n_lines AS DOUBLE))) AS lcl,
           CAST(CASE WHEN CAST(n_returned AS DOUBLE)
                            / CAST(n_lines AS DOUBLE)
                          > (CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE))
                            + 3.0 * sqrt((CAST(tr AS DOUBLE)
                                          / CAST(tn AS DOUBLE))
                                * (1.0 - CAST(tr AS DOUBLE)
                                         / CAST(tn AS DOUBLE))
                                / CAST(n_lines AS DOUBLE))
                       OR CAST(n_returned AS DOUBLE)
                            / CAST(n_lines AS DOUBLE)
                          < greatest(0.0,
                              (CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE))
                                - 3.0 * sqrt((CAST(tr AS DOUBLE)
                                              / CAST(tn AS DOUBLE))
                                    * (1.0 - CAST(tr AS DOUBLE)
                                             / CAST(tn AS DOUBLE))
                                    / CAST(n_lines AS DOUBLE)))
                     THEN 1 ELSE 0 END AS BIGINT) AS out_of_control
    FROM m CROSS JOIN t""",
)
def p_chart_return_rate_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Attribute SPC p-chart: monthly returned-line proportion against
    binomial 3σ control limits around the pooled rate — the
    proportion-defective sibling of the shipped z-chart (levels) and
    CUSUM (drift) controls; per-month limits widen as 1/√n, the
    variable-subgroup-size form.

    Hash-exact: counts exact; p, p̄, and the limits are the SAME fixed
    IEEE chain on both engines (each input division correctly rounded,
    sqrt correctly rounded, no fusable a·b±c shape), so the
    out-of-control comparison can never flip per engine; LCL clamps at
    0 via greatest on both sides.

    Scale: one map-side-combinable month aggregation over the fact,
    a broadcast 1-row pooled total, map-side limit arithmetic over the
    ≤84-row month frame."""
    li = _t(spark, sf_dir, "lineitem")
    m = li.groupBy(
        F.trunc(F.to_date("l_shipdate"), "month").alias("month")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("n_returned"),
    )
    t = m.agg(
        F.sum("n_lines").cast("long").alias("tn"),
        F.sum("n_returned").cast("long").alias("tr"),
    )
    p = F.col("n_returned").cast("double") / F.col("n_lines").cast("double")
    pbar = F.col("tr").cast("double") / F.col("tn").cast("double")
    sd = F.sqrt(
        pbar * (F.lit(1.0) - pbar) / F.col("n_lines").cast("double")
    )
    ucl = pbar + F.lit(3.0) * sd
    lcl = F.greatest(F.lit(0.0), pbar - F.lit(3.0) * sd)
    return m.crossJoin(F.broadcast(t)).select(
        "month", "n_lines", "n_returned",
        p.alias("p"),
        pbar.alias("p_bar"),
        ucl.alias("ucl"),
        lcl.alias("lcl"),
        F.when((p > ucl) | (p < lcl), 1)
        .otherwise(0)
        .cast("long")
        .alias("out_of_control"),
    )


@workload(
    "month_end_closing_spike",
    oracle="""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT) AS cents
        FROM orders),
    m AS (SELECT month,
                 CAST(SUM(cents) AS BIGINT) AS month_cents,
                 CAST(SUM(CASE WHEN day >= last_day(day) - 2
                               THEN cents ELSE 0 END) AS BIGINT)
                   AS tail3_cents,
                 CAST(date_diff('day', month,
                                last_day(month)) + 1 AS BIGINT)
                   AS days_in_month
          FROM d GROUP BY 1)
    SELECT month, month_cents, tail3_cents, days_in_month,
           CAST(tail3_cents AS DOUBLE) / CAST(month_cents AS DOUBLE)
             AS tail3_share,
           (CAST(tail3_cents AS DOUBLE) / CAST(month_cents AS DOUBLE))
             * CAST(days_in_month AS DOUBLE) / 3.0 AS spike_index
    FROM m""",
)
def month_end_closing_spike(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Books-closing artifact screen: the share of each month's
    revenue landing in its LAST THREE days, and the spike index (share
    ÷ the uniform 3/days expectation — index ≈ 1 means no pull-
    forward; sales teams gaming month-end quotas show up as a
    sustained index ≫ 1).  The seasonal sibling decomposes WHICH dow
    (seasonal_dow_additive); this screens WITHIN-MONTH position.

    Hash-exact: the last-3-days test is exact date arithmetic
    (last_day − 2) on both engines; cents exact; share and index are
    an identical two-division chain.

    Scale: one map-side-combinable month aggregation (the tail test is
    a per-row date predicate), a ≤84-row readout."""
    d = _t(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day"),
        F.trunc(F.to_date("o_orderdate"), "month").alias("month"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    m = d.groupBy("month").agg(
        F.sum("cents").cast("long").alias("month_cents"),
        F.sum(
            F.when(
                F.col("day") >= F.date_sub(F.last_day("day"), 2),
                F.col("cents"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("tail3_cents"),
        (
            F.datediff(F.last_day(F.first("month")), F.first("month")) + 1
        )
        .cast("long")
        .alias("days_in_month"),
    )
    share = (
        F.col("tail3_cents").cast("double")
        / F.col("month_cents").cast("double")
    )
    return m.select(
        "month", "month_cents", "tail3_cents", "days_in_month",
        share.alias("tail3_share"),
        (share * F.col("days_in_month").cast("double") / F.lit(3.0)).alias(
            "spike_index"
        ),
    )


# =========================================================================
# Round-12 additions, wave 3: LLM-corpus tokenizer/lexical diagnostics
# — token length spectrum (tokenizer budget sizing), stopword mass per
# source (boilerplate/function-word screen), and Simpson lexical
# diversity (the RATIONAL entropy substitute: ln-free, hence
# hash-checkable — the numerics discipline prefers 1 − Σp² over
# Shannon H).
# =========================================================================

_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "on",
    "for", "it", "with", "as", "at", "by", "be", "this", "that",
)


@workload(
    "token_len_histogram",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({text_ops.sql_tokens("text")}) AS t
        FROM documents),
    c AS (SELECT CAST(length(t) AS INTEGER) AS tok_len,
                 CAST(COUNT(*) AS BIGINT) AS n_tokens
          FROM tok GROUP BY 1),
    tt AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM c)
    SELECT tok_len, n_tokens,
           CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS share
    FROM c CROSS JOIN tt""",
)
def token_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token length spectrum: corpus-wide distribution of token
    character lengths — the tokenizer-budget diagnostic (a corpus
    whose mass sits at length ≥ 12 fragments badly under a word-piece
    vocab; OCR noise shows up as a length-1/2 spike).  The
    frequency-rank sibling is ``token_coverage_topk``; this profiles
    SHAPE, not rank.

    Hash-exact: lengths and counts are exact integers; ONE share
    division against the broadcast total.

    Scale: one tokenizer explode + a length-bounded (≤ max token
    chars) aggregation — a true value-domain frame."""
    tok = _docs(spark, sf_dir).select(
        F.explode(text_ops.tokens("text")).alias("t")
    )
    c = tok.groupBy(
        F.length("t").cast("int").alias("tok_len")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    tt = c.agg(F.sum("n_tokens").cast("long").alias("total"))
    return c.crossJoin(F.broadcast(tt)).select(
        "tok_len", "n_tokens",
        (
            F.col("n_tokens").cast("double") / F.col("total").cast("double")
        ).alias("share"),
    )


@workload(
    "stopword_share_by_source",
    oracle=f"""
    WITH d AS (
        SELECT source,
               {text_ops.sql_tokens("text")} AS toks
        FROM documents WHERE source IS NOT NULL),
    p AS (SELECT source,
                 CAST(len(toks) AS BIGINT) AS n_tok,
                 CAST(len(list_filter(toks,
                     x -> list_contains({list(_STOPWORDS)!r}, x)))
                   AS BIGINT) AS n_stop
          FROM d)
    SELECT source,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(n_stop) AS BIGINT) AS n_stopwords,
           CAST(SUM(n_stop) AS DOUBLE) / CAST(SUM(n_tok) AS DOUBLE)
             AS stopword_share
    FROM p GROUP BY 1""",
)
def stopword_share_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Function-word mass per source: the share of tokens that are
    English stopwords — the cheap language/boilerplate screen (organic
    English prose sits near 0.3-0.45; keyword-stuffed spam, code, and
    non-English text fall far below; the per-doc quality scorer uses
    the same signal, this is the SOURCE-level rollout readout).

    Hash-exact: both counts are map-side integer filters against the
    same literal list; one share division.

    Scale: map-only tokenize + filter per row (JVM higher-order
    functions, no explode), one |sources|-row aggregation."""
    sw = list(_STOPWORDS)
    toks = text_ops.tokens("text")
    p = (
        _docs(spark, sf_dir)
        .filter(F.col("source").isNotNull())
        .select(
            "source",
            F.size(toks).cast("long").alias("n_tok"),
            F.size(
                F.filter(toks, lambda t: t.isin(sw))
            ).cast("long").alias("n_stop"),
        )
    )
    return p.groupBy("source").agg(
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("n_stop").cast("long").alias("n_stopwords"),
        (
            F.sum("n_stop").cast("double") / F.sum("n_tok").cast("double")
        ).alias("stopword_share"),
    )


@workload(
    "token_simpson_diversity_by_source",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({text_ops.sql_tokens("text")}) AS t
        FROM documents WHERE source IS NOT NULL),
    tc AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok GROUP BY 1, 2),
    m AS (SELECT source,
                 CAST(SUM(c) AS BIGINT) AS n,
                 CAST(COUNT(*) AS BIGINT) AS vocab,
                 SUM(CAST(c AS HUGEINT) * c) AS ssq
          FROM tc GROUP BY 1)
    SELECT source, n AS n_tokens, vocab,
           1.0 - CAST(CAST(ssq AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(CAST(n AS HUGEINT) * n AS VARCHAR)
                          AS DOUBLE) AS simpson_diversity,
           CAST(CAST(CAST(n AS HUGEINT) * n AS VARCHAR) AS DOUBLE)
             / CAST(CAST(ssq AS VARCHAR) AS DOUBLE)
             AS effective_vocab
    FROM m""",
)
def token_simpson_diversity_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lexical diversity per source via the SIMPSON index 1 − Σp² and
    its inverse (effective vocabulary = how many equally-common types
    would produce the same repeat-probability) — the ln-free diversity
    measure (Shannon entropy is the textbook choice but Math.log isn't
    correctly-rounded cross-engine; Simpson is rational in exact
    counts, the repo's documented entropy substitute).  Template/spam
    sources collapse toward few effective types; organic prose holds
    thousands.

    Hash-exact: Σc and Σc² ride exact decimal; each output is ONE
    division of VARCHAR-routed exacts (the decimal→double discipline);
    1.0 − x is exact IEEE.

    Scale: the TF/DF shuffle shape — one (source, token) aggregation,
    one |sources|-row moment rollup; Σc² bounds: c ≤ 10¹² tokens per
    source keeps c² < 10²⁴ ≪ 10³⁸."""
    d38 = "decimal(38,0)"
    tc = (
        _docs(spark, sf_dir)
        .filter(F.col("source").isNotNull())
        .select("source", F.explode(text_ops.tokens("text")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    m = tc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.col("c").cast(d38) * F.col("c")).cast(d38).alias("ssq"),
    )
    ssq_d = F.col("ssq").cast(d38).cast("double")
    nn_d = (F.col("n").cast(d38) * F.col("n")).cast(d38).cast("double")
    return m.select(
        "source",
        F.col("n").alias("n_tokens"),
        "vocab",
        (F.lit(1.0) - ssq_d / nn_d).alias("simpson_diversity"),
        (nn_d / ssq_d).alias("effective_vocab"),
    )


# =========================================================================
# Round-12 additions, wave 4: embedding sparsity profile — per-label
# quartiles of the active-dimension count (|x| above a magnitude
# floor), the representation-health readout behind pruning/quantization
# decisions (a label whose vectors activate few dimensions survives
# aggressive int8/JL compression; a dense one doesn't).
# =========================================================================


@workload(
    "embedding_active_dims_quartiles",
    oracle="""
    WITH a AS (
        SELECT label,
               -- CAST the threshold: a bare 0.1 is DECIMAL in DuckDB
               -- (float x compares under decimal semantics) while
               -- Spark's literal is DOUBLE; a float value exactly at
               -- the boundary flips between the two (r12 degenerate
               -- sweep finding)
               CAST(len(list_filter(embedding,
                        x -> abs(x) > CAST(0.1 AS DOUBLE)))
                    AS BIGINT) AS active
        FROM embeddings),
    dm AS (SELECT label, active, CAST(COUNT(*) AS BIGINT) AS c
           FROM a GROUP BY 1, 2),
    w AS (SELECT label, active,
                 CAST(SUM(c) OVER (PARTITION BY label ORDER BY active)
                      AS BIGINT) AS cum
          FROM dm),
    nn AS (SELECT label, CAST(SUM(c) AS BIGINT) AS n FROM dm GROUP BY 1)
    SELECT w.label, nn.n AS n_vectors,
           CAST(MIN(CASE WHEN cum >= (1*nn.n + 3)//4 THEN active END)
                AS BIGINT) AS q1_active,
           CAST(MIN(CASE WHEN cum >= (2*nn.n + 3)//4 THEN active END)
                AS BIGINT) AS q2_active,
           CAST(MIN(CASE WHEN cum >= (3*nn.n + 3)//4 THEN active END)
                AS BIGINT) AS q3_active
    FROM w JOIN nn ON nn.label = w.label
    GROUP BY 1, 2""",
)
def embedding_active_dims_quartiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding sparsity quartiles per label: the distribution of how
    many dimensions carry magnitude above 0.1 — the compression-
    planning readout (quantization/JL budgets size to the ACTIVE
    support, not the nominal dim; a label whose q3 is far below the
    vector width is over-provisioned).  The magnitude sibling profiles
    norms (``embedding_norm_outliers``); this profiles SUPPORT.

    Hash-exact: the activity test |x| > 0.1 promotes float32 to
    double identically on both engines (exact widening), so the count
    is exact integer; quartiles select at ⌈kn/4⌉ over the ≤(dim+1)-row
    per-label domain — no interpolation, no data sort.

    Scale: map-side higher-order filter (no explode), a |labels ×
    (dim+1)|-bounded domain aggregation, group-partitioned cum windows
    over that domain frame."""
    from pyspark.sql import Window

    a = _emb(spark, sf_dir).select(
        "label",
        F.size(
            F.filter(F.col("embedding"), lambda x: F.abs(x) > F.lit(0.1))
        )
        .cast("long")
        .alias("active"),
    )
    dm = a.groupBy("label", "active").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = dm.select(
        "label", "active",
        F.sum("c")
        .over(
            Window.partitionBy("label")
            .orderBy("active")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("long")
        .alias("cum"),
    )
    nn = dm.groupBy("label").agg(F.sum("c").cast("long").alias("n"))
    j = w.join(F.broadcast(nn), "label")

    def qk(k: int):
        rank = F.expr(f"CAST(({k}*n + 3) DIV 4 AS BIGINT)")
        return (
            F.min(F.when(F.col("cum") >= rank, F.col("active")))
            .cast("long")
            .alias(f"q{k}_active")
        )

    return j.groupBy(
        F.col("label"), F.col("n").alias("n_vectors")
    ).agg(qk(1), qk(2), qk(3))


# =========================================================================
# Round-12 additions, wave 5: engagement depth + order-book operations
# — the active-days histogram (how LONG users stay active, the depth
# axis the frequency histogram doesn't see) and the daily order
# backlog depth (open-order pressure via the endpoint-sweep identity).
# =========================================================================


@workload(
    "active_days_histogram",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                 AS n_active_days
        FROM events GROUP BY 1),
    h AS (SELECT n_active_days, CAST(COUNT(*) AS BIGINT) AS n_users
          FROM u GROUP BY 1),
    t AS (SELECT CAST(SUM(n_users) AS BIGINT) AS total FROM h)
    SELECT n_active_days, n_users,
           CAST(n_users AS DOUBLE) / CAST(total AS DOUBLE) AS user_share
    FROM h CROSS JOIN t""",
)
def active_days_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement depth histogram: users bucketed by how many DISTINCT
    days they were active — the tenure-depth axis orthogonal to
    per-day actives (DAU counts heads; this counts habits; the
    orders-table sibling ``customer_order_frequency_histogram`` counts
    transactions).  The heavy-left shape is the churn signature; mass
    in the tail is the habit cohort retention campaigns protect.

    Hash-exact: distinct-day counts and the histogram are exact
    integers; ONE share division against the broadcast total.

    Scale: one user-keyed distinct aggregation (two-phase expand),
    then a calendar-bounded (≤|days|) histogram rollup."""
    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.countDistinct(F.to_date("ts"))
            .cast("long")
            .alias("n_active_days")
        )
    )
    h = u.groupBy("n_active_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    t = h.agg(F.sum("n_users").cast("long").alias("total"))
    return h.crossJoin(F.broadcast(t)).select(
        "n_active_days", "n_users",
        (
            F.col("n_users").cast("double") / F.col("total").cast("double")
        ).alias("user_share"),
    )


@workload(
    "order_backlog_depth_daily",
    oracle="""
    WITH cl AS (
        SELECT l_orderkey,
               MAX(CAST(l_shipdate AS DATE)) AS close_day
        FROM lineitem GROUP BY 1),
    o AS (SELECT o.o_orderkey,
                 CAST(o.o_orderdate AS DATE) AS open_day,
                 cl.close_day
          FROM orders o JOIN cl ON cl.l_orderkey = o.o_orderkey),
    ev AS (SELECT open_day AS day, 1 AS opened, 0 AS closed FROM o
           UNION ALL
           SELECT close_day, 0, 1 FROM o),
    d AS (SELECT day,
                 CAST(SUM(opened) AS BIGINT) AS n_opened,
                 CAST(SUM(closed) AS BIGINT) AS n_closed
          FROM ev GROUP BY 1)
    SELECT day, n_opened, n_closed,
           CAST(SUM(n_opened - n_closed) OVER (ORDER BY day)
                AS BIGINT) AS backlog_depth
    FROM d""",
)
def order_backlog_depth_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily order-book backlog: orders opened but not yet fully
    shipped at each day's close, via the +1/−1 endpoint sweep (+1 on
    the order date, −1 on the LAST shipment date; the running sum IS
    the open-order count — an order fully shipped the day it was
    placed never appears).  The intraday sibling is
    ``sessions_concurrent_peak_daily`` (second-resolution peaks);
    this is the operations burn-down curve fulfillment teams staff
    against.

    Hash-exact: endpoint deltas and the running depth are exact
    integers under the shared day order.

    Scale: one order-keyed close aggregation, a 2-row-per-order
    endpoint union partial-aggregated into the |days| frame, one
    calendar-bounded cumulative window (the documented exemption
    class)."""
    from pyspark.sql import Window

    cl = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("close_day"))
    )
    o = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", F.to_date("o_orderdate").alias("open_day"))
        .join(cl, F.col("o_orderkey") == F.col("l_orderkey"))
    )
    ev = o.select(
        F.col("open_day").alias("day"),
        F.lit(1).alias("opened"),
        F.lit(0).alias("closed"),
    ).unionByName(
        o.select(
            F.col("close_day").alias("day"),
            F.lit(0).alias("opened"),
            F.lit(1).alias("closed"),
        )
    )
    d = ev.groupBy("day").agg(
        F.sum("opened").cast("long").alias("n_opened"),
        F.sum("closed").cast("long").alias("n_closed"),
    )
    return d.select(
        "day", "n_opened", "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed"))
        .over(
            Window.orderBy("day").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .cast("long")
        .alias("backlog_depth"),
    )


# =========================================================================
# Round-12 additions, wave 6: operator-quality evaluation — the lang-id
# heuristic scored against the documents table's ground-truth lang
# column as a full confusion matrix (the eval harness pattern: the
# engine's own classifier is itself a query under oracle check).
# =========================================================================


@workload(
    "langid_confusion_matrix",
    oracle=f"""
    WITH p AS (
        SELECT lang AS lang_actual,
               {text_ops.sql_lang_id("text")} AS lang_pred
        FROM documents WHERE lang IS NOT NULL),
    c AS (SELECT lang_actual, lang_pred,
                 CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM p GROUP BY 1, 2),
    a AS (SELECT lang_actual, CAST(SUM(n_docs) AS BIGINT) AS n_actual
          FROM c GROUP BY 1)
    SELECT c.lang_actual, c.lang_pred, c.n_docs,
           CAST(c.n_docs AS DOUBLE) / CAST(a.n_actual AS DOUBLE)
             AS share_of_actual
    FROM c JOIN a ON a.lang_actual = c.lang_actual""",
)
def langid_confusion_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Language-ID confusion matrix: the n-gram-marker classifier
    (``text.lang_id_df``) scored cell-by-cell against the corpus's
    ground-truth lang column — the operator-quality eval as a QUERY
    (``precision_recall_at_threshold``/``roc_auc`` grade scores; this
    grades the shipped classifier itself; the diagonal shares are
    per-language recall, the off-diagonal mass says which marker sets
    collide).

    Hash-exact: the classifier is the same deterministic JVM/DuckDB
    expression twin the ``text_lang_id`` workload hash-gates (fixed
    tie order, und on zero overlap); counts exact, one share division
    per cell.

    Scale: map-side classification (no explode survives the
    projection), one ≤|langs|²-cell aggregation, a broadcast
    |langs|-row actual-total join."""
    p = (
        _docs(spark, sf_dir)
        .filter(F.col("lang").isNotNull())
        .select(F.col("lang").alias("lang_actual"), "text")
    )
    p = text_ops.lang_id_df(p, "text", "lang_pred").select(
        "lang_actual", "lang_pred"
    )
    c = p.groupBy("lang_actual", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    a = c.groupBy("lang_actual").agg(
        F.sum("n_docs").cast("long").alias("n_actual")
    )
    return c.join(F.broadcast(a), "lang_actual").select(
        "lang_actual", "lang_pred", "n_docs",
        (
            F.col("n_docs").cast("double")
            / F.col("n_actual").cast("double")
        ).alias("share_of_actual"),
    )


# =========================================================================
# Driver-facing registry order
# =========================================================================
#
# The driver checks a fixed-size PREFIX of ``queries()`` (50 rows in round
# 1, insertion order).  Emit the SURVEY §2 core, the LLM-data-pipeline
# operators, and the flagship extensions first so every headline capability
# gets a driver-side CORRECTNESS row; everything else (all still locally
# oracle-checked by tests/test_workload_parity.py) follows in definition
# order.

DRIVER_PRIORITY: list[str] = [
    # --- round-12 rotation (VERDICT r11 item 1): ships the queue
    # pinned BEFORE r11 closed (R12_QUEUE in tests/test_registry_order.py,
    # verbatim — zero substitutions this round).  Pinned flagship core
    # (4), then the 30 round-10 additions in registration order (their
    # FIRST driver attestations), the 6 round-5-cohort keys rolled out
    # of the r11 prefix, and the 10 stalest round-6-cohort keys (whose
    # latest driver rows date to r6).  The 34 round-11 additions queue
    # behind as R13_QUEUE (pinned before this round closes — the
    # rotation-debt invariant).  Keys rotated OUT are green in a prior
    # artifact and stay locally oracle-checked on every pytest run via
    # tests/test_workload_parity.py.
    # --- pinned flagship core ---
    "agg_daily_sales", "merge_upsert", "dq_metrics_single_pass",
    "corpus_clean_pipeline",
    # --- round-10 additions (first driver check), registration order ---
    "kendall_tau_revenue_volume", "brown_forsythe_variance_test",
    "effect_size_cohens_d", "mood_median_test", "jackknife_loo_monthly",
    "ridge_regression_price_quantity",
    "unit_value_index_monthly_brand", "promo_uplift_did",
    "shift_share_nation_growth", "reconcile_order_totals",
    "growth_accounting_monthly", "forecast_mase_naive",
    "partition_skew_report",
    "mmr_diverse_topk", "scan_text_lines", "scan_binary_files",
    "systematic_sample_every_k",
    "target_encode_loo_brand", "kfold_assignment_balance",
    "anonymization_ladder", "resample_linear_interp_daily",
    "trimmed_mean_price_by_flag", "scan_parquet_schema_evolution",
    "silence_record_alerts",
    "funnel_window_sensitivity", "dedup_threshold_curve",
    "scan_csv_malformed",
    "rand_index_kmeans_labels", "precision_recall_at_threshold",
    "roc_auc_urgent_price",
    # --- round-5 cohort keys rolled out of the r11 prefix ---
    "decontaminate_ngram_overlap", "embedding_random_projection",
    "text_feature_hash_embed", "funnel_strict_from_first",
    "embedding_quantize_int8", "text_bigram_lm_pruned",
    # --- stale round-6 cohort refresh, first 10 in registration order ---
    "scan_parquet", "scan_csv", "scan_json", "project_select",
    "filter_date_param", "filter_not_null", "filter_regex",
    "filter_expr", "case_when_flag", "join_inner",
]


def _reorder_registry() -> None:
    ordered = DRIVER_PRIORITY + [
        k for k in QUERIES if k not in DRIVER_PRIORITY
    ]
    for registry in (QUERIES, ORACLES):
        snapshot = dict(registry)
        registry.clear()
        registry.update(
            {k: snapshot[k] for k in ordered if k in snapshot}
        )


_reorder_registry()
