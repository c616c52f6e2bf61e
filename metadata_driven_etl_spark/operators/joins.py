"""Join operators (reference: gold fact⋈dim models + DQ referential integrity).

Reference evidence: gold_config.yaml:17,39,59-60 (inner equi-joins),
dq_engine.py:170-203 (left-join NULL-check anti pattern, inner-join "semi"
with its dup-multiplication hazard, flagged left join),
dq_engine.py:244-257 (self-join on group counts for uniqueness).

Scale notes: dimension sides get an explicit ``broadcast()`` hint when the
caller declares them small (star-schema dims at 100 TB are still MBs); the
uniqueness check is a single window aggregation (1 shuffle) instead of the
reference's groupBy+re-join (2 shuffles).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from metadata_driven_etl_spark.materialize import materialize


def join_inner(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | Column,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Inner equi-join; dim broadcast by default (fact⋈dim star shape)."""
    right = F.broadcast(dim) if broadcast_dim else dim
    return fact.join(right, on=on, how="inner")


def join_anti(df: DataFrame, ref: DataFrame, on: Sequence[str] | Column) -> DataFrame:
    """Rows of ``df`` with no match in ``ref``.

    The reference expresses this as LEFT JOIN + ``WHERE ref.key IS NULL``
    (dq_engine.py:170-179); ``left_anti`` is the same semantics with no flag
    column and lets Spark pick broadcast-anti physical plans.
    """
    return df.join(ref, on=on, how="left_anti")


def join_semi(df: DataFrame, ref: DataFrame, on: Sequence[str] | Column) -> DataFrame:
    """Rows of ``df`` with ≥1 match in ``ref``.

    True semi-join — immune to the row-multiplication hazard the reference
    works around by pre-distinct()ing the ref side (dq_engine.py:163,185-193).
    """
    return df.join(ref, on=on, how="left_semi")


def join_left_flag(
    df: DataFrame,
    ref: DataFrame,
    on: Sequence[str],
    flag_name: str = "dq_ref_flag",
) -> DataFrame:
    """Left join that only adds a VALID/INVALID membership flag.

    Reference: flagged RI variant, dq_engine.py:195-203. The ref side is
    reduced to its distinct join keys + a hit marker so no payload columns
    leak and duplicate ref keys can't multiply rows.
    """
    marker = ref.select(*on).distinct().withColumn("_hit", F.lit(1))
    joined = df.join(F.broadcast(marker), on=list(on), how="left")
    return joined.withColumn(
        flag_name,
        F.when(F.col("_hit").isNotNull(), F.lit("VALID")).otherwise(F.lit("INVALID")),
    ).drop("_hit")


def group_count_flag(
    df: DataFrame,
    keys: Sequence[str],
    count_name: str = "key_count",
    flag_name: str = "is_unique",
) -> DataFrame:
    """Per-row group cardinality + uniqueness flag in ONE shuffle.

    Reference does groupBy(keys).count() then a left self-join
    (dq_engine.py:244-257) — two shuffles of the full fact table. A window
    ``count(*) over (partition by keys)`` computes the same in one.
    """
    w = Window.partitionBy(*keys)
    return df.withColumn(count_name, F.count(F.lit(1)).over(w)).withColumn(
        flag_name, F.col(count_name) == 1
    )


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-resistant equi-join: salt the skewed side, replicate the other.

    For hot keys that overwhelm one reducer in a shuffle join. AQE's skew
    split (spark.sql.adaptive.skewJoin) handles most cases at runtime —
    prefer it; use explicit salting when AQE can't help: the skewed side
    feeds a downstream op pinned to the same partitioning, or the join is
    one AQE won't split. Cost model: the small side is replicated
    ``salt_buckets``× (must stay modest), the skewed side's hot key spreads
    over ``salt_buckets`` reducers.

    The salt on the skewed side is derived by hashing the row's full tuple
    (deterministic, no rand()): identical rows land in the same bucket but
    a hot KEY's many distinct rows spread uniformly.

    Skewed-side-preserving modes only (``inner``, ``left``/-outer,
    ``left_semi``, ``left_anti``): semi/anti are safe because each skewed
    row can only ever meet replicas carrying its own salt, so replication
    cannot duplicate or lose it. ``right``/``full`` outer would emit
    every unmatched SMALL-side key once per replica (``salt_buckets``
    duplicate rows) — silently wrong counts — and are rejected.
    """
    normalized_how = how.lower().replace("_", "").replace("outer", "")
    if normalized_how not in ("inner", "left", "leftsemi", "semi", "leftanti", "anti"):
        raise ValueError(
            "salted_join supports inner/left/left_semi/left_anti only: the "
            f"replicated small side corrupts unmatched-row counts under {how!r}"
        )
    on = list(on)
    salt_l = F.pmod(
        F.xxhash64(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in skewed.columns])),
        F.lit(salt_buckets),
    ).cast("int")
    left = skewed.withColumn("__salt", salt_l)
    right = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return left.join(right, on=on + ["__salt"], how=how).drop("__salt")


def blocked_levenshtein_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    max_dist: int = 3,
) -> DataFrame:
    """Record linkage: every unordered same-block pair within Levenshtein
    ``max_dist``. Output: (block, id_a, id_b, edit_dist), id_a < id_b.

    Scale contract: edit distance is O(len²) per comparison and the pair
    space is O(|block|²) per block, so the BLOCK KEY is the whole design —
    it must (a) never separate true matches and (b) keep blocks bounded
    (normalized domain, sorted-token prefix, an LSH band). The join itself
    is a plain equi-join on the block key: at 100 TB it hash-partitions by
    block and each reducer compares only its own blocks — choose a key
    with cardinality >> cluster cores so no reducer starves (for
    low-cardinality keys compose with :func:`salted_join`'s approach or
    pre-split giant blocks the way ``dedup.lsh_candidate_pairs`` caps
    bucket fan-out). The projected side is materialized once — a
    self-join gets no ReusedExchange, so without it the source scan and
    projection run twice (see
    :func:`~metadata_driven_etl_spark.materialize.materialize`).

    Two per-pair prunes keep the block-quadratic core cheap: a length
    band (``|len(a)-len(b)| > max_dist`` implies ``dist > max_dist``, and
    length compares are O(1) vs the O(len²) DP), then the thresholded
    ``levenshtein(_, _, max_dist)`` form, whose DP abandons a row pair
    the moment the running distance exceeds the cap (its band-limited DP
    is O(len × max_dist), and it returns -1 past the cap — for every
    SURVIVING pair the value equals the exact distance, so output is
    unchanged). On short uniform-length strings the prunes are marginal
    (measured: candidate-pair COUNT dominates) — block granularity is the
    real lever, see the workload's brand+type composite key (8M → 1.3M
    pairs, 7.1s → 2.6s at sf0.1).
    """
    src = materialize(
        df.select(
            F.col(block_col).alias("block"),
            F.col(id_col).alias("id_a"),
            F.col(text_col).alias("text_a"),
        ),
    )
    right = src.select(
        F.col("block"),
        F.col("id_a").alias("id_b"),
        F.col("text_a").alias("text_b"),
    )
    dist = F.levenshtein("text_a", "text_b", threshold=max_dist)
    return (
        src.join(right, "block")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.abs(F.length("text_a") - F.length("text_b")) <= F.lit(max_dist)
        )
        .where((dist >= 0) & (dist <= max_dist))
        .select("block", "id_a", "id_b", dist.alias("edit_dist"))
    )
