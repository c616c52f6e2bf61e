"""Property-based operator tests (hypothesis) — SURVEY.md §5 invariants."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from metadata_driven_etl_spark.operators.merge import upsert
from metadata_driven_etl_spark.operators.windows import dedup_row_number

ROWS = st.lists(
    st.tuples(st.integers(0, 20), st.integers(0, 1000)), min_size=0, max_size=40
)

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@given(target=ROWS, source=ROWS)
@settings(**_SETTINGS)
@pytest.mark.slow
def test_upsert_idempotent_and_key_unique(spark_global, target, source):
    """merge twice ≡ merge once; source wins on matched keys."""
    spark = spark_global
    schema = "k int, v int"
    # make sources key-unique (MERGE precondition, like Delta)
    src_rows = list({k: (k, v) for k, v in source}.values())
    tgt_rows = list({k: (k, v) for k, v in target}.values())
    tgt = spark.createDataFrame(tgt_rows, schema) if tgt_rows else spark.createDataFrame([], schema)
    src = spark.createDataFrame(src_rows, schema) if src_rows else spark.createDataFrame([], schema)

    once = upsert(tgt, src, ["k"])
    twice = upsert(once, src, ["k"])
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b
    # matched keys carry source values
    src_map = dict(src_rows)
    for k, v in a:
        if k in src_map:
            assert v == src_map[k]
    # key set is union
    assert {k for k, _ in a} == {k for k, _ in src_rows} | {k for k, _ in tgt_rows}


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_dedup_keeps_exactly_one_per_key(spark_global, rows):
    spark = spark_global
    df = (
        spark.createDataFrame(rows, "k int, v int")
        if rows
        else spark.createDataFrame([], "k int, v int")
    )
    out = dedup_row_number(df, ["k"], [F.desc("v")]).collect()
    keys = [r.k for r in out]
    assert len(keys) == len(set(keys))
    # survivor is the max-v row per key (deterministic order spec)
    expect = {}
    for k, v in rows:
        expect[k] = max(expect.get(k, v), v)
    assert {r.k: r.v for r in out} == expect


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salted skew join ≡ plain join (same multiset of result rows)."""
    from metadata_driven_etl_spark.catalog import load_table
    from metadata_driven_etl_spark.operators.joins import salted_join

    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    plain = lineitem.join(
        part.withColumnRenamed("p_partkey", "l_partkey"), "l_partkey"
    )
    salted = salted_join(
        lineitem,
        part.withColumnRenamed("p_partkey", "l_partkey"),
        on=["l_partkey"],
        salt_buckets=8,
    )
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_ivf_recall_and_exactness_at_full_probe(spark, sf_dir):
    """IVF with n_probe == n_cells is EXACT (equals brute force); with
    partial probing it returns well-formed top-k with decent recall."""
    from pyspark.sql import functions as F

    from metadata_driven_etl_spark.catalog import load_table
    from metadata_driven_etl_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(emb, queries, k=5).collect()
    }
    full = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_topk(emb, queries, k=5, n_cells=8, n_probe=8).collect()
    }
    assert full == exact

    part = sim.ivf_topk(emb, queries, k=5, n_cells=8, n_probe=3).collect()
    assert len(part) == 25  # 5 queries x k
    assert all(-1.0 <= r.cosine_sim <= 1.0 for r in part)
    got = {(r.query_id, r.neighbor_id) for r in part}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.2, f"recall {recall}"


def test_ivf_sampled_fit_and_persisted_index(spark, sf_dir):
    """The production index lifecycle: quantizer fit on a SAMPLE (a
    16-centroid fit never needs a 100 TB corpus), assignments persisted as
    a bucketed table on _cell, probe run against the stored index. At full
    probe the result must still be exact regardless of where the centroids
    came from (the quantizer only affects which cells are SKIPPED)."""
    from pyspark.sql import functions as F

    from metadata_driven_etl_spark.catalog import load_table
    from metadata_driven_etl_spark.io.writer import ParquetFormat
    from metadata_driven_etl_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    assigned, centroids = sim.ivf_build_index(
        emb, n_cells=8, seed=7, fit_fraction=0.3
    )
    tbl = "default.ivf_test_cells"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    ParquetFormat().overwrite_bucketed(
        assigned, tbl, bucket_cols=["_cell"], num_buckets=8
    )
    stored = spark.table(tbl)

    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(emb, queries, k=5).collect()
    }
    full = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_probe(
            stored, centroids, queries, k=5, n_probe=8
        ).collect()
    }
    assert full == exact

    part = sim.ivf_probe(stored, centroids, queries, k=5, n_probe=3)
    rows = part.collect()
    assert len(rows) == 25
    recall = len({(r.query_id, r.neighbor_id) for r in rows} & exact) / len(exact)
    assert recall >= 0.2, f"recall {recall}"


def test_asof_join_equals_theta_join(spark, sf_dir):
    """Union-window as-of ≡ naive theta join + latest-per-left (the
    quadratic reference semantics)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from metadata_driven_etl_spark.catalog import load_table
    from metadata_driven_etl_spark.operators.temporal import asof_join

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    left = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("rts"), F.col("value").alias("rval")
    )
    got = asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="rts",
        right_cols=["rts", "rval"],
    ).select("event_id", "asof_rts", "asof_rval")

    w = Window.partitionBy("event_id").orderBy(F.desc("rts"))
    naive = (
        left.join(right, "user_id", "left")
        .filter((F.col("rts") <= F.col("ts")) | F.col("rts").isNull())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "event_id",
            F.col("rts").alias("asof_rts"),
            F.col("rval").alias("asof_rval"),
        )
    )
    # left rows whose ONLY right rows are after ts drop out of the naive
    # join's filter — re-add them with nulls
    missing = left.join(naive, "event_id", "left_anti").select(
        "event_id",
        F.lit(None).cast("timestamp").alias("asof_rts"),
        F.lit(None).cast("double").alias("asof_rval"),
    )
    want = naive.unionByName(missing)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


@pytest.mark.slow
def test_scd2_idempotent_and_one_live_row_per_key(spark):
    """Re-applying the same updates at the same effective date is a no-op
    (live rows already carry the new attrs), and every key has exactly one
    live (valid_to IS NULL) row."""
    from metadata_driven_etl_spark.operators.merge import scd2_apply

    current = spark.createDataFrame(
        [
            (1, "a", "2020-01-01", None),
            (2, "b", "2020-01-01", None),
            (2, "old", "2019-01-01", "2020-01-01"),  # closed history
            (3, "c", "2020-01-01", None),
        ],
        "k int, attr string, valid_from string, valid_to string",
    ).select(
        "k",
        "attr",
        F.col("valid_from").cast("date").alias("valid_from"),
        F.col("valid_to").cast("date").alias("valid_to"),
    )
    updates = spark.createDataFrame(
        [(1, "a2"), (2, "b"), (4, "d")], "k int, attr string"
    )
    once = scd2_apply(current, updates, "k", ["attr"], "2021-06-01")
    twice = scd2_apply(once, updates, "k", ["attr"], "2021-06-01")
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b
    live = once.filter(F.col("valid_to").isNull())
    assert live.count() == live.select("k").distinct().count() == 4
    # changed key 1: old row closed at effective date, new live row carries a2
    rows_1 = {tuple(r) for r in once.filter("k = 1").collect()}
    import datetime

    eff = datetime.date(2021, 6, 1)
    assert (1, "a2", eff, None) in rows_1
    assert any(r[3] == eff and r[1] == "a" for r in rows_1)
    # untouched key 2 keeps history + unchanged live row
    assert once.filter("k = 2").count() == 2
    # fresh key 4 inserted live
    assert once.filter("k = 4 AND valid_to IS NULL").count() == 1


def test_connected_components_fixpoint(spark):
    """Every edge ends up intra-cluster; labels are component minima."""
    from metadata_driven_etl_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id long")
    # components: {1,2,3,4} chain, {5,6} pair, {7}, {8} isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(nodes, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7, 8: 8}


def _files_under(path: str) -> list:
    import pathlib

    return [p for p in pathlib.Path(path).rglob("*") if p.is_file()]


def _jobs_started_by(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts (counted by job group)."""
    import uuid

    sc = spark.sparkContext
    gid = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def test_materialize_policy_follows_session_checkpoint_dir(
    spark, durable_checkpoints
):
    """One policy, no per-call knob: with no session checkpoint dir,
    ``materialize`` is a localCheckpoint (lazy starts no job, eager
    exactly one); once the session has a dir, an operator called with no
    argument writes reliable-checkpoint files there and leaks no
    persisted RDD."""
    from metadata_driven_etl_spark.materialize import materialize
    from metadata_driven_etl_spark.operators.dedup import connected_components

    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    assert _jobs_started_by(spark, lambda: materialize(df)) == 0
    assert _jobs_started_by(spark, lambda: materialize(df, eager=True)) == 1

    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keys())
    with durable_checkpoints() as ckpt:
        got = {
            r.doc_id: r.cluster_id
            for r in connected_components(nodes, pairs).collect()
        }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7, 8: 8}
    assert _files_under(ckpt), "no reliable checkpoint files written"
    assert not set(persisted().keys()) - before, "persisted RDD leaked"


def test_connected_components_durable_checkpoint(spark, durable_checkpoints):
    """With a session checkpoint dir, lineage truncation uses reliable
    checkpoint() (survives executor loss on a real cluster); results
    must be identical to the localCheckpoint default."""
    from metadata_driven_etl_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    local = {
        r.doc_id: r.cluster_id
        for r in connected_components(nodes, pairs).collect()
    }
    with durable_checkpoints() as ckpt:
        durable = {
            r.doc_id: r.cluster_id
            for r in connected_components(nodes, pairs).collect()
        }
    assert local == durable == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7, 8: 8}
    assert _files_under(ckpt), "no checkpoint files written"


def test_approx_percentile_within_tolerance(spark, sf_dir):
    """Sketch path vs exact path: approx_percentile(accuracy=10000) must
    land within a small rank neighborhood of the exact percentile."""
    from metadata_driven_etl_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    approx = {
        r.l_returnflag: r.ps
        for r in li.groupBy("l_returnflag")
        .agg(F.expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 10000)").alias("ps"))
        .collect()
    }
    for flag, (a50, a90) in approx.items():
        vals = sorted(
            r.l_extendedprice
            for r in li.filter(F.col("l_returnflag") == flag)
            .select("l_extendedprice")
            .collect()
        )
        n = len(vals)
        for q, got in ((0.5, a50), (0.9, a90)):
            # rank of the returned value must be within ±1% of n around q
            import bisect

            lo = bisect.bisect_left(vals, got)
            hi = bisect.bisect_right(vals, got)
            target = q * n
            assert lo - 0.01 * n - 1 <= target <= hi + 0.01 * n + 1, (
                flag, q, got, lo, hi, n
            )


def test_incremental_dedup_survivor_semantics(spark):
    """Keep-first contract of incremental_dedup_survivors: a batch doc is
    dropped iff it LSH-collides with the corpus index or with a
    lower-id batch doc; everything else passes through unchanged."""
    from metadata_driven_etl_spark.operators import dedup

    corpus_txt = "the quick brown fox jumps over the lazy dog again and again"
    unique_txt = "completely unrelated content about spark physical planning"
    batch_dup_txt = "another duplicated passage that appears twice in batch"
    corpus = spark.createDataFrame(
        [(1, corpus_txt)], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (10, corpus_txt),      # collides with corpus -> dropped
            (11, unique_txt),      # unique -> survives
            (12, batch_dup_txt),   # first of in-batch pair -> survives
            (13, batch_dup_txt),   # later twin -> dropped
        ],
        ["doc_id", "text"],
    )
    index = dedup.lsh_bands(corpus)
    out = dedup.incremental_dedup_survivors(batch, index)
    assert sorted(r.doc_id for r in out.collect()) == [11, 12]
    # survivors keep their full rows
    assert set(out.columns) == {"doc_id", "text"}


def test_cc_converges_on_adversarial_long_paths(spark):
    """VERDICT r3 item 7: LSH graphs have diameter <=3, but CC must stay
    correct on adversarially deep graphs — a 24-node path and an 18-node
    cycle (diameter >> check_every*2), ids shuffled so the min label sits
    at one END of the path and must propagate the full length."""
    from metadata_driven_etl_spark.operators.dedup import connected_components

    # path: ids 100..123 chained, then relabel so the minimum (7) is the
    # far endpoint; cycle: 200..217 ring with min (1) somewhere inside
    path_ids = [7] + list(range(101, 124))  # min at position 0
    path_edges = [
        (min(a, b), max(a, b))
        for a, b in zip(path_ids, path_ids[1:], strict=False)
    ]
    cycle_ids = list(range(200, 209)) + [1] + list(range(209, 217))
    cycle_pairs = list(zip(cycle_ids, cycle_ids[1:], strict=False)) + [
        (cycle_ids[-1], cycle_ids[0])
    ]
    cycle_edges = [(min(a, b), max(a, b)) for a, b in cycle_pairs]
    all_ids = path_ids + cycle_ids + [999]  # 999 isolated
    nodes = spark.createDataFrame([(i,) for i in all_ids], "doc_id long")
    pairs = spark.createDataFrame(
        path_edges + cycle_edges, "id_a long, id_b long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(nodes, pairs, max_iter=50).collect()
    }
    assert {got[i] for i in path_ids} == {7}
    assert {got[i] for i in cycle_ids} == {1}
    assert got[999] == 999


def test_cc_max_iter_exhaustion_partial_labels(spark):
    """The documented partial-label contract on max_iter exhaustion.

    With the r12 Borůvka contraction a MONOTONE-id path collapses in one
    round (the merge map is a single chain, compressed to its minimum),
    so the adversarial graph is a path with SHUFFLED ids: local minima
    along the path become separate classes and merging needs ~log2
    rounds. max_iter=2 (fused round + one contraction) must leave the
    labels PARTIAL but well-formed — every label a reachable id <= the
    node's own id, so equal labels never falsely merge — while at least
    one node remains under-merged (not fully converged)."""
    import random

    from metadata_driven_etl_spark.operators.dedup import connected_components

    n = 64
    ids = list(range(n))
    random.Random(7).shuffle(ids)
    nodes = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    pairs = spark.createDataFrame(
        [(ids[k], ids[k + 1]) for k in range(n - 1)], "id_a long, id_b long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(nodes, pairs, max_iter=2).collect()
    }
    assert set(got) == set(range(n))
    for i, label in got.items():
        assert 0 <= label <= i  # never above the node's own id
    assert any(label > 0 for label in got.values()), (
        "a 64-node shuffled-id path must NOT converge in 2 rounds - if it "
        "did, the exhaustion contract is untested"
    )
    # raising max_iter past the ~log2(n) contraction depth converges fully
    full = {
        r.doc_id: r.cluster_id
        for r in connected_components(nodes, pairs, max_iter=40).collect()
    }
    assert set(full.values()) == {0}


def test_bigram_lm_min_freq_floor(spark, sf_dir):
    """KenLM-style pruning floor contract (VERDICT r4 item 8):

    1. min_freq=1 (the default) is bit-identical to the unpruned model —
       every observed bigram has corpus frequency ≥ 1.
    2. On a corpus with a singleton long tail, min_freq=2 drops singleton
       bigrams from the MODEL: repeated bigrams keep their exact
       frequencies, docs made only of singleton bigrams drop out, and
       surviving scores match the brute-force expectation.
    """
    from metadata_driven_etl_spark.catalog import load_table
    from metadata_driven_etl_spark.operators.text import bigram_lm_score

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = {tuple(r) for r in bigram_lm_score(docs).collect()}
    explicit = {tuple(r) for r in bigram_lm_score(docs, min_freq=1).collect()}
    assert base == explicit and base

    # "alpha beta" occurs in docs 1+2 (freq 2); every other bigram is a
    # singleton. Doc 3 is all-singleton → pruned out entirely at floor 2.
    tiny = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta delta"),
            (3, "unique words only here"),
        ],
        "doc_id long, text string",
    )
    pruned = {
        (r.doc_id, r.n_bigrams, r.avg_bigram_freq)
        for r in bigram_lm_score(tiny, min_freq=2).collect()
    }
    assert pruned == {(1, 1, 2.0), (2, 1, 2.0)}


def test_lsh_bucket_cap_subset_and_default_parity(spark, sf_dir):
    """Bucket-cap contract (VERDICT r4 item 7):

    1. On a degenerate corpus where the cap BITES, capped candidate pairs
       are a strict subset of uncapped pairs (capping only drops, never
       invents).
    2. On the organic test corpus the shipped default cap
       (DEFAULT_MAX_BUCKET_SIZE=32, far above the max observed bucket of
       9 at sf0.1) changes NOTHING: pairs and final minhash clusters are
       identical to uncapped — the 100 TB posture on by default with
       exact semantics preserved.
    """
    from metadata_driven_etl_spark.catalog import load_table
    from metadata_driven_etl_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET_SIZE,
        connected_components,
        lsh_candidate_pairs,
    )

    # 1. degenerate bucket: 12 near-identical docs + 2 organic near-dups
    rows = [(i, "the quick brown fox jumps over the lazy dog again") for i in range(12)]
    rows += [
        (100, "completely different text about spark partitions and shuffles here"),
        (101, "completely different text about spark partitions and shuffles there"),
    ]
    deg = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {tuple(r) for r in lsh_candidate_pairs(deg, max_bucket_size=None).collect()}
    capped = {tuple(r) for r in lsh_candidate_pairs(deg, max_bucket_size=4).collect()}
    assert capped < uncapped  # strict: the 12-doc bucket pairs are gone
    assert (100, 101) in capped  # organic small-bucket pairs survive

    # 2. shipped default is a no-op on the organic test corpus
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base_pairs = lsh_candidate_pairs(docs, max_bucket_size=None)
    dflt_pairs = lsh_candidate_pairs(docs)  # default = DEFAULT_MAX_BUCKET_SIZE
    assert DEFAULT_MAX_BUCKET_SIZE == 32
    b = {tuple(r) for r in base_pairs.collect()}
    d = {tuple(r) for r in dflt_pairs.collect()}
    assert b == d and b
    nodes = docs.select("doc_id")
    cl_base = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(nodes, base_pairs).collect()
    }
    cl_dflt = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(nodes, dflt_pairs).collect()
    }
    assert cl_base == cl_dflt


@pytest.mark.slow
def test_lsh_pairs_durable_checkpoint_seam(spark, sf_dir, durable_checkpoints):
    """The bands/shingle-set materializations take the durable path when
    the session has a checkpoint dir: results must be identical to the
    localCheckpoint default, and checkpoint files land on disk."""
    from metadata_driven_etl_spark.catalog import load_table
    from metadata_driven_etl_spark.operators.dedup import (
        lsh_candidate_pairs,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = {tuple(r) for r in lsh_candidate_pairs(docs).collect()}
    jac_base = {tuple(r) for r in ngram_jaccard_pairs(docs).collect()}
    with durable_checkpoints() as ckpt:
        durable = {tuple(r) for r in lsh_candidate_pairs(docs).collect()}
        jac_durable = {tuple(r) for r in ngram_jaccard_pairs(docs).collect()}
    assert base == durable and base
    assert jac_base == jac_durable
    assert _files_under(ckpt), "no checkpoint files"


# --- funnel_steps ------------------------------------------------------------


def _funnel(spark, rows):
    import datetime as _dt

    from metadata_driven_etl_spark.operators.temporal import funnel_steps

    base = _dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (i, u, t, base + _dt.timedelta(minutes=m))
            for i, (u, t, m) in enumerate(rows)
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    out = funnel_steps(
        df, steps=("view", "click", "purchase"), window="30 minutes"
    )
    return {r["user_id"]: r["funnel_step"] for r in out.collect()}


def test_funnel_orders_and_windows(spark):
    got = _funnel(
        spark,
        [
            # u1: full ordered funnel inside the window -> 3
            (1, "view", 0), (1, "click", 10), (1, "purchase", 20),
            # u2: click BEFORE any view -> click never qualifies -> 1
            (2, "click", 0), (2, "view", 10), (2, "purchase", 20),
            # u3: click 40min after the only view -> window expired -> 1
            (3, "view", 0), (3, "click", 40), (3, "purchase", 50),
            # u4: no view at all -> 0
            (4, "click", 0), (4, "purchase", 10),
            # u5: purchase too late after the qualifying click -> 2
            (5, "view", 0), (5, "click", 20), (5, "purchase", 60),
        ],
    )
    assert got == {1: 3, 2: 1, 3: 1, 4: 0, 5: 2}


def test_funnel_uses_latest_qualifying_step(spark):
    # The window is measured from the LATEST qualifying previous step:
    # view@0, click@25 (qualifies), purchase@50 is 25min after the click.
    got = _funnel(
        spark, [(7, "view", 0), (7, "click", 25), (7, "purchase", 50)]
    )
    assert got == {7: 3}


def test_funnel_strict_order_is_prior_row(spark):
    # A purchase at the exact ts of the click is NOT after it in
    # (ts, event_id) order when its event_id sorts first.
    import datetime as _dt

    from metadata_driven_etl_spark.operators.temporal import funnel_steps

    base = _dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (2, 9, "view", base),
            (1, 9, "purchase", base + _dt.timedelta(minutes=5)),
            (0, 9, "click", base + _dt.timedelta(minutes=5)),
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    out = funnel_steps(
        df, steps=("view", "click", "purchase"), window="30 minutes"
    ).collect()
    # click (event_id 0) sorts before purchase (event_id 1) at the same
    # ts, so the purchase sees a prior qualifying click -> depth 3
    assert out[0]["funnel_step"] == 3


def test_funnel_single_shuffle_plan(spark, sf_dir):
    """SCALE.md: both window levels + the closing agg ride ONE exchange."""
    from metadata_driven_etl_spark import workloads

    df = workloads.QUERIES["funnel_conversion_steps"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 1, plan


# --- quantize_int8 -----------------------------------------------------------


def test_quantize_int8_values_and_edges(spark):
    from metadata_driven_etl_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [
            (1, [0.5, -1.0, 0.25]),
            (2, [0.0, 0.0]),          # zero vector: scale 0, all-zero codes
            (3, [-2.0]),              # single negative: max |x| itself
        ],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    assert rows[1]["qvec"] == [64, -127, 32] and rows[1]["scale"] == 1.0
    assert rows[2]["qvec"] == [0, 0] and rows[2]["scale"] == 0.0
    assert rows[3]["qvec"] == [-127] and rows[3]["scale"] == 2.0
    # codes always within int8 range
    assert all(-127 <= q <= 127 for r in rows.values() for q in r["qvec"])


# --- bigrams -----------------------------------------------------------------


def test_bigrams_shape(spark):
    from metadata_driven_etl_spark.operators.text import bigrams

    df = spark.createDataFrame(
        [(1, "The quick, brown fox!"), (2, "one"), (3, "")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["b"]
        for r in df.select("doc_id", bigrams("text").alias("b")).collect()
    }
    assert got[1] == ["the quick", "quick brown", "brown fox"]
    assert got[2] == [] and got[3] == []


# --- funnel ≡ brute force ----------------------------------------------------

_FUNNEL_EVENTS = st.lists(
    st.tuples(
        st.integers(0, 3),            # user
        st.sampled_from(["view", "click", "purchase", "other"]),
        st.integers(0, 120),          # minutes offset (ties allowed)
    ),
    min_size=0,
    max_size=30,
)


def _brute_funnel(rows, steps, window_min):
    """Reference semantics: scan each user's events in (ts, event_id)
    order, tracking the latest qualifying ts per level."""
    out = {}
    by_user = {}
    for eid, (u, t, m) in enumerate(rows):
        by_user.setdefault(u, []).append((m, eid, t))
    for u, evs in by_user.items():
        evs.sort()
        latest = [None] * len(steps)   # latest qualifying ts per level
        reached = [0] * len(steps)
        for m, _eid, t in evs:
            for k, step in enumerate(steps):
                if t != step:
                    continue
                if k == 0:
                    qual = True
                else:
                    prev = latest[k - 1]
                    qual = prev is not None and prev > m - window_min
                if qual:
                    reached[k] = 1
                    latest[k] = m if latest[k] is None else max(latest[k], m)
                break
        out[u] = sum(reached)
    return out


@given(rows=_FUNNEL_EVENTS)
@settings(**_SETTINGS)
def test_funnel_matches_brute_force(spark_global, rows):
    import datetime as _dt

    from metadata_driven_etl_spark.operators.temporal import funnel_steps

    spark = spark_global
    base = _dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (eid, u, t, base + _dt.timedelta(minutes=m))
            for eid, (u, t, m) in enumerate(rows)
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    got = {
        r["user_id"]: r["funnel_step"]
        for r in funnel_steps(
            df, steps=("view", "click", "purchase"), window="30 minutes"
        ).collect()
    }
    assert got == _brute_funnel(rows, ("view", "click", "purchase"), 30)


def _brute_funnel_from_first(rows, steps, window_min):
    """Reference semantics for mode='from_first' (ClickHouse windowFunnel
    rule): a chain counts only while within window of its FIRST event.
    Tracks the max attainable chain-start per level (greedy max anchor is
    optimal — the window constraint always prefers a later start)."""
    out = {}
    by_user = {}
    for eid, (u, t, m) in enumerate(rows):
        by_user.setdefault(u, []).append((m, eid, t))
    for u, evs in by_user.items():
        evs.sort()
        anchor = [None] * len(steps)   # max chain-start per level
        reached = [0] * len(steps)
        for m, _eid, t in evs:
            for k, step in enumerate(steps):
                if t != step:
                    continue
                if k == 0:
                    reached[0] = 1
                    anchor[0] = m if anchor[0] is None else max(anchor[0], m)
                else:
                    prev = anchor[k - 1]
                    if prev is not None and prev > m - window_min:
                        reached[k] = 1
                        anchor[k] = (
                            prev if anchor[k] is None else max(anchor[k], prev)
                        )
                break
        out[u] = sum(reached)
    return out


@given(rows=_FUNNEL_EVENTS)
@settings(**_SETTINGS)
def test_funnel_from_first_matches_brute_force(spark_global, rows):
    import datetime as _dt

    from metadata_driven_etl_spark.operators.temporal import funnel_steps

    spark = spark_global
    base = _dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (eid, u, t, base + _dt.timedelta(minutes=m))
            for eid, (u, t, m) in enumerate(rows)
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    got = {
        r["user_id"]: r["funnel_step"]
        for r in funnel_steps(
            df,
            steps=("view", "click", "purchase"),
            window="30 minutes",
            mode="from_first",
        ).collect()
    }
    assert got == _brute_funnel_from_first(
        rows, ("view", "click", "purchase"), 30
    )


def test_funnel_modes_diverge_for_slow_multi_step_user(spark):
    """The documented semantic difference: view@0, click@25, purchase@50
    completes per_step (each hop < 30min) but NOT from_first (50min from
    the chain's first event)."""
    import datetime as _dt

    from metadata_driven_etl_spark.operators.temporal import funnel_steps

    base = _dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (0, 7, "view", base),
            (1, 7, "click", base + _dt.timedelta(minutes=25)),
            (2, 7, "purchase", base + _dt.timedelta(minutes=50)),
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    kw = dict(steps=("view", "click", "purchase"), window="30 minutes")
    per_step = funnel_steps(df, **kw).collect()[0]["funnel_step"]
    strict = funnel_steps(df, mode="from_first", **kw).collect()[0][
        "funnel_step"
    ]
    assert (per_step, strict) == (3, 2)


def test_funnel_rejects_unknown_mode(spark):
    import pytest as _pytest

    from metadata_driven_etl_spark.operators.temporal import funnel_steps

    df = spark.createDataFrame(
        [], "event_id long, user_id long, event_type string, ts timestamp"
    )
    with _pytest.raises(ValueError, match="mode"):
        funnel_steps(df, steps=("a", "b"), mode="bogus")


def test_funnel_null_event_type_counts_as_no_step(spark):
    """A NULL event_type is 'not this step' (0), matching the SQL
    oracle's CASE ... ELSE 0 — not NULL propagated through max()."""
    import datetime as _dt

    from metadata_driven_etl_spark.operators.temporal import funnel_steps

    base = _dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(0, 11, None, base), (1, 11, None, base + _dt.timedelta(minutes=1)),
         (2, 12, None, base), (3, 12, "view", base + _dt.timedelta(minutes=1))],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    got = {
        r["user_id"]: r["funnel_step"]
        for r in funnel_steps(
            df, steps=("view", "click", "purchase"), window="30 minutes"
        ).collect()
    }
    assert got == {11: 0, 12: 1}


_VECS = st.lists(
    st.lists(
        st.floats(
            min_value=-100.0, max_value=100.0,
            allow_nan=False, allow_infinity=False, width=32,
        ),
        min_size=1,
        max_size=8,
    ),
    min_size=1,
    max_size=6,
)


@given(vecs=_VECS)
@settings(**_SETTINGS)
def test_quantize_int8_reconstruction_error_bound(spark_global, vecs):
    """The compression guarantee: dequantized values (q * scale / 127)
    sit within half a quantization step (scale/254) of the input — the
    bound that makes int8 storage lossless enough for cosine retrieval."""
    from metadata_driven_etl_spark.operators.similarity import quantize_int8

    spark = spark_global
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    rows = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    for vid, vec in enumerate(vecs):
        scale, qvec = rows[vid]["scale"], rows[vid]["qvec"]
        if scale == 0.0:
            assert all(q == 0 for q in qvec)
            continue
        step = scale / 127.0
        for x32, q in zip(vec, qvec):
            # compare against the float32 value Spark actually stored
            import struct

            x = struct.unpack("f", struct.pack("f", x32))[0]
            assert abs(x - q * step) <= step / 2 + 1e-9 * scale, (
                vid, x, q, scale
            )


def test_snapshot_diff_classifies_changes(spark):
    """Null-safe comparison: NULL→value and value→NULL are updates;
    unchanged keys are omitted entirely."""
    from metadata_driven_etl_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d"), (6, "f")],
        "k long, v string",
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, "c"), (5, "e"), (6, None)],
        "k long, v string",
    )
    out = {r.k: r.change_type for r in snapshot_diff(old, new, ["k"]).collect()}
    assert out == {
        2: "updated",
        3: "updated",   # NULL -> 'c'
        4: "deleted",
        5: "inserted",
        6: "updated",   # 'f' -> NULL
    }


def test_snapshot_diff_key_only_table(spark):
    """With no payload columns, presence is the only signal — updated
    can never fire."""
    from metadata_driven_etl_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame([(1,), (2,)], "k long")
    new = spark.createDataFrame([(2,), (3,)], "k long")
    out = {r.k: r.change_type for r in snapshot_diff(old, new, ["k"]).collect()}
    assert out == {1: "deleted", 3: "inserted"}


def test_salted_join_rejects_outer_how(spark):
    """The replicated small side emits salt_buckets copies of every
    unmatched key under right/full outer — the operator must refuse."""
    from metadata_driven_etl_spark.operators.joins import salted_join

    a = spark.createDataFrame([(1, "x"), (3, "y")], "k long, v string")
    b = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, w double")
    for how in ("full_outer", "right", "fullouter"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(a, b, on=["k"], how=how)
    # skewed-side-preserving modes stay supported and correct: each
    # skewed row only meets replicas of its own salt, so semi/anti
    # cannot duplicate or lose rows
    assert salted_join(a, b, on=["k"], how="left").count() == 2
    assert {r.k for r in salted_join(a, b, on=["k"], how="left_semi").collect()} == {1}
    assert {r.k for r in salted_join(a, b, on=["k"], how="left_anti").collect()} == {3}


def test_materialize_durable_path_does_not_leak_cache(
    spark, durable_checkpoints
):
    """persist()→checkpoint(eager)→unpersist: after a durable
    materialization no CacheManager entry may linger (one leaked per
    convergence block inside connected_components otherwise)."""
    from metadata_driven_etl_spark.materialize import materialize

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    with durable_checkpoints():
        out = materialize(spark.range(1000).selectExpr("id", "id * 2 AS v"))
    assert out.count() == 1000  # durable checkpoint materialized eagerly
    assert jsc.getPersistentRDDs().size() == before


def test_blocked_levenshtein_durable_checkpoint_seam(
    spark, durable_checkpoints
):
    """With a session checkpoint dir the projected side goes through a
    reliable checkpoint, and results are unchanged."""
    from metadata_driven_etl_spark.operators.joins import (
        blocked_levenshtein_pairs,
    )

    df = spark.createDataFrame(
        [(1, "alpha", "b1"), (2, "alphb", "b1"), (3, "zzzzz", "b1")],
        "id long, name string, blk string",
    )
    with durable_checkpoints() as ckpt:
        out = blocked_levenshtein_pairs(
            df, "id", "name", "blk", max_dist=2
        ).collect()
    assert {(r.id_a, r.id_b, r.edit_dist) for r in out} == {(1, 2, 1)}
    assert _files_under(ckpt), "no reliable checkpoint files written"


# ---------------------------------------------------------------------------
# incremental_agg_update: delta maintenance ≡ full re-aggregation
# ---------------------------------------------------------------------------


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 30),                         # row key
            st.sampled_from([None, 0, 1, 2, 3]),        # group (NULL real)
            st.integers(-100, 100),                     # measure
        ),
        min_size=0,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    ops=st.lists(
        st.tuples(
            st.integers(0, 40),          # key to delete/update/insert
            st.sampled_from([None, 0, 1, 2, 3]),
            st.integers(-100, 100),
            st.sampled_from(["del", "put"]),
        ),
        min_size=0,
        max_size=15,
        unique_by=lambda t: t[0],
    ),
)
@pytest.mark.slow
def test_incremental_agg_equals_full_recompute(spark_global, rows, ops):
    """Retraction-based maintenance reproduces a full groupBy of the new
    snapshot exactly — including groups that empty out (deleted keys),
    groups born in the delta (inserted keys), and the NULL group (a full
    groupBy puts NULL keys in one real group; the delta-apply join must
    match it null-safely or retractions are lost)."""
    from metadata_driven_etl_spark.operators.merge import (
        incremental_agg_update,
    )

    spark = spark_global
    old_map = {k: (g, v) for k, g, v in rows}
    new_map = dict(old_map)
    for k, g, v, kind in ops:
        if kind == "del":
            new_map.pop(k, None)
        else:
            new_map[k] = (g, v)
    to_df = lambda m: spark.createDataFrame(  # noqa: E731
        [(k, g, v) for k, (g, v) in m.items()] or [(None, None, None)],
        "k int, g int, v int",
    ).where(F.col("k").isNotNull())
    old, new = to_df(old_map), to_df(new_map)
    base = old.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("v"), F.lit(0)).alias("sv"),
    )
    got = incremental_agg_update(
        base, old, new,
        keys=["k"], group_keys=["g"],
        sum_cols={"sv": "v"}, count_col="n",
    )
    want = new.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("v"), F.lit(0)).alias("sv"),
    )
    nulls_last = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    assert sorted(map(tuple, got.collect()), key=nulls_last) == sorted(
        map(tuple, want.collect()), key=nulls_last
    )


def test_split_by_group_purity_stability_and_validation(spark, sf_dir):
    """Every group maps to exactly one split; re-cutting with an extra
    later split never moves rows already assigned to earlier splits (the
    stability property); malformed weights raise."""
    from metadata_driven_etl_spark.catalog import load_table
    from metadata_driven_etl_spark.operators.sampling import split_by_group

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    two = split_by_group(docs, "source", [("train", 0.9), ("rest", 0.1)])
    three = split_by_group(
        docs, "source", [("train", 0.9), ("valid", 0.05), ("test", 0.05)]
    )
    impure = (
        three.groupBy("source")
        .agg(F.countDistinct("split").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert impure == 0
    # stability: the train cut is the same prefix of the hash line
    t2 = {r.doc_id for r in two.filter(F.col("split") == "train").collect()}
    t3 = {r.doc_id for r in three.filter(F.col("split") == "train").collect()}
    assert t2 == t3 and t3

    with pytest.raises(ValueError, match="sum to 1"):
        split_by_group(docs, "source", [("a", 0.5), ("b", 0.4)])
    with pytest.raises(ValueError, match="positive"):
        split_by_group(docs, "source", [("a", 1.5), ("b", -0.5)])
    with pytest.raises(ValueError, match="non-empty"):
        split_by_group(docs, "source", [])


# --- interval overlap join ≡ brute force -------------------------------------

_INTERVALS = st.lists(
    st.tuples(
        st.integers(0, 2),      # optional equi-key
        st.integers(0, 50),     # start
        st.integers(0, 30),     # length (end = start + length)
    ),
    min_size=0,
    max_size=20,
)


def _brute_overlap(left, right, with_key):
    out = set()
    for i, (ka, sa, la) in enumerate(left):
        for j, (kb, sb, lb) in enumerate(right):
            if with_key and ka != kb:
                continue
            if sa <= sb + lb and sb <= sa + la:
                out.add((i, j))
    return out


@given(left=_INTERVALS, right=_INTERVALS,
       bin_width=st.sampled_from([1, 7, 64]),
       with_key=st.booleans())
@settings(**_SETTINGS)
def test_interval_overlap_matches_brute_force(
    spark_global, left, right, bin_width, with_key
):
    """Bin-exploded interval join ≡ nested-loop overlap, for bin widths
    smaller than, comparable to, and larger than the interval spans —
    and EXACTLY once per pair (the greatest-start bin pin dedups)."""
    from metadata_driven_etl_spark.operators.temporal import (
        interval_overlap_join,
    )

    spark = spark_global
    schema = "rid long, k long, start long, end long"
    lf = spark.createDataFrame(
        [(i, k, s, s + ln) for i, (k, s, ln) in enumerate(left)], schema
    )
    rf = spark.createDataFrame(
        [(j, k, s, s + ln) for j, (k, s, ln) in enumerate(right)], schema
    )
    joined = interval_overlap_join(
        lf, rf, keys=["k"] if with_key else (), bin_width=bin_width
    ).select(F.col("l.rid").alias("a"), F.col("r.rid").alias("b"))
    rows = [(r["a"], r["b"]) for r in joined.collect()]
    assert len(rows) == len(set(rows)), "pair emitted more than once"
    assert set(rows) == _brute_overlap(left, right, with_key)


def test_pagerank_fixed_point_hand_computed(spark_global):
    """One damped round on the path graph A-B-C (symmetrized), scale=100:
    base = 15; A and C receive floor(100/2)=50 from B -> 15+42=57; B
    receives 100 from each endpoint -> 15+170=185. Exact integer
    recurrence, no tolerance."""
    from metadata_driven_etl_spark.operators.graph import pagerank_fixed_point

    spark = spark_global
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "A"), ("B", "C"), ("C", "B")], "src string, dst string"
    )
    out = {
        r["node"]: r["rank"]
        for r in pagerank_fixed_point(edges, iterations=1, scale=100).collect()
    }
    assert out == {"A": 57, "B": 185, "C": 57}


def test_pagerank_mass_bounds(spark_global):
    """Damped fixed-point ranks stay within [base, base + num*total/den]:
    total mass is (almost) conserved up to floor loss — every node's rank
    is >= the teleport base, and the grand total never exceeds the
    initial |V|*scale (floor division only ever discards mass)."""
    from metadata_driven_etl_spark.operators.graph import pagerank_fixed_point

    spark = spark_global
    # K4 complete graph, directed both ways
    nodes = list("ABCD")
    edges = spark.createDataFrame(
        [(a, b) for a in nodes for b in nodes if a != b], "src string, dst string"
    )
    out = pagerank_fixed_point(edges, iterations=4, scale=10**6)
    rows = out.collect()
    assert len(rows) == 4
    total = sum(r["rank"] for r in rows)
    assert total <= 4 * 10**6
    assert all(r["rank"] >= 150_000 for r in rows)
    # symmetric graph: uniform stationary distribution -> equal ranks
    assert len({r["rank"] for r in rows}) == 1


_WORDS = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]),
    min_size=3,
    max_size=12,
)
_DOCSET = st.lists(_WORDS, min_size=2, max_size=10)


@given(docs=_DOCSET, threshold=st.sampled_from([0.2, 0.4, 0.7]))
@settings(**_SETTINGS)
@pytest.mark.slow
def test_jaccard_prefix_filter_matches_brute_force(
    spark_global, docs, threshold
):
    """Prefix filtering must lose NOTHING: output ≡ the nested-loop exact
    Jaccard join, at thresholds below/at/above typical near-dup settings
    (the candidate set is a guaranteed superset; verification trims it)."""
    from metadata_driven_etl_spark.operators.dedup import (
        jaccard_prefix_pairs,
        shingles,
    )

    spark = spark_global
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r["id_a"], r["id_b"])
        for r in jaccard_prefix_pairs(df, threshold=threshold).collect()
    }

    sets_ = {
        r["doc_id"]: set(r["s"])
        for r in df.select(
            "doc_id", shingles("text", 3).alias("s")
        ).collect()
        if r["s"]
    }
    want = set()
    ids = sorted(sets_)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets_[a] & sets_[b])
            union = len(sets_[a] | sets_[b])
            if union and round(inter / union, 6) >= threshold:
                want.add((a, b))
    assert got == want


def test_jaccard_prefix_exact_float_boundary(spark_global):
    """r6 review: threshold*size in floats overshoots the exact product
    (0.28 * 25 = 7.000000000000001), which silently dropped a TRUE
    boundary pair (J = 7/25 = 0.28 exactly). The candidate bounds now run
    in exact integer arithmetic — this pins the scenario: a 27-token doc
    (25 shingles) containing a 9-token doc (7 shingles, all shared)."""
    from metadata_driven_etl_spark.operators.dedup import jaccard_prefix_pairs

    spark = spark_global
    toks = [f"w{i}" for i in range(27)]
    df = spark.createDataFrame(
        [(1, " ".join(toks)), (2, " ".join(toks[:9]))],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in jaccard_prefix_pairs(df, threshold=0.28).collect()
    }
    assert got == {(1, 2, 0.28)}


def test_winsorize_keeps_null_group_rows(spark_global):
    """r6 review: the stats re-join must be null-safe — a NULL group must
    be clipped against ITS OWN percentile band, never dropped."""
    from metadata_driven_etl_spark.operators.profiling import winsorize

    spark = spark_global
    rows = [("a", float(v)) for v in range(1, 11)] + [
        (None, 0.0), (None, 5.0), (None, 100.0)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = winsorize(df, "v", group_cols=["g"], lower_q=0.0, upper_q=0.5)
    assert out.count() == df.count()
    null_clipped = {r["v_clipped"] for r in out.filter(F.col("g").isNull()).collect()}
    # upper_q=0.5 over {0, 5, 100} clips 100 down to the median 5
    assert null_clipped == {0.0, 5.0}


def test_pagerank_directed_ranks_full_universe(spark_global):
    """r6 review: a directed path A→B→C must rank ALL THREE nodes every
    round — A (no in-edges) holds the teleport base and keeps feeding B;
    C (dangling) is ranked but re-emits nothing. scale=100, 1 round:
    A=15, B=15+floor(85*100/100)=100, C=100."""
    from metadata_driven_etl_spark.operators.graph import pagerank_fixed_point

    spark = spark_global
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C")], "src string, dst string"
    )
    out = {
        r["node"]: r["rank"]
        for r in pagerank_fixed_point(edges, iterations=1, scale=100).collect()
    }
    assert out == {"A": 15, "B": 100, "C": 100}


def test_jaccard_prefix_large_documents_no_overflow(spark_global):
    """r6 review: the exact integer candidate bounds multiply shingle
    counts by 1e6 — IntegerType sizes overflow 32-bit at ~2148 distinct
    shingles (ANSI crash, or silently lost pairs with ANSI off). Two
    identical 2300-token documents must surface as the J=1.0 pair."""
    from metadata_driven_etl_spark.operators.dedup import jaccard_prefix_pairs

    spark = spark_global
    text = " ".join(f"tok{i}" for i in range(2300))
    df = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    got = [
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in jaccard_prefix_pairs(df, threshold=0.7).collect()
    ]
    assert got == [(1, 2, 1.0)]


def test_phrase_match_counts_overlapping_and_self_token(spark_global):
    """'x x x' contains 'x x' TWICE (overlap); docs without the phrase
    don't appear; tokenizer normalization applies (case/punct)."""
    from metadata_driven_etl_spark.operators.text import (
        phrase_match_postings,
    )

    df = spark_global.createDataFrame(
        [
            (1, "x x x"),          # 2 overlapping matches
            (2, "a x b x"),        # 0 (non-adjacent)
            (3, "X, x! y x x"),    # normalized: x x y x x -> 2
            (4, "y z"),            # 0
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.n_matches
        for r in phrase_match_postings(df, ["x", "x"]).collect()
    }
    assert got == {1: 2, 3: 2}


def test_phrase_match_three_token_phrase(spark_global):
    from metadata_driven_etl_spark.operators.text import (
        phrase_match_postings,
    )

    df = spark_global.createDataFrame(
        [(1, "a b c a b c a b"), (2, "a b"), (3, "c b a")],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.n_matches
        for r in phrase_match_postings(df, ["a", "b", "c"]).collect()
    }
    assert got == {1: 2}


def test_embedding_comoments_matches_numpy(spark_global):
    """Covariance cells equal numpy's population covariance of the
    quantized components (independent-library check, not just the
    cross-engine hash)."""
    import numpy as np

    from metadata_driven_etl_spark.operators.similarity import (
        embedding_comoments,
    )

    rng = [
        [0.11, -0.25, 0.3], [0.02, 0.4, -0.17],
        [-0.33, 0.08, 0.21], [0.27, -0.05, 0.0],
    ]
    df = spark_global.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rng)],
        ["vec_id", "embedding"],
    )
    out = embedding_comoments(df, "embedding", dims=3, scale=10_000)
    X = np.array(rng, dtype=np.float64)
    q = np.floor(X * 10_000 + 0.5)
    C = np.cov(q.T, bias=True) / 1e8
    for r in out.collect():
        assert r.n_rows == 4
        assert abs(C[r.i, r.j] - r.cov) < 1e-12, (r.i, r.j)


def test_running_sum_clamped_matches_sequential_fold(spark_global):
    """The prefix identity S_t = P_t - min(0, min_prefix(P)) must equal
    the sequential recurrence S_t = max(0, S_{t-1} + x_t) on adversarial
    sequences (deep negatives, recoveries, re-zeroing)."""
    from pyspark.sql import Window, functions as F

    seqs = {
        "a": [3, -5, 1, -2, 6, -1, -100, 4],
        "b": [-4, -4, 10, -3, -3, -3, 5],
        "c": [0, 0, -1, 2],
    }
    rows = [
        (k, i, x) for k, xs in seqs.items() for i, x in enumerate(xs)
    ]
    df = spark_global.createDataFrame(rows, ["k", "i", "x"])
    w = Window.partitionBy("k").orderBy("i").rowsBetween(
        Window.unboundedPreceding, 0
    )
    p = df.withColumn("psum", F.sum("x").over(w))
    out = p.select(
        "k",
        "i",
        (F.col("psum") - F.least(F.lit(0), F.min("psum").over(w))).alias(
            "onhand"
        ),
    )
    got = {(r.k, r.i): r.onhand for r in out.collect()}
    for k, xs in seqs.items():
        s = 0
        for i, x in enumerate(xs):
            s = max(0, s + x)
            assert got[(k, i)] == s, (k, i, got[(k, i)], s)


def test_largest_remainder_allocation_sums_to_total(spark, sf_dir):
    """Hamilton apportionment: allocations are >= floor share and sum to
    EXACTLY the declared total (the property float rounding breaks)."""
    from metadata_driven_etl_spark import workloads

    out = workloads.QUERIES["allocate_largest_remainder"](
        spark, sf_dir
    ).collect()
    assert sum(r.alloc for r in out) == 1000
    n_tot = sum(r.n_customers for r in out)
    for r in out:
        base = (1000 * r.n_customers) // n_tot
        assert r.alloc in (base, base + 1), r


_CLAMP_SEQ = st.lists(st.integers(-50, 50), min_size=1, max_size=30)


@given(xs=_CLAMP_SEQ)
@settings(**_SETTINGS)
def test_clamped_prefix_identity_random_sequences(spark_global, xs):
    """Hypothesis: S = P − min(0, min-prefix(P)) ≡ the sequential
    max(0, S+x) fold on arbitrary integer deltas."""
    from pyspark.sql import Window

    df = spark_global.createDataFrame(
        [(0, i, x) for i, x in enumerate(xs)], "k int, i int, x long"
    )
    w = Window.partitionBy("k").orderBy("i").rowsBetween(
        Window.unboundedPreceding, 0
    )
    p = df.withColumn("psum", F.sum("x").over(w))
    out = p.select(
        "i",
        (F.col("psum") - F.least(F.lit(0), F.min("psum").over(w))).alias(
            "onhand"
        ),
    )
    got = {r.i: r.onhand for r in out.collect()}
    s = 0
    for i, x in enumerate(xs):
        s = max(0, s + x)
        assert got[i] == s


_WEIGHTS = st.lists(st.integers(1, 500), min_size=1, max_size=15)
_TOTALS = st.integers(1, 400)


@given(ws=_WEIGHTS, k=_TOTALS)
@settings(**_SETTINGS)
def test_largest_remainder_invariants_random_weights(spark_global, ws, k):
    """Hypothesis: Hamilton apportionment sums EXACTLY to K, every
    allocation is floor-share or floor-share+1, and zero-weight groups
    can't occur (weights ≥ 1 ⇒ every group may receive ≥ 0)."""
    from pyspark.sql import Window

    df = spark_global.createDataFrame(
        [(i, w) for i, w in enumerate(ws)], "g int, n long"
    ).localCheckpoint(eager=False)
    t = df.agg(F.sum("n").alias("tot"))
    b = df.crossJoin(F.broadcast(t)).select(
        "g",
        "n",
        F.expr(f"({k} * n) DIV tot").alias("base"),
        ((k * F.col("n")) % F.col("tot")).alias("rem"),
    ).localCheckpoint(eager=False)
    leftover = b.agg((F.lit(k) - F.sum("base")).alias("leftover"))
    rk = F.row_number().over(
        Window.orderBy(F.col("rem").desc(), F.col("g"))
    )
    out = (
        b.withColumn("rk", rk)
        .crossJoin(F.broadcast(leftover))
        .select(
            "g",
            "n",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            ).alias("alloc"),
        )
        .collect()
    )
    tot = sum(w for w in ws)
    assert sum(r.alloc for r in out) == k
    for r in out:
        base = (k * r.n) // tot
        assert r.alloc in (base, base + 1)


_TICKS = st.lists(
    st.tuples(st.integers(0, 100), st.integers(-1000, 1000)),
    min_size=1,
    max_size=25,
)


@given(ticks=_TICKS)
@settings(**_SETTINGS)
def test_ohlc_matches_sorted_reference(spark_global, ticks):
    """Hypothesis: min_by/max_by OHLC equals the sorted-list reference
    (open = first by (ts, id), close = last) under arbitrary tick
    orders including duplicate timestamps (id breaks ties)."""
    from metadata_driven_etl_spark.operators.temporal import ohlc_bars

    rows = [(0, t, i, v) for i, (t, v) in enumerate(ticks)]
    df = spark_global.createDataFrame(rows, "k int, ts long, id int, v long")
    out = ohlc_bars(df, ["k"], "ts", "v", ("id",)).collect()[0]
    ordered = sorted(rows, key=lambda r: (r[1], r[2]))
    assert out.open == ordered[0][3]
    assert out.close == ordered[-1][3]
    assert out.high == max(r[3] for r in rows)
    assert out.low == min(r[3] for r in rows)
    assert out.n_ticks == len(rows)


_DOC_TOKENS = st.lists(
    st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12
)


@given(docs=st.lists(_DOC_TOKENS, min_size=1, max_size=6))
@settings(**_SETTINGS)
def test_phrase_match_equals_slice_reference(spark_global, docs):
    """Hypothesis: the postings-join phrase count equals the per-row
    slice-compare reference for the self-token phrase 'a a' (the
    overlap-heavy worst case) over random tiny corpora."""
    from metadata_driven_etl_spark.operators.text import (
        phrase_match_postings,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark_global.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.doc_id: r.n_matches
        for r in phrase_match_postings(df, ["a", "a"]).collect()
    }
    for i, toks in enumerate(docs):
        want = sum(
            1 for j in range(len(toks) - 1) if toks[j : j + 2] == ["a", "a"]
        )
        assert got.get(i, 0) == want, (i, toks)


def test_skyline_matches_brute_force_dominance(spark, sf_dir):
    """The prefix-max rewrite must equal the O(n²) dominance definition
    (p' ≤ p and q' ≥ q with one strict) over the real distinct points —
    the independent check the parity oracle can't provide (it uses the
    same rewrite)."""
    from metadata_driven_etl_spark import workloads

    sky = {
        (r.price_cents, r.quantity)
        for r in workloads.QUERIES["skyline_price_quantity"](
            spark, sf_dir
        ).collect()
    }
    li = workloads._t(spark, sf_dir, "lineitem")
    pts = [
        (r.p, r.q)
        for r in li.select(
            F.floor(F.col("l_extendedprice") * 100 + 0.5)
            .cast("long")
            .alias("p"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .distinct()
        .collect()
    ]

    def dominated(a):
        return any(
            (p <= a[0] and q >= a[1]) and (p < a[0] or q > a[1])
            for p, q in pts
        )

    brute = {a for a in pts if not dominated(a)}
    assert sky == brute and len(sky) > 0


def test_weighted_median_matches_expansion_reference(spark_global):
    """The cumulative half-mass definition must equal the plain median
    of each value repeated weight times (the expansion reference),
    including even-total and single-value edge cases."""
    from pyspark.sql import Window

    cases = {
        "a": [(10, 1), (20, 1)],          # even total -> lower middle
        "b": [(5, 3), (7, 1)],            # heavy low value
        "c": [(1, 1), (2, 1), (3, 2)],    # tie at the boundary
        "d": [(42, 5)],                   # single value
    }
    rows = [(g, v, w) for g, vw in cases.items() for v, w in vw]
    df = spark_global.createDataFrame(rows, "g string, v long, w long")
    wc = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("g")
    c = df.select(
        "g",
        "v",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wt).alias("tot"),
    )
    got = {
        r.g: r.m
        for r in c.groupBy("g")
        .agg(
            F.min(
                F.when(2 * F.col("cum") >= F.col("tot"), F.col("v"))
            ).alias("m")
        )
        .collect()
    }
    for g, vw in cases.items():
        expanded = sorted(v for v, w in vw for _ in range(w))
        n = len(expanded)
        ref = expanded[(n + 1) // 2 - 1]  # smallest x with 2·cum(x) ≥ n
        assert got[g] == ref, (g, got[g], ref)


def test_distributed_ntile_matches_builtin(spark_global):
    """distributed_ntile must equal the builtin ntile bucket-for-bucket
    for every N regime: N < n, N == n, N % n != 0, and large-N — under
    asc and desc orderings (the rfm_segments hash-parity contract)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from metadata_driven_etl_spark.operators.windows import (
        distributed_ntile,
    )

    for N, n in ((1, 5), (4, 5), (5, 5), (7, 5), (23, 5), (101, 5), (47, 3)):
        df = spark_global.range(N).select(
            (F.col("id") * 37 % 91).alias("v"), "id"
        )
        order = [F.col("v").asc(), F.col("id").asc()]
        got = {
            r.id: r.b
            for r in distributed_ntile(df, n, order, "b").collect()
        }
        want = {
            r.id: r.b
            for r in df.select(
                "id", F.ntile(n).over(Window.orderBy(*order)).alias("b")
            ).collect()
        }
        assert got == want, (N, n)
    # descending with ties broken by id
    df = spark_global.range(29).select((F.col("id") % 7).alias("v"), "id")
    order = [F.col("v").desc(), F.col("id").asc()]
    got = {r.id: r.b for r in distributed_ntile(df, 4, order, "b").collect()}
    want = {
        r.id: r.b
        for r in df.select(
            "id", F.ntile(4).over(Window.orderBy(*order)).alias("b")
        ).collect()
    }
    assert got == want


def test_distributed_rank_matches_builtin(spark_global):
    """distributed_rank must equal the builtin row_number rank-for-rank
    (the theil-sen median-selection contract, r10 VERDICT r9 item 7),
    and the carried total must be the frame size."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from metadata_driven_etl_spark.operators.windows import (
        distributed_rank,
    )

    for N in (1, 7, 101):
        df = spark_global.range(N).select(
            (F.col("id") * 37 % 91).alias("v"), "id"
        )
        order = [F.col("v").asc(), F.col("id").asc()]
        out = distributed_rank(df, order, "rn", total_col="tot").collect()
        got = {r.id: r.rn for r in out}
        want = {
            r.id: r.rn
            for r in df.select(
                "id",
                F.row_number().over(Window.orderBy(*order)).alias("rn"),
            ).collect()
        }
        assert got == want, N
        assert {r.tot for r in out} == {N}
    # descending with ties broken by id, no total requested
    df = spark_global.range(29).select((F.col("id") % 7).alias("v"), "id")
    order = [F.col("v").desc(), F.col("id").asc()]
    out = distributed_rank(df, order, "rn")
    assert "tot" not in out.columns and "_dnt_mid" not in out.columns
    got = {r.id: r.rn for r in out.collect()}
    want = {
        r.id: r.rn
        for r in df.select(
            "id", F.row_number().over(Window.orderBy(*order)).alias("rn")
        ).collect()
    }
    assert got == want
    # reserved / colliding column guards
    import pytest as _pytest

    with _pytest.raises(ValueError, match="reserved"):
        distributed_rank(
            df.withColumn("_dnt_mid", F.lit(1)), order, "rn"
        )
    with _pytest.raises(ValueError, match="collides"):
        distributed_rank(df, order, "v")


def test_distributed_running_sum_matches_builtin(spark_global):
    """distributed_running_sum must equal the builtin inclusive
    SUM-over-ORDER-BY window value-for-value (the pareto_abc_parts
    contract, VERDICT r10 item 4), and the carried total must be the
    frame's grand total."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from metadata_driven_etl_spark.operators.windows import (
        distributed_running_sum,
    )

    for N in (1, 7, 101):
        df = spark_global.range(N).select(
            (F.col("id") * 37 % 91).alias("v"),
            ((F.col("id") * 13 % 17) + 1).cast("long").alias("cents"),
            "id",
        )
        order = [F.col("v").desc(), F.col("id").asc()]
        out = distributed_running_sum(
            df, order, "cents", "cum", total_col="tot"
        ).collect()
        got = {r.id: r.cum for r in out}
        want_rows = df.select(
            "id",
            F.sum("cents")
            .over(
                Window.orderBy(*order).rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            .alias("cum"),
        ).collect()
        want = {r.id: r.cum for r in want_rows}
        assert got == want, N
        grand = df.agg(F.sum("cents")).collect()[0][0]
        assert {r.tot for r in out} == {grand}
    # no total requested → no scratch columns leak
    out = distributed_running_sum(df, order, "cents", "cum")
    assert "tot" not in out.columns
    assert not [c for c in out.columns if c.startswith("_dnt")]
    # guards: reserved scratch, input collision, out==total (ADVICE r10)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="reserved"):
        distributed_running_sum(
            df.withColumn("_dnt_mid", F.lit(1)), order, "cents", "cum"
        )
    with _pytest.raises(ValueError, match="collides"):
        distributed_running_sum(df, order, "cents", "v")
    with _pytest.raises(ValueError, match="both"):
        distributed_running_sum(df, order, "cents", "cum", total_col="cum")
    with _pytest.raises(ValueError, match="missing"):
        distributed_running_sum(df, order, "nope", "cum")
    from metadata_driven_etl_spark.operators.windows import (
        distributed_rank,
    )

    with _pytest.raises(ValueError, match="both"):
        distributed_rank(df, order, "rn", total_col="rn")


def test_distributed_running_sum_null_skipping(spark_global):
    """ADVICE r11: NULLs in value_col must be SKIPPED like the builtin —
    a leading NULL run inside a later range partition carries the prior
    cumulative forward instead of nulling out_col.  Documented
    divergence: rows before the FIRST non-null value anywhere get 0
    where the builtin yields NULL (pinned here too)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from metadata_driven_etl_spark.operators.windows import (
        distributed_running_sum,
    )

    # 301 rows, value NULL on every 3rd row INCLUDING the head of the
    # order (id=0,3,6...) so both the global-head run and mid-partition
    # leading runs occur across the range partitions.
    df = spark_global.range(301).select(
        "id",
        F.when(F.col("id") % 3 != 0, (F.col("id") * 7 % 23) + 1)
        .cast("long")
        .alias("cents"),
    )
    order = [F.col("id").asc()]
    got = {
        r.id: r.cum
        for r in distributed_running_sum(
            df, order, "cents", "cum"
        ).collect()
    }
    want = {
        r.id: r.cum
        for r in df.select(
            "id",
            F.sum("cents")
            .over(
                Window.orderBy(*order).rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            .alias("cum"),
        ).collect()
    }
    # builtin yields NULL at id=0 (no non-null yet); we document 0 there
    assert want[0] is None and got[0] == 0
    for k in range(1, 301):
        assert got[k] == want[k], k


def test_distributed_ntile_durable_checkpoint_seam(
    spark_global, durable_checkpoints
):
    """VERDICT r8 item 5: with a session checkpoint dir, distributed_ntile
    must produce the same buckets as the localCheckpoint default (and
    actually write reliable-checkpoint files, so executor loss can't kill
    a 100 TB run mid-plan)."""
    from pyspark.sql import functions as F

    from metadata_driven_etl_spark.operators.windows import (
        distributed_ntile,
    )

    df = spark_global.range(53).select((F.col("id") * 31 % 17).alias("v"), "id")
    order = [F.col("v").asc(), F.col("id").asc()]
    local = {
        r.id: r.b for r in distributed_ntile(df, 5, order, "b").collect()
    }
    with durable_checkpoints() as ckpt:
        durable = {
            r.id: r.b for r in distributed_ntile(df, 5, order, "b").collect()
        }
    assert durable == local
    assert _files_under(ckpt), "durable seam must write reliable-checkpoint files"


def test_distributed_ntile_rejects_colliding_columns(spark_global):
    from pyspark.sql import functions as F

    import pytest as _pytest

    from metadata_driven_etl_spark.operators.windows import (
        distributed_ntile,
    )

    df = spark_global.range(3).select("id", F.lit(1).alias("b"))
    with _pytest.raises(ValueError, match="out_col"):
        distributed_ntile(df, 2, [F.col("id").asc()], "b")
    df2 = spark_global.range(3).select("id", F.lit(1).alias("_dnt_mid"))
    with _pytest.raises(ValueError, match="reserved"):
        distributed_ntile(df2, 2, [F.col("id").asc()], "out")


def test_last_touch_null_ts_never_mispairs(spark_global):
    """A NULL-timestamp touch must not split the (ts, channel) carries:
    the channel carry and the staleness clock always come from the SAME
    row, and NULL-ts events are never the credited touch."""
    import datetime as dt

    from pyspark.sql import functions as F

    from metadata_driven_etl_spark.operators.temporal import (
        attribute_last_touch,
    )

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    rows = [
        # user 1: old 'email' touch (9 days stale), then a NULL-ts 'ads'
        # touch, then a purchase -> the naive split-carry form credits
        # 'ads' judged by email's stale clock; correct result: the last
        # TIMESTAMPED touch is email (stale) -> 'direct'
        (1, 1, t0 - dt.timedelta(days=9), "email"),
        (1, 2, None, "ads"),
        (1, 3, t0, "purchase"),
        # user 2: fresh timestamped touch then a NULL-ts touch ->
        # credit the fresh timestamped one
        (2, 4, t0 - dt.timedelta(hours=1), "social"),
        (2, 5, None, "ads"),
        (2, 6, t0, "purchase"),
    ]
    df = spark_global.createDataFrame(
        rows, "user_id: long, event_id: long, ts: timestamp, event_type: string"
    )
    got = {
        r.channel: r.n_conversions
        for r in attribute_last_touch(df).collect()
    }
    assert got == {"direct": 1, "social": 1}, got


def test_substitute_pairs_includes_zero_cooccurrence(spark_global):
    """The candidate space is the top-m cross, so two frequent items
    that NEVER share a basket must appear with n_ab=0 and lift 0 —
    the signal an observed-pair frame can never contain."""
    from pyspark.sql import functions as F

    from metadata_driven_etl_spark.operators.cooccur import (
        substitute_pairs,
    )

    rows = []
    # items 1 and 2 each in 4 baskets, never together; item 3 co-occurs
    # with both (in 4 baskets of its own)
    for b in range(4):
        rows += [(10 + b, 1), (10 + b, 3)]
        rows += [(20 + b, 2), (20 + b, 3)]
    df = spark_global.createDataFrame(rows, "basket int, item int")
    out = {
        (r.item_a, r.item_b): (r.n_a, r.n_b, r.n_ab, r.lift)
        for r in substitute_pairs(
            df, "basket", "item", top_m=3
        ).collect()
    }
    assert (1, 2) in out
    n_a, n_b, n_ab, lift = out[(1, 2)]
    assert (n_a, n_b, n_ab, lift) == (4, 4, 0, 0.0)
    # 1-3 and 2-3 co-occur exactly at independence (4*8 == 4*8): lift=1
    # is NOT below independence, so they are excluded
    assert (1, 3) not in out and (2, 3) not in out


def test_substitute_pairs_top_m_excludes_rare_items(spark_global):
    """Items outside the top-m by basket count never enter the
    candidate space (the literal bound)."""
    from metadata_driven_etl_spark.operators.cooccur import (
        substitute_pairs,
    )

    rows = [(b, 1) for b in range(5)] + [(b, 2) for b in range(5)]
    rows += [(100, 9)]  # rare item
    df = spark_global.createDataFrame(rows, "basket int, item int")
    out = substitute_pairs(df, "basket", "item", top_m=2).collect()
    items = {r.item_a for r in out} | {r.item_b for r in out}
    assert 9 not in items


def test_burstiness_sign_regimes(spark_global):
    """Metronomic gaps -> B = -1 (sigma 0); a heavy-tailed gap mix ->
    B > 0; the statistic is bounded in (-1, 1)."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # 'cron': exactly every 60s x 20 -> sigma=0 -> B=-1
    for i in range(20):
        rows.append((i, t0 + dt.timedelta(seconds=60 * i), "cron"))
    # 'bursty': 18 gaps of 1s, one gap of 10000s
    ts = t0
    for i in range(19):
        rows.append((100 + i, ts, "bursty"))
        ts += dt.timedelta(seconds=1 if i < 18 else 10000)
    rows.append((200, ts, "bursty"))
    df = spark_global.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = (
        df.select(
            "event_type",
            (
                F.unix_micros(F.col("ts"))
                - F.unix_micros(F.lag("ts").over(w))
            ).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    d38 = "decimal(38,0)"
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
    out = {
        r.event_type: r.b
        for r in s.select(
            "event_type", ((sd - sg) / (sd + sg)).alias("b")
        ).collect()
    }
    assert out["cron"] == -1.0
    assert 0.0 < out["bursty"] < 1.0


def test_spearman_hand_check(spark_global, tmp_path):
    """Spearman on a constructed lineitem slice matches the hand
    formula (ties included): x=[1,2,2,3], y=[10,20,20,40] -> rho = 1
    (perfectly monotone with identical tie structure)."""
    import os

    from pyspark.sql import functions as F

    from metadata_driven_etl_spark import workloads

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    li = spark_global.createDataFrame(
        [(1.0, 10), (2.0, 20), (2.0, 20), (3.0, 40)],
        "l_extendedprice double, l_quantity int",
    )
    li.write.parquet(os.path.join(sf, "lineitem.parquet"))
    out = workloads.QUERIES["spearman_corr_price_quantity"](
        spark_global, sf
    ).collect()[0]
    assert out.n_rows == 4
    assert abs(out.spearman_rho - 1.0) < 1e-12


def test_asof_nearest_equals_two_direction_compose(spark):
    """direction='nearest' == run backward and forward separately and
    pick the closer match (ties backward), including tolerance applied
    per side BEFORE the pick."""
    import datetime as dt

    from metadata_driven_etl_spark.operators.temporal import asof_join

    T = dt.datetime
    left = spark.createDataFrame(
        [
            (1, 10, T(2024, 1, 1, 12, 0, 0)),   # b 11:59, f 12:03 -> b
            (2, 10, T(2024, 1, 1, 12, 2, 0)),   # b 11:59(3m), f 12:03(1m) -> f
            (3, 10, T(2024, 1, 1, 12, 1, 0)),   # tie 2m/2m -> backward
            (4, 20, T(2024, 1, 1, 9, 0, 0)),    # only forward exists
            (5, 30, T(2024, 1, 1, 9, 0, 0)),    # no right rows at all
        ],
        "id int, k int, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, T(2024, 1, 1, 11, 59, 0), 1.0),
            (10, T(2024, 1, 1, 12, 3, 0), 2.0),
            (20, T(2024, 1, 1, 10, 0, 0), 3.0),
        ],
        "k int, ts timestamp, v double",
    )
    near = {
        r.id: (r.asof_ts, r.asof_v)
        for r in asof_join(
            left, right, key="k", right_cols=["ts", "v"],
            direction="nearest",
        ).collect()
    }
    assert near[1] == (T(2024, 1, 1, 11, 59, 0), 1.0)
    assert near[2] == (T(2024, 1, 1, 12, 3, 0), 2.0)
    assert near[3] == (T(2024, 1, 1, 11, 59, 0), 1.0)  # tie -> backward
    assert near[4] == (T(2024, 1, 1, 10, 0, 0), 3.0)
    assert near[5] == (None, None)

    # tolerance per side before the pick: 90s kills both of id 3's
    # 2-minute matches; id 2 keeps its 60s forward match
    tol = {
        r.id: (r.asof_ts, r.asof_v)
        for r in asof_join(
            left, right, key="k", right_cols=["ts", "v"],
            direction="nearest", tolerance_seconds=90,
        ).collect()
    }
    assert tol[2] == (T(2024, 1, 1, 12, 3, 0), 2.0)
    assert tol[3] == (None, None)
    assert tol[1] == (T(2024, 1, 1, 11, 59, 0), 1.0)
    assert tol[4] == (None, None)  # 1h away > 90s


def test_asof_carry_is_row_atomic_with_null_values(spark):
    """A matched right row whose VALUE column is NULL answers NULL — an
    older row's non-NULL value must not bleed forward under the newer
    match timestamp (and tolerance must measure the MATCHED row's
    distance, not another row's)."""
    import datetime as dt

    from metadata_driven_etl_spark.operators.temporal import asof_join

    T = dt.datetime
    left = spark.createDataFrame(
        [(1, 10, T(2024, 1, 1, 12, 0, 3))], "id int, k int, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            (10, T(2024, 1, 1, 12, 0, 1), 10.0),
            (10, T(2024, 1, 1, 12, 0, 2), None),
        ],
        "k int, ts timestamp, v double",
    )
    for direction in ("backward", "nearest"):
        out = asof_join(
            left, right, key="k", right_cols=["ts", "v"],
            direction=direction,
        ).collect()[0]
        assert out.asof_ts == T(2024, 1, 1, 12, 0, 2), direction
        assert out.asof_v is None, direction

    # the matched row sits 1s back; a 0.5s tolerance nulls the whole
    # match — it must never fall back to the older row's value
    out = asof_join(
        left, right, key="k", right_cols=["ts", "v"],
        direction="backward", tolerance_seconds=0.5,
    ).collect()[0]
    assert out.asof_ts is None and out.asof_v is None


def test_asof_null_left_ts_never_matches(spark):
    """A NULL left timestamp satisfies no inequality: every direction
    must return NULL matches for it (the descending carry would
    otherwise hand NULL-ts rows the earliest right row)."""
    import datetime as dt

    from metadata_driven_etl_spark.operators.temporal import asof_join

    T = dt.datetime
    left = spark.createDataFrame(
        [(1, 10, None), (2, 10, T(2024, 1, 1, 12, 0))],
        "id int, k int, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, T(2024, 1, 1, 11, 0), 5.0), (10, T(2024, 1, 1, 13, 0), 7.0)],
        "k int, ts timestamp, v double",
    )
    for direction in ("backward", "forward", "nearest"):
        rows = {
            r.id: (r.asof_ts, r.asof_v)
            for r in asof_join(
                left, right, key="k", right_cols=["ts", "v"],
                direction=direction,
            ).collect()
        }
        assert rows[1] == (None, None), direction
        assert rows[2][0] is not None, direction


def test_asof_reserved_names_guarded(spark):
    """Helper-column collisions fail loudly instead of silently
    clobbering user data."""
    import datetime as dt

    import pytest as _pytest

    from metadata_driven_etl_spark.operators.temporal import asof_join

    T = dt.datetime
    left = spark.createDataFrame(
        [(1, 10, T(2024, 1, 1), "x")],
        "id int, k int, ts timestamp, _asof_src string",
    )
    right = spark.createDataFrame(
        [(10, T(2024, 1, 1), 1.0)], "k int, ts timestamp, v double"
    )
    with _pytest.raises(ValueError, match="reserved helper"):
        asof_join(left, right, key="k", right_cols=["v"])
    left_ok = left.drop("_asof_src")
    with _pytest.raises(ValueError, match="_mts"):
        asof_join(left_ok, right, key="k", right_cols=["_mts"])


def test_trigram_novelty_conservation(spark, sf_dir):
    """Every distinct trigram has exactly ONE first claimant, so the
    novel counts summed over documents equal the global distinct-gram
    count, and per-doc novel <= slots."""
    from metadata_driven_etl_spark.catalog import load_table
    from metadata_driven_etl_spark.operators import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    per = text_ops.trigram_novelty(docs, text_col="text", id_col="doc_id")
    rows = per.collect()
    assert all(0 <= r.novel <= r.slots for r in rows)
    toks = docs.select(
        "doc_id", text_ops.tokens("text").alias("t")
    ).where(F.size("t") >= 3)
    distinct_grams = (
        toks.select(
            F.explode(text_ops.trigrams(F.col("t"))).alias("g")
        )
        .agg(F.countDistinct("g"))
        .first()[0]
    )
    assert sum(r.novel for r in rows) == distinct_grams


def test_second_session_workload_invariants(spark, sf_dir):
    """Cheap structural invariants over the second-session registry
    keys (beyond the oracle hash): cluster sizes partition the corpus,
    probability-like outputs stay in range, rank tests stay bounded."""
    from metadata_driven_etl_spark.catalog import load_table
    from metadata_driven_etl_spark.workloads import QUERIES

    # kmeans: assignments partition the vector set
    km = QUERIES["kmeans_assign_recompute"](spark, sf_dir).collect()
    n_vec = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_members for r in km) == n_vec

    # hellinger: bounded in [0, 1]
    h = QUERIES["hellinger_drift_monthly"](spark, sf_dir).collect()
    assert h and all(0.0 <= r.hellinger <= 1.0 for r in h)

    # runs test: 1 <= runs <= n_plus + n_minus
    rt = QUERIES["runs_test_daily"](spark, sf_dir).collect()[0]
    assert 1 <= rt.n_runs <= rt.n_plus + rt.n_minus

    # load profile: shares sum to 1 (within double tolerance), cells
    # within the 7x24 grid
    lp = QUERIES["hourly_load_profile"](spark, sf_dir).collect()
    assert abs(sum(r.load_share for r in lp) - 1.0) < 1e-9
    assert all(1 <= r.dow <= 7 and 0 <= r.hour <= 23 for r in lp)

    # seasonal strength: an R^2, within [0, 1]
    ss = QUERIES["seasonal_strength_dow"](spark, sf_dir).collect()[0]
    assert 0.0 <= ss.seasonal_strength <= 1.0

    # sim histogram: pair conservation within labels
    sh = QUERIES["embedding_sim_histogram_intra_label"](
        spark, sf_dir
    ).collect()
    from collections import Counter

    label_sizes = Counter(
        r.label
        for r in load_table(spark, sf_dir, "embeddings")
        .select("label")
        .collect()
    )
    want_pairs = sum(n * (n - 1) // 2 for n in label_sizes.values())
    assert sum(r.n_pairs for r in sh) == want_pairs


def test_funnel_rates_multi_equals_per_window(spark, sf_dir):
    """funnel_rates_multi (one event pass, all windows stacked over one
    Exchange+Sort — the r12 optimization) must be ROW-IDENTICAL to
    running funnel_rates once per window and labeling the union."""
    from pyspark.sql import functions as F

    from metadata_driven_etl_spark.catalog import load_table
    from metadata_driven_etl_spark.operators import temporal as temporal_ops

    ev = load_table(spark, sf_dir, "events")
    steps = ["view", "click", "purchase"]
    windows = [("30m", "30 minutes"), ("2h", "2 hours"), ("1d", "1 day")]
    multi = sorted(
        tuple(r)
        for r in temporal_ops.funnel_rates_multi(ev, steps, windows)
        .collect()
    )
    single = []
    for lbl, win in windows:
        single += [
            tuple(r)
            for r in temporal_ops.funnel_rates(ev, steps, window=win)
            .select(
                F.lit(lbl).alias("win"), "step", "step_name",
                "n_reached", "step_rate", "cum_rate",
            )
            .collect()
        ]
    assert multi == sorted(single)
    # and the one-pass plan carries exactly ONE events shuffle: a single
    # hashpartitioning exchange on the user column feeds every window.
    # Explained on the PRE-checkpoint scalar aggregate (ADVICE r12): the
    # public function's localCheckpoint truncates its explained plan to
    # `Scan ExistingRDD`, which made a <=1 assertion on it vacuous.
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        temporal_ops.funnel_rates_multi_scalar(ev, steps, windows).explain(
            "formatted"
        )
    plan = buf.getvalue()
    # formatted explain puts the node ("(n) Exchange") and its
    # "Arguments: hashpartitioning(user_id..." on separate lines, so the
    # old single-string pattern could never match anything — count the
    # partitioning argument itself: exactly one user-keyed exchange (the
    # other Exchange is the final single-partition scalar gather).
    assert plan.count("hashpartitioning(user_id") == 1, plan
