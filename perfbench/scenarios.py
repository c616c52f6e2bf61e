"""The benchmark's workloads.

Each workload prepares its state once (untimed), then runs timed
iterations from that same state, and finally checks the program's outputs
against DuckDB. One iteration is:

- ``etl_full_refresh``: ``plans.runner.run_pipeline`` over units of the
  repository's own ``configs/`` (paths templated to the generated inputs),
  from an empty warehouse. Operations are pipeline units.
- ``etl_replay``: ``plans.runner.run_backfill`` over consecutive dates with
  the benchmark's incremental configs, from the state the set-up loaded
  through a cut-off date. Operations are run dates.
- ``query_mix``: a pinned list of registry keys from
  ``__spark_entry__.queries()``, in an order drawn from the seed, each
  built and executed into the ``noop`` sink. Operations are queries.
"""

from __future__ import annotations

import importlib.util
import os
import random
import re
import shutil
import sys
import time
from dataclasses import dataclass
from datetime import date, timedelta

import yaml

from perfbench import datagen, oracle, trace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATABASES = ("bronze", "silver", "gold", "corpus", "metadata")


@dataclass
class Iteration:
    wall_s: float
    ops: list[tuple[str, float, bool]]  # (operation, seconds, succeeded)
    input_rows: int
    units: int = 0  # pipeline units run


@dataclass
class Context:
    spark: object
    inputs: object  # datagen.Inputs
    work: str
    seed: int

    @property
    def warehouse(self) -> str:
        return os.path.join(self.work, "warehouse")


def _drop_databases(spark) -> None:
    for db in DATABASES:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.catalog.clearCache()


def _collect_rows(spark, table: str, cols: list[str]) -> list[tuple]:
    return [tuple(r) for r in spark.table(table).select(*cols).collect()]


def _duck_silver(sql: str, rules: list[dict]) -> str:
    """A silver transform's SQL with its filter/reject rules applied, as
    DuckDB sees it."""
    sql = re.sub(r"CURRENT_TIMESTAMP\(\)", "CURRENT_TIMESTAMP", sql)
    conds = [
        r["expression"] if r["rule_type"] == "expression" else f"{r['column']} IS NOT NULL"
        for r in rules
        if r["action_on_failure"] in ("filter", "reject")
        and r["rule_type"] in ("expression", "not_null")
    ]
    where = " AND ".join(f"({c})" for c in conds) or "TRUE"
    return f"SELECT * FROM ({sql}) WHERE {where}"


class EtlFullRefresh:
    """Bronze -> silver -> gold -> corpus over the repository's own
    ``configs/``, from an empty warehouse, at the data-volume end: TPC-H
    tables at 10x sf0.1, documents at sf0.1. One iteration takes minutes,
    so this workload is run by hand, not listed in BENCHMARK.json."""

    name = "etl_full_refresh"
    min_iterations = 1
    scale = 10.0
    doc_scale = 1.0
    tables = ("customer", "part", "orders", "lineitem", "documents")
    run_date = "2001-08-01"
    layers = ["bronze", "silver", "gold", "corpus"]

    def prepare(self, ctx: Context) -> None:
        self.config_dir = os.path.join(ctx.work, "configs_full")
        os.makedirs(self.config_dir, exist_ok=True)
        self.configs = {}
        for layer in self.layers:
            with open(os.path.join(ROOT, "configs", f"{layer}_config.yaml")) as f:
                cfg = yaml.safe_load(f)
            for unit in cfg.get("sources", []) + cfg.get("corpus_pipelines", []):
                for key in ("source_path", "input_path"):
                    if key in unit:
                        table = os.path.basename(unit[key]).split(".")[0]
                        unit[key] = ctx.inputs.path(table)
            self.configs[layer] = cfg
            with open(os.path.join(self.config_dir, f"{layer}_config.yaml"), "w") as f:
                yaml.safe_dump(cfg, f)

    def reset(self, ctx: Context) -> None:
        _drop_databases(ctx.spark)

    def iterate(self, ctx: Context, tracer=None) -> Iteration:
        from metadata_driven_etl_spark.plans import runner

        t0 = time.perf_counter()
        results = runner.run_pipeline(
            ctx.spark, self.config_dir, self.run_date, self.layers
        )
        wall = time.perf_counter() - t0
        ops = [
            (u.unit_id, u.seconds, u.status == "success")
            for layer in results.values() for u in layer
        ]
        rows = sum(u.rows for u in results.get("bronze", []))
        return Iteration(wall, ops, rows, len(ops))

    def check(self, ctx: Context) -> tuple[bool, str]:
        """Every SQL gold model equals the same SQL run by DuckDB over
        silver tables DuckDB derived from the generated inputs."""
        con = oracle.connect(ctx.inputs)
        for schema in ("bronze", "silver"):
            con.execute(f"CREATE SCHEMA IF NOT EXISTS {schema}")
        for src in self.configs["bronze"]["sources"]:
            con.execute(
                f"CREATE VIEW {src['target_table']} AS "
                f"SELECT * FROM '{src['source_path']}'"
            )
        for t in self.configs["silver"]["transformations"]:
            con.execute(
                f"CREATE VIEW {t['target_table']} AS "
                + _duck_silver(t["sql_query"], t.get("data_quality", []))
            )
        for m in self.configs["gold"]["models"]:
            if m.get("model_type", "sql") != "sql":
                continue
            res = con.execute(m["sql_query"])
            cols = [d[0] for d in res.description]
            duck = res.fetchall()
            mine = _collect_rows(ctx.spark, m["target_table"], cols)
            if not oracle.tables_match(mine, duck):
                return False, f"gold model {m['model_id']} differs from DuckDB"
        return True, "ok"


class EtlReplay:
    """Incremental replay: tiny daily slices, so the fixed per-unit cost of
    the metadata plane dominates."""

    name = "etl_replay"
    min_iterations = 1
    scale = 1.0
    doc_scale = None
    tables = ("orders",)
    cutoff = "2001-07-01"
    dates = 1
    layers = ["bronze", "silver"]

    def prepare(self, ctx: Context) -> None:
        from metadata_driven_etl_spark.plans import runner

        self.config_dir = os.path.join(ctx.work, "configs_replay")
        os.makedirs(self.config_dir, exist_ok=True)
        src_dir = os.path.join(HERE, "configs", "replay")
        self.configs = {}
        for name in sorted(os.listdir(src_dir)):
            with open(os.path.join(src_dir, name)) as f:
                text = f.read().replace("${INPUT_DIR}", ctx.inputs.root)
            with open(os.path.join(self.config_dir, name), "w") as f:
                f.write(text)
            self.configs[name.split("_")[0]] = yaml.safe_load(text)
        results = runner.run_pipeline(
            ctx.spark, self.config_dir, self.cutoff, self.layers
        )
        failed = [u.unit_id for rs in results.values() for u in rs if u.status != "success"]
        if failed:
            raise RuntimeError(f"initial load failed: {failed}")
        self.snapshot = os.path.join(ctx.work, "snapshot")
        shutil.copytree(ctx.warehouse, self.snapshot)
        self.catalog_tables = [
            (db, t.name)
            for db in ("bronze", "silver", "metadata")
            for t in ctx.spark.catalog.listTables(db)
        ]
        self.iterations = 0

    def reset(self, ctx: Context) -> None:
        """Put back the warehouse as the initial load left it."""
        if self.iterations == 0:
            return
        spark = ctx.spark
        for db in ("bronze", "silver", "metadata"):
            target = os.path.join(ctx.warehouse, f"{db}.db")
            shutil.rmtree(target)
            shutil.copytree(os.path.join(self.snapshot, f"{db}.db"), target)
        for db, t in self.catalog_tables:
            name = f"{db}.{t}"
            if any(c.isPartition for c in spark.catalog.listColumns(name)):
                spark.sql(f"MSCK REPAIR TABLE {name} SYNC PARTITIONS")
            spark.catalog.refreshTable(name)

    def _dates(self) -> tuple[str, str]:
        first = date.fromisoformat(self.cutoff) + timedelta(days=1)
        last = first + timedelta(days=self.dates - 1)
        return first.isoformat(), last.isoformat()

    def iterate(self, ctx: Context, tracer=None) -> Iteration:
        from metadata_driven_etl_spark.plans import runner

        per_date: list[tuple[str, float, bool]] = []
        run_pipeline = runner.run_pipeline

        def timed(spark, config_dir, run_date, layers, table_format=None):
            t = time.perf_counter()
            out = run_pipeline(spark, config_dir, run_date, layers, table_format)
            ok = all(u.status == "success" for rs in out.values() for u in rs)
            per_date.append((run_date, time.perf_counter() - t, ok))
            return out

        first, last = self._dates()
        runner.run_pipeline = timed
        try:
            t0 = time.perf_counter()
            out = runner.run_backfill(ctx.spark, self.config_dir, first, last, self.layers)
            wall = time.perf_counter() - t0
        finally:
            runner.run_pipeline = run_pipeline
        self.iterations += 1
        rows = sum(u.rows for res in out.values() for u in res.get("bronze", []))
        units = sum(len(rs) for res in out.values() for rs in res.values())
        return Iteration(wall, per_date, rows, units)

    def check(self, ctx: Context) -> tuple[bool, str]:
        """After the replay, silver equals one clean run through the last
        date, computed by DuckDB from the generated inputs."""
        _, last = self._dates()
        con = oracle.connect(ctx.inputs)
        con.execute("CREATE SCHEMA IF NOT EXISTS bronze")
        for src in self.configs["bronze"]["sources"]:
            col = src.get("incremental_column")
            bound = f"WHERE {col} <= DATE '{last}'" if col else ""
            con.execute(
                f"CREATE VIEW {src['target_table']} AS "
                f"SELECT * FROM '{src['source_path']}' {bound}"
            )
        for t in self.configs["silver"]["transformations"]:
            sql = t["sql_query"].replace("${PROCESSING_DATE}", f"DATE '{last}'")
            sql = sql.replace("TRUNC(", "DATE_TRUNC('month', ").replace(", 'MM')", ")")
            res = con.execute(_duck_silver(sql, t.get("data_quality", [])))
            cols = [d[0] for d in res.description]
            duck = res.fetchall()
            mine = _collect_rows(ctx.spark, t["target_table"], cols)
            if not oracle.tables_match(mine, duck):
                return False, f"{t['target_table']} differs from a clean run"
        return True, "ok"


# Pinned query list, never derived from the registry's rotating priority
# lists: a ROADMAP backlog key and sub-second floor keys, reaching 11 of
# the 19 operators modules (named next to each key).
QUERY_KEYS = (
    "semantic_dedup",  # dedup, similarity, windows (backlog)
    "tpch_q3_topk",  # aggregations, joins, sorts
    "join_asof",  # temporal
    "merge_upsert",  # merge
    "filter_expr",  # filters (floor)
    "project_select",  # projections (floor)
    "union_all",  # setops (floor)
)


def load_entry():
    """``__spark_entry__`` from this checkout. It inserts a fixed path at
    the front of ``sys.path``; the engine is already imported from the
    checkout, and the path is taken out again."""
    before = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["__spark_entry__"] = mod
    spec.loader.exec_module(mod)
    sys.path[:] = before
    return mod


class QueryMix:
    """Read-only analytics: registry keys into the noop sink, no metadata
    plane and no table writes."""

    name = "query_mix"
    min_iterations = 2  # each key's time is its median over the passes
    scale = 0.1
    doc_scale = None
    tables = datagen.TABLES

    def prepare(self, ctx: Context) -> None:
        """Warm-up pass: collect every key once and check it against its
        DuckDB oracle; note which input tables each key loads."""
        from metadata_driven_etl_spark import catalog

        entry = load_entry()
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.order = list(QUERY_KEYS)
        random.Random(ctx.seed).shuffle(self.order)
        self.rows_read: dict[str, int] = {}
        self.mismatches: list[str] = []
        con = oracle.connect(ctx.inputs)
        loaded: list[str] = []
        load_table = catalog.load_table

        def recording(spark, sf_dir, name, *a, **k):
            loaded.append(name)
            return load_table(spark, sf_dir, name, *a, **k)

        patches = trace.rebind(load_table, recording)
        try:
            for key in self.order:
                loaded.clear()
                got = oracle.spark_digest(self.queries[key](ctx.spark, ctx.inputs.root))
                self.rows_read[key] = sum(ctx.inputs.rows[n] for n in set(loaded))
                if got != oracle.duckdb_digest(con, self.oracles[key]):
                    self.mismatches.append(key)
        finally:
            trace.restore(patches)

    def reset(self, ctx: Context) -> None:
        pass

    def iterate(self, ctx: Context, tracer=None) -> Iteration:
        ops = []
        t0 = time.perf_counter()
        for key in self.order:
            t = time.perf_counter()
            ok = True
            try:
                if tracer is None:
                    df = self.queries[key](ctx.spark, ctx.inputs.root)
                    df.write.format("noop").mode("overwrite").save()
                else:
                    with tracer.span("workloads.build"):
                        df = self.queries[key](ctx.spark, ctx.inputs.root)
                    with tracer.span("workloads.execute"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failing key is counted, not fatal
                print(f"query {key} failed: {e}", file=sys.stderr)
                ok = False
            ops.append((key, time.perf_counter() - t, ok))
        wall = time.perf_counter() - t0
        return Iteration(wall, ops, sum(self.rows_read.values()))

    def check(self, ctx: Context) -> tuple[bool, str]:
        if self.mismatches:
            return False, f"keys differ from their oracle: {self.mismatches}"
        return True, "ok"


WORKLOADS = {w.name: w for w in (EtlFullRefresh, EtlReplay, QueryMix)}
