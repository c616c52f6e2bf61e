"""Seeded input generator for the benchmark.

Writes the TPC-H-ish star schema plus the ``events``, ``documents`` and
``embeddings`` tables the engine's registry keys read, one parquet file per
table, with the same column names and types as the engine's test data.

Row counts depend only on ``scale`` (1.0 = the sf0.1 row counts), never on
the seed: the seed changes values, not sizes, so timings from different
seeds stay comparable. Keys are dense and unique, and every foreign key
points at an existing row, so joins are 1:1 on the parent side.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the engine's test data
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
LINES_PER_ORDER = np.arange(1, 8)  # 1..7 lines, mean 4 -> lineitem = 4 x orders
FIRST_DAY = np.datetime64("1995-01-01")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
SHIP_LAG_DAYS = 120
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["small", "red", "blue", "green", "large", "steel", "brass"]
PART_NOUNS = ["ring", "widget", "bolt", "gear", "spring", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
VOCAB = (
    "row the query stream fast spark line small customer group key agg scan "
    "slow table part a merge window order column join vector value hash "
    "batch sort data big filter dup"
).split()
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
TABLE_IDS = {t: i for i, t in enumerate(TABLES)}
EMBED_DIM = 64
N_LABELS = 10
N_SOURCES = 20


@dataclass(frozen=True)
class Inputs:
    """Where the generated tables are, and how big they are."""

    root: str
    rows: dict[str, int]
    bytes: dict[str, int]

    def path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}.parquet")

    @property
    def total_bytes(self) -> int:
        return sum(self.bytes.values())


def row_counts(scale: float) -> dict[str, int]:
    counts = {t: max(int(n * scale), 10) for t, n in BASE_ROWS.items()}
    counts["region"] = 5
    counts["nation"] = 25
    counts["lineitem"] = _lines_per_order(counts["orders"]).sum()
    return {t: int(n) for t, n in counts.items()}


def _lines_per_order(n_orders: int, rng: np.random.Generator | None = None):
    """Lines per order: a fixed multiset of 1..7, shuffled by the seed, so
    the lineitem row count never depends on the seed."""
    counts = np.resize(LINES_PER_ORDER, n_orders)
    if rng is not None:
        rng.shuffle(counts)
    return counts


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts (the engine's exact decimal sums assume 2dp)."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _days(offsets: np.ndarray) -> np.ndarray:
    return (FIRST_DAY + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def _rng(seed: int, table: str) -> np.random.Generator:
    """One stream per table, so a table's rows do not depend on which other
    tables are generated."""
    return np.random.default_rng([seed, TABLE_IDS[table]])


def _tables(seed: int, scale: float, doc_scale: float, tables) -> dict[str, pa.Table]:
    n = row_counts(scale)
    for t in ("documents", "embeddings"):
        n[t] = row_counts(doc_scale)[t]
    out: dict[str, pa.Table] = {}

    if "region" in tables:
        out["region"] = pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        })
    if "nation" in tables:
        out["nation"] = pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })

    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    if "customer" in tables:
        rng = _rng(seed, "customer")
        out["customer"] = pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": _names("Customer", nc),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), nc)],
        })

    if "supplier" in tables:
        rng = _rng(seed, "supplier")
        out["supplier"] = pa.table({
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": _names("Supplier", ns),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        })

    if "part" in tables:
        rng = _rng(seed, "part")
        out["part"] = pa.table({
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{PART_WORDS[a]} {PART_NOUNS[b]}"
                for a, b in zip(
                    rng.integers(0, len(PART_WORDS), npart),
                    rng.integers(0, len(PART_NOUNS), npart),
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
        })

    if "orders" in tables or "lineitem" in tables:
        rng = _rng(seed, "orders")
        # every day gets the same number of orders (+-1) whatever the seed
        order_day = rng.permutation(np.resize(np.arange(ORDER_DAYS), no))
        if "orders" in tables:
            out["orders"] = pa.table({
                "o_orderkey": pa.array(np.arange(no), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
                "o_totalprice": _money(rng, 1000.0, 500000.0, no),
                "o_orderdate": _days(order_day),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
            })

    if "lineitem" in tables:
        rng = _rng(seed, "lineitem")
        lines = _lines_per_order(no, rng)
        nl = int(lines.sum())
        l_order = np.repeat(np.arange(no), lines)
        starts = np.repeat(np.cumsum(lines) - lines, lines)
        qty = rng.integers(1, 51, nl).astype(np.float64)
        ship_day = np.minimum(
            order_day[l_order] + rng.integers(1, SHIP_LAG_DAYS, nl), ORDER_DAYS - 1
        )
        out["lineitem"] = pa.table({
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days(ship_day),
        })

    if "events" in tables:
        rng = _rng(seed, "events")
        ne = n["events"]
        n_users = max(ne // 66, 10)
        ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne))
        out["events"] = pa.table({
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, n_users, ne), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), ne)],
            "value": _money(rng, 0.01, 500.0, ne),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        })

    if "documents" in tables:
        rng = _rng(seed, "documents")
        nd = n["documents"]
        texts: list[str] = []
        for i in range(nd):
            if i >= 10 and rng.random() < 0.1:
                # near-duplicate of an earlier document: one word swapped
                words = texts[int(rng.integers(0, i))].split(" ")
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            else:
                words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 90)))]
            texts.append(" ".join(words))
        out["documents"] = pa.table({
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), nd)],
            "source": [f"src{i % N_SOURCES}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })

    if "embeddings" in tables:
        rng = _rng(seed, "embeddings")
        nv = n["embeddings"]
        labels = rng.integers(0, N_LABELS, nv)
        centers = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
        vecs = centers[labels] + rng.normal(0.0, 0.6, (nv, EMBED_DIM))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        out["embeddings"] = pa.table({
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        })
    return out


def generate(
    root: str,
    seed: int,
    scale: float,
    tables: tuple[str, ...] = TABLES,
    doc_scale: float | None = None,
) -> Inputs:
    """Write ``tables`` under ``root``; same arguments -> same rows.
    ``doc_scale`` sizes ``documents`` and ``embeddings`` (default: ``scale``)."""
    os.makedirs(root, exist_ok=True)
    rows, sizes = {}, {}
    doc_scale = scale if doc_scale is None else doc_scale
    for name, table in _tables(seed, scale, doc_scale, set(tables)).items():
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(table, path)
        rows[name] = table.num_rows
        sizes[name] = os.path.getsize(path)
    return Inputs(root, rows, sizes)
