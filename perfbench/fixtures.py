"""Deterministic query fixtures at sf0.1 volume, generated in-process.

The benchmark reads nothing outside its checkout, so it cannot use a
shared fixture directory. This module writes the ten tables that
``sales_data_pipeline_gcp_spark.io.TABLES`` names, with the schemas of
``io.PARQUET_SCHEMAS`` and the value distributions of the TESTDATA.md
generator (uniform keys and measures, 31-word document vocabulary with
5% near-duplicate documents, unit-norm 64-dim embeddings). Each table is
one parquet file with one row group, as the shipped fixtures are, so
``io.fan_out`` sees the same single-split scans.

The fixture seed is fixed (``FIXTURE_SEED``): the workload seed varies
the query order and the ingest drops, never the tables, so every run of a
query workload scans the same bytes. Building all ten takes about a
second, so each run writes them into its own temp dir.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

#: rows per table at sf0.1 (TESTDATA.md: lineitem ~600k at sf0.1).
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
PART_NOUN = ["ring", "gear", "widget", "gizmo", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
VOCAB = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data part column order scan a slow agg key "
    "window table merge vector join"
).split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DUP_SHARE = 0.05
EMBED_DIM = 64


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def build_tables(scale: float = 1.0, seed: int = FIXTURE_SEED) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, ``ROWS`` times ``scale`` rows each
    (region and nation are fixed); the same arguments give the same bytes."""
    rng = np.random.default_rng(seed)
    rows = {t: max(1, round(n * scale)) for t, n in ROWS.items()}
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    n = rows["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), f64),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        }
    )
    n = rows["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), f64),
        }
    )
    n = rows["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), i64),
            "p_name": _pick(rng, names, n),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), i32),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n) % 1000) / 10, 1), f64),
        }
    )
    n = rows["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), i64),
            "o_custkey": pa.array(rng.integers(0, rows["customer"], n), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, n), f64),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n)),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )
    n = rows["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, rows["orders"], n), i64),
            "l_partkey": pa.array(rng.integers(0, rows["part"], n), i64),
            "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105000, n), f64),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100, f64),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100, f64),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n)),
        }
    )
    n = rows["events"]
    month_us = 30 * 86400 * 10**6
    offs = np.sort(rng.choice(month_us, n, replace=False))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), i64),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 1500, n), i64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2), f64),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    t["documents"] = _documents(rng, rows["documents"])
    n = rows["embeddings"]
    e = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), i64),
            "embedding": pa.array(list(e), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), i32),
        }
    )
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word docs of 10-100 words; ``DUP_SHARE`` of them copy another
    doc's text plus the marker word ``dup`` (the near-duplicate clusters the
    dedup queries find)."""
    words = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n)
    text = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    for i in np.sort(rng.choice(n, round(DUP_SHARE * n), replace=False)):
        text[i] = text[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(text),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(s) for s in text], pa.int64()),
        }
    )


def write_tables(out_dir: str, scale: float = 1.0) -> str:
    """Write every table as ``<out_dir>/<table>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=table.num_rows)
    return out_dir
