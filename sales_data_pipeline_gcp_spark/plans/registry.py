"""Declared-query registry.

Every operator the engine claims (SURVEY.md §2) registers here as a
``(name, spark_fn, oracle_sql)`` triple. The driver contract
(``__spark_entry__.py``) and the local parity tests both iterate this
registry, so a query can never be declared without its oracle staying in
sync.

Oracle-exactness rules baked into how queries must be written
(SURVEY.md §2.2 / §7 "hard parts"):

- alias every computed column identically in Spark and SQL;
- double-typed aggregates go through an exact decimal accumulation then a
  final cast to DOUBLE, so Spark and DuckDB produce bit-identical floats
  regardless of partial-aggregation order;
- never emit ``current_timestamp()`` or other non-determinism;
- break top-k ties deterministically;
- oracles MUST run on DuckDB 1.0.0 (the adjudication environment's
  version, pinned as ``tests/parity.py ORACLE_DUCKDB_VERSION``): no
  lateral ``generate_series`` with column parameters (use the scalar-list
  ``SELECT UNNEST(generate_series(...))`` form), and remember 1.0.0's
  ``epoch(DATE)`` returns DOUBLE — use ``date_diff('day', ...)`` for
  integer day numbers. Known-bad constructs are grep-linted in
  tests/test_plan_lint.py::test_oracle_runs_on_contract_duckdb_dialect.
"""

from __future__ import annotations

import functools
import hashlib
import json
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, *, doc: str = "", tags: tuple[str, ...] = ()) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` as declared query ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return deco


def _load_all_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    import importlib

    for mod in (
        "sales_data_pipeline_gcp_spark.operators.relational",
        "sales_data_pipeline_gcp_spark.operators.scalars",
        "sales_data_pipeline_gcp_spark.operators.cleaning_queries",
        "sales_data_pipeline_gcp_spark.operators.dedup",
        "sales_data_pipeline_gcp_spark.operators.similarity",
        "sales_data_pipeline_gcp_spark.operators.text",
        "sales_data_pipeline_gcp_spark.operators.streaming_queries",
        "sales_data_pipeline_gcp_spark.operators.multimodal",
        "sales_data_pipeline_gcp_spark.operators.source_queries",
        "sales_data_pipeline_gcp_spark.operators.asof",
        "sales_data_pipeline_gcp_spark.operators.relational2",
        "sales_data_pipeline_gcp_spark.operators.skew",
        "sales_data_pipeline_gcp_spark.operators.grouped",
        "sales_data_pipeline_gcp_spark.operators.events_queries",
        "sales_data_pipeline_gcp_spark.operators.merge",
        "sales_data_pipeline_gcp_spark.operators.subqueries",
        "sales_data_pipeline_gcp_spark.operators.sampling",
        "sales_data_pipeline_gcp_spark.operators.corpus",
        "sales_data_pipeline_gcp_spark.operators.tpch",
        "sales_data_pipeline_gcp_spark.operators.components",
        "sales_data_pipeline_gcp_spark.operators.null_semantics",
        "sales_data_pipeline_gcp_spark.operators.sketches",
        "sales_data_pipeline_gcp_spark.operators.stats",
        "sales_data_pipeline_gcp_spark.operators.retrieval",
        "sales_data_pipeline_gcp_spark.operators.sql_surface",
        "sales_data_pipeline_gcp_spark.operators.layout",
        "sales_data_pipeline_gcp_spark.operators.timeseries",
        "sales_data_pipeline_gcp_spark.operators.analytics",
        "sales_data_pipeline_gcp_spark.operators.distribution",
        "sales_data_pipeline_gcp_spark.operators.mlprep",
        "sales_data_pipeline_gcp_spark.operators.spatial",
    ):
        importlib.import_module(mod)


#: Repository root: holds the committed driver adjudication records
#: (``CORRECTNESS_r<N>.json``, one per round) and ``ORACLE_HASHES.json``,
#: the oracle-text snapshot refreshed whenever a round's record is committed.
_RECORDS_DIR = Path(__file__).resolve().parents[2]

#: The external correctness harness adjudicates only the first 50 entries
#: of ``queries()`` (dict insertion order).
DRIVER_SLOTS = 50


def oracle_hash(oracle: str) -> str:
    """The ``ORACLE_HASHES.json`` key for an oracle text."""
    return hashlib.sha256(oracle.encode()).hexdigest()[:16]


@functools.cache
def driver_window() -> tuple[str, ...]:
    """The ``DRIVER_SLOTS`` registered queries the driver adjudicates next,
    derived from the committed records. Registered queries rank by

    1. oracle text rewritten since the ``ORACLE_HASHES.json`` snapshot
       (a name absent from the snapshot has no earlier text to differ from);
    2. latest committed adjudication round, oldest first (never = 0);
    3. registration order.

    So a rewritten oracle is re-adjudicated in the next round and every
    other query in oldest-first rotation; with no records the window is
    registration order, and names in old records that are no longer
    registered drop out. Reading 13 records and hashing 231 oracles takes
    ~5 ms, once per process."""
    _load_all_modules()
    latest: dict[str, int] = {}
    for path in _RECORDS_DIR.glob("CORRECTNESS_r*.json"):
        rnd = int(re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name).group(1))
        for name in json.loads(path.read_text()):
            latest[name] = max(latest.get(name, 0), rnd)
    hashes = _RECORDS_DIR / "ORACLE_HASHES.json"
    snapshot = json.loads(hashes.read_text()) if hashes.exists() else {}

    def rank(item: tuple[int, Query]) -> tuple[bool, int, int]:
        idx, q = item
        h = oracle_hash(q.oracle) if q.oracle else None
        return (snapshot.get(q.name, h) == h, latest.get(q.name, 0), idx)

    ranked = sorted(enumerate(_REGISTRY.values()), key=rank)
    return tuple(q.name for _, q in ranked[:DRIVER_SLOTS])


def all_queries() -> dict[str, Query]:
    """Registry in driver-adjudication order: ``driver_window()`` first,
    then every other query in registration order."""
    ordered = {n: _REGISTRY[n] for n in driver_window()}
    ordered.update(_REGISTRY)  # existing keys keep their window position
    return ordered


def queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in all_queries().values()}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in all_queries().values() if q.oracle is not None}
