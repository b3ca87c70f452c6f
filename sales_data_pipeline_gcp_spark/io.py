"""Typed sources and sinks.

Generalizes the reference's single source (explicit-schema CSV scan,
scripts/process_sales.py:25-35) and single sink (append-mode table write,
scripts/process_sales.py:66-69) into a small library. All readers take an
explicit schema where the format needs one — schema inference is a scale
anti-pattern (it double-reads the data).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: nanoseconds per time unit, for deriving µs/seconds from raw int64-nanos.
NS_PER_US = 1_000
NS_PER_SECOND = 1_000_000_000

#: Declared reader schemas for the fixture tables (DDL strings; every field
#: nullable, matching parquet inference). Passing an explicit schema to the
#: parquet reader skips per-call footer-read schema inference — measured
#: 131ms -> 30ms per ``load`` call — and the engine's own rule (module
#: docstring) already names inference a scale anti-pattern: at 100 TB
#: production tables carry catalog schemas, they are never re-inferred per
#: query. ``events`` is deliberately ABSENT: two fixture encodings exist in
#: the wild (TIMESTAMP(NANOS) vs MICROS footers) and ``load`` must branch on
#: what it finds. Drift guard: tests/test_read_modes.py asserts declared ==
#: inferred per table on every fixture dir present. Invariant the guard
#: protects: spark.read.schema() COERCES silently — a fixture regenerated
#: with a renamed/missing column comes back all-NULL, not as an error — so
#: any fixture regeneration MUST re-run tests/test_read_modes.py on the
#: machine holding the new fixtures before trusting query output.
PARQUET_SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, "
    "p_size int, p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
    "l_linenumber int, l_quantity double, l_extendedprice double, "
    "l_discount double, l_tax double, l_returnflag string, "
    "l_linestatus string, l_shipdate timestamp_ntz",
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Parquet scan of one fixture table (TESTDATA.md layout).

    Parquet is the scale-path format: columnar, predicate pushdown,
    row-group pruning, and partition pruning all apply — the final
    ``select``/``filter`` in a query reaches this scan via Catalyst.

    ``events.ts`` is normalized to the engine-wide contract **ts = int64
    epoch-nanoseconds, ts_us = µs TimestampType** regardless of how the
    fixture encodes it — two layouts exist in the wild:

    - TIMESTAMP(NANOS) footer (fixtures through 2026-07): Spark's
      vectorized reader rejects it (PARQUET_TYPE_ILLEGAL), so the
      ``spark.sql.legacy.parquet.nanosAsLong`` flag reads it as int64 ns
      and ``ts_us`` is derived by integer division;
    - TIMESTAMP(MICROS) footer (fixtures from 2026-08): ``ts`` arrives as
      TIMESTAMP_NTZ; int64 ``ts`` is re-derived TIMEZONE-FREE as
      ``timestampdiff(MICROSECOND, NTZ epoch, ts) * 1000`` — exactly
      DuckDB's ``epoch_ns(ts)`` on the same µs data under ANY session tz
      (the driver supplies a plain session whose tz is the host's, so a
      tz-dependent NTZ->LTZ cast would shift every epoch by the UTC
      offset; verified against DuckDB under America/New_York). ``ts_us``
      is then derived from the int64 exactly as in the legacy branch.

    Queries that must hash-match the DuckDB oracle should emit integer
    epoch values or date_trunc'd timestamps, never raw ns.
    """
    if table == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        # DELIBERATE session-wide setting (there is no per-read option for
        # this legacy flag): nanos-typed parquet reads as int64 for the
        # rest of the session. session.get_spark sets it at build time; the
        # runtime set here covers externally-built sessions (the driver's).
        # It only affects TIMESTAMP(NANOS) columns, which no other fixture
        # table has, so no other table's read changes.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        if not isinstance(df.schema["ts"].dataType, T.LongType):
            us = F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            )
            df = df.withColumn("ts", us * NS_PER_US)
        return df.withColumn("ts_us", F.timestamp_micros(F.expr(f"ts div {NS_PER_US}")))
    schema = _parsed_schema(table)
    if schema is not None:
        return spark.read.schema(schema).parquet(f"{sf_dir}/{table}.parquet")
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


#: memoized StructType per table — STATIC metadata (parsed form of the
#: PARQUET_SCHEMAS DDL constants above, no data involved): reader.schema()
#: re-parses a DDL string through py4j on every call (~20ms), while a
#: pre-parsed StructType passes in ~14ms — ~6ms x ~350 load calls per bench
#: sweep. Parsed lazily because DDL parsing needs a live JVM.
_PARSED_SCHEMAS: dict[str, T.StructType] = {}


def _parsed_schema(table: str) -> T.StructType | None:
    ddl = PARQUET_SCHEMAS.get(table)
    if ddl is None:
        return None
    st = _PARSED_SCHEMAS.get(table)
    if st is None:
        st = _PARSED_SCHEMAS[table] = T.StructType.fromDDL(ddl)
    return st


def fan_out(df: DataFrame) -> DataFrame:
    """Give CPU-heavy map stages at least session-parallelism tasks. A
    sub-MB single-row-group parquet file arrives as ONE input split, so
    everything between the scan and the first exchange (filters, decimal
    partial aggregation, hashing, higher-order functions) serializes on one
    core in whole-stage codegen — AQE cannot help because there is no
    shuffle to adapt (guide §2.2/§6: parallelism must come from input
    splits, and a single row group cannot split). Repartition ONLY when the
    scan is narrower than the default parallelism: at cluster scale the
    input has thousands of splits and this is a no-op (zero added shuffle).

    Apply it AFTER the narrow ``select``/pushdown-eligible ``filter`` so
    the exchange carries only needed columns and PushedFilters still reach
    the scan. Only safe above order-independent aggregation (decimal/int
    sums, count/min/max, hashing) — the engine's oracled queries use
    exactly those (functions/exact.py).

    Split count is estimated from ``inputFiles()`` — NOT ``df.rdd``, which
    would build the Python RDD conversion of the scan on every call. The
    file count under-estimates splits for multi-split files (>128 MB), but
    the only decision here is "is the scan narrower than the session?",
    and any input wide enough to mis-estimate is already wide enough."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n) if len(df.inputFiles()) < n else df


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> None:
    """Register fixture tables as temp views for ``spark.sql``. Callers that
    know their statement's table set should pass it: each registration is a
    relation resolution (file listing + parquet footer read) inside the
    query path, and registering all 10 tables bills ~0.3-0.5s per
    ``spark.sql`` query for views the statement never names (guide §1.2 —
    don't compute things you throw away)."""
    for t in tables:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


# --- the reference's exact input shape -------------------------------------

#: Explicit reader schema for sales CSVs — mirrors the StructType the
#: reference declares (scripts/process_sales.py:25-32): every field nullable.
SALES_SCHEMA = T.StructType(
    [
        T.StructField("product", T.StringType(), True),
        T.StructField("price", T.DoubleType(), True),
        T.StructField("quantity", T.IntegerType(), True),
        T.StructField("total", T.DoubleType(), True),
        T.StructField("ordered_at", T.TimestampType(), True),
        T.StructField("delivery_at", T.TimestampType(), True),
    ]
)


def read_sales_csv(spark: SparkSession, path: str) -> DataFrame:
    """Header-aware CSV scan with the explicit sales schema — no inference,
    malformed values -> NULL (PERMISSIVE), matching the reference's reader
    (scripts/process_sales.py:35).
    """
    return spark.read.csv(path, header=True, schema=SALES_SCHEMA)


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.csv(path, header=True, schema=schema)


def read_json(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_append(df: DataFrame, path: str, *, fmt: str = "parquet", partition_by: list[str] | None = None) -> None:
    """Append-mode sink — the local analog of the reference's BigQuery append
    (scripts/process_sales.py:66-69). ``partition_by`` enables partition
    pruning for downstream scans; at 100 TB a date/key-partitioned layout is
    the difference between a full scan and a pruned one.
    """
    writer = df.write.mode("append").format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def compact(spark: SparkSession, path: str, *, target_files: int, fmt: str = "parquet") -> int:
    """Small-files compaction (the OPTIMIZE-style maintenance op): rewrite a
    table directory into ``target_files`` files via stage-then-swap.

    At 100 TB the small-files problem is the top operational failure mode of
    append-heavy pipelines — every micro-batch append adds files until scan
    task-scheduling overhead dominates. Returns the row count (unchanged).
    """
    import shutil

    df = spark.read.format(fmt).load(path)
    staging = path + ".compacting"
    df.coalesce(target_files).write.mode("overwrite").format(fmt).save(staging)
    shutil.rmtree(path)
    os.rename(staging, path)
    return sink_rows(spark, path, fmt)


def _hidden(name: str) -> bool:
    """Spark's listing filter: names starting with ``.`` or ``_`` (``.crc``
    checksums, ``_SUCCESS``, ``_temporary`` job dirs) are not data, except
    a partition directory such as ``_k=v``."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def sink_rows(spark: SparkSession, path: str, fmt: str = "parquet") -> int:
    """Rows in the table directory ``path``: the number
    ``spark.read.format(fmt).load(path).count()`` returns, for the same
    files.

    For parquet it is the sum of ``num_rows`` over the footers of the data
    files Spark's listing would scan, read on the driver: no Spark job.
    Over 40 drops into one sink (4 cores) the footer sum took 2.9-8.3 ms
    (median 5.3) and equalled the count after every drop; the count took
    145-299 ms (median 193) in three jobs: footer schema inference plus
    the count's two. The path is qualified through Hadoop first, so a
    relative or scheme-less path resolves against ``fs.defaultFS`` as
    Spark resolves it.

    Spark's count stays for csv/json (no footer), for a directory holding
    ``_spark_metadata`` (a streaming sink: Spark scans the files that log
    committed, not the listing) and for a filesystem pyarrow cannot open.
    """
    import pyarrow as pa
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq
    from py4j.java_gateway import JavaClass

    def spark_count() -> int:
        return spark.read.format(fmt).load(path).count()

    if fmt != "parquet":
        return spark_count()
    sc = spark.sparkContext
    # JavaClass by name: resolving ``_jvm.org.apache.hadoop.fs.Path`` costs
    # one py4j call per name segment (1.4 ms of a ~5 ms count)
    jpath = JavaClass("org.apache.hadoop.fs.Path", sc._gateway._gateway_client)(path)
    try:
        fs, root = pafs.FileSystem.from_uri(
            jpath.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(jpath).toString()
        )
    except (pa.ArrowException, OSError):
        return spark_count()
    if fs.get_file_info(f"{root}/_spark_metadata").type != pafs.FileType.NotFound:
        return spark_count()
    n = 0
    for info in fs.get_file_info(pafs.FileSelector(root, recursive=True)):
        rel = info.path[len(root) :].strip("/").split("/")
        if info.type == pafs.FileType.File and not any(map(_hidden, rel)):
            n += pq.read_metadata(info.path, filesystem=fs).num_rows
    return n
