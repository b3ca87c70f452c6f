"""Subquery surface: scalar subqueries, correlated predicates, IN/NOT IN.

Declared through ``spark.sql`` over temp views — the SQL API is a
first-class engine surface and Catalyst's decorrelation (RewriteCorrelated
ScalarSubquery etc.) turns these into the same join plans the DataFrame API
would build. Approximate aggregates ride along as rows-only queries with
error-bound tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_data_pipeline_gcp_spark.io import load, register_views
from sales_data_pipeline_gcp_spark.plans.registry import register


@register(
    "q_subquery_scalar",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.5 * (SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2)))
                                              AS VARCHAR) AS DOUBLE)
                                       / COUNT(*) FROM orders)
    """,
    doc="Uncorrelated scalar subquery: orders above 1.5x the global average "
    "price. Catalyst evaluates the subquery once and broadcasts the scalar.",
    tags=("subquery",),
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        # STRING, not VARCHAR: Spark's parser rejects bare VARCHAR (needs a
        # length) while the oracle's dialect spells the same string route
        # AS VARCHAR — same exactness argument (functions/exact.py).
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 1.5 * (SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2)))
                                                  AS STRING) AS DOUBLE)
                                           / COUNT(*) FROM orders)
        """
    )


@register(
    "q_subquery_correlated",
    oracle="""
    SELECT o.o_custkey, o.o_orderkey, o.o_totalprice
    FROM orders o
    WHERE o.o_totalprice = (SELECT MAX(i.o_totalprice) FROM orders i
                            WHERE i.o_custkey = o.o_custkey)
    """,
    doc="Correlated scalar subquery (each customer's most expensive "
    "order(s)) — Catalyst decorrelates to an aggregate + join; never a "
    "per-row re-scan.",
    tags=("subquery",),
)
def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o.o_custkey, o.o_orderkey, o.o_totalprice
        FROM orders o
        WHERE o.o_totalprice = (SELECT MAX(i.o_totalprice) FROM orders i
                                WHERE i.o_custkey = o.o_custkey)
        """
    )


@register(
    "q_subquery_in",
    oracle="""
    SELECT p_partkey, p_brand
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
      AND p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_discount = 0.0 AND l_quantity >= 49)
    """,
    doc="IN / NOT IN subqueries (compile to semi/anti joins). NULL-free "
    "keys by construction — NOT IN with NULLs is the classic 3VL trap and "
    "is deliberately exercised with a guaranteed-non-null column.",
    tags=("subquery",),
)
def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("part", "lineitem"))
    return spark.sql(
        """
        SELECT p_partkey, p_brand
        FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
          AND p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_discount = 0.0 AND l_quantity >= 49)
        """
    )


@register(
    "q_agg_approx",
    oracle=None,  # approximate by definition; error bounds gated in tests
    doc="Approximate aggregates — the 100 TB path for distincts/quantiles "
    "on heavy groups: approx_count_distinct (HyperLogLog++) and "
    "approx_percentile (KLL-ish sketch). Sketches only — the exact "
    "versions this replaces would pay a sort-based object aggregate; "
    "tests/test_approx.py bounds the sketch error against exact answers.",
    tags=("agg", "approx"),
)
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
    )


@register(
    "q_agg_approx_bounds",
    oracle="""
    SELECT l_returnflag,
           TRUE AS distinct_within_bound,
           TRUE AS median_within_bound
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Hard-verifiable twin of q_agg_approx: sketches vs their exact "
    "references, emitting per-group bound booleans — "
    "approx_count_distinct(rsd=0.01) within 5 sigma (5%) of the exact "
    "distinct, and approx_percentile(accuracy=10000, rank error 1e-4) "
    "between the exact 0.499 / 0.501 quantiles (10x margin over the "
    "guaranteed rank error). Both sketches are deterministic per dataset, "
    "so the booleans replay; the oracle asserts TRUE per group. The "
    "sketch, distinct, and exact-percentile aggregates run as THREE "
    "separate groupBys joined on the 3-row group key: mixing a sketch "
    "with COUNT(DISTINCT)/percentile in one .agg() forces Spark's "
    "sort-based ObjectHashAggregate fallback for the whole aggregate "
    "(measured 44 s vs ~4 s split at sf0.1) — three scans are linear; "
    "the fallback is not. This is the verification query — q_agg_approx "
    "(sketches only, no exact reference) is the 100 TB path.",
    tags=("agg", "approx"),
)
def q_agg_approx_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    sketches = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("a_nd"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("a_med"),
    )
    exact_nd = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("e_nd")
    )
    exact_pct = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.array(F.lit(0.499), F.lit(0.501))).alias("e_bounds")
    )
    agg = sketches.join(exact_nd, "l_returnflag").join(exact_pct, "l_returnflag")
    return agg.select(
        "l_returnflag",
        (F.abs(F.col("a_nd") - F.col("e_nd")) <= F.col("e_nd") * 0.05).alias(
            "distinct_within_bound"
        ),
        (
            (F.col("a_med") >= F.col("e_bounds")[0]) & (F.col("a_med") <= F.col("e_bounds")[1])
        ).alias("median_within_bound"),
    )
