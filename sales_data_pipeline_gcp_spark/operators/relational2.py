"""Relational surface, part 2: full outer join, explicit GROUPING SETS with
grouping_id, pivot/unpivot, exact percentiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_data_pipeline_gcp_spark.functions.exact import exact_sum, sql_sum
from sales_data_pipeline_gcp_spark.io import fan_out, load
from sales_data_pipeline_gcp_spark.plans.registry import register


@register(
    "q_join_full",
    oracle=f"""
    WITH c AS (
        SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers,
               {sql_sum('c_acctbal', 2)} AS cust_balance
        FROM customer WHERE c_nationkey < 20 GROUP BY c_nationkey
    ), s AS (
        SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers,
               {sql_sum('s_acctbal', 2)} AS supp_balance
        FROM supplier WHERE s_nationkey >= 5 GROUP BY s_nationkey
    )
    SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
           COALESCE(n_customers, 0) AS n_customers,
           cust_balance,
           COALESCE(n_suppliers, 0) AS n_suppliers,
           supp_balance
    FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    """,
    doc="Full outer join with left-only, overlapping, and right-only key "
    "ranges; aggregate-before-join on both sides.",
    tags=("join",),
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") < 20)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_customers"), exact_sum("c_acctbal", 2).alias("cust_balance"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") >= 5)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_suppliers"), exact_sum("s_acctbal", 2).alias("supp_balance"))
    )
    return (
        c.join(s, "nationkey", "full")  # USING-join coalesces the key
        .select(
            "nationkey",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            "cust_balance",
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
            "supp_balance",
        )
    )


@register(
    "q_agg_grouping_sets",
    oracle=f"""
    SELECT GROUPING_ID(l_returnflag, l_linestatus) AS gid,
           l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           {sql_sum('l_quantity', 2)} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    doc="Explicit GROUPING SETS with grouping_id disambiguating subtotal "
    "rows from genuine NULL keys — single Expand+HashAggregate pass.",
    tags=("agg",),
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = fan_out(
        load(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", "l_quantity"
        )
    )
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n_items"),
            exact_sum("l_quantity", 2).alias("sum_qty"),
        )
        .select("gid", "l_returnflag", "l_linestatus", "n_items", "sum_qty")
    )


_STATUSES = ["F", "O", "P"]


@register(
    "q_pivot",
    oracle=f"""
    SELECT o_orderpriority,
           {', '.join(
               f"SUM(CASE WHEN o_orderstatus = '{s}' THEN CAST(o_totalprice AS DECIMAL(38,2)) END)::DOUBLE AS status_{s}"
               for s in _STATUSES
           )}
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Pivot (long->wide): order revenue by priority x status. Explicit "
    "pivot values — at scale, value discovery is a separate job you never "
    "run implicitly.",
    tags=("agg", "pivot"),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", _STATUSES)
        .agg(exact_sum("o_totalprice", 2))
    )
    return wide.select(
        "o_orderpriority", *[F.col(s).alias(f"status_{s}") for s in _STATUSES]
    )


@register(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, value FROM (
        SELECT l_orderkey, l_linenumber, 'extendedprice' AS measure, l_extendedprice AS value FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
    ) u
    """,
    doc="Unpivot (wide->long) of the monetary columns via DataFrame.unpivot "
    "(Expand node — one pass, no join).",
    tags=("pivot",),
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("extendedprice"),
        F.col("l_discount").alias("discount"),
        F.col("l_tax").alias("tax"),
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["extendedprice", "discount", "tax"],
        "measure",
        "value",
    )


@register(
    "q_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.25) AS p25,
           quantile_cont(l_extendedprice, 0.5)  AS p50,
           quantile_cont(l_extendedprice, 0.75) AS p75
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact linear-interpolation percentiles per group (Spark percentile "
    "== DuckDB quantile_cont semantics). All three cut points come from ONE "
    "percentile aggregate (array of percentages): the group's values are "
    "collected and sorted once, not once per quantile — exact percentile's "
    "partial state is the value list itself, so fewer buffers directly cut "
    "the shuffle payload. The approx_percentile variant is the scale path "
    "for heavy groups; exact is fine per-group here because groups are few.",
    tags=("agg",),
)
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    pcts = F.percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(pcts.alias("ps"))
        .select(
            "l_returnflag",
            F.col("ps")[0].alias("p25"),
            F.col("ps")[1].alias("p50"),
            F.col("ps")[2].alias("p75"),
        )
    )


@register(
    "q_window_range",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                          RANGE BETWEEN 5000 PRECEDING AND 5000 FOLLOWING) AS n_similar,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2)))
                     OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                           RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW)
                AS VARCHAR) AS DOUBLE) AS cum_below
    FROM orders
    """,
    doc="RANGE frames (value-based, vs the ROWS frames in q_window_frame): "
    "peers are defined by order-value distance, so tied values share frame "
    "results — no tie-break needed for determinism.",
    tags=("window",),
)
def q_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load(spark, sf_dir, "orders")
    w_sym = W.partitionBy("o_custkey").orderBy("o_totalprice").rangeBetween(-5000, 5000)
    w_below = W.partitionBy("o_custkey").orderBy("o_totalprice").rangeBetween(-5000, W.currentRow)
    dec = F.col("o_totalprice").cast("decimal(38,2)")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.count(F.lit(1)).over(w_sym).alias("n_similar"),
        F.sum(dec).over(w_below).cast("string").cast("double").alias("cum_below"),
    )


@register(
    "q_join_right",
    oracle=f"""
    SELECT c_custkey,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(spend, 0.0)  AS spend
    FROM (
        SELECT o_custkey, COUNT(*) AS n_orders, {sql_sum('o_totalprice', 2)} AS spend
        FROM orders GROUP BY o_custkey
    ) agg
    RIGHT JOIN customer ON o_custkey = c_custkey
    """,
    doc="Right outer join (mirror of q_join_outer's left form — the "
    "preserved side is the right/customer side).",
    tags=("join",),
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), exact_sum("o_totalprice", 2).alias("spend"))
    )
    cust = load(spark, sf_dir, "customer")
    return per_cust.join(cust, per_cust.o_custkey == cust.c_custkey, "right").select(
        "c_custkey",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("spend", F.lit(0.0)).alias("spend"),
    )


@register(
    "q_map_functions",
    oracle="""
    SELECT event_id,
           array_to_string(json_keys(props), ',')             AS prop_keys,
           CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)  AS k_val,
           CAST(1 AS BIGINT)                                  AS n_props
    FROM events
    """,
    doc="Map surface: from_json -> MapType, map_keys / element_at / size. "
    "(Fixture props have a single key; the operators generalize.) Keys are "
    "serialized to a comma-joined string — declared outputs never carry raw "
    "list cells (driver canonicalizer limitation), and key strings join "
    "identically cross-engine.",
    tags=("scalar", "json"),
)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = F.from_json("props", "map<string,bigint>")
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("prop_keys"),
        F.element_at(m, "k").alias("k_val"),
        F.size(m).cast("long").alias("n_props"),
    )


@register(
    "q_window_firstlast",
    oracle="""
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           LAST_VALUE(o_totalprice)  OVER w AS last_price,
           NTH_VALUE(o_totalprice, 2) OVER w AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    doc="first/last/nth analytic window values over the full partition "
    "frame (explicit UNBOUNDED FOLLOWING — the default frame makes "
    "last_value a running value, a classic correctness trap).",
    tags=("window",),
)
def q_window_firstlast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


@register(
    "q_array_predicates",
    oracle="""
    SELECT vec_id,
           len(list_filter(embedding, x -> x > 0.2)) > 0          AS any_big,
           len(list_filter(embedding, x -> x > -1.0)) = len(embedding) AS all_sane,
           len(list_filter(embedding, x -> x < 0.0))              AS n_negative
    FROM embeddings
    """,
    doc="Higher-order array predicates: exists / forall / filtered count "
    "over the embedding vectors.",
    tags=("scalar", "array"),
)
def q_array_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.exists("embedding", lambda x: x > 0.2).alias("any_big"),
        F.forall("embedding", lambda x: x > -1.0).alias("all_sane"),
        F.size(F.filter("embedding", lambda x: x < 0.0)).cast("long").alias("n_negative"),
    )


@register(
    "q_window_percentrank",
    oracle="""
    SELECT c_custkey, c_acctbal,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST()    OVER w AS cume,
           CAST(NTILE(10) OVER w AS INTEGER) AS decile
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
    doc="Distribution ranking windows: percent_rank ((rank-1)/(n-1)), "
    "cume_dist, deciles over a global unique ordering (exact rational "
    "divisions -> bit-identical doubles). Scale note: an unpartitioned "
    "window funnels through one task — at 100 TB you pre-bin with "
    "approx quantiles and rank within bins; fine here because the "
    "dimension is customer-sized.",
    tags=("window",),
)
def q_window_percentrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    w = W.orderBy("c_acctbal", "c_custkey")
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(10).over(w).alias("decile"),
    )


@register(
    "q_argmin_join",
    oracle="""
    WITH offers AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice / l_quantity) AS unit_price
        FROM lineitem WHERE l_quantity > 0
        GROUP BY l_partkey, l_suppkey
    ), best AS (
        SELECT l_partkey, MIN(unit_price) AS best_price
        FROM offers GROUP BY l_partkey
    ), chosen AS (
        SELECT o.l_partkey, MIN(o.l_suppkey) AS l_suppkey, b.best_price
        FROM offers o JOIN best b
          ON o.l_partkey = b.l_partkey AND o.unit_price = b.best_price
        GROUP BY o.l_partkey, b.best_price
    )
    SELECT c.l_partkey AS partkey, p.p_name, c.l_suppkey AS suppkey,
           s.s_name, c.best_price
    FROM chosen c
    JOIN part p ON c.l_partkey = p.p_partkey
    JOIN supplier s ON c.l_suppkey = s.s_suppkey
    """,
    doc="Argmin via aggregate + join-back (TPC-H Q2's min-cost-supplier "
    "shape, using lineitem as the part-supplier association): cheapest "
    "observed unit price per (part, supplier), global min per part, then "
    "an equality join back to recover WHICH supplier offers it (min "
    "suppkey on exact-price ties). The join-back pattern is the "
    "greatest-n-per-group alternative to a window rank: two partial-agg "
    "shuffles on the group key and an equi-join instead of a per-group "
    "total sort — at 100 TB the aggregates collapse map-side, so this "
    "shape beats the window when groups are wide. The price equality "
    "join is exact: both sides carry the SAME double (one IEEE division "
    "per row, then MIN), identically in both engines. part/supplier are "
    "broadcast dims.",
    tags=("join", "agg"),
)
def q_argmin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    )
    best = offers.groupBy("l_partkey").agg(F.min("unit_price").alias("best_price"))
    chosen = (
        offers.join(
            best.withColumnRenamed("l_partkey", "b_partkey"),
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("unit_price") == F.col("best_price")),
        )
        .groupBy("l_partkey", "best_price")
        .agg(F.min("l_suppkey").alias("l_suppkey"))
    )
    part = F.broadcast(load(spark, sf_dir, "part").select("p_partkey", "p_name"))
    supp = F.broadcast(load(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        chosen.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("l_partkey").alias("partkey"),
            "p_name",
            F.col("l_suppkey").alias("suppkey"),
            "s_name",
            "best_price",
        )
    )


@register(
    "q_set_bag_ops",
    oracle="""
    SELECT 'except_all' AS op, * FROM (
        SELECT o_orderstatus, o_orderpriority FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        EXCEPT ALL
        SELECT o_orderstatus, o_orderpriority FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    UNION ALL
    SELECT 'intersect_all' AS op, * FROM (
        SELECT o_orderstatus, o_orderpriority FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        INTERSECT ALL
        SELECT o_orderstatus, o_orderpriority FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    """,
    doc="Bag-semantics set operations (EXCEPT ALL / INTERSECT ALL) over the "
    "(status, priority) multiset of two order years — multiplicity-aware "
    "difference and intersection, which DISTINCT-based set ops get wrong. "
    "Spark compiles both to a single shuffle on the row value with "
    "per-side counts (no row-by-row anti join); the two ops share scan "
    "subtrees. Output keeps duplicate rows by design — the driver's "
    "canonicalizer is order-insensitive but multiplicity-sensitive, so "
    "the multiset itself is what is adjudicated.",
    tags=("setops",),
)
def q_set_bag_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")

    def year(y: int) -> DataFrame:
        return orders.filter(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01 00:00:00").cast("timestamp"))
        ).select("o_orderstatus", "o_orderpriority")

    a, b = year(1996), year(1997)
    return (
        a.exceptAll(b).select(F.lit("except_all").alias("op"), "*")
        .unionByName(a.intersectAll(b).select(F.lit("intersect_all").alias("op"), "*"))
    )


@register(
    "q_window_cume",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           cume_dist() OVER w AS cume,
           nth_value(c_acctbal, 2) OVER
               (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_low_bal
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
    doc="Distribution analytics: cume_dist (fraction of partition rows at "
    "or below the current row) and nth_value(2) over a running frame — "
    "per-nation account-balance percentile position and the partition's "
    "second-lowest balance once visible. The window order includes the "
    "unique c_custkey so ties cannot make RANGE/ROWS frames diverge "
    "between engines; cume_dist divides two exact integers. One shuffle "
    "on c_nationkey; both functions evaluate in the same sorted pass.",
    tags=("window",),
)
def q_window_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cust = load(spark, sf_dir, "customer")
    order = [F.col("c_acctbal").asc(), F.col("c_custkey").asc()]
    w = W.partitionBy("c_nationkey").orderBy(*order)
    wf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return cust.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.cume_dist().over(w).alias("cume"),
        F.nth_value("c_acctbal", 2).over(wf).alias("second_low_bal"),
    )


@register(
    "q_agg_listagg",
    oracle="""
    SELECT c_mktsegment,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
               AS priorities_csv,
           COUNT(DISTINCT o_orderpriority) AS n_priorities
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="LISTAGG / string_agg surface: the set of values per group as ONE "
    "deterministic string — collect_set is unordered in Spark (and "
    "string_agg order is undefined without ORDER BY in most engines), so "
    "the declared form sorts the set BEFORE joining, which is the only "
    "portable listagg. Scale: the per-group set is bounded (5 "
    "priorities), so the agg buffer stays O(|distinct|), not O(rows).",
    tags=("agg",),
)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("o_orderpriority"))).alias(
                "priorities_csv"
            ),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "q_agg_mode",
    oracle="""
    SELECT l_returnflag, l_linestatus AS mode_status, cnt
    FROM (
        SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY COUNT(*) DESC, l_linestatus
               ) AS rn
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    ) t
    WHERE rn = 1
    ORDER BY l_returnflag
    """,
    doc="MODE (most frequent value) per group with a deterministic "
    "value-order tiebreak — native mode() is tie-ambiguous in both "
    "engines, so the portable form is count + row_number. Scale: the "
    "count agg collapses map-side to |group x value| rows; the window "
    "runs over that tiny aggregate, never the fact table.",
    tags=("agg",),
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus")
    counts = li.groupBy("l_returnflag", "l_linestatus").agg(F.count("*").alias("cnt"))
    w = W.partitionBy("l_returnflag").orderBy(F.col("cnt").desc(), F.col("l_linestatus").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_linestatus").alias("mode_status"), "cnt")
        .orderBy("l_returnflag")
    )


@register(
    "q_window_share",
    oracle=f"""
    WITH nat AS (
        SELECT n_name, {sql_sum('o_totalprice', 2)} AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    ), tot AS (
        SELECT {sql_sum('revenue', 2)} AS total FROM nat
    )
    SELECT n_name, revenue, revenue / total AS revenue_share
    FROM nat CROSS JOIN tot
    ORDER BY revenue DESC, n_name
    """,
    doc="Percent-of-total (ratio_to_report shape): grouped exact revenue, "
    "then each group's share of the grand total. The total is an exact "
    "decimal sum of the 25 group revenues (exact_sum / sql_sum), so it is "
    "the same double under any shuffle-partition count — a plain double "
    "SUM adds in partition order and drifted in the last ulp at 1, 2, 3, "
    "4, 7 and 8 partitions. The one-row total is broadcast to the 25-row "
    "aggregate, and its branch reuses the grouped shuffle "
    "(ReusedExchange), so the fact table is read once.",
    tags=("agg",),
)
def q_window_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    nation = F.broadcast(load(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    nat = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(exact_sum("o_totalprice", 2).alias("revenue"))
    )
    total = F.broadcast(nat.agg(exact_sum("revenue", 2).alias("total")))
    return (
        nat.crossJoin(total)
        .select("n_name", "revenue", (F.col("revenue") / F.col("total")).alias("revenue_share"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


# --- interval-overlap self-join via bucket binning -------------------------

#: Synthetic validity interval per order: [orderdate, orderdate + orderkey%14
#: days]. Bounded length is what makes binned overlap joins efficient.
IVL_MAX_DAYS = 14
IVL_BUCKET_DAYS = 7


@register(
    "q_join_interval",
    oracle=f"""
    WITH iv AS (
        SELECT o_custkey AS cust, o_orderkey AS okey,
               CAST(DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS start_day,
               CAST(DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
                 + o_orderkey % {IVL_MAX_DAYS} AS end_day
        FROM orders
    )
    SELECT a.cust, a.okey AS okey_a, b.okey AS okey_b,
           CAST(LEAST(a.end_day, b.end_day) - GREATEST(a.start_day, b.start_day) + 1 AS BIGINT)
             AS overlap_days
    FROM iv a JOIN iv b
      ON a.cust = b.cust AND a.okey < b.okey
     AND a.start_day <= b.end_day AND b.start_day <= a.end_day
    """,
    doc="Interval-overlap self-join (the genomics/validity-window shape: "
    "find same-customer order pairs whose date intervals intersect). The "
    f"Spark plan BINS each interval to the {IVL_BUCKET_DAYS}-day buckets "
    "it spans (explode of a <=3-element sequence, bounded because "
    f"interval length is capped at {IVL_MAX_DAYS} days), equi-joins on "
    "(customer, bucket), applies the exact overlap predicate, and "
    "de-duplicates pairs that share several buckets — turning a per-key "
    "theta join into an equi-join Catalyst can hash-partition, the "
    "standard distributed interval-join strategy. At 100 TB the "
    "replication factor is ceil(max_len/bucket)+1 per side (here <=3) "
    "and skew follows the (customer, week) key, not the customer alone. "
    "The oracle is the naive per-customer theta join — an independent "
    "formulation of the same pair set.",
    tags=("join",),
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    start = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).cast("bigint")
    iv = o.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("okey"),
        start.alias("start_day"),
        (start + F.col("o_orderkey") % IVL_MAX_DAYS).alias("end_day"),
    )
    binned = iv.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.expr(f"start_day div {IVL_BUCKET_DAYS}"),
                F.expr(f"end_day div {IVL_BUCKET_DAYS}"),
            )
        ),
    )
    a = binned.select(
        F.col("cust"),
        F.col("okey").alias("okey_a"),
        F.col("start_day").alias("start_a"),
        F.col("end_day").alias("end_a"),
        "bucket",
    )
    b = binned.select(
        F.col("cust").alias("cust_b"),
        F.col("okey").alias("okey_b"),
        F.col("start_day").alias("start_b"),
        F.col("end_day").alias("end_b"),
        F.col("bucket").alias("bucket_b"),
    )
    pairs = (
        a.join(b, (a["cust"] == b["cust_b"]) & (a["bucket"] == b["bucket_b"]))
        .filter(
            (F.col("okey_a") < F.col("okey_b"))
            & (F.col("start_a") <= F.col("end_b"))
            & (F.col("start_b") <= F.col("end_a"))
        )
        .select("cust", "okey_a", "okey_b", "start_a", "end_a", "start_b", "end_b")
        .distinct()  # a pair sharing several buckets joins several times
    )
    return pairs.select(
        "cust",
        "okey_a",
        "okey_b",
        (
            F.least(F.col("end_a"), F.col("end_b"))
            - F.greatest(F.col("start_a"), F.col("start_b"))
            + F.lit(1)
        ).cast("bigint").alias("overlap_days"),
    )


#: bitmap distinct: 63 ids per BIGINT word (bit 63 untouched — keeps the
#: shifted value positive in both engines' signed 64-bit space).
BITMAP_WORD = 63


@register(
    "q_agg_bitmap_distinct",
    oracle=f"""
    WITH words AS (
        SELECT event_type, user_id // {BITMAP_WORD} AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(user_id % {BITMAP_WORD} AS INTEGER)) AS bits
        FROM events GROUP BY event_type, user_id // {BITMAP_WORD}
    )
    SELECT event_type,
           CAST(SUM(CAST(bit_count(bits) AS BIGINT)) AS BIGINT) AS n_distinct_users,
           COUNT(*) AS n_words
    FROM words GROUP BY event_type
    """,
    doc="Exact distinct counting via positional BITMAPS (the roaring-"
    "bitmap idea expressed in two grouped aggregates): ids bucket into "
    f"{BITMAP_WORD}-bit words, bit_or folds presence map-side, and the "
    "final count is a sum of popcounts. Versus COUNT(DISTINCT), which "
    "plans an Expand + full-width shuffle of every (key, id) pair, the "
    "bitmap shuffles AT MOST one BIGINT per (key, 63-id block) — on "
    "dense id spaces that is a 63x shuffle-payload cut with exact "
    "results (the HLL sketch in q_agg_approx is the lossy alternative; "
    "this is the lossless one). Both aggregation levels combine "
    "map-side; bit 63 stays clear so the words never go negative in "
    "either engine's signed arithmetic.",
    tags=("agg",),
)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    words = (
        ev.select(
            "event_type",
            F.expr(f"user_id div {BITMAP_WORD}").alias("word"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(user_id % {BITMAP_WORD} AS INT))").alias("bit"),
        )
        .groupBy("event_type", "word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("bits").cast("bigint")).alias("n_distinct_users"),
        F.count("*").alias("n_words"),
    )


NTILE_N = 4


@register(
    "q_window_ntile",
    oracle=f"""
    SELECT c_custkey, c_nationkey, c_acctbal,
           CAST(NTILE({NTILE_N}) OVER (
               PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey ASC
           ) AS INTEGER) AS balance_quartile
    FROM customer
    """,
    doc=f"NTILE({NTILE_N}) balance quartiles within each nation — the "
    "bucketing window (cohort assignment, quantile binning). The ORDER "
    "BY is made TOTAL (balance desc, then key) because ntile splits tied "
    "boundary rows by position: without the tie-break the bucket of "
    "equal-balance customers would be engine-dependent. Partitioned by "
    "nation, so the window parallelizes across partitions — a GLOBAL "
    "ntile is a single-reducer shape whose scale fix is range-bucketing "
    "first (the q_zorder_layout ntile does exactly that).",
    tags=("window",),
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    c = load(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.ntile(NTILE_N).over(w).cast("int").alias("balance_quartile"),
    )


#: Keep customers at or above this cumulative-distribution cut of account
#: balance within their nation.
CUMEDIST_CUT = 0.9


@register(
    "q_window_cumedist",
    oracle=f"""
    WITH scored AS (
        SELECT c_custkey, c_nationkey, c_acctbal,
               CUME_DIST() OVER (PARTITION BY c_nationkey
                                 ORDER BY c_acctbal) AS cd
        FROM customer
    )
    SELECT c_custkey, c_nationkey, c_acctbal, cd
    FROM scored WHERE cd >= {CUMEDIST_CUT}
    """,
    doc="CUME_DIST top-decile filter: customers in the top 10% of "
    "account balance WITHIN their nation — the percentile-rank "
    "segmentation shape (completes the ranking-window vocabulary "
    "alongside rank/percent_rank/ntile). cume_dist is "
    "ties-deterministic by definition (every peer of a value shares "
    "count(<= value)/n — a ratio of integers, bit-identical "
    "cross-engine), so unlike ntile no tie-break column is needed. "
    "One nation-keyed window shuffle over the customer dimension.",
    tags=("window",),
)
def q_window_cumedist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    c = load(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal")
    scored = c.select(
        "c_custkey", "c_nationkey", "c_acctbal", F.cume_dist().over(w).alias("cd")
    )
    return scored.filter(F.col("cd") >= CUMEDIST_CUT)


@register(
    "q_wow_growth",
    oracle="""
    WITH weekly AS (
        SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                 // 7 AS week,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS VARCHAR) AS DOUBLE)
                 AS revenue
        FROM orders GROUP BY 1
    )
    SELECT week, n_orders, revenue,
           LAG(revenue) OVER (ORDER BY week) AS prev_revenue,
           (revenue - LAG(revenue) OVER (ORDER BY week))
             / LAG(revenue) OVER (ORDER BY week) AS wow_growth
    FROM weekly
    """,
    doc="Week-over-week revenue growth — the period-over-period reporting "
    "shape: weekly rollup on an INTEGER epoch-week key "
    "(days-since-epoch // 7: no date_trunc, whose week-start and "
    "timezone conventions differ across engines), decimal-exact weekly "
    "revenue, then LAG and a growth ratio over the dimension-bounded "
    "week series. The first week's growth is NULL by definition. The "
    "fact stream collapses in the map-side-combined weekly agg; the "
    "window runs over |weeks| rows.",
    tags=("window", "agg"),
)
def q_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from sales_data_pipeline_gcp_spark.functions.exact import exact_sum

    o = load(spark, sf_dir, "orders")
    week = F.expr("datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') div 7")
    weekly = o.groupBy(week.alias("week")).agg(
        F.count("*").alias("n_orders"),
        exact_sum("o_totalprice", 2).alias("revenue"),
    )
    w = W.orderBy("week")
    prev = F.lag("revenue").over(w)
    return weekly.select(
        "week",
        "n_orders",
        "revenue",
        prev.alias("prev_revenue"),
        ((F.col("revenue") - prev) / prev).alias("wow_growth"),
    )
