"""Connected components over the near-dup pair graph — the iterative
algorithm that turns pairwise near-dup hits into dedup CLUSTERS (the
drop-doc_b rule in corpus.py under-merges when A~B and B~C but not A~C;
components give each document its cluster's canonical min id).

Two Spark implementations, both driver-loop = control-flow-only:

- ``connected_components_star`` (the PRODUCTION path, used by
  q_dedup_clusters): alternating large-star / small-star rounds (Kiveris
  et al., "Connected Components in MapReduce and Beyond", SoCC'14 — a
  public algorithm). Each round is two join+agg passes over the edge
  list; the edge set contracts toward a star forest in O(log^2 n) rounds
  REGARDLESS of graph diameter — the property that makes the 100 TB
  claim honest, since near-dup graphs of crawled corpora contain long
  template chains exactly where the data is worst.
- ``connected_components`` (label propagation): min-label flood, one
  join+agg per iteration, O(diameter) shuffles. Kept as the independent
  reference implementation the property tests compare against.

Oracle: DuckDB ``WITH RECURSIVE`` transitive closure + MIN per node —
a third, completely independent formulation of the same fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sales_data_pipeline_gcp_spark.functions.exact import dec
from sales_data_pipeline_gcp_spark.io import fan_out, load
from sales_data_pipeline_gcp_spark.operators.dedup import (
    _JACCARD_PAIRS_SQL,
    _SHINGLES_SQL,
    JACCARD_THRESHOLD,
    _minhash_sql,
    materialize,
    neardup_pairs,
)
from sales_data_pipeline_gcp_spark.plans.registry import register

MAX_ITERATIONS = 20


def fixpoint(
    state: DataFrame, step, *, label: str, max_rounds: int, metrics=(), done=None
) -> tuple[DataFrame, bool]:
    """``state = step(state, i)`` for rounds i = 1..max_rounds; returns
    ``(state, converged)``. Each round is one eager labelled checkpoint, so
    round k never replays rounds 1..k-1. ``metrics`` ride on that checkpoint
    job through an unnamed Observation (UUID-named, so concurrent queries on
    one session cannot collide) and ``done(metrics, i, prev, state)`` stops
    the loop: the convergence test runs no job of its own."""
    for i in range(1, max_rounds + 1):
        obs, nxt = Observation(), step(state, i)
        if metrics:
            nxt = nxt.observe(obs, *metrics)
        prev, state = state, materialize(nxt, label=label)
        if done and done(obs.get, i, prev, state):
            return state, True
    return state, False


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = MAX_ITERATIONS,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = min node
    id reachable. Label propagation to fixpoint (bounded by
    ``max_iterations``; raises if not converged — never silently wrong)."""
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).distinct()
    # checkpoint the edge set FIRST, then derive labels from the
    # checkpointed plan — deriving labels from the raw plan would
    # re-execute the whole upstream pipeline a second time
    sym = materialize(sym, label="labelprop_edges")
    labels = materialize(
        sym.select(F.col("a").alias("node")).distinct().withColumn("label", F.col("node")),
        label="labelprop_seed",
    )

    def step(labels: DataFrame, _: int) -> DataFrame:
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("nmin"))
        )
        # old and new label share this row, so the changed flag is in-row
        return labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias("label"),
            F.coalesce(F.col("nmin") < F.col("label"), F.lit(False)).alias("changed"),
        )

    labels, converged = fixpoint(
        labels, step, label="labelprop_iter", max_rounds=max_iterations,
        metrics=(F.count_if("changed").alias("changed"),), done=lambda m, *_: m["changed"] == 0,
    )
    if not converged:
        raise RuntimeError(f"connected_components did not converge in {max_iterations} iterations")
    return labels.select("node", "label")


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: for every node u, connect each STRICTLY LARGER
    neighbor v to m(u) = min(neighbors(u) + {u}). Every undirected edge is
    processed from its smaller endpoint's perspective; output edges are
    oriented child > parent (u > v strictly: v = m(u_old) <= u_old < u).

    PRECONDITION: ``e`` is DISTINCT and strictly oriented u > v, which the
    contraction loop guarantees (its seed is a greatest/least distinct and
    every later ``e`` is ``_small_star`` output). Then the symmetrized
    union cannot hold duplicates (its two branches live in disjoint
    half-planes), so it needs no ``distinct``. The output MAY hold
    duplicates: the one caller feeds it straight to ``_small_star``, which
    starts with a ``distinct``. Both skipped distincts are full edge-set
    exchanges (guide §2.4: remove shuffles outright)."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # ONE u-keyed exchange feeds the window (guide §2.4): m(u) = min over
    # the u-partition is a WINDOW, not a groupBy+self-join — the join
    # formulation re-executed the whole upstream once per join
    # side (broadcast build) and cost 2 extra exchanges + a broadcast job
    # per call (measured plan: 10 Exchange / 4 BroadcastHashJoin for one
    # fused round; the window form plans 3 Exchange / 0 joins).
    m = F.least(F.min("v").over(W.partitionBy("u")), F.col("u"))
    return (
        sym.repartition("u")
        .withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient every edge toward its smaller endpoint,
    then for every node u re-hang u and all its smaller neighbors off
    m(u) = min(smaller neighbors). Output is DISTINCT and strictly
    oriented u > v (rehung: u = v_old >= m with equality filtered; self
    edge: u > v >= m). The contraction loop's fixpoint test (equal
    cardinality, then a one-sided exceptAll) is exact only on distinct
    edge sets, so the invariant is guaranteed here, where it is produced."""
    # same one-exchange sharing as _large_star: the u-keyed repartition
    # satisfies the distinct's (u,v) clustering and the m(u) window; no
    # groupBy+join, so no upstream re-execution for a broadcast build.
    d = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .repartition("u")
        .distinct()
        .withColumn("m", F.min("v").over(W.partitionBy("u")))
    )
    rehung = d.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    # one (u, m) row PER EDGE instead of per u — the closing distinct
    # (which the rehang's child re-keying forces anyway) folds the
    # duplicates, same volume class as the edge set itself
    self_edge = d.select("u", F.col("m").alias("v"))
    return rehung.unionByName(self_edge).filter(F.col("u") != F.col("v")).distinct()


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = MAX_ITERATIONS,
) -> DataFrame:
    """(node, label) via alternating large-star/small-star contraction —
    converges in O(log^2 n) rounds independent of diameter (module
    docstring). Fixpoint test: the oriented edge set is unchanged by a
    full round (set equality, not a heuristic). Raises if ``max_rounds``
    is hit — never silently wrong."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )
    # checkpoint the edges FIRST so nodes/rounds don't re-run the upstream
    # pair pipeline (same contract as connected_components)
    n_edges = F.count("*").alias("n")
    seen = Observation()
    e = materialize(e.observe(seen, n_edges), label="cc_star_edges")
    n_prev = seen.get["n"]

    def done(m: dict, _: int, prev: DataFrame, cur: DataFrame) -> bool:
        # distinct edge sets are equal iff their counts tie and the
        # one-sided difference is empty, which is counted on a tie only
        nonlocal n_prev
        tie, n_prev = m["n"] == n_prev, m["n"]
        return tie and cur.exceptAll(prev).count() == 0

    # every state is DISTINCT and strictly oriented u > v (the seed's
    # greatest/least distinct, then _small_star's output invariant) —
    # _large_star's precondition
    cur, converged = fixpoint(
        e, lambda cur, _: _small_star(_large_star(cur)), label="cc_star_round",
        max_rounds=max_rounds, metrics=(n_edges,), done=done,
    )
    if not converged:
        raise RuntimeError(f"connected_components_star did not converge in {max_rounds} rounds")
    # at fixpoint ``cur`` is a star forest: (child, root). Roots appear
    # only on the right side; give them self-labels. ``nodes`` is derived
    # here from the CHECKPOINTED initial edge set — it feeds exactly one
    # anti-join, so checkpointing it would add one eager job for a subtree
    # that executes once anyway.
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    children = cur.select(F.col("u").alias("node"), F.col("v").alias("label"))
    roots = nodes.join(children.select("node").distinct(), "node", "left_anti").select(
        "node", F.col("node").alias("label")
    )
    return children.groupBy("node").agg(F.min("label").alias("label")).unionByName(roots)

_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE words AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents
    ), shingles AS (
        SELECT doc_id,
               UNNEST(list_distinct(list_transform(
                   range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' ')))) AS shingle
        FROM words WHERE len(ws) >= 3
    ),
    {_minhash_sql().strip()},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
        FROM candidates c
        JOIN shingles a ON c.doc_a = a.doc_id
        JOIN shingles b ON c.doc_b = b.doc_id AND a.shingle = b.shingle
        GROUP BY c.doc_a, c.doc_b
    ), pairs AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON i.doc_a = sa.doc_id
        JOIN sizes sb ON i.doc_b = sb.doc_id
        WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= {JACCARD_THRESHOLD}
    ), edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ), reach AS (
        SELECT a AS node, a AS label FROM edges
        UNION
        SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node
    )
    SELECT node AS doc_id, MIN(label) AS component
    FROM reach GROUP BY node
    """


@register(
    "q_dedup_clusters",
    oracle=_CLUSTERS_ORACLE,
    doc="Near-dup clustering: MinHash-LSH pairs -> connected components via "
    "alternating large-star/small-star contraction (O(log^2 n) rounds "
    "independent of graph diameter — the production algorithm; driver "
    "loop is control flow only, each round two join+aggs). Verified "
    "against BOTH the label-propagation reference implementation "
    "(tests/test_dedup_property.py) and the DuckDB recursive-CTE "
    "transitive closure — three independent fixpoint formulations.",
    tags=("dedup", "iterative"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load(spark, sf_dir, "documents"))
    # shared minhash pipeline (doc-granular checkpoints); the contraction
    # loop then checkpoints its own state (connected_components_star)
    pairs = neardup_pairs(docs)
    comp = connected_components_star(pairs.select("doc_a", "doc_b"), "doc_a", "doc_b")
    return comp.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


# --- PageRank (fixed-iteration, fully oracled) ----------------------------

#: PageRank over the customer<->supplier trade graph: damping 0.85, a FIXED
#: 3 iterations from the uniform vector — fixing the iteration count is what
#: makes an iterative algorithm oracle-adjudicable (the DuckDB side unrolls
#: the same three steps as CTEs; convergence-based stopping would couple
#: the result to float tolerance). Supplier node ids offset by NODE_OFFSET
#: to keep the two key spaces disjoint.
PR_ITERATIONS = 3
PR_DAMPING = 0.85
NODE_OFFSET = 1_000_000
PR_TOPN = 20

_PR_EDGES_SQL = f"""
    pairs AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), edges AS (
        SELECT c AS src, s + {NODE_OFFSET} AS dst FROM pairs
        UNION ALL
        SELECT s + {NODE_OFFSET} AS src, c AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank FROM nodes CROSS JOIN nn)
"""


def _pr_iter_sql(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
        SELECT nd.node,
               CAST(0.15 AS DOUBLE) / nn.n
                 + CAST({PR_DAMPING} AS DOUBLE)
                   * CAST(COALESCE(SUM(CAST(r.rank / d.deg AS DECIMAL(38,12))), 0) AS DOUBLE) AS rank
        FROM nodes nd
        CROSS JOIN nn
        LEFT JOIN edges e ON e.dst = nd.node
        LEFT JOIN {prev} r ON r.node = e.src
        LEFT JOIN outdeg d ON d.src = e.src
        GROUP BY nd.node, nn.n
    )"""


_PR_ORACLE = (
    "WITH "
    + _PR_EDGES_SQL
    + ","
    + ",".join(_pr_iter_sql(f"r{i}", f"r{i + 1}") for i in range(PR_ITERATIONS))
    + f"""
    SELECT node, node >= {NODE_OFFSET} AS is_supplier, rank AS pagerank
    FROM r{PR_ITERATIONS}
    ORDER BY pagerank DESC, node ASC
    LIMIT {PR_TOPN}
    """
)


@register(
    "q_pagerank",
    oracle=_PR_ORACLE,
    doc=f"PageRank (damping {PR_DAMPING}, {PR_ITERATIONS} fixed iterations "
    "from uniform) over the symmetric customer–supplier trade graph "
    "(edge when a customer's order contains a supplier's line). Each "
    "iteration is one node-keyed join (rank/outdeg weights), one edge-"
    "keyed join, and one dst-grouped sum — per-node contributions "
    "quantize to DECIMAL(38,12) so the neighbor sum is merge-order-"
    "independent and every iteration's input is bit-identical cross-"
    "engine (same exactness lever as q_kmeans_iter). The symmetric edge "
    "construction guarantees no dangling nodes, so no rank mass "
    "redistribution term is needed. At 100 TB: edges hash-partition by "
    "src once and every iteration reuses that partitioning for the "
    "weight join; the rank vector is |nodes|-sized (orders of magnitude "
    "smaller than edges) and the per-iteration shuffle is the dst-keyed "
    "contribution sum with map-side combine — the standard Pregel-class "
    "cost, O(|edges|) per round with a fixed round count.",
    tags=("graph", "iterative"),
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    edges = pairs.select(
        F.col("c").alias("src"), (F.col("s") + NODE_OFFSET).alias("dst")
    ).unionByName(
        pairs.select((F.col("s") + NODE_OFFSET).alias("src"), F.col("c").alias("dst"))
    )
    # edges / nodes / outdeg feed EVERY iteration branch; without cutting
    # their lineage each unrolled iteration re-derives the orders-lineitem
    # join (Spark does no cross-branch subtree reuse — measured 12.9s vs
    # ~2s at sf0.1). All three checkpoints are edge- or node-sized.
    edges = materialize(edges)
    nodes = materialize(edges.select(F.col("src").alias("node")).distinct())
    outdeg = edges.groupBy(F.col("src")).agg(F.count("*").alias("deg"))
    nn_row = nodes.agg(F.count("*").alias("n"))

    # Hoist the STATIC per-node state (out-degree, node count) into the
    # checkpointed rank table ONCE (guide §2.4: two operations keyed the
    # same way share one pass): every node is a src by the symmetric edge
    # construction, so the inner join is total. The loop then derives the
    # weight vector by pure projection — the previous shape re-joined
    # ranks to outdeg and re-broadcast nn_row every iteration (one extra
    # join + broadcast exchange per round, measured ~0.9s of the 3.7s
    # sf0.1 plan).
    ranks = materialize(
        nodes.join(outdeg, nodes["node"] == outdeg["src"])
        .crossJoin(F.broadcast(nn_row))
        .select("node", "deg", "n", (F.lit(1.0) / F.col("n")).alias("rank"))
    )

    def step(ranks: DataFrame, _: int) -> DataFrame:
        srcw = ranks.select(
            F.col("node").alias("src"), (F.col("rank") / F.col("deg")).alias("w")
        )
        # the rank-weight vector is |nodes|-sized — orders of magnitude
        # smaller than edges on any real trade graph — so broadcasting it
        # keeps the edge list UNSHUFFLED through every iteration (measured
        # 5-6s/iter as a shuffle join vs ~1.2s broadcast at sf0.1; AQE does
        # not rescue the planned SMJ because the probe-side exchange is
        # already scheduled). If ranks ever outgrow broadcast, the Pregel
        # answer is co-partitioned storage: bucketBy(node) both edge and
        # rank tables so the per-iteration join is exchange-free
        # (q_join_bucketed demonstrates exactly that plan).
        contrib = (
            edges.join(F.broadcast(srcw), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.coalesce(F.sum(dec(F.col("w"), 12)), F.lit(0).cast("decimal(38,12)")).cast("double").alias("s"))
        )
        # deg/n ride along so the next iteration's weight projection needs
        # no join
        return ranks.join(F.broadcast(contrib), "node", "left").select(
            "node",
            "deg",
            "n",
            (
                F.lit(0.15) / F.col("n")
                + F.lit(PR_DAMPING) * F.coalesce(F.col("s"), F.lit(0).cast("double"))
            ).alias("rank"),
        )

    ranks, _ = fixpoint(ranks, step, label="pagerank_iter", max_rounds=PR_ITERATIONS)
    return (
        ranks.select(
            "node",
            (F.col("node") >= NODE_OFFSET).alias("is_supplier"),
            F.col("rank").alias("pagerank"),
        )
        .orderBy(F.col("pagerank").desc(), F.col("node").asc())
        .limit(PR_TOPN)
    )


# --- triangle enumeration over the near-dup graph -------------------------

#: The oracle side of ``_triangles`` over an ``edges(a, b)`` CTE.
_TRIANGLES_SQL = """SELECT e1.a AS doc_a, e1.b AS doc_b, e2.b AS doc_c
    FROM edges e1
    JOIN edges e2 ON e2.a = e1.b
    JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    """


def _triangles(edges: DataFrame) -> DataFrame:
    """(doc_a, doc_b, doc_c) for every triangle of an ``(a, b)`` edge list
    oriented a < b: one self-join builds the wedges, a second closes them,
    so each triangle appears once as a < b < c."""
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    return (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .select(
            F.col("e1.a").alias("doc_a"),
            F.col("e1.b").alias("doc_b"),
            F.col("e2.b").alias("doc_c"),
        )
    )


@register(
    "q_graph_triangles",
    oracle=f"""
    WITH {_SHINGLES_SQL.strip()},
    {_JACCARD_PAIRS_SQL.strip()},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM jaccard_pairs
        WHERE jaccard >= {JACCARD_THRESHOLD}
    )
    {_TRIANGLES_SQL}""",
    doc="Triangle enumeration over the near-dup similarity graph: triples "
    "of documents that are ALL pairwise near-duplicates — the template-"
    "family signal (a triangle is much stronger evidence of a shared "
    "boilerplate source than two independent pair hits), and the classic "
    "distributed-join graph kernel. Edges are the exact-Jaccard pairs "
    "oriented a<b, so each triangle appears exactly once as a<b<c: one "
    "self-join builds wedges, a second closes them. At 100 TB the "
    "standard refinement is DEGREE ordering instead of id ordering — "
    "orient each edge toward the higher-degree endpoint so wedge count "
    "is bounded by sum of C(out-deg, 2) with out-deg <= O(sqrt(|E|)) "
    "(Suri & Vassilvitskii's MapReduce triangle counting); id ordering "
    "suffices here because near-dup graphs are sparse by construction — "
    "candidates track true duplicates, not pairs.",
    tags=("graph", "dedup"),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sales_data_pipeline_gcp_spark.operators.dedup import (
        jaccard_pairs,
        shingle_arrays,
    )

    # checkpoint the |docs|-row ARRAY table; jaccard_pairs derives the
    # exploded stream lazily (the shingle self-join's two sides share one
    # exchange via ReusedExchange) and takes per-doc sizes in-row
    shs = materialize(shingle_arrays(fan_out(load(spark, sf_dir, "documents"))))
    edges = materialize(
        jaccard_pairs(shs)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )
    return _triangles(edges)


@register(
    "q_graph_triangles_lsh",
    oracle=f"""
    WITH {_SHINGLES_SQL.strip()},
    {_minhash_sql().strip()},
    {_JACCARD_PAIRS_SQL.strip()},
    edges AS (
        SELECT c.doc_a AS a, c.doc_b AS b
        FROM candidates c
        JOIN jaccard_pairs j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
        WHERE j.jaccard >= {JACCARD_THRESHOLD}
    )
    {_TRIANGLES_SQL}""",
    doc="The PRODUCTION twin of q_graph_triangles: same triangle kernel, "
    "but edges come from the MinHash+LSH candidate generator + exact-"
    "Jaccard verification (the q_dedup_minhash pipeline) instead of the "
    "O(n^2) all-pairs join — the only edge construction that exists at "
    "100 TB, where the exact join is infeasible by definition. The "
    "oracle replays the identical md5-seeded minhash banding in SQL, so "
    "the LSH path itself is adjudicated end-to-end; "
    "tests/test_components.py additionally asserts this query's output "
    "EQUALS the exact variant's on the fixtures (LSH pair-completeness "
    "is measured 1.0 there by q_dedup_blocking_quality — at the "
    "J≈threshold margin the banded recall bound 1-(1-J^r)^b applies and "
    "a missed edge removes its triangles, the documented production "
    "trade). Same a<b orientation, so each triangle lands exactly once "
    "as a<b<c; edge count tracks true near-dups, so both self-joins "
    "stay sparse.",
    tags=("graph", "dedup", "llm"),
)
def q_graph_triangles_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load(spark, sf_dir, "documents"))
    edges = materialize(
        neardup_pairs(docs).select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )
    return _triangles(edges)


#: Sparsify the trade graph to each customer's top-K suppliers by trade
#: value before any neighborhood expansion: exact 2-hop enumeration over
#: the DENSE bipartite graph is inherently quadratic (measured: the raw
#: supplier-keyed self-join fans out to ~250M rows at sf0.1 because every
#: supplier serves hundreds of customers), and top-K sparsification is the
#: standard bound (the same degree-capping lever as stop-shingles).
KHOP_TOP_SUPPLIERS = 5

#: The oracle side of ``_topk_trade_edges``: CTEs ending in ``edges(c, s)``.
_TOPK_EDGES_SQL = f"""trade AS (
        SELECT o.o_custkey AS c, l.l_suppkey AS s,
               SUM(CAST(l.l_extendedprice AS DECIMAL(38,2))) AS v
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_custkey, l.l_suppkey
    ), ranked AS (
        SELECT c, s,
               ROW_NUMBER() OVER (PARTITION BY c ORDER BY v DESC, s) AS rn
        FROM trade
    ), edges AS (
        SELECT c, s FROM ranked WHERE rn <= {KHOP_TOP_SUPPLIERS}
    )"""


def _topk_trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c, s): each customer's top-``KHOP_TOP_SUPPLIERS`` suppliers by
    decimal-exact trade value, ties broken by suppkey — the sparsified
    trade graph of q_graph_khop and q_graph_sssp. The tables are read
    without ``fan_out``: the rollup's map work (one decimal conversion and
    a broadcast probe) is too cheap to pay for a keyless full-row
    repartition (interleaved A/B of q_graph_khop: 2.8 s without, 3.1-4.2 s
    with)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_extendedprice")
    trade = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .agg(F.sum(dec("l_extendedprice", 2)).alias("v"))
    )
    w = W.partitionBy("c").orderBy(F.col("v").desc(), F.col("s").asc())
    return (
        trade.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KHOP_TOP_SUPPLIERS)
        .select("c", "s")
    )


@register(
    "q_graph_khop",
    oracle=f"""
    WITH {_TOPK_EDGES_SQL}
    SELECT p1.c AS custkey,
           COUNT(DISTINCT p1.s) AS n_suppliers,
           COUNT(DISTINCT CASE WHEN p2.c <> p1.c THEN p2.c END)
             AS n_2hop_customers
    FROM edges p1 JOIN edges p2 ON p1.s = p2.s
    GROUP BY p1.c
    """,
    doc="Two-hop neighborhood size per customer over the SPARSIFIED trade "
    "graph: each customer keeps only its top-"
    f"{KHOP_TOP_SUPPLIERS} suppliers by decimal-exact trade value "
    "(deterministic value-desc/suppkey tie-break), then one supplier-"
    "keyed self-join counts direct suppliers and the OTHER customers "
    "reachable through a shared top supplier — the collaborative-"
    "filtering / influence-radius shape. Sparsification is load-bearing, "
    "not cosmetic: the raw bipartite graph is DENSE (every supplier "
    "serves hundreds of customers), so exact 2-hop enumeration over it "
    "fans out quadratically (~250M join rows at sf0.1, measured) while "
    "saying nothing — every customer reaches every other. Top-K "
    "capping bounds the self-join at K x deg(s) per supplier and is the "
    "standard neighborhood-expansion bound (same degree-cap lever as "
    "q_dedup_minhash_stopshingle). The 2-hop distinct count uses the "
    "positional-BITMAP trick proven in q_agg_bitmap_distinct instead of "
    "COUNT(DISTINCT): neighbor ids bucket into 63-bit words, bit_or "
    "folds presence MAP-SIDE on the join output, and the count is a sum "
    "of popcounts — the post-join shuffle carries at most one BIGINT "
    "per (customer, 63-id block) instead of one row per distinct "
    "(customer, neighbor) pair, and the Expand that two COUNT(DISTINCT) "
    "aggregates force disappears (measured clean-window at sf0.1: "
    "4.02s -> 2.81s; sf1 decade row re-measured in SCALING.md, round "
    "8). n_suppliers is the edge "
    "degree, counted BEFORE the fan-out (edges are distinct (c,s) by "
    "the top-K row_number construction) and joined back on the same "
    "customer key the 2-hop agg shuffles on. The self-link (p2.c = "
    "p1.c) contributes a zero word, so single-customer suppliers still "
    "yield a row with n_2hop_customers = 0. At 100 TB: the trade "
    "rollup is map-side combined; the top-K window shuffles one row per "
    "(customer, supplier); residual top-K-list skew (a supplier in "
    "everyone's top K) is AQE skew-split territory.",
    tags=("graph", "join", "window"),
)
def q_graph_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sales_data_pipeline_gcp_spark.operators.relational2 import BITMAP_WORD

    edges = _topk_trade_edges(spark, sf_dir)
    # degree = exact n_suppliers: edges carry one row per (c, s)
    degree = edges.groupBy(F.col("c").alias("custkey")).agg(
        F.count("*").alias("n_suppliers")
    )
    p1 = edges.alias("p1")
    p2 = edges.alias("p2")
    # bitmap words over the 2-hop neighbor ids: self-links fold to 0-bits
    words = (
        p1.join(p2, F.col("p1.s") == F.col("p2.s"))
        .select(
            F.col("p1.c").alias("custkey"),
            F.expr(f"`p2`.`c` div {BITMAP_WORD}").alias("word"),
            F.when(
                F.col("p2.c") != F.col("p1.c"),
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST(`p2`.`c` % {BITMAP_WORD} AS INT))"
                ),
            )
            .otherwise(F.lit(0).cast("bigint"))
            .alias("bit"),
        )
        .groupBy("custkey", "word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    twohop = words.groupBy("custkey").agg(
        F.sum(F.bit_count("bits").cast("bigint")).alias("n_2hop_customers")
    )
    # every customer with edges self-matches in the join, so inner is total
    return degree.join(twohop, "custkey").select(
        "custkey", "n_suppliers", "n_2hop_customers"
    )


#: BFS hop cap for q_graph_sssp — bounds both the Spark iteration count and
#: the recursive-CTE depth so the two formulations compute the identical
#: "min-hop distance within SSSP_MAX_HOPS" relation.
SSSP_MAX_HOPS = 3


@register(
    "q_graph_sssp",
    oracle=f"""
    WITH RECURSIVE {_TOPK_EDGES_SQL}, cc AS (
        SELECT DISTINCT p1.c AS a, p2.c AS b
        FROM edges p1 JOIN edges p2 ON p1.s = p2.s AND p1.c <> p2.c
    ), walk(c, d) AS (
        SELECT (SELECT MIN(c) FROM edges), 0
        UNION
        SELECT cc.b, walk.d + 1
        FROM walk JOIN cc ON cc.a = walk.c
        WHERE walk.d < {SSSP_MAX_HOPS}
    )
    SELECT c AS custkey, CAST(MIN(d) AS INTEGER) AS dist
    FROM walk GROUP BY c
    """,
    doc="Single-source BFS shortest hop distance (capped at "
    f"{SSSP_MAX_HOPS} hops) from the lowest-keyed customer over the "
    "customer-customer projection of the sparsified trade graph (same "
    "top-K-suppliers edge set as q_graph_khop, so the projection is "
    "degree-bounded). Spark side is the Pregel-style frontier loop: each "
    "round joins the previous frontier to the edge list, unions, and "
    "takes MIN(dist) per node, localCheckpoint-truncating lineage per "
    "round. The loop runs at most the hop cap and stops after a round "
    "that reaches no new node (observed max(dist) < round, read from the "
    "checkpoint job itself); every later round would be a no-op on an "
    "empty frontier. Spark NEVER materializes the "
    "customer-customer projection the oracle's cc CTE builds: one "
    "projection hop is expanded as two bipartite hops (frontier -> its "
    "suppliers, distinct -> their customers), so per-round cost is two "
    "equi-joins against the degree-bounded EDGE list instead of a "
    "self-join whose output is quadratic in per-supplier degree — on a "
    "graph with hub suppliers the projection explodes while the "
    "bipartite expansion stays linear in edges, which is why this is "
    "the only BFS shape that survives 100 TB. The DuckDB oracle is a "
    "completely independent recursive-CTE formulation over the "
    "materialized projection, so the equivalence of the two graph "
    "representations is itself adjudicated. Frontier-only expansion "
    "(nodes at exactly d-1) keeps round cost proportional to the "
    "frontier, and the degree cap bounds the fan-out the way hub "
    "sparsification always must at scale.",
    tags=("graph", "iterative", "join"),
)
def q_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = materialize(_topk_trade_edges(spark, sf_dir), label="sssp_edges")
    # seed frontier: the lowest-keyed customer at distance 0, kept entirely
    # on the executors as a one-row DataFrame (no driver-side collect —
    # the seed is data, not control flow, so it never has to leave the JVM)
    dist = materialize(
        edges.agg(F.min("c").alias("c")).select("c", F.lit(0).cast("int").alias("d")),
        label="sssp_seed",
    )

    def step(dist: DataFrame, r: int) -> DataFrame:
        # one projection hop = two bipartite hops; the distinct supplier
        # frontier is bounded by the supplier dimension, never pair counts.
        # The joins stay AQE-planned: an explicit F.broadcast of the
        # frontier sides was slower (interleaved A/B, min 3.15 s -> 3.51 s),
        # its per-round driver-side builds costing more than the joins.
        sup = (
            dist.filter(F.col("d") == r - 1)
            .join(edges, "c")
            .select("s")
            .distinct()
        )
        frontier = sup.join(edges, "s").select("c", F.lit(r).alias("d"))
        return dist.unionByName(frontier).groupBy("c").agg(F.min("d").alias("d"))

    # a round that reaches no new node leaves max(d) < r; the next round's
    # frontier (d == r) is then empty, so every later round is a no-op
    dist, _ = fixpoint(
        dist, step, label="sssp_round", max_rounds=SSSP_MAX_HOPS,
        metrics=(F.max("d").alias("d"),), done=lambda m, r, *_: m["d"] < r,
    )
    return dist.select(F.col("c").alias("custkey"), F.col("d").cast("int").alias("dist"))
