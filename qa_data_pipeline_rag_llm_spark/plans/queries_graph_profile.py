"""Registry entries: iterative graph computation + dataset profiling.

PageRank here is the engine's demonstration that even ITERATIVE
algorithms can stay deterministic and oracle-checkable: ranks are exact
scaled integers (1.0 ≡ 10^9), every per-iteration step is integer
join/sum/floor-div — no float accumulation order to drift — and the
DuckDB oracle replays the identical recursion as a recursive CTE.

The profiler is the data-quality audit step (null counts, cardinalities,
bounds per column) a pipeline runs before training-data jobs consume a
table.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qa_data_pipeline_rag_llm_spark.plans.oracle_fragments import lloyd_ctes
from qa_data_pipeline_rag_llm_spark.plans.queries import _t, register

PR_ITERS = 5
PR_ONE = 1_000_000_000  # rank 1.0 in fixed-point


@register(
    "pagerank_cust_supp",
    f"""
    WITH RECURSIVE edges0 AS (
      SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                      's' || CAST(l.l_suppkey AS VARCHAR) AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), edges AS (
      SELECT src, dst FROM edges0
      UNION ALL SELECT dst AS src, src AS dst FROM edges0
    ), deg AS (
      SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src
    ), nodes AS (SELECT DISTINCT src AS node FROM edges),
    ranks AS (
      SELECT node, CAST({PR_ONE} AS BIGINT) AS r, 0 AS it FROM nodes
      UNION ALL
      SELECT e.dst AS node,
             CAST({PR_ONE * 15 // 100} + (85 * SUM(r.r // d.out_deg)) // 100
                  AS BIGINT) AS r,
             r.it + 1 AS it
      FROM ranks r
      JOIN edges e ON e.src = r.node
      JOIN deg d ON d.src = r.node
      WHERE r.it < {PR_ITERS}
      GROUP BY e.dst, r.it
    )
    SELECT node, r AS rank_e9 FROM ranks WHERE it = {PR_ITERS}
    """,
    doc=f"Deterministic PageRank ({PR_ITERS} iterations, damping 0.85) on "
    "the bipartite customer↔supplier co-purchase graph, in exact "
    "fixed-point arithmetic (1.0 ≡ 10^9; floor-div contributions) so the "
    "iterative loop is bit-reproducible and replayable as a DuckDB "
    "recursive CTE. Spark side: one lazy plan of the unrolled rounds "
    "(join → r div out_deg → groupBy(dst) each), so building it runs no "
    "job and the planner reuses the edge and degree exchanges across "
    "rounds (GraphX-free). Long sums suffice at this degree "
    "distribution; the 100 TB upgrade is DECIMAL(38,0) accumulation with "
    "the same floor-div semantics.",
)
def pagerank_cust_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    fwd = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    edges_deg = edges.join(deg, "src")
    ranks = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "r", F.lit(PR_ONE).cast("long")
    )
    base = PR_ONE * 15 // 100
    for _ in range(PR_ITERS):
        contrib = edges_deg.join(
            ranks, edges_deg.src == ranks.node
        ).select("dst", F.expr("r div out_deg").alias("c"))
        ranks = (
            contrib.groupBy("dst")
            .agg(F.expr(f"CAST({base} + (85 * sum(c)) div 100 AS BIGINT)").alias("r"))
            .withColumnRenamed("dst", "node")
        )
    return ranks.select("node", F.col("r").alias("rank_e9"))


KM_K = 8
KM_ITERS = 3


@register(
    "kmeans_fixedpoint_embeddings",
    f"""
    WITH RECURSIVE {lloyd_ctes(KM_K, KM_ITERS)},
    final_cents AS (SELECT cluster, pos, c6 FROM cents WHERE it = {KM_ITERS}),
    final_dists AS (
      SELECT f.vec_id, c.cluster,
             SUM((f.v6 - c.c6) * (f.v6 - c.c6)) AS dist
      FROM flat f JOIN final_cents c ON c.pos = f.pos
      GROUP BY f.vec_id, c.cluster)
    SELECT d.vec_id,
           MIN(d.cluster) FILTER (WHERE d.dist = md.min_dist) AS cluster
    FROM final_dists d
    JOIN (SELECT vec_id, MIN(dist) AS min_dist
          FROM final_dists GROUP BY vec_id) md ON md.vec_id = d.vec_id
    GROUP BY d.vec_id
    """,
    doc=f"Deterministic k-means (k={KM_K}, {KM_ITERS} Lloyd iterations) in "
    "fixed-point arithmetic: vectors scaled to nonnegative integers "
    "(translation leaves distances unchanged but keeps floor-division "
    "identical across engines — floor vs truncate diverge on negatives), "
    "init = the k smallest vec_ids, squared-L2 as exact integer sums, "
    "argmin tie-broken by cluster id, centroid update by integer "
    "floor-average. Unlike Spark ML KMeans (RNG init, float "
    "accumulation), this whole ITERATIVE pipeline hash-matches a DuckDB "
    "recursive CTE (kmeans_clusters runs the same loop at k=10 and "
    "registers invariant verdicts). Runs on the IVF trainer "
    "(operators/ivf.py lloyd_centroids_v6): per iteration a zero-shuffle "
    "one-expression argmin plus one map-side-combined groupBy(cluster, "
    "pos) exchange, k × dims centroids collected to the driver (guarded "
    "by MAX_ARGMIN_LITERALS); the final assignment is the same argmin "
    "as a zero-shuffle projection over the input.",
)
def kmeans_fixedpoint_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qa_data_pipeline_rag_llm_spark.operators.ivf import (
        lloyd_assign,
        lloyd_centroids_v6,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return lloyd_assign(emb, lloyd_centroids_v6(emb, KM_K, KM_ITERS))


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_totalprice",
    "o_orderpriority",
    "o_orderdate",
]


def _duck_profile_col(c: str) -> str:
    if c == "o_totalprice":
        lo = "CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)"
        hi = "CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)"
    else:
        lo, hi = f"CAST(min({c}) AS VARCHAR)", f"CAST(max({c}) AS VARCHAR)"
    return f"""
    SELECT '{c}' AS column_name, COUNT(*) AS n,
           COUNT(*) - COUNT({c}) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct,
           {lo} AS min_value, {hi} AS max_value
    FROM orders"""


@register(
    "profile_orders_columns",
    "\nUNION ALL".join(_duck_profile_col(c) for c in _PROFILE_COLS),
    doc="Column-level data-quality profile (row/null/distinct counts, "
    "bounds) for the orders table — the audit a pipeline runs before a "
    "table feeds training jobs. One aggregate per column over a pruned "
    "scan; min/max surfaced as strings for a uniform schema (money via "
    "DECIMAL(18,2) so both engines print identical text; doubles "
    "straight to string diverge on scientific-notation thresholds).",
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")

    def one(c: str) -> DataFrame:
        col = F.col(c)
        lo, hi = F.min(col), F.max(col)
        if c == "o_totalprice":
            lo = lo.cast("decimal(18,2)")
            hi = hi.cast("decimal(18,2)")
        return o.agg(
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_nulls"),
            F.countDistinct(col).alias("n_distinct"),
            lo.cast("string").alias("min_value"),
            hi.cast("string").alias("max_value"),
        ).select(F.lit(c).alias("column_name"), "*")

    return reduce(DataFrame.unionByName, (one(c) for c in _PROFILE_COLS))


TRI_MIN_COOCCUR = 2  # edge = parts co-purchased in >= this many orders


@register(
    "triangle_count_copurchase",
    f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS p_a, b.l_partkey AS p_b
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_COOCCUR}),
    e AS (SELECT p_a AS a, p_b AS b FROM pairs)
    SELECT CAST((SELECT COUNT(*) FROM e e1
                 JOIN e e2 ON e2.a = e1.b
                 JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS BIGINT)
             AS n_triangles,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*) FROM (SELECT DISTINCT x FROM
                 (SELECT a AS x FROM e UNION ALL SELECT b FROM e)))
                AS BIGINT) AS n_nodes
    """,
    doc=f"Triangle counting on the co-purchase graph (edges = part pairs "
    f"co-occurring in ≥ {TRI_MIN_COOCCUR} orders): the classic clustering-"
    "coefficient primitive. Edges are oriented low→high id, so each "
    "triangle is counted exactly once by the two-hop join e1(a,b) ⋈ "
    "e2(b,c) ⋈ e3(a,c) — the standard orientation trick that keeps the "
    "wedge join bounded by out-degree instead of total degree (at 100 TB, "
    "orient by degree rather than id for the skew-optimal bound).",
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distinct first: a part on two lineitems of ONE order must not
    # manufacture a co-occurrence (edge = distinct co-purchase ORDERS)
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("a"), F.col("b.l_partkey").alias("b"))
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= TRI_MIN_COOCCUR)
        .select("a", "b")
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    edge_count = edges.agg(F.count("*").alias("n_edges"))
    node_count = (
        edges.select(F.col("a").alias("x"))
        .unionAll(edges.select(F.col("b").alias("x")))
        .distinct()
        .agg(F.count("*").alias("n_nodes"))
    )
    return tri.crossJoin(F.broadcast(edge_count)).crossJoin(
        F.broadcast(node_count)
    )
