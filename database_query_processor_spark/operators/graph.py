"""Iterative graph analytics over relational edge sets.

Beside `operators/corpus.py:connected_components` (min-label
propagation for dedup-cluster resolution), this module holds the
numeric-iteration family — algorithms whose per-round state is a
weighted score rather than a label. No reference analog (the
reference has no iteration construct at all; its one loop is the
optimizer's annealing walk, /root/reference/src/qp/optimizer/
RandomOptimizer.java:126-216, which SURVEY §4.3 delegates to
Catalyst).

Cross-engine determinism: PageRank's per-round update is a SUM of
per-edge contributions — as floating-point that sum is
order-dependent and would never hash-match another engine. All
arithmetic here is FIXED-POINT over BIGINT (scale 1e12): integer
sums are associative, so Spark's unordered shuffle reduce and
DuckDB's sequential aggregate produce bit-identical ranks. The cost
is deterministic floor-rounding per edge — bounded by
edges/SCALE ≈ 1e-12-per-unit error, far below anything a ranking
consumer can observe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from database_query_processor_spark.cache import persist, scope

PR_SCALE = 10**12  # fixed-point scale for rank mass
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as a ratio
PR_ITERS = 5


def pagerank_fixedpoint(
    edges: DataFrame, iters: int = PR_ITERS, scale: int = PR_SCALE
) -> DataFrame:
    """PageRank over an UNDIRECTED edge set (id_a, id_b), fixed
    iteration count, fixed-point arithmetic. Returns
    (node_id, rank) with rank in units of 1/`scale`.

    Every round is one shuffle: contributions flow src→dst over the
    symmetrized edge list (rank DIV degree per edge — integer floor),
    are summed per dst (bigint, order-free), then damped:

        r'(v) = (15·scale/100) DIV n  +  (85·Σ contrib(v)) DIV 100

    Nodes = every endpoint of an edge; an undirected graph has no
    dangling nodes (degree ≥ 1), so no leaked-mass correction term
    is needed. Per-round `localCheckpoint` keeps lineage O(1), the
    connected_components pattern. At 100 TB the edge list is the
    only large operand — it is hash-partitioned once on src and
    every round's join reuses that partitioning; ranks are
    node-cardinality (small side) and broadcast while they fit.

    The symmetrized edges and degrees are persisted in this call's own
    scope (cache.py) and released on every exit path."""
    with scope():
        sym = persist(
            edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
            .union(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
            .distinct()
            .repartition("src")
        )
        # deg feeds every iteration's contribution join plus the node set:
        # unpersisted it would re-aggregate the (persisted) edge list once
        # per iteration — 5 redundant groupBys (r12, guide §2.1). It is
        # node-cardinality, the smallest frame in the algorithm.
        deg = persist(sym.groupBy("src").agg(F.count("*").alias("deg")))
        nodes = deg.select(F.col("src").alias("node_id"))
        n = nodes.count()
        if n == 0:
            # Empty edge set (e.g. a dedup-pair feed that found nothing):
            # no nodes, so the result is an empty ranks frame — not a
            # driver-side ZeroDivisionError from scale // n.
            return nodes.select("node_id", F.lit(0).cast("long").alias("rank"))
        base = (15 * scale // 100) // n
        ranks = nodes.select("node_id", F.lit(scale // n).alias("rank"))
        for _ in range(iters):
            contrib = (
                sym.join(deg, "src")
                .join(ranks, sym.src == ranks.node_id)
                .select("dst", F.expr("rank DIV deg").alias("c"))
            )
            incoming = contrib.groupBy("dst").agg(F.sum("c").alias("inc"))
            ranks = nodes.join(
                incoming, nodes.node_id == incoming.dst, "left"
            ).select(
                "node_id",
                (
                    F.lit(base)
                    + F.expr(
                        f"({PR_DAMP_NUM} * coalesce(inc, 0L)) DIV {PR_DAMP_DEN}"
                    )
                ).alias("rank"),
            )
            ranks = ranks.localCheckpoint(eager=False)
        # materialize BEFORE the scope releases sym/deg (a lazy checkpoint
        # would recompute contributions from the released edge list)
        return ranks.localCheckpoint(eager=True)


def sql_pagerank(edges_sql: str, iters: int = PR_ITERS, scale: int = PR_SCALE) -> str:
    """DuckDB oracle mirroring pagerank_fixedpoint bit-for-bit: the
    fixed iteration count unrolls into one CTE stage per round
    (aggregation inside a recursive member is restricted; unrolling
    sidesteps it and keeps the oracle pure SQL)."""
    parts = [
        f"WITH e AS ({edges_sql})",
        """sym AS (SELECT id_a AS src, id_b AS dst FROM e
                   UNION SELECT id_b, id_a FROM e)""",
        "deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src)",
        "n AS (SELECT count(*) AS n FROM deg)",
        f"""r0 AS (SELECT src AS node_id, {scale} // n AS rank FROM deg, n)""",
    ]
    for i in range(iters):
        parts.append(
            f"""r{i + 1} AS (
  SELECT d.src AS node_id,
         ((15 * {scale} // 100) // n)
           + ({PR_DAMP_NUM} * coalesce(inc, 0)) // {PR_DAMP_DEN} AS rank
  FROM deg d CROSS JOIN n
  LEFT JOIN (SELECT dst, sum(c) AS inc FROM (
               SELECT s.dst, r.rank // d2.deg AS c
               FROM sym s JOIN deg d2 ON s.src = d2.src
                          JOIN r{i} r ON s.src = r.node_id) GROUP BY dst) t
    ON d.src = t.dst)"""
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT node_id, CAST(rank AS BIGINT) AS rank FROM r{iters}"
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count + clustering coefficient over an
    UNDIRECTED edge set (id_a, id_b). Returns ONE row:
    (n_nodes, n_edges, n_wedges, n_triangles, global_clustering)
    where global_clustering = 3*triangles / wedges (closed-wedge
    fraction) and wedges = Σ_v deg(v)·(deg(v)-1)/2.

    The classical degree-ordered orientation (Schank/Wagner; the
    MapReduce form is Cohen's): orient every edge from its
    (degree, id)-smaller endpoint to the larger, so each triangle is
    counted exactly once at its lowest-ranked vertex and every
    out-degree is O(sqrt(m)) — the wedge self-join is bounded by
    Σ outdeg² ≈ m^{3/2} instead of Σ deg² (which a skewed hub makes
    quadratic). Three shuffles total at any scale: degree count,
    wedge self-join on src, wedge-closure semi-join on (x, y).
    All-integer arithmetic; the single final divide is one IEEE op,
    deterministic across engines. No reference analog (the reference
    has no self-join-with-inequality shape at all).

    REUSE (r12): und / deg / oriented feed 4, 3 and 3 consumers each
    (deg's union reads und twice; oriented is both wedge sides plus
    the closure's right side). Unpersisted, Spark re-derives each
    reference from the RAW EDGE SUBTREE — for the co-purchase graph
    that is ~8 recomputations of a lineitem self-join (92 Exchanges in
    the r12 plan audit). All three are edge-bounded (|und| ≤ m,
    |deg| ≤ 2m, |oriented| = |und|), so MEMORY_AND_DISK persistence is
    safe at any scale that can hold the edge list at all. The persists
    are lazy; the caller's query scope releases them (cache.py)."""
    und = persist(
        edges.select(
            F.least("id_a", "id_b").alias("u"), F.greatest("id_a", "id_b").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = persist(
        und.select(F.col("u").alias("node"))
        .union(und.select("v"))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # orient src -> dst by (deg, id) rank; carry dst's rank for wedge ordering
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ranked = und.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = persist(ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dstd"),
    ))
    a, b = oriented.alias("a"), oriented.alias("b")
    wedge = a.join(b, "src").where(
        (F.col("a.dstd") < F.col("b.dstd"))
        | ((F.col("a.dstd") == F.col("b.dstd")) & (F.col("a.dst") < F.col("b.dst")))
    ).select(F.col("a.dst").alias("x"), F.col("b.dst").alias("y"))
    closed = wedge.join(
        oriented.select(F.col("src").alias("x"), F.col("dst").alias("y")), ["x", "y"], "left_semi"
    )
    tri = closed.agg(F.count("*").alias("n_triangles"))
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        (F.sum(F.expr("deg * (deg - 1L)")) / F.lit(2)).cast("long").alias("n_wedges"),
    )
    ecnt = und.agg(F.count("*").alias("n_edges"))
    return (
        stats.crossJoin(ecnt)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            # NULL (not NaN/div-by-zero) on wedge-less graphs, guarded
            # identically in the oracle so degenerate inputs agree
            F.when(
                F.col("n_wedges") > 0,
                F.lit(3) * F.col("n_triangles") / F.col("n_wedges"),
            ).alias("global_clustering"),
        )
    )


def sql_triangle_count(edges_sql: str) -> str:
    """DuckDB oracle mirroring triangle_count exactly (same
    orientation, same integer math, same single final divide)."""
    return f"""
WITH e AS ({edges_sql}),
und AS (SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
        FROM e WHERE id_a <> id_b),
deg AS (SELECT node, count(*) AS deg FROM (
          SELECT u AS node FROM und UNION ALL SELECT v FROM und) GROUP BY node),
oriented AS (
  SELECT CASE WHEN (du.deg, und.u) < (dv.deg, und.v) THEN und.u ELSE und.v END AS src,
         CASE WHEN (du.deg, und.u) < (dv.deg, und.v) THEN und.v ELSE und.u END AS dst,
         CASE WHEN (du.deg, und.u) < (dv.deg, und.v) THEN dv.deg ELSE du.deg END AS dstd
  FROM und JOIN deg du ON und.u = du.node JOIN deg dv ON und.v = dv.node),
wedge AS (SELECT a.dst AS x, b.dst AS y
          FROM oriented a JOIN oriented b ON a.src = b.src
          WHERE (a.dstd, a.dst) < (b.dstd, b.dst)),
tri AS (SELECT count(*) AS n_triangles FROM wedge
        WHERE EXISTS (SELECT 1 FROM oriented o WHERE o.src = wedge.x AND o.dst = wedge.y)),
stats AS (SELECT count(*) AS n_nodes,
                 CAST(sum(deg * (deg - 1)) / 2 AS BIGINT) AS n_wedges FROM deg),
ecnt AS (SELECT count(*) AS n_edges FROM und)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0
            THEN 3 * n_triangles / CAST(n_wedges AS DOUBLE) END AS global_clustering
FROM stats, ecnt, tri
"""
