"""Grid-based DBSCAN (Ester et al., KDD'96) — density clustering of the
geocoded point cloud (hot-host neighborhoods, spatial spam farms): core
points have >= ``min_pts`` neighbors within ``eps`` (self included),
clusters are connected components of the core-core eps-graph, border
points join their smallest core neighbor's cluster, the rest is noise.

Scale shape (the part DBSCAN literature hand-waves and Spark must get
right):

* the eps-neighbor self-join is a CELL-NEIGHBORHOOD equi-join, not a
  distance cross join: each point keys by its ``floor(coord/eps)`` cell,
  the probe side explodes to its 3x3 cell neighborhood (9 rows — cell
  width == eps makes the neighborhood provably complete), and the join is
  a plain shuffle hash join on the (cx, cy) key followed by the exact
  distance predicate.  Shuffle volume is 9|P| rows — linear, partitioned
  by cell, no broadcast of a data-sized side anywhere;
* per-cell pair fan-out is |cell|² — an irreducible property of DBSCAN in
  dense regions (every such pair IS an edge candidate).  The eps/min_pts
  contract bounds it in practice; a pathological single-cell hot spot is
  the same skew the kNN planner salts (skew.py), and AQE skew-join splits
  oversized partitions at runtime;
* neighbor counts, core filtering, and border assignment are map-side-
  combinable hash aggregations; cluster labels reuse the O(log n)-round
  large-star/small-star contraction components loop (Kiveris et al.,
  operators/components.py) over CORE points only — noise and border
  points never enter the iteration.

Determinism: labels are the smallest core id per component; border points
take the smallest core-neighbor label (the reference DBSCAN's
"first-found" assignment is scan-order-dependent — min is the
order-free equivalent).  All arithmetic is IEEE double add/sub/mul +
integer floor-division, bit-identical in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from locus_spark.session import materialize


def eps_neighbor_pairs(points: DataFrame, eps: float) -> DataFrame:
    """Directed pairs (a, b), a != b, dist²(a, b) <= eps² — every unordered
    neighbor pair appears once per direction (what neighbor COUNTING
    wants).  Cell width == eps ⇒ the 3x3 neighborhood of a's cell covers
    every candidate b exactly once (b's cell is unique)."""
    eps = float(eps)
    pts = materialize(
        points.select(
            "id",
            "x",
            "y",
            F.floor(F.col("x") / F.lit(eps)).cast("long").alias("cx"),
            F.floor(F.col("y") / F.lit(eps)).cast("long").alias("cy"),
        )
    )
    probe = pts.select(
        "id",
        "x",
        "y",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cx") + F.lit(dx)).alias("kx"),
                        (F.col("cy") + F.lit(dy)).alias("ky"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("_k"),
    ).select("id", "x", "y", F.col("_k.kx").alias("kx"), F.col("_k.ky").alias("ky"))
    right = pts.select(
        F.col("id").alias("b"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("cx").alias("kx"),
        F.col("cy").alias("ky"),
    )
    d2 = (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx")) + (
        F.col("y") - F.col("by")
    ) * (F.col("y") - F.col("by"))
    return (
        probe.join(right, ["kx", "ky"])
        .where((F.col("id") != F.col("b")) & (d2 <= F.lit(eps * eps)))
        .select(F.col("id").alias("a"), "b")
    )


def dbscan(points: DataFrame, eps: float, min_pts: int) -> DataFrame:
    """(id, cluster, is_core) for EVERY input point: cluster = smallest
    core id reachable through the core-core eps-graph (border points take
    their smallest core neighbor's cluster), -1 = noise.

    Precondition: ``min_pts >= 2``.  Core-ness is counted from the
    NEIGHBOR-PAIR frame, where a fully isolated point has no row — at
    ``min_pts <= 1`` (where textbook DBSCAN makes every point core, its
    closed neighborhood always holding itself) it would silently come out
    noise instead, so the degenerate setting is rejected rather than
    answered wrong (ADVICE r4)."""
    if min_pts < 2:
        raise ValueError(
            "dbscan: min_pts must be >= 2 (at min_pts <= 1 every point is "
            "core by definition; this pair-counting plan cannot see "
            "isolated points)"
        )
    pairs = materialize(eps_neighbor_pairs(points, eps))
    ncnt = pairs.groupBy("a").agg(F.count("*").alias("_n"))
    core = materialize(
        ncnt.where(F.col("_n") + 1 >= F.lit(int(min_pts))).select(
            F.col("a").alias("id")
        )
    )
    from locus_spark.operators.components import connected_components

    cc_edges = (
        pairs.join(core.withColumnRenamed("id", "a"), "a", "semi")
        .join(core.withColumnRenamed("id", "b"), "b", "semi")
    )
    comp = connected_components(cc_edges, col_a="a", col_b="b")
    core_labeled = materialize(
        core.join(comp.withColumnRenamed("node", "id"), "id", "left").select(
            "id", F.coalesce("component", "id").alias("cluster")
        )
    )
    border = (
        pairs.join(core.withColumnRenamed("id", "a"), "a", "left_anti")
        .join(
            core_labeled.select(
                F.col("id").alias("b"), F.col("cluster").alias("_bc")
            ),
            "b",
        )
        .groupBy("a")
        .agg(F.min("_bc").alias("cluster"))
        .select(F.col("a").alias("id"), "cluster")
    )
    return (
        points.select("id")
        .join(core_labeled.withColumnRenamed("cluster", "_core_c"), "id", "left")
        .join(border.withColumnRenamed("cluster", "_border_c"), "id", "left")
        .select(
            "id",
            F.coalesce("_core_c", "_border_c", F.lit(-1).cast("long")).alias(
                "cluster"
            ),
            F.col("_core_c").isNotNull().alias("is_core"),
        )
    )


def dbscan_oracle_sql(
    points_cte: str, eps: float, min_pts: int
) -> str:
    """DuckDB mirror: brute-force eps pairs (the oracle may cross join),
    recursive-CTE min-reachability over core-core edges, identical
    min-label border assignment and -1 noise label.  ``points_cte`` must
    define a ``points(id, x, y)`` view prefix (WITH ... ).

    Scale bound of the ORACLE (not the operator): min-reachability
    enumerates |component|² (node, label) rows, so a near-percolating
    core graph (sf0.1's 15k-point cloud at eps=8 is one giant component)
    blows the CTE up — the oracle is for the driver's sf0.01 gate, where
    it runs in under a second; the Spark operator itself handles sf0.1 in
    ~9 s (bench)."""
    e = repr(float(eps))
    return f"""
{points_cte}
, prs AS MATERIALIZED (
  SELECT p.id AS a, q.id AS b
  FROM points p JOIN points q
    ON p.id <> q.id
   AND (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y)
       <= CAST({e} AS DOUBLE) * CAST({e} AS DOUBLE)
), ncnt AS (
  SELECT a, count(*) AS n FROM prs GROUP BY a
), core AS MATERIALIZED (
  SELECT a AS id FROM ncnt WHERE n + 1 >= {int(min_pts)}
), cedges AS (
  SELECT prs.a AS u, prs.b AS v FROM prs
  WHERE prs.a IN (SELECT id FROM core) AND prs.b IN (SELECT id FROM core)
), reach AS (
  SELECT id AS u, id AS l FROM core
  UNION
  SELECT e.u, r.l FROM cedges e JOIN reach r ON e.v = r.u
), comp AS MATERIALIZED (
  SELECT u AS id, min(l) AS cluster FROM reach GROUP BY u
), border AS (
  SELECT prs.a AS id, min(comp.cluster) AS cluster
  FROM prs JOIN comp ON comp.id = prs.b
  WHERE prs.a NOT IN (SELECT id FROM core)
  GROUP BY prs.a
)
SELECT p.id AS id,
       coalesce(comp.cluster, border.cluster, -1) AS cluster,
       (comp.id IS NOT NULL) AS is_core
FROM points p
LEFT JOIN comp ON comp.id = p.id
LEFT JOIN border ON border.id = p.id
"""


__all__ = ["eps_neighbor_pairs", "dbscan", "dbscan_oracle_sql"]
