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

One text per kernel: the eps-neighbour test (``functions/metrics``'
``sql_dist2_point_point`` against eps²), the core test and the final
label projection are SQL text (``sql_*``/``SQL_*`` below) that Spark
parses (``selectExpr``/``where``: one py4j call per projection) and the
DuckDB oracle renders.  The eps literal renders as ``CAST(eps AS DOUBLE)``
(``functions/metrics.sql_cast_double``): Spark reads a bare ``8.0`` as a
DECIMAL, whose arithmetic is not the IEEE double math both engines share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from locus_spark.functions.metrics import sql_cast_double, sql_dist2_point_point
from locus_spark.session import materialize

#: the label projection over a point's core cluster ``_core_c`` and border
#: cluster ``_border_c`` (both null: noise, -1)
SQL_LABELS = (
    "coalesce(_core_c, _border_c, CAST(-1 AS BIGINT)) AS cluster",
    "_core_c IS NOT NULL AS is_core",
)


def sql_eps_neighbors(ax: str, ay: str, bx: str, by: str, eps: float) -> str:
    """Points a and b lie within ``eps``: dist²(a, b) <= eps²."""
    e = sql_cast_double(float(eps))
    return f"{sql_dist2_point_point(ax, ay, bx, by)} <= {e} * {e}"


def sql_is_core(min_pts: int) -> str:
    """A point with ``_n`` eps-neighbours besides itself is core."""
    return f"_n + 1 >= {int(min_pts)}"


def eps_neighbor_pairs(points: DataFrame, eps: float) -> DataFrame:
    """Directed pairs (a, b), a != b, dist²(a, b) <= eps² — every unordered
    neighbor pair appears once per direction (what neighbor COUNTING
    wants).  Cell width == eps ⇒ the 3x3 neighborhood of a's cell covers
    every candidate b exactly once (b's cell is unique)."""
    e = sql_cast_double(float(eps))
    pts = materialize(
        points.selectExpr(
            "id", "x", "y",
            f"CAST(floor(x / {e}) AS BIGINT) AS cx",
            f"CAST(floor(y / {e}) AS BIGINT) AS cy",
        )
    )
    probe = pts.selectExpr(
        "id", "x", "y", "explode(sequence(cx - 1, cx + 1)) AS kx", "cy"
    ).selectExpr("id", "x", "y", "kx", "explode(sequence(cy - 1, cy + 1)) AS ky")
    right = pts.selectExpr("id AS b", "x AS _bx", "y AS _by", "cx AS kx", "cy AS ky")
    return (
        probe.join(right, ["kx", "ky"])
        .where(f"id <> b AND {sql_eps_neighbors('x', 'y', '_bx', '_by', eps)}")
        .selectExpr("id AS a", "b")
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
    core = materialize(
        pairs.groupBy("a")
        .agg(F.expr("count(*) AS _n"))
        .where(sql_is_core(min_pts))
        .selectExpr("a AS id")
    )
    from locus_spark.operators.components import connected_components

    cc_edges = pairs.join(core.selectExpr("id AS a"), "a", "semi").join(
        core.selectExpr("id AS b"), "b", "semi"
    )
    comp = connected_components(cc_edges, col_a="a", col_b="b")
    core_labeled = materialize(
        core.join(comp.selectExpr("node AS id", "component"), "id", "left").selectExpr(
            "id", "coalesce(component, id) AS _core_c"
        )
    )
    border = (
        pairs.join(core.selectExpr("id AS a"), "a", "left_anti")
        .join(core_labeled.selectExpr("id AS b", "_core_c"), "b")
        .groupBy("a")
        .agg(F.expr("min(_core_c) AS _border_c"))
        .withColumnRenamed("a", "id")
    )
    return (
        points.select("id")
        .join(core_labeled, "id", "left")
        .join(border, "id", "left")
        .selectExpr("id", *SQL_LABELS)
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
    return f"""
{points_cte}
, prs AS MATERIALIZED (
  SELECT p.id AS a, q.id AS b
  FROM points p JOIN points q
    ON p.id <> q.id AND {sql_eps_neighbors("p.x", "p.y", "q.x", "q.y", eps)}
), ncnt AS (
  SELECT a, count(*) AS _n FROM prs GROUP BY a
), core AS MATERIALIZED (
  SELECT a AS id FROM ncnt WHERE {sql_is_core(min_pts)}
), cedges AS (
  SELECT prs.a AS u, prs.b AS v FROM prs
  WHERE prs.a IN (SELECT id FROM core) AND prs.b IN (SELECT id FROM core)
), reach AS (
  SELECT id AS u, id AS l FROM core
  UNION
  SELECT e.u, r.l FROM cedges e JOIN reach r ON e.v = r.u
), comp AS MATERIALIZED (
  SELECT u AS id, min(l) AS _core_c FROM reach GROUP BY u
), border AS (
  SELECT prs.a AS id, min(_core_c) AS _border_c
  FROM prs JOIN comp ON comp.id = prs.b
  WHERE prs.a NOT IN (SELECT id FROM core)
  GROUP BY prs.a
)
SELECT p.id AS id, {", ".join(SQL_LABELS)}
FROM points p
LEFT JOIN comp ON comp.id = p.id
LEFT JOIN border ON border.id = p.id
"""


__all__ = ["eps_neighbor_pairs", "dbscan", "dbscan_oracle_sql"]
