"""Point queries as distributed joins (SURVEY.md §2.2, K1-K11).

The reference answers these with kd-tree traversals
(``/root/reference/locus/kd.py``): range search ``find_box_items``
(``kd.py:449-507``), nearest ``nearest_item`` (``kd.py:320-374``), k-NN
``n_nearest_items`` (``kd.py:176-253``), plus the vestigial ball search
(``tests/kd_tests/strategies.py:71-90``).  Here the probe side is a *table*,
so each query family becomes a join:

* range / ball → covering-cell equi-join + exact closed predicate, the
  ``functions/metrics.py`` text the DuckDB oracle runs too (cell pruning
  plays the role of tree descent; the exact predicate at the end means
  pruning can never lose rows — safe-superset, SURVEY.md §4 O10);
* nearest / k-NN → **sampled bound, then one exact join**: nested
  target samples bound every probe's k-th squared distance from above (a
  second aggregation only for the probes the finest sample leaves
  unbound), then one join over the cells within that bound and
  one per-probe top-k aggregation answer every probe exactly (the
  distributed analogue of the kd branch-and-bound prune, ``kd.py:368``,
  and of the R-tree best-first frontier, ``r.py:592-610``).

All distance and cell math is Spark SQL text (whole-stage codegen, one
py4j call per projection).  A
kNN join runs one eager count job; the rest is one lazy plan, with no
round loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from locus_spark.cells import GridSpec, grid_from_points, sql_double
from locus_spark.functions.metrics import (
    sql_box_contains_point,
    sql_dist2_point_point,
)

#: the exact range predicate: point (x, y) in the closed probe box
_CONTAINS = sql_box_contains_point("x", "y", "min_x", "max_x", "min_y", "max_y")


def find_box_join(
    points: DataFrame, query_boxes: DataFrame, grid: GridSpec | None = None
) -> DataFrame:
    """All (probe box, point) pairs with the point inside the closed box —
    table form of ``find_box_items`` (``/root/reference/locus/kd.py:449-507``;
    closed predicate ``_core/box.py:6-9``).

    Returns ``(qid, id, x, y)``.  The covering-cell equi-join prunes like the
    kd descent; ``sql_box_contains_point`` is the exact predicate.
    """
    if grid is None:
        grid = grid_from_points(points)
    pts = points.selectExpr("*", f"{grid.cell_sql('x', 'y')} AS _cell")
    qcells = grid.explode_covering(
        query_boxes, "min_x", "max_x", "min_y", "max_y", cell_name="_cell"
    )
    joined = F.broadcast(qcells).join(pts, "_cell")
    return joined.filter(_CONTAINS).select("qid", "id", "x", "y")


def find_ball_join(
    points: DataFrame, query_circles: DataFrame, grid: GridSpec | None = None
) -> DataFrame:
    """Ball (radius) search: all (probe, point) with dist²(point, center) ≤ r²
    — the pre-v5 ``find_ball`` mandated by the north rule (vestigial strategy
    at ``/root/reference/tests/kd_tests/strategies.py:71-90``; metric of
    ``locus/kd.py:53``).

    Returns ``(qid, id, x, y, dist2)``.  Cell prefilter = circumscribed box,
    widened by a float-fuzz margin: dist² is rounded, so a point up to a
    few ULPs of r (or, through underflow, ~1e-162) outside the ball can
    pass the exact predicate.
    """
    if grid is None:
        grid = grid_from_points(points)
    pts = points.selectExpr("*", f"{grid.cell_sql('x', 'y')} AS _cell")
    h = (
        f"(abs(r) + {sql_double(1e-9)} * (abs(r) + abs(x) + abs(y))"
        f" + {sql_double(1e-150)})"
    )
    qboxes = query_circles.selectExpr(
        "qid", "x AS _qx", "y AS _qy", "r AS _r",
        f"x - {h} AS _bmin_x", f"x + {h} AS _bmax_x",
        f"y - {h} AS _bmin_y", f"y + {h} AS _bmax_y",
    )
    qcells = grid.explode_covering(
        qboxes, "_bmin_x", "_bmax_x", "_bmin_y", "_bmax_y", cell_name="_cell"
    )
    joined = F.broadcast(qcells).join(pts, "_cell")
    d2 = sql_dist2_point_point("x", "y", "_qx", "_qy")
    return (
        joined.selectExpr("qid", "id", "x", "y", f"{d2} AS dist2", "_r")
        .filter("dist2 <= _r * _r")
        .select("qid", "id", "x", "y", "dist2")
    )


def find_box_over_layout(
    layout: DataFrame, query_boxes: DataFrame, grid: GridSpec
) -> DataFrame:
    """Range search over a PERSISTED Hilbert-clustered layout — the
    build-once/query-many contract of the reference trees
    (``/root/reference/locus/kd.py:29-55``: build in ``__init__``, then many
    read-only queries).

    The probe side is compiled into a literal ``cell IN (...)`` predicate
    (:meth:`GridSpec.covering_cells_in`) that reaches the Parquet scan
    (``PushedFilters`` in the plan), so the layout's Hilbert clustering
    turns into row-group pruning — the distributed analogue of the R-tree
    subtree skip (``/root/reference/locus/_core/r.py:164-172``).  The probe
    table must be small (it is collected to build the literal predicate —
    the same size contract as broadcasting it); the exact closed predicate
    then runs in a broadcast join.  Returns ``(qid, id, x, y)``."""
    qb = query_boxes.select("qid", "min_x", "max_x", "min_y", "max_y")
    pruned = layout.filter(grid.covering_cells_in(qb))
    joined = F.broadcast(qb).join(pruned, F.expr(_CONTAINS))
    return joined.select("qid", "id", "x", "y")


def knn_join(
    points: DataFrame,
    probes: DataFrame,
    k: int,
    grid: GridSpec | None = None,
) -> DataFrame:
    """Exact k-nearest-neighbor join: for each probe point, the k indexed
    points with smallest squared distance, ties by ascending id.

    Table form of ``n_nearest_items`` (``/root/reference/locus/kd.py:176-253``;
    ``nearest_item`` = k=1, ``kd.py:320-374``).  The reference's bounded
    max-heap + hyperplane prune becomes the generic sampled-bound kNN
    planner (locus_spark/plans/knn.py).

    Returns ``(qid, id, x, y, dist2, rn)``; raises ``ValueError`` on empty
    points — the reference does too (``kd.py:350-351``).
    """
    from locus_spark.plans.knn import generic_knn_join, probe_frame

    if grid is None:
        grid = grid_from_points(points)
    pts = points.select("id", "x", "y")
    pts_cells = pts.selectExpr(
        "*", f"{grid.cell_x_sql('x')} AS _cx", f"{grid.cell_y_sql('y')} AS _cy"
    )
    pr = probe_frame(
        probes.selectExpr("qid", "x AS _qx", "y AS _qy"),
        grid, "_qx", "_qx", "_qy", "_qy", payload=["_qx", "_qy"],
    )
    d2 = sql_dist2_point_point("x", "y", "_qx", "_qy")

    out = generic_knn_join(
        pts, pts_cells, pr, k, grid, d2,
        tie_desc_id=False,
    )
    return out.select("qid", "id", "x", "y", "dist2", "rn")


def nearest_join(
    points: DataFrame, probes: DataFrame, grid: GridSpec | None = None
) -> DataFrame:
    """Single-nearest join (``nearest_item``, ``/root/reference/locus/kd.py:320-374``).
    Returns ``(qid, id, x, y, dist2)``."""
    return knn_join(points, probes, 1, grid).drop("rn")
