"""Point queries as distributed joins (SURVEY.md §2.2, K1-K11).

The reference answers these with kd-tree traversals
(``/root/reference/locus/kd.py``): range search ``find_box_items``
(``kd.py:449-507``), nearest ``nearest_item`` (``kd.py:320-374``), k-NN
``n_nearest_items`` (``kd.py:176-253``), plus the vestigial ball search
(``tests/kd_tests/strategies.py:71-90``).  Here the probe side is a *table*,
so each query family becomes a join:

* range / ball → covering-cell equi-join + exact closed predicate
  (cell pruning plays the role of tree descent; the exact predicate at the
  end means pruning can never lose rows — safe-superset, SURVEY.md §4 O10);
* nearest / k-NN → iterative **cell-ring expansion**: join probes against
  points in Chebyshev-ring annuli of cells, keep a running per-probe top-k,
  stop a probe once its k-th best squared distance is ≤ the squared distance
  to the nearest *uncovered* region (the distributed analogue of the kd
  branch-and-bound prune, ``kd.py:368``, and of the R-tree best-first
  frontier, ``r.py:592-610``).

All distance math is native Column expressions (whole-stage codegen).  The
driver-side loop only synchronizes ring rounds — every round is a fully
distributed broadcast join + window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from locus_spark.cells import GridSpec, grid_from_points
from locus_spark.functions.metrics import dist2_point_point

RESULT_COLS = ("qid", "id", "x", "y", "dist2")


def find_box_join(
    points: DataFrame,
    query_boxes: DataFrame,
    grid: GridSpec | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """All (probe box, point) pairs with the point inside the closed box —
    table form of ``find_box_items`` (``/root/reference/locus/kd.py:449-507``;
    closed predicate ``_core/box.py:6-9``).

    Returns ``(qid, id, x, y)``.  The covering-cell equi-join prunes like the
    kd descent; the final ``between`` conjunction is the exact predicate.
    """
    if grid is None:
        grid = grid_from_points(points)
    pts = points.withColumn("_cell", grid.cell_col(F.col("x"), F.col("y")))
    qcells = grid.explode_covering(
        query_boxes, "min_x", "max_x", "min_y", "max_y", cell_name="_cell"
    )
    if broadcast_queries:
        qcells = F.broadcast(qcells)
    joined = qcells.join(pts, "_cell")
    exact = joined.filter(
        F.col("x").between(F.col("min_x"), F.col("max_x"))
        & F.col("y").between(F.col("min_y"), F.col("max_y"))
    )
    return exact.select("qid", "id", "x", "y")


def find_ball_join(
    points: DataFrame,
    query_circles: DataFrame,
    grid: GridSpec | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Ball (radius) search: all (probe, point) with dist²(point, center) ≤ r²
    — the pre-v5 ``find_ball`` mandated by the north rule (vestigial strategy
    at ``/root/reference/tests/kd_tests/strategies.py:71-90``; metric of
    ``locus/kd.py:53``).

    Returns ``(qid, id, x, y, dist2)``.  Cell prefilter = circumscribed box.
    """
    if grid is None:
        grid = grid_from_points(points)
    pts = points.withColumn("_cell", grid.cell_col(F.col("x"), F.col("y")))
    qboxes = query_circles.select(
        "qid",
        F.col("x").alias("_qx"),
        F.col("y").alias("_qy"),
        F.col("r").alias("_r"),
        (F.col("x") - F.col("r")).alias("_bmin_x"),
        (F.col("x") + F.col("r")).alias("_bmax_x"),
        (F.col("y") - F.col("r")).alias("_bmin_y"),
        (F.col("y") + F.col("r")).alias("_bmax_y"),
    )
    qcells = grid.explode_covering(
        qboxes, "_bmin_x", "_bmax_x", "_bmin_y", "_bmax_y", cell_name="_cell"
    )
    if broadcast_queries:
        qcells = F.broadcast(qcells)
    joined = qcells.join(pts, "_cell")
    d2 = dist2_point_point(F.col("x"), F.col("y"), F.col("_qx"), F.col("_qy"))
    return (
        joined.withColumn("dist2", d2)
        .filter(F.col("dist2") <= F.col("_r") * F.col("_r"))
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
    that reaches the Parquet scan (``PushedFilters`` in the plan), so the
    layout's Hilbert clustering turns into row-group pruning — the
    distributed analogue of the R-tree subtree skip
    (``/root/reference/locus/_core/r.py:164-172``).  The probe table must be
    small (it is collected to build the literal predicate — the same size
    contract as broadcasting it); the exact closed predicate then runs in a
    broadcast join.  Returns ``(qid, id, x, y)``."""
    rows = query_boxes.select("qid", "min_x", "max_x", "min_y", "max_y").collect()
    cells: set[int] = set()
    for r in rows:
        cx0, cy0 = grid.cell_xy_of(r.min_x, r.min_y)
        cx1, cy1 = grid.cell_xy_of(r.max_x, r.max_y)
        for cx in range(cx0, cx1 + 1):
            for cy in range(cy0, cy1 + 1):
                cells.add(cx * grid.n + cy)
    pruned = layout.filter(F.col("cell").isin(sorted(cells)))
    qb = F.broadcast(query_boxes.select("qid", "min_x", "max_x", "min_y", "max_y"))
    joined = qb.join(
        pruned,
        F.col("x").between(F.col("min_x"), F.col("max_x"))
        & F.col("y").between(F.col("min_y"), F.col("max_y")),
    )
    return joined.select("qid", "id", "x", "y")


def knn_join(
    points: DataFrame,
    probes: DataFrame,
    k: int,
    grid: GridSpec | None = None,
    max_rounds: int = 64,
) -> DataFrame:
    """Exact k-nearest-neighbor join: for each probe point, the k indexed
    points with smallest squared distance, ties by ascending id.

    Table form of ``n_nearest_items`` (``/root/reference/locus/kd.py:176-253``;
    ``nearest_item`` = k=1, ``kd.py:320-374``).  The reference's bounded
    max-heap + hyperplane prune becomes the generic cell-ring-expansion
    planner (locus_spark/plans/knn.py).

    Returns ``(qid, id, x, y, dist2, rn)``; raises ``ValueError`` on empty
    points — the reference does too (``kd.py:350-351``).
    """
    from locus_spark.plans.knn import generic_knn_join, probe_frame

    if grid is None:
        grid = grid_from_points(points)
    pts = points.select("id", "x", "y")
    pts_cells = pts.withColumn("_cx", grid.cell_x_col(F.col("x"))).withColumn(
        "_cy", grid.cell_y_col(F.col("y"))
    )
    pr = probe_frame(
        probes.select("qid", F.col("x").alias("_qx"), F.col("y").alias("_qy")),
        grid,
        F.col("_qx"), F.col("_qx"), F.col("_qy"), F.col("_qy"),
        payload=["_qx", "_qy"],
    )
    d2 = dist2_point_point(F.col("x"), F.col("y"), F.col("_qx"), F.col("_qy"))

    out = generic_knn_join(
        pts, pts_cells, pr, k, grid, d2,
        tie_desc_id=False, max_rounds=max_rounds,
    )
    return out.select("qid", "id", "x", "y", "dist2", "rn")


def nearest_join(
    points: DataFrame, probes: DataFrame, grid: GridSpec | None = None
) -> DataFrame:
    """Single-nearest join (``nearest_item``, ``/root/reference/locus/kd.py:320-374``).
    Returns ``(qid, id, x, y, dist2)``."""
    return knn_join(points, probes, 1, grid).drop("rn")
