"""Box queries as distributed joins (SURVEY.md §2.3, R1-R11).

The reference answers these with a packed Hilbert R-tree
(``/root/reference/locus/r.py``): containment searches
``find_subsets_items`` / ``find_supersets_items`` (``r.py:120-367``,
predicates ``_core/box.py:12-27``) and best-first nearest/n-nearest to a
point (``r.py:369-635``).  Distributed form:

* subsets  → indexed box's *min-corner cell* equi-joined against the probe
  box's covering cells (a contained box's min corner must lie inside the
  probe box), then the exact closed containment predicate (every exact
  predicate is a ``functions/metrics.py`` template, the text the DuckDB
  oracle runs too);
* supersets → probe box's *min-corner cell* equi-joined against the indexed
  boxes' exploded covering cells (a containing box must cover the probe's
  min corner), then the reversed predicate;
* nearest / k-NN → generic kNN planner with the point↔box metric and
  the R-family tie rule: among equal distances the LARGEST id wins
  (heap keys at ``/root/reference/locus/r.py:599-606``; doctest
  ``r.py:581-590``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from locus_spark.cells import GridSpec, grid_from_boxes
from locus_spark.functions.metrics import (
    sql_box_is_subset,
    sql_boxes_overlap,
    sql_dist2_point_box,
)
from locus_spark.plans.knn import generic_knn_join, probe_frame

BOX_COLS = ["id", "min_x", "max_x", "min_y", "max_y"]

#: the probe box's columns, renamed apart from the indexed box's
_PROBE = ("qid", "min_x AS _qmin_x", "max_x AS _qmax_x",
          "min_y AS _qmin_y", "max_y AS _qmax_y")
_Q = ("_qmin_x", "_qmax_x", "_qmin_y", "_qmax_y")
_B = ("min_x", "max_x", "min_y", "max_y")
#: the exact predicates: indexed ⊆ probe, indexed ⊇ probe, strict overlap
_SUBSET = sql_box_is_subset(*_B, *_Q)
_SUPERSET = sql_box_is_subset(*_Q, *_B)
_OVERLAP = sql_boxes_overlap(*_Q, *_B)


def find_subsets_join(
    boxes: DataFrame, query_boxes: DataFrame, grid: GridSpec | None = None
) -> DataFrame:
    """All (probe, indexed box) with indexed ⊆ probe — table form of
    ``find_subsets_items`` (``/root/reference/locus/r.py:190-235``).
    Returns ``(qid, id, min_x, max_x, min_y, max_y)``."""
    if grid is None:
        grid = grid_from_boxes(boxes)
    # one key cell per indexed box: its min corner (contained ⇒ corner inside)
    b = boxes.selectExpr("*", f"{grid.cell_sql('min_x', 'min_y')} AS _cell")
    qcells = grid.explode_covering(
        query_boxes.selectExpr(*_PROBE), *_Q, cell_name="_cell"
    )
    joined = F.broadcast(qcells).join(b, "_cell")
    return joined.filter(_SUBSET).select("qid", *BOX_COLS)


def find_subsets_over_layout(
    layout: DataFrame, query_boxes: DataFrame, grid: GridSpec
) -> DataFrame:
    """Containment search over a PERSISTED Hilbert-clustered boxes layout —
    the build-once/query-many contract of the reference R-tree
    (``/root/reference/locus/r.py:31-60``: pack in ``__init__``, then many
    read-only queries).

    The layout stores each box's min-corner ``cell`` (the same key
    :func:`find_subsets_join` uses: a contained box's min corner lies inside
    the probe box, so its cell is in the probe's covering range — closed
    cell mapping ⇒ safe superset).  Probe boxes compile to a literal
    ``cell IN (...)`` predicate (:meth:`GridSpec.covering_cells_in`) pushed
    into the parquet scan (row-group pruning — the distributed analogue of
    the R-tree subtree skip, ``/root/reference/locus/_core/r.py:164-172``);
    the probe table must be small (collected to build the literal, same
    bound as broadcasting it).
    Returns ``(qid, id, min_x, max_x, min_y, max_y)``."""
    q = query_boxes.selectExpr(*_PROBE)
    pruned = layout.filter(grid.covering_cells_in(q, *_Q))
    joined = F.broadcast(q).join(pruned, F.expr(_SUBSET))
    return joined.select("qid", *BOX_COLS)


def find_supersets_join(
    boxes: DataFrame, query_boxes: DataFrame, grid: GridSpec | None = None
) -> DataFrame:
    """All (probe, indexed box) with indexed ⊇ probe — table form of
    ``find_supersets_items`` (``/root/reference/locus/r.py:307-353``).
    Returns ``(qid, id, min_x, max_x, min_y, max_y)``.

    The indexed side explodes to covering cells; candidate supersets are big
    boxes, so use a coarse grid (the default here is the grid's resolution
    capped at 5 → ≤ 1024 cells per box) to bound the explosion.
    """
    if grid is None:
        base = grid_from_boxes(boxes)
        grid = GridSpec(
            base.min_x, base.min_y, base.max_x, base.max_y, min(base.resolution, 5)
        )
    b = grid.explode_covering(boxes, *_B, "_cell")
    q = query_boxes.selectExpr(*_PROBE, f"{grid.cell_sql('min_x', 'min_y')} AS _cell")
    joined = F.broadcast(q).join(b, "_cell")
    return joined.filter(_SUPERSET).select("qid", *BOX_COLS)


def find_overlaps_join(
    boxes: DataFrame, query_boxes: DataFrame, grid: GridSpec | None = None
) -> DataFrame:
    """All (probe, indexed box) pairs whose interiors intersect — the
    reference's STRICT ``overlaps`` predicate
    (``/root/reference/locus/_core/box.py:12-18``; open inequalities, so
    boxes sharing only an edge or corner do NOT overlap).

    Plan: both sides explode to covering cells and candidates meet on the
    cell equi-join.  An overlapping pair shares every cell covering its
    intersection rectangle and would surface once per shared cell; the
    REPORT-ONCE rule keeps it only in the canonical cell of the
    intersection's min corner (``max(min_x)``, ``max(min_y)`` — a point
    inside both boxes whenever they overlap, hence always one of the shared
    join cells), replacing the ``dropDuplicates`` shuffle a naive plan
    needs.  Returns ``(qid, id, min_x, max_x, min_y, max_y)``."""
    if grid is None:
        grid = grid_from_boxes(boxes)
    b = grid.explode_covering(boxes, *_B, "_cell")
    qcells = grid.explode_covering(
        query_boxes.selectExpr(*_PROBE), *_Q, cell_name="_cell"
    )
    joined = F.broadcast(qcells).join(b, "_cell")
    canonical = grid.cell_sql("greatest(min_x, _qmin_x)", "greatest(min_y, _qmin_y)")
    return joined.filter(f"{_OVERLAP} AND _cell = {canonical}").select(
        "qid", *BOX_COLS
    )


def box_knn_join(
    boxes: DataFrame,
    probes: DataFrame,
    k: int,
    grid: GridSpec | None = None,
) -> DataFrame:
    """k nearest boxes to each probe point under the point↔box squared
    distance (0 inside) — ``n_nearest_items`` (``/root/reference/locus/r.py:453-498``)
    / ``nearest_item`` (``r.py:557-611``).  Tie rule: larger id wins.
    Returns ``(qid, id, min_x, max_x, min_y, max_y, dist2, rn)``."""
    if grid is None:
        grid = grid_from_boxes(boxes)
    b = boxes.select(*BOX_COLS)
    b_cells = grid.explode_covering_xy(b, "min_x", "max_x", "min_y", "max_y")
    pr = probe_frame(
        probes.selectExpr("qid", "x AS _qx", "y AS _qy"),
        grid, "_qx", "_qx", "_qy", "_qy", payload=["_qx", "_qy"],
    )
    d2 = sql_dist2_point_box("_qx", "_qy", "min_x", "max_x", "min_y", "max_y")

    out = generic_knn_join(
        b, b_cells, pr, k, grid, d2,
        tie_desc_id=True, dedup=True,
    )
    return out.select("qid", *BOX_COLS, "dist2", "rn")


def box_nearest_join(
    boxes: DataFrame, probes: DataFrame, grid: GridSpec | None = None
) -> DataFrame:
    """R7 ``nearest_item`` — box kNN with k=1."""
    return box_knn_join(boxes, probes, 1, grid).drop("rn")
