"""Tiling operators (north rule: point-in-polygon, raster↔vector tile
assignment) — SURVEY.md §7 P4.

The reference has no polygon support; these extend its box/cell machinery
(``/root/reference/locus/_core/box.py``, ``_core/hilbert.py``) to the tiling
semantics the north rule mandates:

* ``tile_point_counts`` — raster tile assignment: the GridSpec cell
  arithmetic at a chosen zoom (floor arithmetic, exact in float64 →
  identical in any IEEE engine);
* ``point_in_polygon_join`` — even-odd ray casting expressed *relationally*:
  polygon edges are rows, the crossing test is one SQL predicate per
  (point, edge) (``functions/metrics.sql_ray_crosses_edge``, the text the
  DuckDB oracle runs too), and "inside" is ``count(crossing) % 2 = 1`` — a
  groupBy, not a UDF, so the whole thing stays in whole-stage codegen;
* ``raster_vector_assignment`` — vector features (boxes) exploded to the
  raster tiles they cover, joined against per-tile point aggregates.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from locus_spark.cells import GridSpec
from locus_spark.functions.metrics import sql_ray_crosses_edge


def tile_point_counts(points: DataFrame, grid: GridSpec) -> DataFrame:
    """Raster aggregation: points per tile.  Returns (tile_x, tile_y, n)."""
    return (
        points.selectExpr(
            f"{grid.cell_x_sql('x')} AS tile_x", f"{grid.cell_y_sql('y')} AS tile_y"
        )
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n"))
    )


def point_in_polygon_join(
    points: DataFrame, polygon_edges: DataFrame, grid: GridSpec
) -> DataFrame:
    """All (polygon, point) pairs with the point strictly inside (even-odd
    rule).  ``polygon_edges`` rows: (qid, x1, y1, x2, y2), one per edge.

    Candidate pruning: points equi-joined against the covering cells of each
    polygon's bounding box (derived from its edges), then the exact crossing
    count.  Returns (qid, id, x, y).
    """
    bboxes = polygon_edges.groupBy("qid").agg(
        F.expr("least(min(x1), min(x2)) AS _bmin_x"),
        F.expr("greatest(max(x1), max(x2)) AS _bmax_x"),
        F.expr("least(min(y1), min(y2)) AS _bmin_y"),
        F.expr("greatest(max(y1), max(y2)) AS _bmax_y"),
    )
    pts = points.selectExpr("id", "x", "y", f"{grid.cell_sql('x', 'y')} AS _cell")
    qcells = grid.explode_covering(
        bboxes, "_bmin_x", "_bmax_x", "_bmin_y", "_bmax_y", cell_name="_cell"
    )
    cand = F.broadcast(qcells).join(pts, "_cell").select("qid", "id", "x", "y")
    edges = polygon_edges.select("qid", "x1", "y1", "x2", "y2")
    crosses = sql_ray_crosses_edge("x", "y", "x1", "y1", "x2", "y2")
    return (
        cand.join(F.broadcast(edges), "qid")
        .groupBy("qid", "id", "x", "y")
        .agg(F.expr(f"sum(CASE WHEN {crosses} THEN 1 ELSE 0 END) AS _ncross"))
        .filter("_ncross % 2 = 1")
        .select("qid", "id", "x", "y")
    )


def raster_vector_assignment(
    boxes: DataFrame, points: DataFrame, grid: GridSpec
) -> DataFrame:
    """Raster↔vector tile assignment: explode each vector feature (box) to
    the raster tiles it covers and aggregate the per-tile point counts.
    Returns (id, n_tiles, n_points) — all exact integers."""
    tiles = grid.explode_covering_xy(boxes, "min_x", "max_x", "min_y", "max_y").selectExpr(
        # fused single-long tile key: keeps the tile equi-join on a
        # LongHashedRelation (composite-key broadcast relations were
        # measured in plans/knn.py to stop scaling with cores)
        "id", f"{grid.pack_sql('_cx', '_cy')} AS _tile",
    )
    pcounts = tile_point_counts(points, grid).selectExpr(
        f"{grid.pack_sql('tile_x', 'tile_y')} AS _tile", "n"
    )
    joined = tiles.join(pcounts, ["_tile"], "left")
    return joined.groupBy("id").agg(
        F.count("*").alias("n_tiles"),
        F.sum(F.coalesce(F.col("n"), F.lit(0))).alias("n_points"),
    )


def tile_pyramid(points: DataFrame, grid: GridSpec, min_zoom: int = 0) -> DataFrame:
    """Multi-resolution rollup cascade: exact point counts per tile for every
    zoom in ``[min_zoom, grid.resolution]``.  Returns (zoom, tile_x, tile_y, n).

    The hypertable-rollup shape: only the BASE level scans the points; each
    coarser level aggregates the PREVIOUS level's output (4 child tiles → 1
    parent via ``tile >> 1``, exact because counts reaggregate losslessly and
    ``floor(floor(a)/2) == floor(a/2)``).  At a zoom-20 web-mercator pyramid
    over 10^12 points that cascade shuffles the raw data once and then only
    ever-shrinking tile tables; recomputing each level from the points would
    scan the corpus ``levels`` times.  Levels are persisted — they are at most
    ``4^resolution`` rows, and the union would otherwise re-run every branch's
    ancestor aggregations.

    The level persists are scoped to THIS call: the pyramid (≤ Σ 4^z rows —
    tile counts, never the points) is materialized once via
    ``localCheckpoint`` and every level's cache is released before returning,
    so repeated invocations don't accumulate orphan cached RDDs in the block
    store (CacheManager pins ``persist()`` entries until an explicit
    unpersist; checkpoint blocks are ContextCleaner-tracked instead)."""
    base = (
        tile_point_counts(points, grid)
        .persist()
    )
    cascade = [base]
    levels = [base.select(F.lit(grid.resolution).alias("zoom"), "tile_x", "tile_y", "n")]
    cur = base
    for z in range(grid.resolution - 1, min_zoom - 1, -1):
        cur = (
            cur.select(
                F.shiftright("tile_x", 1).alias("tile_x"),
                F.shiftright("tile_y", 1).alias("tile_y"),
                "n",
            )
            .groupBy("tile_x", "tile_y")
            .agg(F.sum("n").alias("n"))
            .persist()
        )
        cascade.append(cur)
        levels.append(cur.select(F.lit(z).alias("zoom"), "tile_x", "tile_y", "n"))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    result = out.localCheckpoint(eager=True)
    for frame in cascade:
        frame.unpersist()
    return result


# --------------------------------------------------------------------------
# deterministic polygon fixtures (literal SQL VALUES — both engines parse
# double literals identically, so the fixture is bit-identical everywhere)
# --------------------------------------------------------------------------

def make_polygon_edges(n_polygons: int = 8, seed: int = 42) -> list[tuple]:
    """Seeded star-convex polygons: (qid, edge_idx, x1, y1, x2, y2) rows.
    Deterministic (fixed seed, no wallclock)."""
    rng = random.Random(seed)
    rows = []
    for qid in range(n_polygons):
        cx, cy = rng.uniform(-150, 150), rng.uniform(-70, 70)
        k = rng.randint(4, 9)
        rx, ry = rng.uniform(5, 25), rng.uniform(5, 15)
        # star-convex ring: radii jitter around an ellipse, angles strictly
        # increasing — no trig in SQL (the vertices are literals).
        import math

        verts = []
        for j in range(k):
            ang = 2 * math.pi * j / k + rng.uniform(0, 0.4)
            rr = rng.uniform(0.6, 1.0)
            verts.append((cx + rx * rr * math.cos(ang), cy + ry * rr * math.sin(ang)))
        for j in range(k):
            x1, y1 = verts[j]
            x2, y2 = verts[(j + 1) % k]
            rows.append((qid, j, x1, y1, x2, y2))
    return rows


def polygon_edges_values_sql(rows: list[tuple]) -> str:
    """VALUES table of the edge rows (literal doubles via repr round-trip)."""
    vals = ", ".join(
        f"({qid}, {x1!r}, {y1!r}, {x2!r}, {y2!r})" for qid, _, x1, y1, x2, y2 in rows
    )
    return f"(VALUES {vals}) AS polygon_edges(qid, x1, y1, x2, y2)"
