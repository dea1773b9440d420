"""Segment queries as distributed joins (SURVEY.md §2.4, S1-S9).

The reference answers these with a Hilbert-packed tree over segment bounding
boxes and best-first search (``/root/reference/locus/segmental.py``):
nearest/k-NN segment to a probe *point* (``segmental.py:599-653``,
``:341-392``) and to a probe *segment* (``:477-529``, ``:192-243``).
Tie rule: among equal distances the SMALLEST id wins (heap keys at
``segmental.py:516-528`` — the opposite convention from the R-tree family).

Distributed form: segments indexed by the covering cells of their bounding
boxes (derived exactly like the reference derives them at build,
``segmental.py:53-66``); probes (points or segments) run through the generic
kNN planner with the exact point↔segment / segment↔segment squared
metrics — SQL-template expressions shared verbatim with the DuckDB oracle
(locus_spark/functions/metrics.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from locus_spark.cells import DEFAULT_RESOLUTION, GridSpec, all_finite
from locus_spark.functions.metrics import (
    sql_dist2_point_segment,
    staged_dist2_segment_segment,
)
from locus_spark.plans.knn import generic_knn_join, probe_frame

SEG_COLS = ["id", "x1", "y1", "x2", "y2"]


def _with_bbox(segments: DataFrame) -> DataFrame:
    """Derive per-segment bounding boxes (least/greatest of endpoints) — the
    reference does the same at build (``/root/reference/locus/segmental.py:53-66``)."""
    return segments.selectExpr(
        *SEG_COLS,
        "least(x1, x2) AS _bmin_x",
        "greatest(x1, x2) AS _bmax_x",
        "least(y1, y2) AS _bmin_y",
        "greatest(y1, y2) AS _bmax_y",
    )


def grid_from_segments(
    segments: DataFrame, resolution: int = DEFAULT_RESOLUTION
) -> GridSpec:
    row = _with_bbox(segments.filter(all_finite("x1", "y1", "x2", "y2"))).agg(
        F.min("_bmin_x").alias("mnx"), F.max("_bmax_x").alias("mxx"),
        F.min("_bmin_y").alias("mny"), F.max("_bmax_y").alias("mxy"),
    ).collect()[0]
    if row["mnx"] is None:
        raise ValueError("grid_from_segments: empty input")
    return GridSpec(row["mnx"], row["mny"], row["mxx"], row["mxy"], resolution)


def _seg_cells(segments: DataFrame, grid: GridSpec) -> DataFrame:
    return grid.explode_covering_xy(
        _with_bbox(segments), "_bmin_x", "_bmax_x", "_bmin_y", "_bmax_y"
    ).drop("_bmin_x", "_bmax_x", "_bmin_y", "_bmax_y")


def segment_knn_to_point_join(
    segments: DataFrame,
    probes: DataFrame,
    k: int,
    grid: GridSpec | None = None,
) -> DataFrame:
    """k nearest segments to each probe point — ``n_nearest_to_point_items``
    (``/root/reference/locus/segmental.py:341-392``; k=1 ≙
    ``nearest_to_point_item``, ``:599-653``).
    Returns ``(qid, id, x1, y1, x2, y2, dist2, rn)``, ties by ascending id."""
    if grid is None:
        grid = grid_from_segments(segments)
    segs = segments.select(*SEG_COLS)
    pr = probe_frame(
        probes.selectExpr("qid", "x AS _qx", "y AS _qy"),
        grid, "_qx", "_qx", "_qy", "_qy", payload=["_qx", "_qy"],
    )
    d2 = sql_dist2_point_segment("_qx", "_qy", "x1", "y1", "x2", "y2")

    out = generic_knn_join(
        segs, _seg_cells(segments, grid), pr, k, grid, d2,
        tie_desc_id=False, dedup=True,
    )
    return out.select("qid", *SEG_COLS, "dist2", "rn")


def segment_nearest_to_point_join(
    segments: DataFrame, probes: DataFrame, grid: GridSpec | None = None
) -> DataFrame:
    """S3 ``nearest_to_point_item`` — k=1."""
    return segment_knn_to_point_join(segments, probes, 1, grid).drop("rn")


def segment_knn_join(
    segments: DataFrame,
    probe_segments: DataFrame,
    k: int,
    grid: GridSpec | None = None,
) -> DataFrame:
    """k nearest segments to each probe *segment* — ``n_nearest_items``
    (``/root/reference/locus/segmental.py:192-243``; k=1 ≙ ``nearest_item``,
    ``:477-529``).  Metric: segments_squared_distance (0 on contact/crossing).
    Returns ``(qid, id, x1, y1, x2, y2, dist2, rn)``, ties by ascending id."""
    if grid is None:
        grid = grid_from_segments(segments)
    segs = segments.select(*SEG_COLS)
    pr = probe_frame(
        probe_segments.selectExpr(
            "qid", "x1 AS _qx1", "y1 AS _qy1", "x2 AS _qx2", "y2 AS _qy2"
        ),
        grid,
        "least(_qx1, _qx2)", "greatest(_qx1, _qx2)",
        "least(_qy1, _qy2)", "greatest(_qy1, _qy2)",
        payload=["_qx1", "_qy1", "_qx2", "_qy2"],
    )
    d2 = staged_dist2_segment_segment(
        "_qx1", "_qy1", "_qx2", "_qy2", "x1", "y1", "x2", "y2"
    )

    out = generic_knn_join(
        segs, _seg_cells(segments, grid), pr, k, grid, d2,
        tie_desc_id=False, dedup=True,
    )
    return out.select("qid", *SEG_COLS, "dist2", "rn")


def segment_nearest_join(
    segments: DataFrame, probe_segments: DataFrame, grid: GridSpec | None = None
) -> DataFrame:
    """S1 ``nearest_item`` — k=1."""
    return segment_knn_join(segments, probe_segments, 1, grid).drop("rn")
