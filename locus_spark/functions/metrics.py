"""Squared-distance metrics and box predicates (SURVEY.md §2.5, C1-C8).

The reference injects these through its ``Context`` (squared Euclidean
metrics from the ``ground`` library — ``/root/reference/locus/kd.py:53``,
``locus/r.py:56-58``, ``locus/segmental.py:68-74``; box predicates at
``locus/_core/box.py:6-27``).  All distances are SQUARED — no sqrt on the hot
path (the reference never takes one either).

Each metric is defined ONCE as a SQL expression template over column names.
The engine evaluates it with ``F.expr`` (Catalyst parses it → whole-stage
codegen, JVM-side), and the DuckDB oracle evaluates the *same text* — both are
IEEE-754 float64 engines evaluating the same operation tree, so results are
bit-identical, which is what the driver's value-hash comparison needs.

Only common-dialect SQL is used: ``+ - * /``, ``least``, ``greatest``,
``CASE WHEN``, ``abs`` — all with identical semantics in Spark SQL and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# point <-> point  (C4: ground.points_squared_distance, /root/reference/locus/kd.py:53)
# --------------------------------------------------------------------------
def sql_dist2_point_point(ax: str, ay: str, bx: str, by: str) -> str:
    return f"(({ax})-({bx}))*(({ax})-({bx})) + (({ay})-({by}))*(({ay})-({by}))"


def dist2_point_point(ax, ay, bx, by) -> Column:
    ax, ay, bx, by = (F.col(c) if isinstance(c, str) else c for c in (ax, ay, bx, by))
    return (ax - bx) * (ax - bx) + (ay - by) * (ay - by)


# --------------------------------------------------------------------------
# point <-> box  (C5: ground.box_point_squared_distance, /root/reference/locus/r.py:58)
# zero inside the box; closed boundary.
# --------------------------------------------------------------------------
def sql_dist2_point_box(
    px: str, py: str, min_x: str, max_x: str, min_y: str, max_y: str
) -> str:
    dx = f"greatest(0.0, ({min_x})-({px}), ({px})-({max_x}))"
    dy = f"greatest(0.0, ({min_y})-({py}), ({py})-({max_y}))"
    return f"({dx})*({dx}) + ({dy})*({dy})"


def dist2_point_box(px, py, min_x, max_x, min_y, max_y) -> Column:
    cols = [F.col(c) if isinstance(c, str) else c for c in (px, py, min_x, max_x, min_y, max_y)]
    px, py, min_x, max_x, min_y, max_y = cols
    dx = F.greatest(F.lit(0.0), min_x - px, px - max_x)
    dy = F.greatest(F.lit(0.0), min_y - py, py - max_y)
    return dx * dx + dy * dy


# --------------------------------------------------------------------------
# point <-> segment  (C6: ground.segment_point_squared_distance,
# /root/reference/locus/segmental.py:71-72) — clamped projection, closed form.
# --------------------------------------------------------------------------
def sql_seg_t(px: str, py: str, x1: str, y1: str, x2: str, y2: str) -> str:
    """Clamped projection parameter t in [0,1] (0 for degenerate segments —
    the reference's generators guarantee distinct endpoints,
    /root/reference/tests/strategies/base.py:80-85, but we guard anyway)."""
    len2 = f"(({x2})-({x1}))*(({x2})-({x1})) + (({y2})-({y1}))*(({y2})-({y1}))"
    dot = f"(({px})-({x1}))*(({x2})-({x1})) + (({py})-({y1}))*(({y2})-({y1}))"
    return f"(CASE WHEN ({len2}) <= 0.0 THEN 0.0 ELSE least(1.0, greatest(0.0, ({dot})/({len2}))) END)"


def sql_dist2_point_segment(
    px: str, py: str, x1: str, y1: str, x2: str, y2: str, t: str | None = None
) -> str:
    """dist²(point, segment). Pass ``t`` (a precomputed column name holding
    sql_seg_t) to avoid inlining the projection twice."""
    tt = t if t is not None else sql_seg_t(px, py, x1, y1, x2, y2)
    cx = f"(({x1}) + ({tt})*(({x2})-({x1})))"
    cy = f"(({y1}) + ({tt})*(({y2})-({y1})))"
    return f"(({px})-{cx})*(({px})-{cx}) + (({py})-{cy})*(({py})-{cy})"


# --------------------------------------------------------------------------
# segment <-> segment  (C6: ground.segments_squared_distance,
# /root/reference/locus/segmental.py:73-74).
# 0 when the segments properly cross (orientation test); otherwise the min of
# the four endpoint-to-other-segment distances.  Collinear-overlap cases fall
# out of the endpoint projections (distance 0), so only the proper-crossing
# case needs the orientation test.
# --------------------------------------------------------------------------
def _sql_cross(ox: str, oy: str, ax: str, ay: str, bx: str, by: str) -> str:
    """z of (a-o) x (b-o)."""
    return (
        f"((({ax})-({ox}))*((({by})-({oy}))) - ((({ay})-({oy}))*((({bx})-({ox})))))"
    )


def sql_segments_properly_cross(
    ax1: str, ay1: str, ax2: str, ay2: str, bx1: str, by1: str, bx2: str, by2: str
) -> str:
    o1 = _sql_cross(ax1, ay1, ax2, ay2, bx1, by1)
    o2 = _sql_cross(ax1, ay1, ax2, ay2, bx2, by2)
    o3 = _sql_cross(bx1, by1, bx2, by2, ax1, ay1)
    o4 = _sql_cross(bx1, by1, bx2, by2, ax2, ay2)
    return (
        f"((({o1}) > 0.0 AND ({o2}) < 0.0 OR ({o1}) < 0.0 AND ({o2}) > 0.0)"
        f" AND (({o3}) > 0.0 AND ({o4}) < 0.0 OR ({o3}) < 0.0 AND ({o4}) > 0.0))"
    )


def sql_dist2_segment_segment(
    ax1: str, ay1: str, ax2: str, ay2: str, bx1: str, by1: str, bx2: str, by2: str
) -> str:
    d1 = sql_dist2_point_segment(ax1, ay1, bx1, by1, bx2, by2)
    d2 = sql_dist2_point_segment(ax2, ay2, bx1, by1, bx2, by2)
    d3 = sql_dist2_point_segment(bx1, by1, ax1, ay1, ax2, ay2)
    d4 = sql_dist2_point_segment(bx2, by2, ax1, ay1, ax2, ay2)
    cross = sql_segments_properly_cross(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2)
    return f"(CASE WHEN {cross} THEN 0.0 ELSE least(({d1}), ({d2}), ({d3}), ({d4})) END)"


# --------------------------------------------------------------------------
# box predicates (C1-C3, /root/reference/locus/_core/box.py)
# --------------------------------------------------------------------------
def sql_box_contains_point(
    px: str, py: str, min_x: str, max_x: str, min_y: str, max_y: str
) -> str:
    """C1 — closed containment (/root/reference/locus/_core/box.py:6-9)."""
    return (
        f"(({min_x}) <= ({px}) AND ({px}) <= ({max_x})"
        f" AND ({min_y}) <= ({py}) AND ({py}) <= ({max_y}))"
    )


def sql_box_is_subset(
    t_min_x: str, t_max_x: str, t_min_y: str, t_max_y: str,
    g_min_x: str, g_max_x: str, g_min_y: str, g_max_y: str,
) -> str:
    """C3 — test box ⊆ goal box, closed (/root/reference/locus/_core/box.py:21-27)."""
    return (
        f"(({g_min_x}) <= ({t_min_x}) AND ({t_max_x}) <= ({g_max_x})"
        f" AND ({g_min_y}) <= ({t_min_y}) AND ({t_max_y}) <= ({g_max_y}))"
    )


def expr(sql: str) -> Column:
    """Evaluate one of the templates above on the Spark side."""
    return F.expr(sql)
