"""Squared-distance metrics and range predicates (SURVEY.md §2.5, C1-C8).

The reference injects these through its ``Context`` (squared Euclidean
metrics from the ``ground`` library — ``/root/reference/locus/kd.py:53``,
``locus/r.py:56-58``, ``locus/segmental.py:68-74``; box predicates at
``locus/_core/box.py:6-27``).  All distances are SQUARED — no sqrt on the hot
path (the reference never takes one either).

Each metric and predicate is defined ONCE as a SQL expression template
over column names, and there is no Column twin.  The engine hands the text to Spark as is
(``selectExpr``/``F.expr``: Catalyst parses it → whole-stage codegen,
JVM-side, one py4j call), and the DuckDB oracle evaluates the *same text* —
both are IEEE-754 float64 engines evaluating the same operation tree, so
results are bit-identical, which is what the driver's value-hash comparison
needs.

Only common-dialect SQL is used: ``+ - * /``, comparisons, ``AND``/``OR``,
``IN``, ``least``, ``greatest``, ``CASE WHEN``, ``abs``, ``coalesce``,
``floor``, ``md5``, ``substr``, ``||``, ``split``, ``filter`` and
``array_distinct`` with a ``t -> ...`` lambda, and
``CAST(... AS DOUBLE | BIGINT | INT | STRING)`` — all with identical
semantics in Spark SQL and DuckDB.  The whitespace tokenizer is one such
text, :func:`sql_tokens`, which every text operator and every text oracle
renders.  The few steps the two engines spell differently (an array's
size, unnesting an array into rows, reading hex digits as a number) are the
fields of a :class:`Dialect`, :data:`SPARK_SQL` or :data:`DUCKDB`; a
template that needs one takes the dialect, and the rest of its text is
shared.  The md5-prefix hash bucket (:meth:`Dialect.md5_bucket`) is one:
the pseudo link graph (``operators/graph.py``), the hash-threshold samplers
(``operators/sampling.py``) and the mix priority (``operators/mixing.py``)
render it, and so do their oracles.

A metric whose text repeats a costly sub-expression is also defined in
stages (:class:`Metric`): the kNN planner projects the stages as columns
and then dist², and :meth:`Metric.inline` substitutes them back into the
one text the oracle renders.  A projected column holds the same double
the inlined sub-expression computes, so both forms agree bit for bit.
"""

from __future__ import annotations

import re
from typing import NamedTuple


def sql_tokens(text: str) -> str:
    """The array of a text's non-empty single-space-split tokens, in order."""
    return f"filter(split({text}, ' '), t -> t <> '')"


class Dialect(NamedTuple):
    """The kernel steps that Spark SQL and DuckDB spell differently."""

    #: element count of an array (Spark's ``len`` takes strings only;
    #: DuckDB has no ``size`` and its ``cardinality`` takes maps only)
    size: str
    #: the set-returning function of an array: one row per element
    unnest: str
    #: 8 hex digits (an md5 half) as a non-negative BIGINT, a ``str.format``
    #: template over one SQL argument
    hex_bigint: str

    def tokens(self, text: str) -> str:
        """A text's distinct tokens (:func:`sql_tokens`), one row each."""
        return f"{self.unnest}(array_distinct({sql_tokens(text)}))"

    def count_in(self, arr: str, words) -> str:
        """How many elements of the array ``arr`` are among ``words``."""
        listed = ", ".join(f"'{w}'" for w in words)
        return f"{self.size}(filter({arr}, t -> t IN ({listed})))"

    def token_hash(self) -> list[str]:
        """(hi, lo) of a token ``tok``: the first 16 hex digits of its md5 as
        two non-negative 32-bit halves, so every SimHash step is plain BIGINT
        arithmetic and both engines agree bit for bit."""
        return [
            f"{self.hex_bigint.format(f'substr(md5(tok), {i}, 8)')} AS {half}"
            for i, half in ((1, "hi"), (9, "lo"))
        ]

    def md5_bucket(self, prefix: str, key: str) -> str:
        """uint32 bucket of ``key``: the first 8 hex digits of
        ``md5(prefix || key)`` as a non-negative BIGINT."""
        return self.hex_bigint.format(
            f"substr(md5('{prefix}' || CAST({key} AS STRING)), 1, 8)"
        )


SPARK_SQL = Dialect(
    size="size", unnest="explode", hex_bigint="CAST(conv({}, 16, 10) AS BIGINT)"
)
DUCKDB = Dialect(size="len", unnest="unnest", hex_bigint="('0x' || {})::BIGINT")


def sql_cast_double(x: float) -> str:
    """Parameter ``x`` as a DOUBLE literal in both engines.  A bare ``0.85``
    is a DECIMAL(2,2) in Spark (and a DECIMAL in DuckDB), whose arithmetic
    is not IEEE double's; ``repr`` round-trips, so the CAST is ``x`` exactly."""
    return f"CAST({x!r} AS DOUBLE)"


class Metric(NamedTuple):
    """A squared distance in stages: ``steps`` are ``(name, SQL)`` pairs,
    each over the input columns only, and ``expr`` is dist² over the input
    columns and the step names."""

    steps: tuple[tuple[str, str], ...]
    expr: str

    def inline(self) -> str:
        """dist² as one SQL text: each step name in ``expr`` replaced by
        the step's text."""
        out = self.expr
        for name, text in self.steps:
            out = re.sub(rf"\b{name}\b", lambda _, text=text: text, out)
        return out


# --------------------------------------------------------------------------
# point <-> point  (C4: ground.points_squared_distance, /root/reference/locus/kd.py:53)
# --------------------------------------------------------------------------
def sql_dist2_point_point(ax: str, ay: str, bx: str, by: str) -> str:
    return f"(({ax})-({bx}))*(({ax})-({bx})) + (({ay})-({by}))*(({ay})-({by}))"


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
#
# Defined once, in stages: the four clamped projection parameters t are the
# steps, and dist² reads each twice per coordinate.  Inlined, each t is
# spelled four times inside the CASE's ELSE branch, which Spark's
# subexpression elimination does not enter: the generated method then
# exceeds HotSpot's 8,000-byte JIT limit and runs interpreted.  Projected
# first, each t is computed once per candidate.
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


def staged_dist2_segment_segment(
    ax1: str, ay1: str, ax2: str, ay2: str, bx1: str, by1: str, bx2: str, by2: str
) -> Metric:
    """dist²(segment a, segment b) as a :class:`Metric` whose steps
    ``_t1``..``_t4`` are the clamped t of a's endpoints on b and of b's
    endpoints on a."""
    ends = (
        (ax1, ay1, bx1, by1, bx2, by2),
        (ax2, ay2, bx1, by1, bx2, by2),
        (bx1, by1, ax1, ay1, ax2, ay2),
        (bx2, by2, ax1, ay1, ax2, ay2),
    )
    names = [f"_t{i}" for i in range(1, len(ends) + 1)]
    ds = ", ".join(
        f"({sql_dist2_point_segment(*e, t=n)})" for e, n in zip(ends, names)
    )
    cross = sql_segments_properly_cross(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2)
    return Metric(
        tuple((n, sql_seg_t(*e)) for n, e in zip(names, ends)),
        f"(CASE WHEN {cross} THEN 0.0 ELSE least({ds}) END)",
    )


def sql_dist2_segment_segment(
    ax1: str, ay1: str, ax2: str, ay2: str, bx1: str, by1: str, bx2: str, by2: str
) -> str:
    return staged_dist2_segment_segment(
        ax1, ay1, ax2, ay2, bx1, by1, bx2, by2
    ).inline()


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


def sql_boxes_overlap(
    a_min_x: str, a_max_x: str, a_min_y: str, a_max_y: str,
    b_min_x: str, b_max_x: str, b_min_y: str, b_max_y: str,
) -> str:
    """C2 — interiors intersect, STRICT: boxes sharing only an edge or a
    corner do not overlap (/root/reference/locus/_core/box.py:12-18)."""
    return (
        f"(({a_min_x}) < ({b_max_x}) AND ({b_min_x}) < ({a_max_x})"
        f" AND ({a_min_y}) < ({b_max_y}) AND ({b_min_y}) < ({a_max_y}))"
    )


# --------------------------------------------------------------------------
# point-in-polygon (even-odd rule; the reference has no polygons)
# --------------------------------------------------------------------------
def sql_ray_crosses_edge(
    px: str, py: str, x1: str, y1: str, x2: str, y2: str
) -> str:
    """The horizontal ray from (px, py) to +inf crosses the directed edge
    (x1, y1)-(x2, y2): the edge straddles py and the intersection lies
    right of px — the classic PNPOLY test (public domain, W. R. Franklin)."""
    return (
        f"((({y1}) > ({py})) <> (({y2}) > ({py}))"
        f" AND ({px}) < ((({x2}) - ({x1})) * (({py}) - ({y1})) / (({y2}) - ({y1})) + ({x1})))"
    )
