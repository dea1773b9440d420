"""GridSpec: cell assignment bounds, covering explosion, Hilbert clustering."""

from __future__ import annotations

import math
import struct

import duckdb
import numpy as np
import pytest
from hypothesis import example, given
from hypothesis import strategies as st
from pyspark.sql import functions as F

from locus_spark.cells import (
    GridSpec,
    cluster_by_hilbert,
    grid_from_boxes,
    grid_from_points,
    sql_double,
)
from locus_spark.operators.segments import grid_from_segments

finite = st.floats(
    min_value=-1e15, max_value=1e15, allow_nan=False, allow_infinity=False
)


@given(finite, finite, st.floats(min_value=1e-6, max_value=1e15), st.integers(2, 10))
def test_cell_xy_in_range(x0, y0, extent, res):
    g = GridSpec(x0, y0, x0 + extent, y0 + extent, res)
    for px, py in [(x0, y0), (x0 + extent, y0 + extent), (x0 + extent / 3, y0 + extent / 2)]:
        cx, cy = g.cell_xy_of(px, py)
        assert 0 <= cx < g.n and 0 <= cy < g.n


def test_degenerate_extent_single_cell():
    # degenerate-extent guard, mirroring /root/reference/locus/_core/segmental.py:195-200
    g = GridSpec(5.0, 5.0, 5.0, 5.0, 4)
    assert g.cell_xy_of(5.0, 5.0) == (0, 0)


def test_spark_cell_matches_scalar(spark):
    pts = [(i, float(i) * 3.7 - 50.0, float(i * i % 97) - 48.0) for i in range(200)]
    df = spark.createDataFrame(pts, "id long, x double, y double")
    g = grid_from_points(df, resolution=4)
    rows = df.select(
        "id", "x", "y", g.cell_x_col("x").alias("cx"), g.cell_y_col("y").alias("cy")
    ).collect()
    for r in rows:
        assert (r.cx, r.cy) == g.cell_xy_of(r.x, r.y)


def test_covering_explode_counts(spark):
    df = spark.createDataFrame(
        [(1, 0.0, 10.0, 0.0, 10.0), (2, 2.0, 2.5, 3.0, 3.5)],
        "id long, min_x double, max_x double, min_y double, max_y double",
    )
    g = GridSpec(0.0, 0.0, 10.0, 10.0, 2)  # 4x4 cells of size 2.5
    out = g.explode_covering(df, "min_x", "max_x", "min_y", "max_y")
    counts = {r.id: r.cnt for r in out.groupBy("id").agg(F.count("*").alias("cnt")).collect()}
    assert counts[1] == 16  # full grid
    assert counts[2] in (1, 2, 4)  # small box spans 1-2 cells per axis


def test_cluster_by_hilbert_adds_cols(spark):
    pts = [(i, float(i % 13), float(i % 7)) for i in range(100)]
    df = spark.createDataFrame(pts, "id long, x double, y double")
    g = grid_from_points(df, resolution=4)
    out = cluster_by_hilbert(df, g, num_partitions=4)
    assert {"cell", "hkey"} <= set(out.columns)
    assert out.count() == 100
    mx = out.agg(F.max("hkey")).collect()[0][0]
    assert 0 <= mx < g.n * g.n


def test_grid_bounds_skip_non_finite_rows(spark):
    """One NaN x or +inf y must neither collapse nor stretch the grid: the
    bounds come from the finite rows only (the bad rows' other coordinate
    lies far outside them), so the finite points land in the same cells as
    under the clean grid."""
    rng = np.random.RandomState(5)
    clean = [
        (i, float(x), float(y))
        for i, (x, y) in enumerate(rng.uniform(-30, 70, size=(1000, 2)))
    ]
    bad = [(1000, float("nan"), 1e9), (1001, -1e9, float("inf"))]
    schema = "id long, x double, y double"
    clean_df = spark.createDataFrame(clean, schema)
    dirty_df = spark.createDataFrame(clean + bad, schema)
    want = grid_from_points(clean_df, resolution=5)
    got = grid_from_points(dirty_df, resolution=5)
    assert got == want
    assert (got.min_x, got.max_x) == (min(p[1] for p in clean), max(p[1] for p in clean))
    assert (got.min_y, got.max_y) == (min(p[2] for p in clean), max(p[2] for p in clean))

    def cells(g):
        return {
            r.c
            for r in clean_df.select(g.cell_col("x", "y").alias("c"))
            .distinct()
            .collect()
        }

    assert cells(got) == cells(want)
    # auto-resolution counts usable rows only
    assert grid_from_points(dirty_df, resolution=None) == grid_from_points(
        clean_df, resolution=None
    )
    # the box and segment grids take the same finite-only bounds
    boxes = spark.createDataFrame(
        [(0, 0.0, 1.0, 0.0, 1.0), (1, float("nan"), 5.0, 0.0, 1.0),
         (2, 0.0, float("inf"), -3.0, 1.0)],
        "id long, min_x double, max_x double, min_y double, max_y double",
    )
    assert grid_from_boxes(boxes) == GridSpec(0.0, 0.0, 1.0, 1.0)
    segs = spark.createDataFrame(
        [(0, 0.0, 0.0, 1.0, 1.0), (1, float("-inf"), 0.0, 1.0, 9.0)],
        "id long, x1 double, y1 double, x2 double, y2 double",
    )
    assert grid_from_segments(segs) == GridSpec(0.0, 0.0, 1.0, 1.0)
    # no usable row left: still the explicit error
    with pytest.raises(ValueError):
        grid_from_points(spark.createDataFrame(bad, schema))


INF, NAN = float("inf"), float("nan")
#: coordinates at the edges of double arithmetic
SPECIALS = (0.0, -0.0, 5e-324, -5e-324, 2.2250738585072014e-308, 1e308, -1e308,
            1e-300, INF, -INF, NAN)


def _column_cell(c, origin: float, width: float, n: int):
    """The Column formula GridSpec rendered before its SQL text."""
    raw = F.floor((c - F.lit(origin)) / F.lit(width))
    return F.least(F.lit(n - 1), F.greatest(F.lit(0), raw)).cast("long")


def _bits(v: float) -> bytes:
    return struct.pack("<d", v)


@given(
    origin=st.one_of(
        st.floats(-1e3, 1e3), st.sampled_from([0.0, -0.0, -180.0, -1e308, 1e308])
    ),
    extent=st.one_of(st.just(0.0), st.floats(1e-6, 1e3)),
    res=st.integers(1, 8),
    xs=st.lists(
        st.one_of(st.floats(-2e3, 2e3), st.sampled_from(SPECIALS), st.floats()),
        min_size=1, max_size=12,
    ),
)
@example(origin=-0.0, extent=0.0, res=4, xs=[0.0, -0.0, 5e-324, NAN, INF, -INF])
@example(origin=-1e308, extent=0.0, res=3, xs=[-1e308, 1e308, -INF])
@example(origin=-123.45678901234567, extent=246.91357802469134, res=6, xs=[0.1])
def test_sql_cell_ids_match_the_column_formula_bit_for_bit(spark, origin, extent, res, xs):
    """GridSpec's SQL renders give the same cell ids as the Column formula
    over any coordinates, and every double they write reads back as the
    same bits in Spark and in DuckDB (a literal without an exponent is a
    DECIMAL, which loses the sign of -0.0; DuckDB rejects a ``D`` suffix)."""
    top = origin + extent if math.isfinite(origin + extent) else origin
    g = GridSpec(origin, -origin, top, -origin + extent, res)
    # the coordinates, plus every cell boundary and its neighbours
    edges = [g.min_x + i * g.cell_w for i in range(g.n + 1)]
    edges += [math.nextafter(e, s) for e in edges for s in (-INF, INF)]
    vals = [*xs, *SPECIALS, *edges]
    df = spark.createDataFrame([(v, w) for v, w in zip(vals, reversed(vals))], "x double, y double")
    got = df.select(
        g.cell_x_col("x"), g.cell_y_col("y"), g.cell_col("x", "y"),
        _column_cell(F.col("x"), g.min_x, g.cell_w, g.n),
        _column_cell(F.col("y"), g.min_y, g.cell_h, g.n),
        _column_cell(F.col("x"), g.min_x, g.cell_w, g.n) * F.lit(g.n)
        + _column_cell(F.col("y"), g.min_y, g.cell_h, g.n),
    ).collect()
    for r in got:
        assert tuple(r[:3]) == tuple(r[3:]), (g, r)
    lits = [g.min_x, g.min_y, g.cell_w, g.cell_h, *SPECIALS]
    back = spark.range(1).selectExpr(
        *[f"{sql_double(v)} AS c{i}" for i, v in enumerate(lits)]
    ).first()
    assert [_bits(v) for v in back] == [_bits(v) for v in lits]
    duck = duckdb.sql("SELECT " + ", ".join(sql_double(v) for v in lits)).fetchone()
    assert [_bits(v) for v in duck] == [_bits(v) for v in lits]
