"""Grid-cell layer: the distributed replacement for tree structure.

The reference normalizes geometry into a 2^16 x 2^16 integer grid and sorts by
Hilbert index to pack its R-tree (``/root/reference/locus/_core/r.py:112-134``).
Here the same normalization produces a ``cell`` column; clustering the table by
the Hilbert key of that cell (``repartitionByRange``) plays the role of tree
packing, and enumerating candidate cells plays the role of branch-and-bound
descent (``/root/reference/locus/kd.py:368``, ``_core/r.py:164-183``).

Each cell formula is rendered ONCE as Spark SQL text (floor/least/greatest,
exact double literals), so Catalyst codegens it and the driver hands it to
the JVM in one call rather than building a Column tree call by call; the
Hilbert key itself is an Arrow pandas UDF (see functions/hilbert.py).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from locus_spark.functions.hilbert import make_hilbert_udf

#: default grid resolution (bits per axis) for cell partitioning.  2^8 = 256
#: cells per axis = 65 536 cells total — enough for thousands of partitions at
#: 100 TB while keeping kNN ring enumeration cheap.
DEFAULT_RESOLUTION = 8


@dataclass(frozen=True)
class GridSpec:
    """A fixed affine grid over the data's bounding box.

    Mirrors the reference's build-time normalization: it, too, derives the
    root box from the data and scales into integer cells
    (``/root/reference/locus/_core/r.py:103,112-132``), with a degenerate
    -extent guard like ``_core/segmental.py:195-200``.
    """

    min_x: float
    min_y: float
    max_x: float
    max_y: float
    resolution: int = DEFAULT_RESOLUTION

    @property
    def n(self) -> int:
        """Cells per axis."""
        return 1 << self.resolution

    @property
    def cell_w(self) -> float:
        return max(self.max_x - self.min_x, 1e-300) / self.n

    @property
    def cell_h(self) -> float:
        return max(self.max_y - self.min_y, 1e-300) / self.n

    # -- scalar reference of the SQL render (tests only; no planner reads it)
    def cell_xy_of(self, x: float, y: float) -> tuple[int, int]:
        cx = int((x - self.min_x) / self.cell_w)
        cy = int((y - self.min_y) / self.cell_h)
        return (min(max(cx, 0), self.n - 1), min(max(cy, 0), self.n - 1))

    # -- SQL renders (each formula once; the Column forms wrap them) --------
    def cell_x_sql(self, x: str) -> str:
        """Clamped cell column of the SQL expression ``x``."""
        return _cell_sql(x, self.min_x, self.cell_w, self.n)

    def cell_y_sql(self, y: str) -> str:
        return _cell_sql(y, self.min_y, self.cell_h, self.n)

    def pack_sql(self, cx: str, cy: str) -> str:
        """Row-major packed cell id: cx * n + cy."""
        return f"({cx}) * {self.n} + ({cy})"

    def cell_sql(self, x: str, y: str) -> str:
        """Packed cell id of the point (``x``, ``y``)."""
        return self.pack_sql(self.cell_x_sql(x), self.cell_y_sql(y))

    def cell_x_col(self, x: str) -> Column:
        return F.expr(self.cell_x_sql(x))

    def cell_y_col(self, y: str) -> Column:
        return F.expr(self.cell_y_sql(y))

    def cell_col(self, x: str, y: str) -> Column:
        return F.expr(self.cell_sql(x, y))

    def covering_cells_in(
        self,
        boxes: DataFrame,
        min_x: str = "min_x",
        max_x: str = "max_x",
        min_y: str = "min_y",
        max_y: str = "max_y",
    ) -> str:
        """``cell IN (...)`` over every cell covering one of ``boxes``: the
        literal predicate a persisted layout's parquet scan prunes on (a
        layout keys its rows by ``cell``, as ``cluster_by_hilbert`` does).

        ``boxes`` is collected, so it must be small (the contract of
        broadcasting it).  Its cell ranges come from the SQL render the
        in-memory joins explode, so a ±inf or NaN bound clamps exactly as
        there.  No box with non-null bounds renders ``false`` (``IN ()``
        does not parse)."""
        rows = boxes.selectExpr(
            self.cell_x_sql(min_x), self.cell_x_sql(max_x),
            self.cell_y_sql(min_y), self.cell_y_sql(max_y),
        ).collect()
        ids = {
            cx * self.n + cy
            for x0, x1, y0, y1 in rows
            if None not in (x0, x1, y0, y1)
            for cx in range(x0, x1 + 1)
            for cy in range(y0, y1 + 1)
        }
        if not ids:
            return "false"
        return f"cell IN ({', '.join(map(str, sorted(ids)))})"

    def explode_covering(
        self,
        df: DataFrame,
        min_x: str,
        max_x: str,
        min_y: str,
        max_y: str,
        cell_name: str = "cell",
    ) -> DataFrame:
        """One output row per (input row, covering cell) — equi-join key
        generation for containment / range joins."""
        return self.explode_covering_xy(df, min_x, max_x, min_y, max_y).selectExpr(
            *[f"`{c}`" for c in df.columns],
            f"{self.pack_sql('_cx', '_cy')} AS `{cell_name}`",
        )

    def explode_covering_xy(
        self, df: DataFrame, min_x: str, max_x: str, min_y: str, max_y: str
    ) -> DataFrame:
        """Like :meth:`explode_covering` but keeps unpacked ``_cx``/``_cy``
        (the join keys the kNN planner uses).  One select per generator."""
        cx = f"sequence({self.cell_x_sql(min_x)}, {self.cell_x_sql(max_x)})"
        cy = f"sequence({self.cell_y_sql(min_y)}, {self.cell_y_sql(max_y)})"
        return df.selectExpr("*", f"explode({cx}) AS _cx").selectExpr(
            "*", f"explode({cy}) AS _cy"
        )


def sql_double(v: float) -> str:
    """``v`` as a literal of exactly that double, read alike by Spark SQL
    and DuckDB: ``repr`` round-trips, and an exponent (``5.625e0``) makes
    both engines read a DOUBLE where ``0.5`` alone is a DECIMAL; ±inf and
    NaN have no literal form, so they are cast."""
    if math.isfinite(v):
        r = repr(v)
        return f"({r if 'e' in r else r + 'e0'})"
    name = "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
    return f"CAST('{name}' AS DOUBLE)"


def _cell_sql(v: str, origin: float, width: float, n: int) -> str:
    """Cell index of ``v`` on one axis, clamped to [0, n-1] before the floor:
    both engines order NaN above every double, but Spark's floor reads NaN
    as 0, so only the clamp-first text puts a NaN coordinate in cell n-1 in
    Spark and in DuckDB alike."""
    raw = f"(({v}) - {sql_double(origin)}) / {sql_double(width)}"
    return f"CAST(floor(least({n - 1}, greatest(0, {raw}))) AS BIGINT)"


#: auto-resolution target: mean points per cell.  Hot-cell occupancy is what
#: bounds candidate-join fan-out, so the mean is chosen low; skew beyond it
#: is handled by salting + the kNN planner's per-probe top-k.
TARGET_CELL_OCCUPANCY = 16


def resolution_for(n_rows: int, target: int = TARGET_CELL_OCCUPANCY) -> int:
    """Bits per axis such that ``4^res ≈ n_rows / target`` — scales from
    2^4 cells/axis at 10^4 rows to 2^16 (the reference's own grid,
    ``/root/reference/locus/_core/hilbert.py:3``) around 10^11 rows."""
    res = 2
    while (1 << (2 * res)) * target < n_rows and res < 16:
        res += 1
    return max(res, 4)


def all_finite(*cols: str) -> Column:
    """True where every named column holds a finite number (NaN, ±inf and
    null all fail).  Grid bounds are aggregated over such rows only, so one
    non-finite coordinate can neither collapse nor stretch the grid."""
    inf = sql_double(float("inf"))
    return F.expr(" AND ".join(f"abs(`{c}`) < {inf}" for c in cols))


def grid_from_points(
    df: DataFrame,
    x: str = "x",
    y: str = "y",
    resolution: int | None = DEFAULT_RESOLUTION,
    target: int = TARGET_CELL_OCCUPANCY,
) -> GridSpec:
    """Derive the grid from data bounds — one cheap agg job (the reference's
    root-box reduce, ``/root/reference/locus/_core/r.py:103``).

    Rows with a non-finite coordinate are left out of the bounds and of the
    row count below.

    ``resolution=None`` picks it from the row count (same agg pass), keeping
    mean cell occupancy near ``target`` at any scale — the engine's analogue
    of the reference's ``max_children`` packing knob
    (``/root/reference/locus/r.py:37``)."""
    row = df.filter(all_finite(x, y)).agg(
        F.min(x).alias("mnx"), F.max(x).alias("mxx"),
        F.min(y).alias("mny"), F.max(y).alias("mxy"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if row["mnx"] is None:
        raise ValueError("grid_from_points: empty input")
    if resolution is None:
        resolution = resolution_for(row["n"], target=target)
    return GridSpec(row["mnx"], row["mny"], row["mxx"], row["mxy"], resolution)


def grid_from_boxes(
    df: DataFrame,
    min_x: str = "min_x",
    max_x: str = "max_x",
    min_y: str = "min_y",
    max_y: str = "max_y",
    resolution: int = DEFAULT_RESOLUTION,
) -> GridSpec:
    row = df.filter(all_finite(min_x, max_x, min_y, max_y)).agg(
        F.min(min_x).alias("mnx"), F.max(max_x).alias("mxx"),
        F.min(min_y).alias("mny"), F.max(max_y).alias("mxy"),
    ).collect()[0]
    if row["mnx"] is None:
        raise ValueError("grid_from_boxes: empty input")
    return GridSpec(row["mnx"], row["mny"], row["mxx"], row["mxy"], resolution)


def cluster_by_hilbert(
    df: DataFrame,
    grid: GridSpec,
    x: str = "x",
    y: str = "y",
    num_partitions: int | None = None,
) -> DataFrame:
    """Space-filling-curve clustering — the distributed analogue of the
    reference's Hilbert bulk pack (``/root/reference/locus/_core/r.py:134``):
    range-partitioning on the Hilbert key puts spatially-near rows in the same
    partition, so Parquet row-group min/max stats prune like R-tree MBRs."""
    hilbert = make_hilbert_udf(grid.resolution)
    out = df.withColumns({
        "cell": grid.cell_col(x, y),
        "hkey": hilbert(grid.cell_x_col(x), grid.cell_y_col(y)),
    })
    if num_partitions:
        return out.repartitionByRange(num_partitions, "hkey")
    return out.repartitionByRange("hkey")
