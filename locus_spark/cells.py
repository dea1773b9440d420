"""Grid-cell layer: the distributed replacement for tree structure.

The reference normalizes geometry into a 2^16 x 2^16 integer grid and sorts by
Hilbert index to pack its R-tree (``/root/reference/locus/_core/r.py:112-134``).
Here the same normalization produces a ``cell`` column; clustering the table by
the Hilbert key of that cell (``repartitionByRange``) plays the role of tree
packing, and enumerating candidate cells plays the role of branch-and-bound
descent (``/root/reference/locus/kd.py:368``, ``_core/r.py:164-183``).

Everything is native Column math (floor/least/greatest) so Catalyst codegens
it; the Hilbert key itself is an Arrow pandas UDF (see functions/hilbert.py).
"""

from __future__ import annotations

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

    # -- scalar helpers (driver-side planning / tests) ----------------------
    def cell_xy_of(self, x: float, y: float) -> tuple[int, int]:
        cx = int((x - self.min_x) / self.cell_w)
        cy = int((y - self.min_y) / self.cell_h)
        return (min(max(cx, 0), self.n - 1), min(max(cy, 0), self.n - 1))

    # -- Column builders -----------------------------------------------------
    def cell_x_col(self, x: Column) -> Column:
        raw = F.floor((x - F.lit(self.min_x)) / F.lit(self.cell_w))
        return F.least(F.lit(self.n - 1), F.greatest(F.lit(0), raw)).cast("long")

    def cell_y_col(self, y: Column) -> Column:
        raw = F.floor((y - F.lit(self.min_y)) / F.lit(self.cell_h))
        return F.least(F.lit(self.n - 1), F.greatest(F.lit(0), raw)).cast("long")

    def cell_col(self, x: Column, y: Column) -> Column:
        """Row-major packed cell id: cx * n + cy."""
        return self.cell_x_col(x) * F.lit(self.n) + self.cell_y_col(y)

    def pack(self, cx: Column, cy: Column) -> Column:
        return cx * F.lit(self.n) + cy

    def covering_range_cols(
        self, min_x: Column, max_x: Column, min_y: Column, max_y: Column
    ) -> tuple[Column, Column, Column, Column]:
        """(cx0, cx1, cy0, cy1) cell-coordinate range covering a box."""
        return (
            self.cell_x_col(min_x),
            self.cell_x_col(max_x),
            self.cell_y_col(min_y),
            self.cell_y_col(max_y),
        )

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
        cx0, cx1, cy0, cy1 = self.covering_range_cols(
            F.col(min_x), F.col(max_x), F.col(min_y), F.col(max_y)
        )
        return (
            df.withColumn("_cx", F.explode(F.sequence(cx0, cx1)))
            .withColumn("_cy", F.explode(F.sequence(cy0, cy1)))
            .withColumn(cell_name, self.pack(F.col("_cx"), F.col("_cy")))
            .drop("_cx", "_cy")
        )

    def explode_covering_xy(
        self, df: DataFrame, min_x: str, max_x: str, min_y: str, max_y: str
    ) -> DataFrame:
        """Like :meth:`explode_covering` but keeps unpacked ``_cx``/``_cy``
        (the join keys the kNN planner uses)."""
        cx0, cx1, cy0, cy1 = self.covering_range_cols(
            F.col(min_x), F.col(max_x), F.col(min_y), F.col(max_y)
        )
        return df.withColumn("_cx", F.explode(F.sequence(cx0, cx1))).withColumn(
            "_cy", F.explode(F.sequence(cy0, cy1))
        )


#: auto-resolution target: mean points per cell.  Hot-cell occupancy is what
#: bounds candidate-join fan-out, so the mean is chosen low; skew beyond it
#: is handled by salting + the ring planner's per-round top-k.
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
    out = F.lit(True)
    for c in cols:
        out = out & (F.abs(F.col(c)) < F.lit(float("inf")))
    return out


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
    out = df.withColumn("cell", grid.cell_col(F.col(x), F.col(y))).withColumn(
        "hkey",
        hilbert(grid.cell_x_col(F.col(x)), grid.cell_y_col(F.col(y))),
    )
    if num_partitions:
        return out.repartitionByRange(num_partitions, "hkey")
    return out.repartitionByRange("hkey")
