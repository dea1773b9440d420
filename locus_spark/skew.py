"""Skew handling: hot-cell detection + salted repartition (north rule:
"skew from hot cells (dense hosts) is handled with salted repartitioning and
AQE").

AQE skew-join splitting is already on (session factory).  These helpers cover
the cases AQE can't see — aggregations and persisted layouts keyed by cell:

* ``cell_histogram`` / ``hot_cells`` — one cheap count-by-cell pass;
* ``salted_repartition`` — appends a per-row salt that fans each hot cell out
  over ``buckets`` sub-partitions while cold cells keep salt 0, so the
  partition count stays bounded and downstream cell joins only need to
  replicate the (tiny) probe side per salt bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cell_histogram(df: DataFrame, cell_col: str = "cell") -> DataFrame:
    return df.groupBy(cell_col).agg(F.count("*").alias("n"))


def hot_cells(
    df: DataFrame, cell_col: str = "cell", factor: float = 8.0, min_rows: int = 1000
) -> list[int]:
    """Cells holding more than ``factor`` × the mean cell population (and at
    least ``min_rows``)."""
    hist = cell_histogram(df, cell_col).cache()
    mean = hist.agg(F.avg("n")).collect()[0][0] or 0.0
    rows = (
        hist.filter((F.col("n") > factor * mean) & (F.col("n") >= min_rows))
        .select(cell_col)
        .collect()
    )
    hist.unpersist()
    return [r[0] for r in rows]


def salted_repartition(
    df: DataFrame,
    cell_col: str = "cell",
    hot: list[int] | None = None,
    buckets: int = 16,
    id_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Repartition by (cell, salt) with salt > 0 only inside hot cells.

    The salt is a deterministic hash of ``id_col`` (or a raw hash of all
    columns when omitted), NOT a random number — reruns produce identical
    layouts, which the resumable-checkpoint story depends on.
    """
    if hot is None:
        hot = hot_cells(df, cell_col)
    src = ", ".join(f"`{c}`" for c in ([id_col] if id_col else df.columns))
    # the hot ids ride as one array literal, which generated code reads as
    # a reference object: as ``isin`` constants in the Java source, every
    # ingest with another hot set would compile anew
    hot_ids = f"CAST(array({', '.join(str(int(c)) for c in hot)}) AS ARRAY<BIGINT>)"
    out = df.withColumn("_salt", F.expr(
        f"CAST(CASE WHEN array_contains({hot_ids}, `{cell_col}`) "
        f"THEN pmod(xxhash64({src}), {buckets}) ELSE 0 END AS INT)"
    ))
    if num_partitions:
        return out.repartition(num_partitions, cell_col, "_salt")
    return out.repartition(cell_col, "_salt")
