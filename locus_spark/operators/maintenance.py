"""Incremental maintenance of a persisted Hilbert layout.

The reference's trees are immutable — any update means a full rebuild
(``/root/reference/locus/kd.py:29-55`` builds once from a point list and
exposes no insert).  At 100 TB a full rebuild per ingest batch is not a
plan, so this module adds the lakehouse-style maintenance path a
production deployment needs:

* :func:`delta_layout` — index a (small) new batch into the SAME grid the
  base layout was built with.  The grid is frozen at base-build time:
  out-of-bounds rows clamp to edge cells exactly like query-side clamping
  (``cells.GridSpec.cell_x_col``), so base and delta stay join-compatible
  and every operator's cell pruning remains correct.
* :func:`merged_layout` — serve queries over base ∪ delta unchanged.  Both
  sides carry ``cell``/``hkey``, so range/ball/kNN pruning sees one
  logical table; the delta is the "unsorted tail" a query pays a little
  extra scan for until compaction.
* :func:`compact` — RANGED compaction: only the Hilbert-key ranges the
  delta actually touches are re-sorted; untouched base ranges pass
  through without a shuffle.  On a real lake the ranges are parquet
  files/row-groups picked via footer min/max stats and the pass-through
  is a metadata no-op; here the same decision runs on a quantile sketch
  of the base ``hkey`` distribution (one cheap agg — the same sampling
  ``repartitionByRange`` itself performs).

Scale notes: the boundary sketch and the touched-range set are bounded by
the range count (= target partition count), never by data size; the only
data-sized work is one filtered re-sort of the touched ranges.  A delta
that touches every range degrades gracefully into exactly the full
rebuild (``cluster_by_hilbert``) it replaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from locus_spark.cells import GridSpec
from locus_spark.functions.hilbert import make_hilbert_udf

#: layout columns added by cluster_by_hilbert — the contract both sides of
#: a merge must carry
LAYOUT_COLS = ("cell", "hkey")


def delta_layout(
    new_rows: DataFrame,
    grid: GridSpec,
    x: str = "x",
    y: str = "y",
    num_partitions: int = 1,
) -> DataFrame:
    """Cell-index a new batch against a FROZEN base grid.

    Same column contract as :func:`locus_spark.cells.cluster_by_hilbert`;
    the batch is range-clustered on ``hkey`` into ``num_partitions``
    partitions (an ingest batch is orders of magnitude smaller than the
    base, so a handful of partitions keeps its files from fragmenting the
    layout directory)."""
    hilbert = make_hilbert_udf(grid.resolution)
    out = new_rows.withColumns({
        "cell": grid.cell_col(x, y),
        "hkey": hilbert(grid.cell_x_col(x), grid.cell_y_col(y)),
    })
    return out.repartitionByRange(num_partitions, "hkey").sortWithinPartitions("hkey")


def merged_layout(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Base ∪ delta, schema-aligned — the read path between compactions.

    Every layout consumer keys on ``cell``/``hkey`` columns (never on
    physical order), so the union serves range/ball/kNN queries exactly;
    the delta merely lacks the tight row-group clustering until
    :func:`compact` folds it in."""
    for c in LAYOUT_COLS:
        if c not in base.columns or c not in delta.columns:
            raise ValueError(f"merged_layout: both sides must carry '{c}'")
    return base.unionByName(delta)


def _hkey_boundaries(base: DataFrame, num_ranges: int) -> list[int]:
    """Interior range boundaries from a quantile sketch of base ``hkey``
    (driver-side list bounded by ``num_ranges``, never by data size)."""
    qs = [i / num_ranges for i in range(1, num_ranges)]
    row = base.agg(
        F.percentile_approx("hkey", qs, 10_000).alias("bs")
    ).collect()[0]
    # dedupe (skewed layouts can repeat a quantile) while keeping order
    out: list[int] = []
    for b in row["bs"] or []:
        if not out or b > out[-1]:
            out.append(int(b))
    return out


def _range_id(col, boundaries: list[int]):
    """0-based range id of ``col`` under ``boundaries``: the number of
    boundaries at or below it.  The boundaries ride as one array literal,
    which generated code reads as a reference object, so the compiled
    class is the same whatever the base's quantiles are (as constants in
    the Java source, every batch would compile anew)."""
    bounds = F.lit(boundaries).cast("array<bigint>")
    return F.size(F.filter(bounds, lambda b: b <= col))


def compact(
    base: DataFrame,
    delta: DataFrame,
    num_ranges: int = 8,
) -> tuple[DataFrame, dict]:
    """Fold a delta into the base layout, re-sorting ONLY touched ranges.

    Returns ``(layout, stats)`` where ``stats`` reports the maintenance
    bill: ``touched_ranges`` / ``total_ranges``, and the rewritten
    vs pass-through split the plan commits to.  Content-equivalent to a
    full ``cluster_by_hilbert`` rebuild of base+delta (pinned by
    ``tests/test_maintenance.py``); the win is that the pass-through side
    is never shuffled or re-sorted — on a real lake it is untouched files.
    """
    for c in LAYOUT_COLS:
        if c not in base.columns or c not in delta.columns:
            raise ValueError(f"compact: both sides must carry '{c}'")
    boundaries = _hkey_boundaries(base, num_ranges)
    rid = _range_id(F.col("hkey"), boundaries)

    # touched-range set: one small distinct over the DELTA (ingest-batch
    # sized), collected — bounded by the range count
    touched = sorted(
        r["rid"]
        for r in delta.select(rid.alias("rid")).distinct().collect()
    )
    n_ranges = len(boundaries) + 1
    if not touched:  # empty delta — nothing to do
        return base, {
            "touched_ranges": 0, "total_ranges": n_ranges,
            "rewritten_rows": 0, "passthrough_rows": None,
        }

    # an array literal, not ``isin``: ``In`` writes each id into the
    # generated code, so a batch touching other ranges would compile anew
    in_touched = F.array_contains(F.lit(touched).cast("array<int>"), rid)
    keep = base.filter(~in_touched)
    rewrite = merged_layout(base.filter(in_touched), delta)
    rewritten = (
        rewrite.repartitionByRange(max(len(touched), 1), "hkey")
        .sortWithinPartitions("hkey")
    )
    stats = {
        "touched_ranges": len(touched),
        "total_ranges": n_ranges,
        # data-sized counts are left lazy (callers that want the exact
        # bill count them; the PLAN split above is the contract)
        "rewritten_rows": None,
        "passthrough_rows": None,
        "boundaries": boundaries,
        "touched": touched,
    }
    return keep.unionByName(rewritten), stats


def upsert_serving(
    base: DataFrame,
    batch_layout: DataFrame,
    id_col: str = "id",
    broadcast_batch: bool = True,
) -> DataFrame:
    """MERGE-style serving view: rows of ``batch_layout`` REPLACE base rows
    with the same ``id_col`` (moved/re-crawled items), new ids append —
    the lakehouse upsert between compactions, extending the append-only
    :func:`delta_layout`/:func:`merged_layout` path with deletes.

    Plan shape (deletion-vector semantics): the batch's id set is
    broadcast and the base takes one ``left_anti`` — a map-side filter of
    the base scan, no base-sized shuffle and no base rewrite; base files
    stay untouched exactly like a Delta/Iceberg deletion vector.  The
    replaced rows' cells may now be EMPTY of live rows — correctness-
    neutral for every consumer (range/ball joins just match nothing
    there; the kNN planner's bounds come from the live rows it samples and
    its exact join searches cells by distance, so empty cells only widen a
    bound, never skip a neighbor).

    ``broadcast_batch=False`` falls back to a shuffle anti-join on the id
    key for batches beyond broadcast reach (same disclosed fallback
    contract as dedup.incremental_exact_dedup)."""
    ids = batch_layout.select(id_col).distinct()
    if broadcast_batch:
        ids = F.broadcast(ids)
    kept = base.join(ids, id_col, "left_anti")
    return merged_layout(kept, batch_layout)
