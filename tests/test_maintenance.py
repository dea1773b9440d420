"""Incremental layout maintenance: merged serving, ranged compaction.

Pins the module contract: a layout maintained by delta-append +
ranged compaction answers EXACTLY like a full rebuild, and compaction
touches only the Hilbert ranges the delta lands in."""

from __future__ import annotations

from pyspark.sql import functions as F

from locus_spark.cells import GridSpec, cluster_by_hilbert
from locus_spark.operators.maintenance import (
    compact,
    delta_layout,
    merged_layout,
)

GRID = GridSpec(0.0, 0.0, 100.0, 100.0, 5)


def _points(spark, n, seed, lo=0.0, hi=100.0):
    span = hi - lo
    return spark.range(n).select(
        (F.col("id") + seed * 1_000_000).alias("id"),
        (F.pmod(F.xxhash64(F.col("id") + seed), F.lit(99991)) / 99991.0 * span + lo).alias("x"),
        (F.pmod(F.xxhash64(F.col("id") + seed, F.lit(7)), F.lit(99989)) / 99989.0 * span + lo).alias("y"),
    )


def _rowset(df):
    return {
        (r.id, round(r.x, 9), round(r.y, 9), r.cell, r.hkey)
        for r in df.select("id", "x", "y", "cell", "hkey").collect()
    }


def test_compact_equals_full_rebuild(spark):
    base = cluster_by_hilbert(_points(spark, 800, 1), GRID, num_partitions=4)
    delta = delta_layout(_points(spark, 60, 2), GRID)
    compacted, stats = compact(base, delta, num_ranges=8)
    full = cluster_by_hilbert(
        _points(spark, 800, 1).unionByName(_points(spark, 60, 2)), GRID
    )
    assert _rowset(compacted) == _rowset(full)
    assert 1 <= stats["touched_ranges"] <= stats["total_ranges"]


def test_compact_localized_delta_touches_few_ranges(spark):
    """A delta confined to one corner of the space must not rewrite the
    whole layout — that locality is the entire point of ranged
    compaction."""
    base = cluster_by_hilbert(_points(spark, 2000, 3), GRID, num_partitions=8)
    # delta confined to the [0,10)x[0,10) corner: a narrow hkey range
    delta = delta_layout(_points(spark, 40, 4, lo=0.0, hi=10.0), GRID)
    compacted, stats = compact(base, delta, num_ranges=8)
    assert stats["touched_ranges"] < stats["total_ranges"] / 2, stats
    # pass-through rows really pass through: base rows outside the touched
    # ranges appear unchanged
    assert compacted.count() == 2040


def test_compact_empty_delta_is_noop(spark):
    base = cluster_by_hilbert(_points(spark, 300, 5), GRID, num_partitions=4)
    empty = delta_layout(_points(spark, 10, 6).filter(F.lit(False)), GRID)
    compacted, stats = compact(base, empty)
    assert stats["touched_ranges"] == 0
    assert compacted is base


def test_merged_layout_serves_box_query_exactly(spark):
    """merged (uncompacted) serving: base ∪ delta answers a range query
    identically to the full rebuild."""
    from locus_spark.operators.points import find_box_over_layout

    base = cluster_by_hilbert(_points(spark, 700, 7), GRID, num_partitions=4)
    delta = delta_layout(_points(spark, 90, 8), GRID)
    merged = merged_layout(base, delta)
    full = cluster_by_hilbert(
        _points(spark, 700, 7).unionByName(_points(spark, 90, 8)), GRID
    )
    qb = spark.createDataFrame(
        [(1, 12.0, 43.0, 20.0, 61.0), (2, 70.0, 5.0, 99.0, 33.0)],
        "qid long, min_x double, min_y double, max_x double, max_y double",
    )
    got = {tuple(r) for r in find_box_over_layout(merged, qb, GRID).collect()}
    want = {tuple(r) for r in find_box_over_layout(full, qb, GRID).collect()}
    assert got == want and len(want) > 0


def test_delta_out_of_bounds_clamps_like_queries(spark):
    """Rows outside the frozen base grid clamp to edge cells (the same
    clamp the query side applies), so they stay findable."""
    d = delta_layout(
        spark.createDataFrame([(1, 150.0, -20.0)], "id long, x double, y double"),
        GRID,
    )
    row = d.collect()[0]
    assert row.cell == GRID.n * (GRID.n - 1) + 0  # cx max, cy min


def test_merged_layout_requires_layout_cols(spark):
    import pytest

    base = cluster_by_hilbert(_points(spark, 10, 9), GRID)
    with pytest.raises(ValueError):
        merged_layout(base, _points(spark, 5, 10))


def test_upsert_serving_replaces_by_id_and_stays_broadcast(spark):
    from locus_spark.operators.maintenance import upsert_serving

    base_rows = _points(spark, 200, seed=0)
    base = cluster_by_hilbert(base_rows, GRID, num_partitions=4)
    # re-ingest every 4th id at moved coordinates (+ one brand-new id)
    moved = base_rows.filter(F.col("id") % 4 == 0).select(
        "id",
        (F.col("x") * 0.5).alias("x"),
        (F.col("y") * 0.5).alias("y"),
    )
    new = spark.createDataFrame([(999_999, 1.5, 2.5)], "id long, x double, y double")
    batch = delta_layout(moved.unionByName(new), GRID)
    served = upsert_serving(base, batch)

    got = {r["id"]: (r["x"], r["y"]) for r in served.collect()}
    assert len(got) == 201  # no duplicate ids: replaced, not appended
    for r in base_rows.collect():
        if r["id"] % 4 == 0:
            assert got[r["id"]] == (r["x"] * 0.5, r["y"] * 0.5)
        else:
            assert got[r["id"]] == (r["x"], r["y"])
    assert got[999_999] == (1.5, 2.5)

    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan  # base is never shuffled for the merge

    # shuffle fallback serves the identical view
    served2 = upsert_serving(base, batch, broadcast_batch=False)
    assert {tuple(r) for r in served2.collect()} == {tuple(r) for r in served.collect()}


def test_compact_code_does_not_depend_on_the_batch(spark):
    """The range boundaries and the touched-range set reach generated code
    as reference objects, not as constants in its source: once one
    compaction has run, a second over a different base and a delta that
    touches other ranges compiles no new class."""
    from locus_spark.session import codegen_counters

    def inputs(seed, base_hi, lo, hi):
        # built (and checkpointed) before the measured window: the seeds
        # are constants in the generators' own code
        base = cluster_by_hilbert(
            _points(spark, 1500, seed, hi=base_hi), GRID, num_partitions=4
        )
        delta = delta_layout(_points(spark, 40, seed + 1, lo=lo, hi=hi), GRID)
        return base.localCheckpoint(), delta.localCheckpoint()

    b1, d1 = inputs(21, 100.0, 0.0, 15.0)
    b2, d2 = inputs(23, 60.0, 80.0, 100.0)
    out1, s1 = compact(b1, d1, num_ranges=8)
    assert len(out1.collect()) == 1540
    before = codegen_counters(spark)
    out2, s2 = compact(b2, d2, num_ranges=8)
    assert len(out2.collect()) == 1540
    compiled = codegen_counters(spark)[0] - before[0]
    assert s1["touched"] != s2["touched"] and s1["boundaries"] != s2["boundaries"]
    assert compiled == 0, f"{compiled} classes compiled for a second batch"
