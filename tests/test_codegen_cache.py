"""Warm operations stay warm: every class an ingest cycle generates stays
in Spark's codegen cache, so running the cycle again compiles nothing.

The cycle is ``perfbench``'s ``ingest_range`` in small: cluster, salt hot
cells, checkpoint, fold in an upsert batch and compact, then box, ball,
subset and overlap joins.  With Spark's 100-entry default the cache is
smaller than one cycle's classes, so every cycle compiled most of them
again.  A cached point-in-polygon join recompiled in some warm runs while
Spark named its classes after AQE's stage ids."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from locus_spark.cells import (
    GridSpec,
    cluster_by_hilbert,
    grid_from_boxes,
    grid_from_points,
)
from locus_spark.operators import boxes as box_ops
from locus_spark.operators import maintenance
from locus_spark.operators import points as point_ops
from locus_spark.operators.tiles import point_in_polygon_join
from locus_spark.session import codegen_counters
from locus_spark.skew import hot_cells, salted_repartition
from locus_spark.sources.checkpoint import StageCheckpoint


def _parquet(spark, path, frame: pd.DataFrame):
    spark.createDataFrame(frame).write.parquet(str(path))
    return spark.read.parquet(str(path))


def _inputs(spark, root):
    rng = np.random.default_rng(7)
    n, b, m, q = 3000, 200, 2000, 20
    # a third of the pages on one hot spot, so some cells are salted
    hot = rng.random(n) < 0.3
    x = np.where(hot, rng.normal(10.0, 0.3, n), rng.uniform(-50.0, 50.0, n))
    y = np.where(hot, rng.normal(5.0, 0.3, n), rng.uniform(-30.0, 30.0, n))
    pages = pd.DataFrame({"id": np.arange(n), "x": x, "y": y, "ver": 0})
    moved = rng.choice(n, b // 2, replace=False)
    batch = pd.DataFrame({
        "id": np.concatenate([moved, np.arange(n, n + b - b // 2)]),
        "x": rng.uniform(-50.0, 50.0, b), "y": rng.uniform(-30.0, 30.0, b), "ver": 1,
    })
    bx, by = rng.uniform(-50.0, 50.0, m), rng.uniform(-30.0, 30.0, m)
    bw, bh = rng.uniform(0.1, 3.0, m), rng.uniform(0.1, 2.0, m)
    boxes = pd.DataFrame({
        "id": np.arange(m), "min_x": bx - bw, "max_x": bx + bw,
        "min_y": by - bh, "max_y": by + bh,
    })
    cx, cy = rng.uniform(-45.0, 45.0, q), rng.uniform(-25.0, 25.0, q)
    qboxes = pd.DataFrame({
        "qid": np.arange(q), "min_x": cx - 4.0, "max_x": cx + 4.0,
        "min_y": cy - 2.0, "max_y": cy + 2.0,
    })
    circles = pd.DataFrame({"qid": np.arange(q), "x": cx, "y": cy, "r": 1.5})
    return {
        name: _parquet(spark, root / name, frame)
        for name, frame in (("pages", pages), ("batch", batch), ("boxes", boxes),
                            ("qboxes", qboxes), ("circles", circles))
    }


def _cycle(spark, root, t, grid, box_grid) -> list[int]:
    """One ingest cycle into a fresh checkpoint directory; returns the
    result row counts of every step."""
    ck = StageCheckpoint(str(root))
    clustered = cluster_by_hilbert(t["pages"], grid, num_partitions=4)
    hot = hot_cells(clustered, factor=8.0, min_rows=64)
    salted = salted_repartition(clustered, hot=hot, buckets=4, id_col="id", num_partitions=4)
    layout = ck.run_stage(spark, "cell_index", lambda: salted).drop("_salt")
    delta = ck.run_stage(
        spark, "delta", lambda: maintenance.delta_layout(t["batch"], grid, num_partitions=2)
    )
    served = maintenance.upsert_serving(layout, delta)
    compacted, _ = maintenance.compact(served.filter(F.col("ver") < 1), delta, num_ranges=4)
    out = ck.run_stage(spark, "layout", lambda: compacted)
    points = out.select("id", "x", "y")
    return [
        len(hot),
        out.count(),
        point_ops.find_box_join(points, t["qboxes"], grid=grid).count(),
        point_ops.find_ball_join(points, t["circles"], grid=grid).count(),
        box_ops.find_subsets_join(t["boxes"], t["qboxes"], grid=box_grid).count(),
        box_ops.find_overlaps_join(t["boxes"], t["qboxes"], grid=box_grid).count(),
    ]


def test_warm_ingest_cycle_compiles_nothing(spark, tmp_path):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8000"
    t = _inputs(spark, tmp_path / "in")
    grid = grid_from_points(t["pages"], resolution=None)
    box_grid = grid_from_boxes(t["boxes"], resolution=6)

    first = _cycle(spark, tmp_path / "cycle0", t, grid, box_grid)
    before = codegen_counters(spark)
    second = _cycle(spark, tmp_path / "cycle1", t, grid, box_grid)
    compiled = codegen_counters(spark)[0] - before[0]

    assert first == second and first[0] > 0 and all(first), first
    assert compiled == 0, f"the warm cycle compiled {compiled} classes"


def test_salted_repartition_code_does_not_depend_on_the_hot_cells(spark):
    """The hot-cell ids ride as an array literal, so an ingest with another
    hot set compiles no new class (written into the Java source as ``isin``
    constants, each hot set compiled 2)."""
    cells = spark.range(2000).selectExpr("id", "id % 50 AS cell")

    def salts(hot):
        out = salted_repartition(cells, hot=hot, buckets=4, id_col="id", num_partitions=4)
        return {(r.cell, r.n) for r in out.groupBy("cell").agg(
            F.countDistinct("_salt").alias("n")).collect()}

    first = salts([1, 2, 3])
    before = codegen_counters(spark)[0]
    second = salts([4, 5])
    compiled = codegen_counters(spark)[0] - before

    assert {c for c, n in first if n > 1} == {1, 2, 3}
    assert {c for c, n in second if n > 1} == {4, 5}
    assert salts([]) == {(c, 1) for c in range(50)}
    assert compiled == 0, f"another hot set compiled {compiled} classes"


def test_warm_cached_polygon_join_compiles_nothing(spark):
    """With both the points and the polygon edges cached, AQE plans the
    edges' bbox aggregate and their broadcast in either order, so the
    stage ids differ between runs; with ids in the class names, about 1
    warm run in 10 compiled 4 classes."""
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    rng = np.random.default_rng(3)
    xy = rng.uniform(0.0, 100.0, (4000, 2))
    points = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(len(xy)), "x": xy[:, 0], "y": xy[:, 1]})
    ).cache()
    edges = []
    for qid, (cx, cy) in enumerate(rng.uniform(10.0, 90.0, (12, 2)).tolist()):
        ring = [(cx - 6.0, cy - 4.0), (cx + 7.0, cy - 3.0), (cx + 1.0, cy + 8.0)]
        edges += [(qid, *a, *b) for a, b in zip(ring, ring[1:] + ring[:1])]
    edges = spark.createDataFrame(
        edges, "qid long, x1 double, y1 double, x2 double, y2 double"
    ).cache()
    grid = GridSpec(0.0, 0.0, 100.0, 100.0, 5)

    def run():
        return sorted(point_in_polygon_join(points, edges, grid).collect())

    first = run()
    before = codegen_counters(spark)[0]
    runs = [run() for _ in range(12)]
    compiled = codegen_counters(spark)[0] - before

    assert first and all(r == first for r in runs)
    assert compiled == 0, f"12 warm runs compiled {compiled} classes"
