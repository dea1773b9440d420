"""Persisted Hilbert-clustered layout: build-once/query-many parity and
scan-level pruning (the reference's Tree contract,
/root/reference/locus/kd.py:29-55 — build in __init__, many read-only
queries; subtree skip analogue /root/reference/locus/_core/r.py:164-172)."""

from __future__ import annotations

import contextlib
import io

import numpy as np

from locus_spark.cells import GridSpec, cluster_by_hilbert
from locus_spark.operators.points import find_box_join, find_box_over_layout


INF, NAN = float("inf"), float("nan")
BOX_SCHEMA = "qid long, min_x double, max_x double, min_y double, max_y double"
#: probes with non-finite bounds: everything east of x = 50, a strip open
#: to the west, the whole plane, and NaN lower bounds (Spark sorts NaN
#: largest, so no finite coordinate is >= NaN)
UNBOUNDED = [
    (2, 50.0, INF, 30.0, 50.0),
    (3, -INF, -60.0, -20.0, 20.0),
    (4, -INF, INF, -INF, INF),
    (5, NAN, 10.0, 0.0, 10.0),
    (6, -10.0, 10.0, NAN, 10.0),
]


def _explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_layout_query_parity_and_pushdown(spark, tmp_path):
    rng = np.random.RandomState(5)
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(-80, 80, (3000, 2)))]
    pdf = spark.createDataFrame(pts, "id long, x double, y double")
    grid = GridSpec(-80.0, -80.0, 80.0, 80.0, 5)
    path = str(tmp_path / "layout")
    cluster_by_hilbert(pdf, grid, num_partitions=4).sortWithinPartitions("hkey").write.parquet(path)
    layout = spark.read.parquet(path)

    qb = spark.createDataFrame(
        [(0, -10.0, 5.0, -3.0, 12.0), (1, 40.0, 60.0, 40.0, 55.0), *UNBOUNDED],
        BOX_SCHEMA,
    )
    out = find_box_over_layout(layout, qb, grid)
    got = sorted((r.qid, r.id) for r in out.collect())
    want = sorted((r.qid, r.id) for r in find_box_join(pdf, qb, grid=grid).collect())
    assert got == want and len(got) > 0
    assert {q for q, _ in got} == {0, 1, 2, 3, 4}
    none = qb.limit(0)
    assert find_box_over_layout(layout, none, grid).collect() == []

    # the cell IN-list must reach the parquet scan (row-group pruning)
    plan = _explain_str(out)
    assert "PushedFilters" in plan and "In(cell" in plan


def test_boxes_layout_parity_and_pushdown(spark, tmp_path):
    """Persisted boxes layout (min-corner-cell Hilbert clustering): subsets
    query parity with the in-memory join + asserted cell IN scan pushdown —
    the R-tree build-once contract (/root/reference/locus/r.py:31-60)."""
    from locus_spark.operators.boxes import find_subsets_join, find_subsets_over_layout

    rng = np.random.RandomState(11)
    centers = rng.uniform(-70, 70, (2000, 2))
    halves = rng.uniform(0.1, 4.0, (2000, 2))
    rows = [
        (i, float(cx - hx), float(cx + hx), float(cy - hy), float(cy + hy))
        for i, ((cx, cy), (hx, hy)) in enumerate(zip(centers, halves))
    ]
    bdf = spark.createDataFrame(
        rows, "id long, min_x double, max_x double, min_y double, max_y double"
    )
    grid = GridSpec(-80.0, -80.0, 80.0, 80.0, 5)
    path = str(tmp_path / "boxes_layout")
    cluster_by_hilbert(bdf, grid, x="min_x", y="min_y", num_partitions=4).sortWithinPartitions(
        "hkey"
    ).write.parquet(path)
    layout = spark.read.parquet(path)

    qb = spark.createDataFrame(
        [(0, -30.0, 10.0, -25.0, 20.0), (1, 35.0, 75.0, 30.0, 70.0), *UNBOUNDED],
        BOX_SCHEMA,
    )
    out = find_subsets_over_layout(layout, qb, grid)
    got = sorted((r.qid, r.id) for r in out.collect())
    want = sorted((r.qid, r.id) for r in find_subsets_join(bdf, qb, grid=grid).collect())
    assert got == want and len(got) > 0
    assert {q for q, _ in got} == {0, 1, 2, 3, 4}
    none = qb.limit(0)
    assert find_subsets_over_layout(layout, none, grid).collect() == []

    plan = _explain_str(out)
    assert "PushedFilters" in plan and "In(cell" in plan


def test_segments_layout_resume_and_parity(spark, tmp_path):
    """Persisted segments layout: StageCheckpoint build-once/resume plus kNN
    parity between the layout read and the original frame (the segmental
    tree contract, /root/reference/locus/segmental.py:28-77)."""
    from locus_spark.cells import GridSpec as GS
    from locus_spark.operators.segments import segment_knn_to_point_join
    from locus_spark.sources.checkpoint import StageCheckpoint

    rng = np.random.RandomState(13)
    p1 = rng.uniform(-60, 60, (1500, 2))
    d = rng.uniform(-3, 3, (1500, 2))
    rows = [
        (i, float(x1), float(y1), float(x1 + dx), float(y1 + dy))
        for i, ((x1, y1), (dx, dy)) in enumerate(zip(p1, d))
    ]
    sdf = spark.createDataFrame(rows, "id long, x1 double, y1 double, x2 double, y2 double")
    grid = GS(-70.0, -70.0, 70.0, 70.0, 5)

    ck = StageCheckpoint(str(tmp_path / "seg_ck"))
    builds = []

    def build():
        builds.append(1)
        from pyspark.sql import functions as F

        s = sdf.withColumn("_mx", (F.col("x1") + F.col("x2")) * 0.5).withColumn(
            "_my", (F.col("y1") + F.col("y2")) * 0.5
        )
        return (
            cluster_by_hilbert(s, grid, x="_mx", y="_my", num_partitions=4)
            .sortWithinPartitions("hkey")
            .drop("_mx", "_my")
        )

    layout1 = ck.run_stage(spark, "segments_hilbert", build, fingerprint="t1")
    layout2 = ck.run_stage(spark, "segments_hilbert", build, fingerprint="t1")
    assert builds == [1]  # second call resumed from the manifest

    probes = spark.createDataFrame(
        [(0, -5.0, 3.0), (1, 22.0, -40.0), (2, 55.0, 60.0)],
        "qid long, x double, y double",
    )
    out = segment_knn_to_point_join(
        layout2.select("id", "x1", "y1", "x2", "y2"), probes, 3, grid=grid
    )
    got = {(r.qid, r.rn): r.id for r in out.collect()}
    want = {
        (r.qid, r.rn): r.id
        for r in segment_knn_to_point_join(sdf, probes, 3, grid=grid).collect()
    }
    assert got == want and len(got) == 9


def test_ivf_layout_parity_and_partition_pruning(spark, tmp_path):
    """Persisted inverted file (parquet partitioned by cluster id): search
    over the layout equals the from-scratch IVF search, and the probes'
    ``_cid IN (...)`` literal prunes partitions at the scan (the layout is
    directory-partitioned, so unprobed clusters' bytes are never read)."""
    import random

    from pyspark.sql import functions as F

    from locus_spark.operators.ann import (
        ivf_assign,
        ivf_search,
        ivf_topk,
        kmeans_centroids,
        probe_cluster_ids,
    )

    rng = random.Random(3)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(16)]) for i in range(800)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_centroids(emb, n_centroids=8, iters=2, dim=16)

    path = str(tmp_path / "ivf")
    ivf_assign(emb, cents).write.partitionBy("_cid").parquet(path)
    layout = spark.read.parquet(path)

    probes = emb.filter("vec_id < 6").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    pr = probe_cluster_ids(probes, cents, n_probe=2)
    cids = sorted(r["_cid"] for r in pr.select("_cid").distinct().collect())
    out = ivf_search(layout.filter(F.col("_cid").isin(cids)), pr, 3)

    got = {(r.qid, r.rn): (r.vec_id, round(r.cos, 12)) for r in out.collect()}
    want = {
        (r.qid, r.rn): (r.vec_id, round(r.cos, 12))
        for r in ivf_topk(emb, probes, 3, n_probe=2, centroids=cents).collect()
    }
    assert got == want and len(got) == 18

    plan = _explain_str(out)
    # partition-column filter: pruning happens at planning (PartitionFilters
    # on the scan), not as a data filter
    assert "_cid" in plan.split("PartitionFilters")[1][:200]
