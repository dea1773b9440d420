"""Driver planning bill of a kNN, range or tiling operation: the planners
build their expressions as Spark SQL text, one py4j call per projection,
so an operation sends a few hundred commands to the JVM (kNN built as
Column trees, call by call, sent over 4,000; the persisted scans' ``isin``
list ~3,000).  Also: a warm operation compiles no class, so no
probe-dependent literal reaches generated code, and the answers are the
brute-force ones."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from locus_spark.cells import GridSpec, cluster_by_hilbert
from locus_spark.functions.metrics import (
    sql_box_contains_point,
    sql_box_is_subset,
    sql_boxes_overlap,
    sql_dist2_point_box,
    sql_dist2_point_point,
    sql_dist2_segment_segment,
    sql_ray_crosses_edge,
)
from locus_spark.operators import boxes as box_ops
from locus_spark.operators import points as point_ops
from locus_spark.operators import segments as seg_ops
from locus_spark.operators import tiles as tile_ops
from locus_spark.session import codegen_counters, py4j_calls

#: commands per operation, plan + run + collect (Column-built planner:
#: 3,900-5,400 on these inputs)
MAX_CALLS = 800
K = 5
GRID = GridSpec(0.0, 0.0, 100.0, 100.0, 5)


@pytest.fixture(scope="module")
def tables(spark):
    rng = np.random.default_rng(3)
    xy = rng.uniform(0.0, 100.0, (3000, 2))
    dxy = rng.uniform(-2.0, 2.0, (1500, 2))
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)],
        "id long, x double, y double",
    )
    boxes = spark.createDataFrame(
        [(i, float(x), float(x + 1.5), float(y), float(y + 0.5))
         for i, (x, y) in enumerate(xy[:1500])],
        "id long, min_x double, max_x double, min_y double, max_y double",
    )
    segs = spark.createDataFrame(
        [(i, float(x), float(y), float(x + dx), float(y + dy))
         for i, ((x, y), (dx, dy)) in enumerate(zip(xy[:1500], dxy))],
        "id long, x1 double, y1 double, x2 double, y2 double",
    )
    # probes inside and outside the grid
    probes = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(-5.0, 105.0, (30, 2)))],
        "qid long, x double, y double",
    )
    qsegs = segs.filter("id % 100 = 7").selectExpr("id AS qid", "x1", "y1", "x2", "y2")
    return [t.cache() for t in (pts, boxes, segs, probes, qsegs)]


def _brute(targets, probes, d2: str, desc: bool):
    """Every probe against every target, with the same metric text."""
    order = "DESC" if desc else "ASC"
    return sorted(
        (r.qid, r.rn, r.id, r.dist2)
        for r in probes.crossJoin(targets)
        .selectExpr("qid", "id", f"{d2} AS dist2")
        .selectExpr("*", f"row_number() OVER (PARTITION BY qid ORDER BY dist2, id {order}) AS rn")
        .filter(f"rn <= {K}")
        .collect()
    )


def _cases(tables):
    pts, boxes, segs, probes, qsegs = tables
    q = probes.selectExpr("qid", "x AS _qx", "y AS _qy")
    qs = qsegs.selectExpr("qid", "x1 AS _qx1", "y1 AS _qy1", "x2 AS _qx2", "y2 AS _qy2")
    return {
        "point": (
            lambda: point_ops.knn_join(pts, probes, K, grid=GRID),
            lambda: _brute(pts, q, sql_dist2_point_point("x", "y", "_qx", "_qy"), False),
        ),
        "box": (
            lambda: box_ops.box_knn_join(boxes, probes, K, grid=GRID),
            lambda: _brute(boxes, q, sql_dist2_point_box(
                "_qx", "_qy", "min_x", "max_x", "min_y", "max_y"), True),
        ),
        "segment": (
            lambda: seg_ops.segment_knn_join(segs, qsegs, K, grid=GRID),
            lambda: _brute(segs, qs, sql_dist2_segment_segment(
                "_qx1", "_qy1", "_qx2", "_qy2", "x1", "y1", "x2", "y2"), False),
        ),
    }


def _warm_bill(spark, op):
    """(rows, py4j commands, compiled classes) of a warm run of ``op``."""
    op().collect()  # warm-up: the first run compiles its classes
    c0 = codegen_counters(spark)[0]
    with py4j_calls(spark) as sent:
        rows = op().collect()
    return rows, sent[0], codegen_counters(spark)[0] - c0


@pytest.mark.parametrize("family", ["point", "box", "segment"])
def test_knn_op_plans_in_few_py4j_calls(spark, tables, family):
    op, brute = _cases(tables)[family]
    rows, calls, compiled = _warm_bill(spark, op)

    got = sorted((r.qid, r.rn, r.id, r.dist2) for r in rows)
    assert got == brute()
    assert calls <= MAX_CALLS, f"{family} kNN sent {calls} py4j commands"
    assert compiled == 0, f"the warm {family} kNN compiled {compiled} classes"


@pytest.fixture(scope="module")
def range_tables(spark, tables, tmp_path_factory):
    """Probe boxes (large, and small enough to lie inside indexed boxes),
    circles and polygons inside and outside the grid, and the persisted
    Hilbert layouts of the points and boxes."""
    pts, boxes = tables[:2]
    rng = np.random.default_rng(7)
    c = rng.uniform(-5.0, 105.0, (20, 2)).tolist()
    inner = [(b.min_x + 0.1, b.min_y + 0.1) for b in boxes.orderBy("id").limit(10).collect()]
    qboxes = spark.createDataFrame(
        [(i, x, x + 8.0, y, y + 6.0) for i, (x, y) in enumerate(c)]
        + [(20 + i, x, x + 0.2, y, y + 0.1) for i, (x, y) in enumerate(inner)],
        "qid long, min_x double, max_x double, min_y double, max_y double",
    )
    circles = spark.createDataFrame(
        [(i, x, y, 4.0) for i, (x, y) in enumerate(c)],
        "qid long, x double, y double, r double",
    )
    # one triangle per center: (x, y), (x + 9, y + 2), (x + 3, y + 7)
    edges = spark.createDataFrame(
        [(i, *a, *b)
         for i, (x, y) in enumerate(c[:10])
         for a, b in [((x, y), (x + 9, y + 2)), ((x + 9, y + 2), (x + 3, y + 7)),
                      ((x + 3, y + 7), (x, y))]],
        "qid long, x1 double, y1 double, x2 double, y2 double",
    )
    root = tmp_path_factory.mktemp("layouts")
    cluster_by_hilbert(pts, GRID, num_partitions=4).sortWithinPartitions("hkey").write.parquet(
        f"{root}/points"
    )
    cluster_by_hilbert(boxes, GRID, x="min_x", y="min_y", num_partitions=4).sortWithinPartitions(
        "hkey"
    ).write.parquet(f"{root}/boxes")
    layouts = [spark.read.parquet(f"{root}/{t}") for t in ("points", "boxes")]
    # the edges stay a local relation, as ``pip_polygons`` passes them: with
    # them cached too, AQE creates the polygon join's stages in either order
    # and renumbers its codegen stages, so ~1 warm run in 10 compiles 4
    # classes (on the Column-built parent as well)
    return [t.cache() for t in (qboxes, circles)] + [edges] + layouts


def _pairs(df, cond: str):
    return sorted((r.qid, r.id) for r in df.filter(cond).select("qid", "id").collect())


def _range_cases(tables, range_tables):
    pts, boxes = tables[:2]
    qboxes, circles, edges, pts_layout, boxes_layout = range_tables
    q = qboxes.selectExpr(
        "qid", "min_x AS _qmin_x", "max_x AS _qmax_x", "min_y AS _qmin_y", "max_y AS _qmax_y"
    )
    qb, bb = ("_qmin_x", "_qmax_x", "_qmin_y", "_qmax_y"), ("min_x", "max_x", "min_y", "max_y")
    contains = sql_box_contains_point("x", "y", *bb)
    subsets = sql_box_is_subset(*bb, *qb)
    crossings = (
        edges.crossJoin(pts)
        .groupBy("qid", "id")
        .agg(F.expr(f"sum(CASE WHEN {sql_ray_crosses_edge('x', 'y', 'x1', 'y1', 'x2', 'y2')}"
                    " THEN 1 ELSE 0 END) AS n"))
    )
    c = circles.selectExpr("qid", "x AS _qx", "y AS _qy", "r")
    return {
        "box": (lambda: point_ops.find_box_join(pts, qboxes, grid=GRID),
                lambda: _pairs(qboxes.crossJoin(pts), contains)),
        "box_layout": (lambda: point_ops.find_box_over_layout(pts_layout, qboxes, GRID),
                       lambda: _pairs(qboxes.crossJoin(pts), contains)),
        "ball": (lambda: point_ops.find_ball_join(pts, circles, grid=GRID),
                 lambda: _pairs(c.crossJoin(pts),
                                f"{sql_dist2_point_point('x', 'y', '_qx', '_qy')} <= r * r")),
        "subsets": (lambda: box_ops.find_subsets_join(boxes, qboxes, grid=GRID),
                    lambda: _pairs(q.crossJoin(boxes), subsets)),
        "subsets_layout": (lambda: box_ops.find_subsets_over_layout(boxes_layout, qboxes, GRID),
                           lambda: _pairs(q.crossJoin(boxes), subsets)),
        "supersets": (lambda: box_ops.find_supersets_join(boxes, qboxes, grid=GRID),
                      lambda: _pairs(q.crossJoin(boxes), sql_box_is_subset(*qb, *bb))),
        "overlaps": (lambda: box_ops.find_overlaps_join(boxes, qboxes, grid=GRID),
                     lambda: _pairs(q.crossJoin(boxes), sql_boxes_overlap(*qb, *bb))),
        "polygon": (lambda: tile_ops.point_in_polygon_join(pts, edges, GRID),
                    lambda: _pairs(crossings, "n % 2 = 1")),
    }


@pytest.mark.parametrize(
    "op",
    ["box", "box_layout", "ball", "subsets", "subsets_layout", "supersets", "overlaps", "polygon"],
)
def test_range_op_plans_in_few_py4j_calls(spark, tables, range_tables, op):
    run, brute = _range_cases(tables, range_tables)[op]
    rows, calls, compiled = _warm_bill(spark, run)

    got = sorted((r.qid, r.id) for r in rows)
    want = brute()
    assert got == want and len(want) > 0
    assert calls <= MAX_CALLS, f"{op} sent {calls} py4j commands"
    assert compiled == 0, f"the warm {op} compiled {compiled} classes"


def test_py4j_calls_counts_commands_and_restores_the_client(spark):
    client = spark.sparkContext._gateway._gateway_client
    with py4j_calls(spark) as sent:
        spark.sparkContext._jvm.java.lang.Math.abs(-1)
    assert sent[0] >= 1
    assert "send_command" not in vars(client)
