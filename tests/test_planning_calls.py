"""Driver planning bill of a kNN operation: the planner builds its
expressions as Spark SQL text, one py4j call per projection, so an
operation sends a few hundred commands to the JVM (built as Column trees,
call by call, it sent over 4,000).  Also: a warm operation compiles no
class, so no probe-dependent literal reaches generated code, and the
answers are the brute-force ones."""

from __future__ import annotations

import numpy as np
import pytest

from locus_spark.cells import GridSpec
from locus_spark.functions.metrics import (
    sql_dist2_point_box,
    sql_dist2_point_point,
    sql_dist2_segment_segment,
)
from locus_spark.operators import boxes as box_ops
from locus_spark.operators import points as point_ops
from locus_spark.operators import segments as seg_ops
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


@pytest.mark.parametrize("family", ["point", "box", "segment"])
def test_knn_op_plans_in_few_py4j_calls(spark, tables, family):
    op, brute = _cases(tables)[family]
    op().collect()  # warm-up: the first run compiles its classes
    c0 = codegen_counters(spark)[0]
    with py4j_calls(spark) as sent:
        rows = op().collect()
    calls = sent[0]
    compiled = codegen_counters(spark)[0] - c0

    got = sorted((r.qid, r.rn, r.id, r.dist2) for r in rows)
    assert got == brute()
    assert calls <= MAX_CALLS, f"{family} kNN sent {calls} py4j commands"
    assert compiled == 0, f"the warm {family} kNN compiled {compiled} classes"


def test_py4j_calls_counts_commands_and_restores_the_client(spark):
    client = spark.sparkContext._gateway._gateway_client
    with py4j_calls(spark) as sent:
        spark.sparkContext._jvm.java.lang.Math.abs(-1)
    assert sent[0] >= 1
    assert "send_command" not in vars(client)
