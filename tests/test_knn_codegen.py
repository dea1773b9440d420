"""Segment kNN evaluates each candidate's dist² once, in generated methods
HotSpot compiles.

HotSpot never JIT-compiles a method above 8,000 bytes of bytecode
(``-XX:+DontCompileHugeMethods``, on by default), so a whole-stage-codegen
stage past that size runs interpreted.  The seg–seg dist² inlined its
clamped ``t`` values four times inside a CASE branch, and phase 2's bound
check, a Filter, was pushed into the join's condition and inlined dist²
there a second time: phase 2's largest method was 31,958 bytes."""

from __future__ import annotations

import numpy as np

from locus_spark.functions.metrics import (
    sql_dist2_point_segment,
    sql_dist2_segment_segment,
    sql_segments_properly_cross,
    staged_dist2_segment_segment,
)
from locus_spark.operators.segments import segment_knn_join
from locus_spark.plans import knn as knnplan
from locus_spark.session import JIT_MAX_METHOD_BYTES, max_method_bytes

_JOINS = ("BroadcastHashJoinExec", "ShuffledHashJoinExec", "SortMergeJoinExec")


def _segments(spark, n, key, seed):
    rng = np.random.default_rng(seed)
    x, y = rng.normal(0.0, 10.0, (2, n))
    a, length = rng.uniform(0.0, 2 * np.pi, n), rng.exponential(0.3, n)
    rows = zip(range(n), x, y, x + length * np.cos(a), y + length * np.sin(a))
    return spark.createDataFrame(
        [tuple(float(v) if i else int(v) for i, v in enumerate(r)) for r in rows],
        f"{key} long, x1 double, y1 double, x2 double, y2 double",
    )


def _joins(plan):
    """(left keys, has a non-equi condition) of every join in a physical
    plan, through AQE's wrapper and its query stages."""
    stack, out = [plan], []
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name in _JOINS:
            out.append((node.leftKeys().mkString(","), node.condition().isDefined()))
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def test_segment_knn_methods_fit_the_jit_and_dist2_is_not_in_the_join(
    spark, monkeypatch
):
    segs = _segments(spark, 3000, "id", 5)
    probes = _segments(spark, 40, "qid", 6)
    phase1a = []
    materialize = knnplan.materialize

    def capture(df, metrics=None):
        phase1a.append(df)
        return materialize(df, metrics)

    monkeypatch.setattr(knnplan, "materialize", capture)
    out = segment_knn_join(segs, probes, 5)
    assert len(out.collect()) == 40 * 5
    (caps,) = phase1a
    caps.collect()

    for plan in (out, caps):
        assert 0 < max_method_bytes(plan) <= JIT_MAX_METHOD_BYTES
    joins = _joins(out._jdf.queryExecution().executedPlan())
    assert any("_jc" in keys for keys, _ in joins), joins
    assert not any(cond for _, cond in joins), joins


def test_staged_segment_metric_inlines_to_the_oracle_text():
    """Substituting the four steps back gives the one text the DuckDB
    oracles render, character for character: the four point–segment
    distances, each with its own clamped t, under the crossing test."""
    cols = ("q.x1", "q.y1", "q.x2", "q.y2", "b.x1", "b.y1", "b.x2", "b.y2")
    ax1, ay1, ax2, ay2, bx1, by1, bx2, by2 = cols
    ds = [
        sql_dist2_point_segment(ax1, ay1, bx1, by1, bx2, by2),
        sql_dist2_point_segment(ax2, ay2, bx1, by1, bx2, by2),
        sql_dist2_point_segment(bx1, by1, ax1, ay1, ax2, ay2),
        sql_dist2_point_segment(bx2, by2, ax1, ay1, ax2, ay2),
    ]
    cross = sql_segments_properly_cross(*cols)
    spelled = f"(CASE WHEN {cross} THEN 0.0 ELSE least({', '.join(f'({d})' for d in ds)}) END)"

    staged = staged_dist2_segment_segment(*cols)
    assert [name for name, _ in staged.steps] == ["_t1", "_t2", "_t3", "_t4"]
    assert all(name not in text for name, _ in staged.steps for _, text in staged.steps)
    assert staged.inline() == spelled
    assert sql_dist2_segment_segment(*cols) == spelled
