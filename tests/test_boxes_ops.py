"""Box-operator joins vs brute force (oracle style of
/root/reference/tests/r_tests/*: soundness+completeness for containment,
distance+tie for nearest — R-family ties prefer the LARGEST id)."""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from locus_spark.operators.boxes import (
    box_knn_join,
    find_subsets_join,
    find_supersets_join,
)

coord = st.floats(min_value=-1e5, max_value=1e5, allow_nan=False, allow_infinity=False)
span = st.floats(min_value=1e-3, max_value=5e4, allow_nan=False, allow_infinity=False)

box_strategy = st.tuples(coord, coord, span, span)  # (cx, cy, w, h)

#: boundary layouts (cx, cy, w, h).  The boxes span [0, 16]², so every edge
#: below lies on a cell edge of the derived grid: [0, 2]² shares the x = 2
#: edge with [2, 4] x [0, 2] and the (2, 2) corner with [2, 4]²; probes equal
#: a box, meet one on an edge or a corner, or lie outside the grid.
EDGE_B = [(1.0, 1.0, 1.0, 1.0), (3.0, 1.0, 1.0, 1.0), (3.0, 3.0, 1.0, 1.0),
          (8.0, 8.0, 8.0, 8.0), (1.0, 1.0, 0.5, 0.5), (2.0, 2.0, 1.0, 1.0)]
EDGE_Q = [(1.0, 1.0, 1.0, 1.0), (2.0, 1.0, 2.0, 1.0), (3.0, 3.0, 1.0, 1.0),
          (2.0, 2.0, 1.0, 1.0), (100.0, 100.0, 1.0, 1.0)]
#: zero-width boxes on one x: a zero-extent grid axis (cell_w = 1e-300 / n)
ONE_X_B = [(5.0, 1.0, 0.0, 1.0), (5.0, 4.0, 0.0, 2.0), (5.0, 2.0, 0.0, 0.5)]
ONE_X_Q = [(5.0, 2.0, 0.0, 3.0), (5.0, 2.0, 1.0, 1.0), (50.0, 50.0, 1.0, 1.0)]


def boundary_layouts(test):
    return example(raw_b=EDGE_B, raw_q=EDGE_Q)(
        example(raw_b=ONE_X_B, raw_q=ONE_X_Q)(test)
    )


def _mk_boxes(raw):
    return [
        (i, cx - w, cx + w, cy - h, cy + h) for i, (cx, cy, w, h) in enumerate(raw)
    ]


def _boxes_df(spark, boxes):
    return spark.createDataFrame(
        boxes, "id long, min_x double, max_x double, min_y double, max_y double"
    )


def _qboxes_df(spark, boxes):
    return spark.createDataFrame(
        boxes, "qid long, min_x double, max_x double, min_y double, max_y double"
    )


@settings(max_examples=6, deadline=None)
@given(
    st.lists(box_strategy, min_size=2, max_size=50),
    st.lists(box_strategy, min_size=1, max_size=5),
)
@boundary_layouts
def test_find_subsets_sound_complete(spark, raw_b, raw_q):
    boxes, queries = _mk_boxes(raw_b), _mk_boxes(raw_q)
    got = {
        (r.qid, r.id)
        for r in find_subsets_join(_boxes_df(spark, boxes), _qboxes_df(spark, queries)).collect()
    }
    want = {
        (q[0], b[0])
        for q in queries
        for b in boxes
        if q[1] <= b[1] and b[2] <= q[2] and q[3] <= b[3] and b[4] <= q[4]
    }
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(box_strategy, min_size=2, max_size=50),
    st.lists(box_strategy, min_size=1, max_size=5),
)
@boundary_layouts
def test_find_supersets_sound_complete(spark, raw_b, raw_q):
    boxes, queries = _mk_boxes(raw_b), _mk_boxes(raw_q)
    got = {
        (r.qid, r.id)
        for r in find_supersets_join(
            _boxes_df(spark, boxes), _qboxes_df(spark, queries)
        ).collect()
    }
    want = {
        (q[0], b[0])
        for q in queries
        for b in boxes
        if b[1] <= q[1] and q[2] <= b[2] and b[3] <= q[3] and q[4] <= b[4]
    }
    assert got == want


def test_subsets_reflexive(spark):
    # every box ∈ find_subsets(itself) — /root/reference/tests/r_tests/test_find_subsets_items.py:22-27
    boxes = _mk_boxes([(0.0, 0.0, 1.0, 1.0), (10.0, 10.0, 2.0, 3.0)])
    qs = [(b[0],) + b[1:] for b in boxes]
    got = {
        (r.qid, r.id)
        for r in find_subsets_join(_boxes_df(spark, boxes), _qboxes_df(spark, qs)).collect()
    }
    assert {(b[0], b[0]) for b in boxes} <= got


def _brute_box_knn(boxes, probes, k):
    out = {}
    for qid, (px, py) in enumerate(probes):
        scored = []
        for i, mnx, mxx, mny, mxy in boxes:
            dx = max(0.0, mnx - px, px - mxx)
            dy = max(0.0, mny - py, py - mxy)
            scored.append((dx * dx + dy * dy, -i, i))
        scored.sort()
        out[qid] = [(d, i) for d, _, i in scored[:k]]
    return out


@settings(max_examples=6, deadline=None)
@given(
    st.lists(box_strategy, min_size=2, max_size=40),
    st.lists(st.tuples(coord, coord), min_size=1, max_size=6),
    st.integers(min_value=1, max_value=4),
)
def test_box_knn_matches_brute(spark, raw_b, probes, k):
    boxes = _mk_boxes(raw_b)
    pdf = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(probes)], "qid long, x double, y double"
    )
    got = box_knn_join(_boxes_df(spark, boxes), pdf, k).collect()
    want = _brute_box_knn(boxes, probes, k)
    by_q = {}
    for r in got:
        by_q.setdefault(r.qid, []).append((r.rn, r.dist2, r.id))
    assert set(by_q) == set(want)
    for qid, rows in by_q.items():
        rows.sort()
        assert [(d, i) for _, d, i in rows] == want[qid]


def test_box_knn_tie_prefers_larger_id(spark):
    # doctest behavior /root/reference/locus/r.py:581-590: equal distance → larger id
    boxes = [(0, 0.0, 1.0, 0.0, 1.0), (1, 0.0, 1.0, 0.0, 1.0), (2, 50.0, 51.0, 50.0, 51.0)]
    pdf = spark.createDataFrame([(0, 0.5, 0.5)], "qid long, x double, y double")
    got = box_knn_join(_boxes_df(spark, boxes), pdf, 1).collect()
    assert len(got) == 1 and got[0].id == 1


@settings(max_examples=6, deadline=None)
@given(
    st.lists(box_strategy, min_size=2, max_size=50),
    st.lists(box_strategy, min_size=1, max_size=5),
)
@boundary_layouts
def test_find_overlaps_sound_complete(spark, raw_b, raw_q):
    from locus_spark.operators.boxes import find_overlaps_join

    boxes, queries = _mk_boxes(raw_b), _mk_boxes(raw_q)
    got = [
        (r.qid, r.id)
        for r in find_overlaps_join(
            _boxes_df(spark, boxes), _qboxes_df(spark, queries)
        ).collect()
    ]
    # report-once: the canonical-cell rule must emit each pair exactly once
    assert len(got) == len(set(got))
    expect = {
        (q[0], b[0])
        for q in queries
        for b in boxes
        if q[1] < b[2] and b[1] < q[2] and q[3] < b[4] and b[3] < q[4]
    }
    assert set(got) == expect


def test_overlaps_is_strict_on_shared_edges(spark):
    """Reference C2 uses OPEN inequalities (/root/reference/locus/_core/box.py:12-18):
    boxes meeting only at an edge or a corner do not overlap."""
    from locus_spark.operators.boxes import find_overlaps_join

    boxes = [
        (1, 0.0, 1.0, 0.0, 1.0),   # shares the x=1 edge with the probe
        (2, 1.0, 2.0, 1.0, 2.0),   # shares only the (1,1) corner
        (3, 0.5, 1.5, 0.5, 1.5),   # genuine interior intersection
    ]
    probe = [(7, 1.0, 3.0, 0.0, 1.0)]
    got = sorted(
        (r.qid, r.id)
        for r in find_overlaps_join(
            _boxes_df(spark, boxes), _qboxes_df(spark, probe)
        ).collect()
    )
    assert got == [(7, 3)]
