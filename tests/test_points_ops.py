"""Point-operator joins vs numpy brute force — same oracle style as the
reference suite (/root/reference/tests/kd_tests/*: soundness + completeness
for range search, distance equality for nearest, top-k set for n-nearest)."""

from __future__ import annotations

import logging

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from locus_spark.cells import GridSpec
from locus_spark.operators.points import (
    find_ball_join,
    find_box_join,
    knn_join,
    nearest_join,
)

coord = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False)

#: boundary layouts.  The points span [0, 16]², so the derived grid (256
#: cells a side) has a cell edge on every multiple of 1/16: every point and
#: probe edge below sits exactly on one.
ON_EDGES = [(float(i % 17), float(i * 7 % 17)) for i in range(60)] + [
    (0.0, 0.0), (16.0, 16.0), (5.0, 4.0), (5.0, 3.0), (3.0, 4.0), (4.0, 3.0)
]
#: a zero-extent x axis: cell_w = 1e-300 / 256
ONE_X = [(3.0, float(y)) for y in range(10)]


def _points_df(spark, pts):
    return spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "id long, x double, y double",
    )


def _probes_df(spark, probes):
    return spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(probes)],
        "qid long, x double, y double",
    )


def _brute_knn(pts, probes, k):
    """{qid: [(dist2, id), ...] top-k with (dist2, id) ascending}"""
    out = {}
    arr = np.array(pts, dtype=np.float64)
    for qid, (qx, qy) in enumerate(probes):
        d2 = (arr[:, 0] - qx) ** 2 + (arr[:, 1] - qy) ** 2
        order = sorted(range(len(pts)), key=lambda i: (d2[i], i))[:k]
        out[qid] = [(d2[i], i) for i in order]
    return out


def _assert_matches_brute(got, pts, probes, k):
    """kNN output rows equal brute force per probe: ranks, ids, dist²."""
    want = _brute_knn(pts, probes, k)
    by_q = {}
    for r in got:
        by_q.setdefault(r.qid, []).append((r.rn, r.dist2, r.id))
    assert set(by_q) == set(want)
    for qid, rows in by_q.items():
        rows.sort()
        assert [(d, i) for _, d, i in rows] == want[qid]


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.tuples(coord, coord), min_size=1, max_size=60),
    st.lists(st.tuples(coord, coord), min_size=1, max_size=8),
    st.integers(min_value=1, max_value=5),
    st.integers(min_value=2, max_value=5),
)
def test_knn_join_matches_brute(spark, pts, probes, k, res):
    got = knn_join(
        _points_df(spark, pts), _probes_df(spark, probes), k,
        grid=None if res % 2 else GridSpec(
            min(p[0] for p in pts), min(p[1] for p in pts),
            max(p[0] for p in pts), max(p[1] for p in pts), res),
    ).collect()
    _assert_matches_brute(got, pts, probes, k)


def test_knn_short_circuit_k_ge_size(spark):
    pts = [(0.0, 0.0), (1.0, 1.0), (2.0, 2.0)]
    probes = [(0.5, 0.5)]
    got = knn_join(_points_df(spark, pts), _probes_df(spark, probes), 10).collect()
    assert sorted(r.id for r in got) == [0, 1, 2]
    assert sorted(r.rn for r in got) == [1, 2, 3]


def test_knn_empty_points_raises(spark):
    empty = spark.createDataFrame([], "id long, x double, y double")
    with pytest.raises(ValueError):
        knn_join(empty, _probes_df(spark, [(0.0, 0.0)]), 1)


def test_knn_overflow_dist2_not_displaced_by_sentinel(spark):
    """A real candidate whose dist² overflows float64 to +inf must still be
    returned and ranked after the finite one, not dropped."""
    # max float64 ~1.8e308; a (4e154)² term overflows to inf
    pts = [(-2e154, -2e154), (2e154, 2e154)]
    probes = [(-2e154, -2e154)]
    grid = GridSpec(-3e154, -3e154, 3e154, 3e154, 4)
    got = knn_join(
        _points_df(spark, pts), _probes_df(spark, probes), 2, grid=grid
    ).collect()
    by_rn = {r.rn: r for r in got}
    assert len(got) == 2
    assert by_rn[1].id == 0 and by_rn[1].dist2 == 0.0
    # the far point's dist² overflowed, and it is still ranked
    assert by_rn[2].id == 1 and by_rn[2].dist2 == float("inf")


def test_nearest_duplicate_points_tie_by_id(spark):
    pts = [(1.0, 1.0), (1.0, 1.0), (5.0, 5.0)]
    got = nearest_join(_points_df(spark, pts), _probes_df(spark, [(1.0, 1.0)])).collect()
    assert len(got) == 1 and got[0].id == 0 and got[0].dist2 == 0.0


def test_knn_hot_cluster_skew(spark):
    """Regression for the hot-cell candidate explosion: half the points in one
    dense cluster, probes both inside and on the fringe — exercises the
    ``_scap`` disc pruning (its join strategies and sample rates are forced
    and compared by test_knn_round_evaluators_agree)."""
    rng = np.random.RandomState(7)
    hot = rng.uniform(-1.0, 1.0, size=(400, 2))
    cold = rng.uniform(-100.0, 100.0, size=(400, 2))
    pts = [tuple(map(float, p)) for p in np.vstack([hot, cold])]
    probes = [tuple(map(float, p)) for p in np.vstack([
        rng.uniform(-1.0, 1.0, size=(5, 2)),       # inside the hot cluster
        rng.uniform(1.5, 3.0, size=(5, 2)),        # fringe next to it
        rng.uniform(-100.0, 100.0, size=(5, 2)),   # sparse region
    ])]
    grid = GridSpec(-100.0, -100.0, 100.0, 100.0, 6)
    got = knn_join(_points_df(spark, pts), _probes_df(spark, probes), 3, grid=grid).collect()
    _assert_matches_brute(got, pts, probes, 3)


def _knn_records(caplog):
    return [r.args for r in caplog.records if r.name == "locus_spark.plans.knn"]


def _force_shuffle(monkeypatch):
    # drop the width guard below any frame
    import locus_spark.plans.knn as knnplan

    monkeypatch.setattr(knnplan, "ANN_BROADCAST_MAX_ROWS", -1)


def test_knn_round_evaluators_agree(spark, monkeypatch, caplog):
    """Four-way evaluator equivalence: the broadcast and shuffled-hash join
    strategies, each at the default sample rate (test-sized samples are
    nearly empty, so the exact-k level bounds most probes) and at rate 2
    (both sampled levels bound probes), must return identical results for
    three kNN families — points, boxes, segment-to-point — including
    duplicate-geometry ties, and the points family must match brute force.
    Each operation logs exactly one record, and it names the join strategy
    that ran, so a policy change cannot silently route a forced path
    elsewhere."""
    import locus_spark.plans.knn as knnplan
    from locus_spark.operators.boxes import box_knn_join
    from locus_spark.operators.segments import segment_knn_to_point_join

    rng = np.random.RandomState(11)
    pts = [tuple(map(float, p)) for p in rng.uniform(-50, 50, size=(200, 2))]
    pts += [pts[0], pts[1]]  # duplicates → tie-by-id coverage
    probes = [tuple(map(float, p)) for p in rng.uniform(-60, 60, size=(10, 2))]
    grid = GridSpec(-60.0, -60.0, 60.0, 60.0, 4)
    pdf, qdf = _points_df(spark, pts), _probes_df(spark, probes)
    raw_b = rng.uniform(-50, 50, size=(150, 4))
    boxes = [
        (i, float(min(a, b)), float(max(a, b)) + 0.5,
         float(min(c, d)), float(max(c, d)) + 0.5)
        for i, (a, b, c, d) in enumerate(raw_b)
    ]
    boxes += [(150, *boxes[0][1:]), (151, *boxes[1][1:])]  # duplicate boxes
    bdf = spark.createDataFrame(
        boxes, "id long, min_x double, max_x double, min_y double, max_y double"
    )
    raw_s = rng.uniform(-50, 50, size=(150, 4))
    segs = [
        (i, float(a), float(c), float(a + abs(b) * 0.1 + 0.01),
         float(c + abs(d) * 0.1 + 0.01))
        for i, (a, b, c, d) in enumerate(raw_s)
    ]
    sdf = spark.createDataFrame(
        segs, "id long, x1 double, y1 double, x2 double, y2 double"
    )
    families = {
        "pts": lambda: knn_join(pdf, qdf, 3, grid=grid),
        "boxes": lambda: box_knn_join(bdf, qdf, 3, grid=grid),
        "segs": lambda: segment_knn_to_point_join(sdf, qdf, 3, grid=grid),
    }

    def run_all(join):
        """Run every family; each must log one record that joined with
        ``join``."""
        out = {}
        for name, run in families.items():
            caplog.clear()
            out[name] = sorted(
                (r.qid, r.rn, r.id, r.dist2) for r in run().collect()
            )
            recs = _knn_records(caplog)
            assert [a["join"] for a in recs] == [join], (name, recs)
            assert recs[0]["probes"] == len(probes), (name, recs)
        return out

    caplog.set_level(logging.DEBUG, logger="locus_spark.plans.knn")
    got_broadcast = run_all("broadcast")
    _force_shuffle(monkeypatch)
    got_shuffle = run_all("shuffle")
    monkeypatch.undo()
    # rate 2 so both test-sized sample levels are non-degenerate
    monkeypatch.setattr(knnplan, "CAP_SAMPLE_RATE", 2)
    got_broadcast_dense = run_all("broadcast")
    _force_shuffle(monkeypatch)
    got_shuffle_dense = run_all("shuffle")
    assert got_shuffle == got_broadcast
    assert got_broadcast_dense == got_broadcast
    assert got_shuffle_dense == got_broadcast
    # and the points family matches brute force
    want = _brute_knn(pts, probes, 3)
    by_q = {}
    for qid, rn, i, d in got_broadcast["pts"]:
        by_q.setdefault(qid, []).append((rn, d, i))
    assert set(by_q) == set(want)
    for qid, rows in by_q.items():
        rows.sort()
        assert [(d, i) for _, d, i in rows] == want[qid]


def test_knn_non_finite_probes_get_k_rows_in_nan_largest_order(
    spark, monkeypatch, caplog
):
    """A probe with a NaN or infinite coordinate still gets k rows, ranked
    in Spark's order (NaN sorts largest), identically under the broadcast
    and shuffled-hash joins.  Every dist² of the ``inf`` probe is +inf and
    every dist² of the ``nan`` probe is NaN, so both tie on distance and
    take the k smallest ids; a finite probe beside them is unaffected."""
    rng = np.random.RandomState(0)
    pts = [tuple(map(float, p)) for p in rng.uniform(-50, 50, size=(300, 2))]
    probes = [(float("nan"), 1.0), (float("inf"), 2.0), (3.0, 4.0)]
    grid = GridSpec(-50.0, -50.0, 50.0, 50.0, 4)
    pdf, qdf = _points_df(spark, pts), _probes_df(spark, probes)
    k = 3
    caplog.set_level(logging.DEBUG, logger="locus_spark.plans.knn")

    def run():
        caplog.clear()
        by_q = {}
        for r in knn_join(pdf, qdf, k, grid=grid).collect():
            by_q.setdefault(r.qid, []).append((r.rn, r.id, r.dist2))
        return {q: sorted(rows) for q, rows in by_q.items()}

    got = run()
    assert set(got) == {0, 1, 2}
    nan_rows, inf_rows = got[0], got[1]
    assert [(rn, i) for rn, i, _ in nan_rows] == [(1, 0), (2, 1), (3, 2)]
    assert all(np.isnan(d) for *_, d in nan_rows)
    assert inf_rows == [(1, 0, np.inf), (2, 1, np.inf), (3, 2, np.inf)]
    want = _brute_knn(pts, probes[2:], k)[0]
    assert [(d, i) for _, i, d in got[2]] == want
    assert [a["join"] for a in _knn_records(caplog)] == ["broadcast"]
    _force_shuffle(monkeypatch)
    shuffled = run()
    assert [a["join"] for a in _knn_records(caplog)] == ["shuffle"]
    assert shuffled.keys() == got.keys()
    for q in got:
        # NaN != NaN, so compare the rows' reprs
        assert repr(shuffled[q]) == repr(got[q]), q


def test_knn_probe_and_targets_beyond_the_same_grid_edge(spark, monkeypatch):
    """Targets beyond the grid's right edge are clipped into its edge
    cells, and a probe farther out on the same side is nearer to them than
    to those cells' in-grid rects: the edge cells must reach to infinity,
    or the exact round prunes the probe's true neighbors.  Sample rate 2
    makes the sampled bound tight enough for that pruning to bite."""
    import locus_spark.plans.knn as knnplan

    monkeypatch.setattr(knnplan, "CAP_SAMPLE_RATE", 2)
    rng = np.random.RandomState(2)
    inside = rng.uniform(0.0, 16.0, size=(10, 2))
    beyond = np.column_stack([rng.uniform(40.0, 60.0, 40), rng.uniform(0.0, 16.0, 40)])
    pts = [tuple(map(float, p)) for p in np.vstack([inside, beyond])]
    probes = [(100.0, 8.0), (70.0, 2.0), (8.0, 8.0)]
    got = knn_join(
        _points_df(spark, pts), _probes_df(spark, probes), 3,
        grid=GridSpec(0.0, 0.0, 16.0, 16.0, 4),
    ).collect()
    _assert_matches_brute(got, pts, probes, 3)


@pytest.mark.parametrize("pts, probe", [
    # both axes zero-extent: every target at (8.9e-16, 0), the probe at 1
    ([(8.881784197001251e-16, 0.0)] * 2, (1.0, 0.0)),
    # a zero-extent x axis, a ~1e-38 y extent and a probe 49 away: every
    # dist² rounds to 2401, so the smallest id must win the tie
    ([(-2.220446049250313e-16, -1.175494351e-38),
      (-2.220446049250313e-16, 1.401298464324817e-45),
      (-2.220446049250313e-16, -1.1754943508222875e-38)], (0.0, 49.0)),
    # a gap of 1.9e-272 squares to a dist² of 0
    ([(0.0, -1.9303192070038497e-272)] * 2, (0.0, 0.0)),
])
def test_knn_probe_far_from_a_degenerate_grid(spark, monkeypatch, pts, probe):
    """Layouts a property test drew: the probe's disc reach rounds at the
    probe's ULP scale, far above the grid's, or its gap to the targets
    underflows, so a float-fuzz margin sized from the grid alone lets the
    exact round prune the targets' cells."""
    import locus_spark.plans.knn as knnplan

    monkeypatch.setattr(knnplan, "CAP_SAMPLE_RATE", 2)
    got = knn_join(_points_df(spark, pts), _probes_df(spark, [probe]), 1).collect()
    _assert_matches_brute(got, pts, [probe], 1)


small = st.floats(min_value=-50, max_value=50, allow_nan=False, allow_infinity=False)
edge = st.integers(min_value=0, max_value=16).map(float)  # GRID16 cell edges
GRID16 = GridSpec(0.0, 0.0, 16.0, 16.0, 4)


@st.composite
def _radius_layout(draw, kind):
    """(points, probes, grid) for one adversarial layout; grid None means
    derived from the points."""
    if kind == "duplicates":
        base = draw(st.lists(st.tuples(small, small), min_size=1, max_size=8))
        pts = base * draw(st.integers(min_value=2, max_value=4))
        probes = draw(st.lists(st.sampled_from(base), min_size=1, max_size=4))
        return pts, probes, None
    if kind == "identical":
        p = draw(st.tuples(small, small))
        pts = [p] * draw(st.integers(min_value=2, max_value=30))
        other = draw(st.tuples(small, small))
        return pts, [p, other], None
    if kind == "zero_extent_axis":
        x = draw(small)
        ys = draw(st.lists(small, min_size=2, max_size=40))
        probes = draw(st.lists(st.tuples(small, small), min_size=1, max_size=4))
        return [(x, y) for y in ys], probes, None
    if kind == "cell_edges":
        pts = draw(st.lists(st.tuples(edge, edge), min_size=2, max_size=60))
        probes = draw(st.lists(st.tuples(edge, edge), min_size=1, max_size=4))
        return pts, probes, GRID16
    if kind == "targets_outside":
        # targets beyond the grid bbox are clipped into its edge cells
        wide = st.floats(min_value=-40, max_value=56)
        pts = draw(st.lists(st.tuples(wide, wide), min_size=20, max_size=60))
        probes = draw(st.lists(st.tuples(wide, wide), min_size=2, max_size=6))
        return pts, probes, GRID16
    if kind == "probes_outside":
        pts = draw(st.lists(st.tuples(small, small), min_size=2, max_size=60))
        far = st.floats(min_value=60, max_value=1e4) | st.floats(min_value=-1e4, max_value=-60)
        probes = draw(st.lists(st.tuples(far, small | far), min_size=1, max_size=4))
        return pts, probes, None
    # dist² overflow: the far points' dist² is +inf, tied at the k-th rank
    pts = [(-2e154, -2e154), (2e154, 2e154), (-2e154, 2e154), (2e154, -2e154)]
    return pts, [(-2e154, -2e154)], GridSpec(-3e154, -3e154, 3e154, 3e154, 4)


@pytest.mark.parametrize("kind", [
    "duplicates", "identical", "zero_extent_axis", "cell_edges",
    "targets_outside", "probes_outside", "overflow",
])
@settings(max_examples=3, deadline=None)
@given(data=st.data())
def test_knn_radius_path_matches_brute(spark, kind, data):
    """Property test at sample rate 2, so both sampled levels bound probes
    on these small inputs: adversarial layouts must equal brute force,
    ranks and tie order included."""
    import locus_spark.plans.knn as knnplan

    pts, probes, grid = data.draw(_radius_layout(kind))
    k = data.draw(st.integers(min_value=1, max_value=len(pts) - 1))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(knnplan, "CAP_SAMPLE_RATE", 2)
        got = knn_join(
            _points_df(spark, pts), _probes_df(spark, probes), k, grid=grid
        ).collect()
    _assert_matches_brute(got, pts, probes, k)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.tuples(coord, coord), min_size=1, max_size=80),
    st.lists(st.tuples(coord, coord, coord, coord), min_size=1, max_size=6),
)
# boxes (a, b + 0.5, c, d + 0.5): edges through points, [1.5, 5] x [2, 4]
# sharing the x = 5 edge with [5, 7.5] x [3, 4] and the (5, 4) corner with
# [5, 7.5] x [4, 6]; boxes reaching past the grid or wholly outside it
@example(pts=ON_EDGES, raw_boxes=[
    (1.5, 4.5, 2.0, 3.5), (5.0, 7.0, 3.0, 3.5), (5.0, 7.0, 4.0, 5.5),
    (16.0, 16.0, 16.0, 16.0), (0.0, 0.0, 0.0, 0.0), (-3.0, -1.0, 0.0, 0.0),
])
@example(pts=[(0.5, 0.25), (1.0, 1.0)], raw_boxes=[
    (100.0, 200.0, 100.0, 200.0), (-1e6, 1e6, -1e6, 1e6), (-50.0, -40.0, 0.0, 0.5),
])
@example(pts=ONE_X, raw_boxes=[
    (3.0, 3.0, 2.0, 5.0), (-1.0, 2.5, 0.0, 0.0), (3.5, 9.0, 0.0, 9.0),
])
def test_find_box_sound_and_complete(spark, pts, raw_boxes):
    boxes = [
        (qid, min(a, b), max(a, b) + 0.5, min(c, d), max(c, d) + 0.5)
        for qid, (a, b, c, d) in enumerate(raw_boxes)
    ]
    bdf = spark.createDataFrame(
        boxes, "qid long, min_x double, max_x double, min_y double, max_y double"
    )
    got = {(r.qid, r.id) for r in find_box_join(_points_df(spark, pts), bdf).collect()}
    want = {
        (qid, i)
        for qid, mnx, mxx, mny, mxy in boxes
        for i, (x, y) in enumerate(pts)
        if mnx <= x <= mxx and mny <= y <= mxy
    }
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.tuples(coord, coord), min_size=1, max_size=80),
    st.lists(
        st.tuples(coord, coord, st.floats(min_value=0.0, max_value=1e6)),
        min_size=1,
        max_size=6,
    ),
)
# circles through points on cell edges ((3, 4) and (5, 0) at r = 5), a zero
# radius, circles past the grid edge or wholly outside it
@example(pts=ON_EDGES, circles=[
    (0.0, 0.0, 5.0), (8.0, 8.0, 0.0), (16.0, 16.0, 1.0), (-3.0, 4.0, 3.0),
    (100.0, 100.0, 50.0),
])
@example(pts=ONE_X, circles=[(0.0, 4.0, 3.0), (3.0, 2.0, 0.0), (-9.0, 0.0, 1.0)])
# outside the ball by 1.4e-45, but its dist² rounds to r² = 1
@example(pts=[(0.0, 0.0), (1.401298464324817e-45, 0.0)], circles=[(-1.0, 0.0, 1.0)])
def test_find_ball_sound_and_complete(spark, pts, circles):
    cdf = spark.createDataFrame(
        [(q, x, y, r) for q, (x, y, r) in enumerate(circles)],
        "qid long, x double, y double, r double",
    )
    got = {(r.qid, r.id) for r in find_ball_join(_points_df(spark, pts), cdf).collect()}
    want = {
        (qid, i)
        for qid, (cx, cy, r) in enumerate(circles)
        for i, (x, y) in enumerate(pts)
        if (x - cx) ** 2 + (y - cy) ** 2 <= r * r
    }
    assert got == want
