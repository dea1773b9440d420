"""Invariants of the generic kNN planner (``plans/knn.py``): the sampled
bound and the one exact round behind it.

Pins that every probe is answered exactly in one round whichever level
bounds it — an isolated probe with no sampled candidate near it, a sparse
tail, a probe outside the grid — that the bound of a probe in an empty
region stays local to it, plus two hazards the plan shape relies on:

* a multi-cell target reached through several disc cells must appear once
  per probe in the output — the top-k sorts each probe's row structs and
  drops every element equal to its predecessor, which silently emits
  duplicates instead of failing if any struct column ever stops being
  bit-identical across covering cells (e.g. a future dist² expression
  referencing cell-derived or nondeterministic columns);
* ``tile_pyramid``'s level persists are scoped to the call — repeated
  invocations must not pin orphan entries in the CacheManager.
"""

from __future__ import annotations

import logging

import numpy as np
import pytest
from pyspark.sql import functions as F

import locus_spark.plans.knn as knnplan
from locus_spark.cells import GridSpec
from locus_spark.operators.boxes import box_knn_join
from locus_spark.operators.points import knn_join
from locus_spark.operators.segments import segment_knn_to_point_join

GRID = GridSpec(0.0, 0.0, 16.0, 16.0, 4)  # 16x16 cells, cell size 1.0

#: one long segment covering 16 cells of row y=8 (ids sort after the short
#: fillers so tie order never hides a duplicate), plus two short segments in
#: the far corners.
SEGS = [
    (10, 0.5, 8.5, 15.5, 8.5),   # long: cells (0..15, 8)
    (20, 0.2, 15.8, 0.4, 15.8),  # cell (0, 15)
    (30, 15.6, 15.8, 15.8, 15.8),  # cell (15, 15)
]


def _brute_point_seg_d2(px, py, x1, y1, x2, y2):
    dx, dy = x2 - x1, y2 - y1
    den = dx * dx + dy * dy
    t = 0.0 if den == 0 else max(0.0, min(1.0, ((px - x1) * dx + (py - y1) * dy) / den))
    cx, cy = x1 + t * dx, y1 + t * dy
    return (px - cx) ** 2 + (py - cy) ** 2


def _records(caplog):
    return [r.args for r in caplog.records if r.name == "locus_spark.plans.knn"]


def test_multicell_target_reached_through_many_disc_cells_no_duplicates(
    spark, caplog
):
    """Probe at (0.5, 0.5), k=2: its true 2nd distance is to segment 20
    (~15.3), so its disc holds every cell of row 8 within that distance —
    the long segment 10 is joined once per such covering cell, and the
    top-k must collapse those rows to one per (qid, id)."""
    segs = spark.createDataFrame(SEGS, ["id", "x1", "y1", "x2", "y2"])
    probes = spark.createDataFrame([(1, 0.5, 0.5)], ["qid", "x", "y"])
    want = sorted(
        ((_brute_point_seg_d2(0.5, 0.5, *s[1:]), s[0]) for s in SEGS)
    )[:2]
    # fixture check: the disc (radius >= the true 2nd distance) reaches the
    # long segment through several of its covering cells (x, 8)
    reach = want[-1][0] ** 0.5
    cells = [
        cx for cx in range(16)
        if (max(0.0, cx - 0.5) ** 2 + (8.0 - 0.5) ** 2) ** 0.5 <= reach
    ]
    assert len(cells) >= 2, cells
    caplog.set_level(logging.DEBUG, logger="locus_spark.plans.knn")
    caplog.clear()
    out = segment_knn_to_point_join(segs, probes, k=2, grid=GRID).collect()
    assert len(_records(caplog)) == 1
    pairs = [(r.qid, r.id) for r in out]
    assert len(pairs) == len(set(pairs)), f"duplicate (qid,id) rows: {sorted(pairs)}"
    assert sorted(r.rn for r in out) == [1, 2]
    got = sorted((r.dist2, r.id) for r in out)
    assert got == pytest.approx(want)


def _radius_fixture():
    """Targets only in the lower-left [0, 9)² of GRID: a dense cluster over
    cells (3..5, 3..5) holding five identical points / segments (ids
    900..904, a tie straddling the k-th rank), plus a sparse spread.
    Probes: four in the cluster (one on the tie, so its k = 3 answer is
    the three smallest tied ids) and one isolated in the far corner cell,
    where no target lies within the sampled windows."""
    rng = np.random.RandomState(5)
    xy = np.vstack([rng.uniform(3.0, 6.0, (150, 2)), rng.uniform(0.0, 9.0, (50, 2))])
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)]
    pts += [(900 + j, 4.5, 4.5) for j in range(5)]
    segs = [
        (i, x, y, x + 0.05 * (1 + i % 7), y + 0.3 * (i % 3))
        for i, x, y in pts[:200]
    ]
    segs += [(900 + j, 4.25, 4.5, 4.75, 4.5) for j in range(5)]
    segs += [(990, 0.5, 8.5, 8.5, 8.5)]  # spans 9 cells of row 8
    probes = [(0, 4.5, 4.5), (1, 3.3, 5.7), (2, 5.1, 3.2), (3, 4.0, 4.9),
              (4, 15.5, 15.5)]
    return pts, segs, probes


def test_isolated_probe_answered_through_coarse_levels(spark, monkeypatch, caplog):
    """The isolated corner probe has fewer than k level-1 candidates in its
    level-1 window, so its bound comes from a coarser source, and it is
    still answered exactly in the one round, as are the cluster probes.  Both
    families (points; segments, which dedup
    multi-cell targets) equal brute force, duplicate-geometry ties
    included, at the default sample rate and at rate 2, with one record
    per operation."""
    pts, segs, probes = _radius_fixture()
    pdf = spark.createDataFrame(pts, "id long, x double, y double")
    sdf = spark.createDataFrame(
        segs, "id long, x1 double, y1 double, x2 double, y2 double"
    )
    qdf = spark.createDataFrame(probes, "qid long, x double, y double")
    k = 3
    families = {
        "pts": (
            lambda: knn_join(pdf, qdf, k, grid=GRID),
            lambda px, py, t: (t[1] - px) ** 2 + (t[2] - py) ** 2,
            pts,
        ),
        "segs": (
            lambda: segment_knn_to_point_join(sdf, qdf, k, grid=GRID),
            lambda px, py, t: _brute_point_seg_d2(px, py, *t[1:]),
            segs,
        ),
    }
    caplog.set_level(logging.DEBUG, logger="locus_spark.plans.knn")

    def level1_candidates(targets, rate):
        """Level-1 sampled targets whose bbox meets the isolated probe's
        level-1 window (slid inside the grid from the probe's corner
        cell)."""
        ids = [t[0] for t in targets]
        keep = {
            r.id for r in spark.createDataFrame([(i,) for i in ids], "id long")
            .filter(F.pmod(F.xxhash64("id"), F.lit(rate)) == 0).collect()
        }
        density = len(targets) / float(GRID.n * GRID.n)
        h = knnplan._half_width(k, density / rate, GRID.n)
        lo = GRID.n - (2 * h + 1)  # the probe sits in the corner cell
        return [
            t for t in targets
            if t[0] in keep and max(t[1::2]) >= lo and max(t[2::2]) >= lo
        ]

    def run(name, rate):
        query, d2, targets = families[name]
        assert len(level1_candidates(targets, rate)) < k, (name, rate)
        caplog.clear()
        out = query().collect()
        recs = _records(caplog)
        # only the isolated probe takes phase 1b
        assert [r["unbound"] for r in recs] == [1], (name, recs)
        got = {}
        for r in out:
            got.setdefault(r.qid, []).append((r.rn, r.dist2, r.id))
        for qid, px, py in probes:
            want = sorted((d2(px, py, t), t[0]) for t in targets)[:k]
            rows = sorted(got[qid])
            assert [i for _, _, i in rows] == [i for _, i in want], (name, qid)
            assert [d for _, d, _ in rows] == pytest.approx([d for d, _ in want])
        # the tie straddling rank k resolves to the smallest ids
        assert [i for *_, i in sorted(got[0])] == [900, 901, 902]

    for name in families:
        run(name, knnplan.CAP_SAMPLE_RATE)
    monkeypatch.setattr(knnplan, "CAP_SAMPLE_RATE", 2)
    for name in families:
        run(name, 2)


#: no target meets [EMPTY_X, 100] x [-100, EMPTY_Y] of the sparse-tail grid
EMPTY_X, EMPTY_Y = -25.0, 25.0


def _sparse_tail_layout():
    """Gaussian clusters with sparse gaussian tails over GridSpec(-100,
    -100, 100, 100, 5), as points, small boxes and short segments, with the
    lower-right rectangle [EMPTY_X, 100] x [-100, EMPTY_Y] left empty.
    Probes: in the clusters, in the tails, isolated, outside the grid, and
    in the empty corner, whose windows on every level lie inside the empty
    rectangle."""
    rng = np.random.RandomState(3)
    centers = [(-60.0, -50.0), (-55.0, 50.0), (40.0, 60.0)]
    xy = np.vstack(
        [rng.normal(c, 4.0, (700, 2)) for c in centers]
        + [rng.normal((-40.0, 20.0), 25.0, (200, 2))]
    )
    pts, boxes, segs = [], [], []
    for i, (x, y) in enumerate(xy):
        w, h = rng.uniform(0.0, 1.5, 2)
        dx, dy = rng.uniform(-1.0, 1.0, 2)
        if max(x, x + dx, x + w) >= EMPTY_X and min(y, y + dy) <= EMPTY_Y:
            continue
        pts.append((i, float(x), float(y)))
        boxes.append((i, float(x), float(x + w), float(y), float(y + h)))
        segs.append((i, float(x), float(y), float(x + dx), float(y + dy)))
    probes = [
        (0, -60.0, -50.0), (1, 41.0, 59.0), (2, -54.0, 52.0),    # clusters
        (3, -80.0, -10.0), (4, -20.0, 40.0), (5, 5.0, 80.0),     # tails
        (6, 99.0, -99.0),                                        # empty corner
        (7, 99.0, 99.0), (8, -99.0, 99.0), (9, 20.0, 10.0),      # isolated
        (10, 180.0, -30.0), (11, -250.0, -400.0), (12, 30.0, 1e4),  # outside
    ]
    return pts, boxes, segs, probes


def test_sparse_tail_layout_one_exact_round(spark, caplog):
    """Points, boxes and segments over clusters with sparse tails: every
    probe — in a cluster, in a tail, isolated, outside the grid, or with no
    target in any level's window, so only a whole-grid source bounds it —
    equals brute force, and each operation is one planner record."""
    pts, boxes, segs, probes = _sparse_tail_layout()
    grid = GridSpec(-100.0, -100.0, 100.0, 100.0, 5)
    k = 4
    # fixture check: the empty-corner probe's window on every level, slid
    # inside that level's grid, lies inside the empty rectangle
    for _, c, nc, h in knnplan._levels(k, len(pts), grid.n):
        w = min(2 * h + 1, nc)
        x_lo = (nc - w) * c  # lowest fine cell of the window
        y_hi = w * c  # one past its highest fine cell
        assert grid.min_x + x_lo * grid.cell_w >= EMPTY_X, (c, nc, h)
        assert grid.min_y + y_hi * grid.cell_h <= EMPTY_Y, (c, nc, h)

    qdf = spark.createDataFrame(probes, "qid long, x double, y double")

    def box_d2(px, py, b):
        dx = max(0.0, b[1] - px, px - b[2])
        dy = max(0.0, b[3] - py, py - b[4])
        return dx * dx + dy * dy

    families = {
        "points": (
            lambda: knn_join(
                spark.createDataFrame(pts, "id long, x double, y double"),
                qdf, k, grid=grid,
            ),
            lambda px, py, t: (t[1] - px) ** 2 + (t[2] - py) ** 2,
            pts, False,
        ),
        "boxes": (
            lambda: box_knn_join(
                spark.createDataFrame(
                    boxes,
                    "id long, min_x double, max_x double, min_y double, max_y double",
                ),
                qdf, k, grid=grid,
            ),
            box_d2, boxes, True,
        ),
        "segments": (
            lambda: segment_knn_to_point_join(
                spark.createDataFrame(
                    segs, "id long, x1 double, y1 double, x2 double, y2 double"
                ),
                qdf, k, grid=grid,
            ),
            lambda px, py, t: _brute_point_seg_d2(px, py, *t[1:]),
            segs, False,
        ),
    }
    caplog.set_level(logging.DEBUG, logger="locus_spark.plans.knn")
    for name, (query, d2, targets, desc) in families.items():
        caplog.clear()
        out = query().collect()
        recs = _records(caplog)
        assert len(recs) == 1 and recs[0]["probes"] == len(probes), (name, recs)
        assert recs[0]["unbound"] >= 1, (name, recs)  # the empty corner
        got = {}
        for r in out:
            got.setdefault(r.qid, []).append((r.rn, r.dist2, r.id))
        assert set(got) == {q for q, *_ in probes}, name
        for qid, px, py in probes:
            scored = sorted(
                (d2(px, py, t), -t[0] if desc else t[0], t[0]) for t in targets
            )[:k]
            rows = sorted(got[qid])
            assert [r[0] for r in rows] == list(range(1, k + 1)), (name, qid)
            assert [i for *_, i in rows] == [i for *_, i in scored], (name, qid)
            assert [d for _, d, _ in rows] == pytest.approx(
                [d for d, *_ in scored], rel=1e-12
            ), (name, qid)


def test_multicell_target_counted_once_per_coarse_level(spark, monkeypatch):
    """At sample rate 2 (coarse cells 2x2 fine ones), a sampled segment over
    fine cells 9-11 of row 12 meets the isolated probe's level-2 window
    three times, twice inside one coarse cell.  It is the only target in
    the probe's level-1 and level-2 windows: counted once it leaves both
    levels below k and the whole-grid sample bounds the probe; counted per
    row it would set a level-2 bound below the true 3rd distance, and the
    probe would get fewer than k rows."""
    monkeypatch.setattr(knnplan, "CAP_SAMPLE_RATE", 2)
    rng = np.random.RandomState(2)
    segs = [
        (i, float(x), float(y), float(x + 0.3), float(y))
        for i, (x, y) in enumerate(rng.uniform(0.0, 4.5, (100, 2)))
    ]
    long_id = next(
        r.id for r in spark.range(1000, 1100)
        .filter(F.pmod(F.xxhash64("id"), F.lit(4)) == 0).orderBy("id").collect()
    )
    segs.append((long_id, 9.2, 12.5, 11.8, 12.5))
    k = 3
    levels = knnplan._levels(k, len(segs), GRID.n)
    assert [lv.coarse for lv in levels] == [1, 2], levels
    sdf = spark.createDataFrame(
        segs, "id long, x1 double, y1 double, x2 double, y2 double"
    )
    qdf = spark.createDataFrame([(0, 10.5, 14.5)], "qid long, x double, y double")
    got = sorted(
        (r.rn, r.dist2, r.id)
        for r in segment_knn_to_point_join(sdf, qdf, k, grid=GRID).collect()
    )
    want = sorted((_brute_point_seg_d2(10.5, 14.5, *s[1:]), s[0]) for s in segs)[:k]
    assert [i for *_, i in got] == [i for _, i in want]
    assert [d for _, d, _ in got] == pytest.approx([d for d, _ in want])


def test_bound_of_a_probe_in_an_empty_region_stays_local(spark, monkeypatch):
    """6,000 uniform points over a 64 x 64 grid, none within 20 of (40, 40).
    The probe at the hole's centre has no target in its level-1 or level-2
    window, so its bound comes from a coarser level or the whole-grid
    sample; it must still be valid (>= the true k-th dist²) and local: its
    disc holds a small share of the targets, not most of the grid as a
    bound from k fixed targets would.  Also a dense probe, one on the
    hole's rim and one outside the grid; the broadcast and the salted
    shuffled plans give the same bounds."""
    from locus_spark.functions.metrics import sql_dist2_point_point

    monkeypatch.setattr(knnplan, "CAP_SAMPLE_RATE", 4)
    grid = GridSpec(0.0, 0.0, 64.0, 64.0, 6)
    rng = np.random.RandomState(11)
    xy = rng.uniform(0.0, 64.0, (9000, 2))
    xy = xy[np.hypot(xy[:, 0] - 40.0, xy[:, 1] - 40.0) > 20.0][:6000]
    assert len(xy) == 6000
    k = 5
    levels = knnplan._levels(k, len(xy), grid.n)
    assert len(levels) >= 3, levels
    # fixture check: no target at all in the hole probe's level-1 and
    # level-2 windows (interior, so not slid)
    for _, c, _, h in levels[:2]:
        lo, hi = (40 // c - h) * c, (40 // c + h + 1) * c
        inside = (xy >= lo) & (xy < hi)
        assert not np.any(inside[:, 0] & inside[:, 1]), (c, h)
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)],
        "id long, x double, y double",
    )
    cells = pts.withColumns({"_cx": grid.cell_x_col("x"), "_cy": grid.cell_y_col("y")})
    probes = [(0, 40.0, 40.0), (1, 10.0, 10.0), (2, 40.0, 19.0), (3, 200.0, 40.0)]
    qdf = spark.createDataFrame(probes, "qid long, _qx double, _qy double")
    pr = knnplan.probe_frame(
        qdf, grid, "_qx", "_qx", "_qy", "_qy", payload=["_qx", "_qy"]
    )
    d2 = sql_dist2_point_point("x", "y", "_qx", "_qy")

    def bounds(wide):
        out, unbound = knnplan._bound(
            pts, cells, pr, k, grid, d2, False, levels, len(xy), len(probes), wide
        )
        assert unbound >= 1  # the hole's probe
        return {r.qid: r._scap for r in out.select("qid", "_scap").collect()}

    got = bounds(False)
    assert got == bounds(True)
    for qid, px, py in probes:
        d = np.sort((xy[:, 0] - px) ** 2 + (xy[:, 1] - py) ** 2)
        assert got[qid] >= d[k - 1], qid
        # a bound from k fixed targets would hold most of them
        assert np.count_nonzero(d <= got[qid]) <= 0.1 * len(xy), (qid, got[qid])


def test_desc_id_tie_encoding_is_order_reversing(spark):
    """The desc-id tie key uses ~id (bitwise complement), which reverses
    order over the WHOLE long range — including Long.MIN_VALUE, where -id
    overflows back to Long.MIN_VALUE and would corrupt the k-th-boundary
    tie order."""
    lmin, lmax = -(2**63), 2**63 - 1
    rows = spark.createDataFrame(
        [(lmin,), (-5,), (0,), (7,), (lmax,)], ["id"]
    ).select(F.col("id"), F.bitwise_not(F.col("id")).alias("enc"))
    got = [r.id for r in rows.orderBy("enc").collect()]
    assert got == [lmax, 7, 0, -5, lmin]


def test_tile_pyramid_releases_level_caches(spark):
    from locus_spark.operators.tiles import tile_pyramid

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    cache_mgr.clearCache()
    pts = spark.range(500).select(
        F.col("id"),
        (F.pmod(F.xxhash64("id"), F.lit(1600)) / F.lit(100.0)).alias("x"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1600)) / F.lit(100.0)).alias("y"),
    )
    out = tile_pyramid(pts, GRID)
    assert out.count() > 0
    assert out.agg(F.sum("n")).first()[0] == 500 * (GRID.resolution + 1)
    assert cache_mgr.isEmpty(), "tile_pyramid left entries pinned in the CacheManager"
