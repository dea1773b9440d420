"""Multi-round invariants of the generic kNN ring planner.

Pins the sampled-radius contract (a probe with a sampled radius settles in
round one; one without keeps the ring rounds) and two hazards the
plan-shape relies on:

* a multi-cell target that surfaces in DIFFERENT rounds via different
  covering cells must appear at most once per probe in the output — the
  round merge dedups with ``array_distinct`` over the full state struct,
  which silently emits duplicates instead of failing if any state column
  ever stops being bit-identical across a carried-state checkpoint
  round-trip (e.g. a future dist² expression referencing cell-derived or
  nondeterministic columns);
* ``tile_pyramid``'s level persists are scoped to the call — repeated
  invocations must not pin orphan entries in the CacheManager.
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

import locus_spark.plans.knn as knnplan
from locus_spark.cells import GridSpec
from locus_spark.operators.points import knn_join
from locus_spark.operators.segments import segment_knn_to_point_join

GRID = GridSpec(0.0, 0.0, 16.0, 16.0, 4)  # 16x16 cells, cell size 1.0

#: one long segment covering 16 cells of row y=8 (ids sort after the short
#: fillers so tie order never hides a duplicate), plus two short segments in
#: the far corner that only round 3's ring reaches.
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


def test_multicell_target_across_rounds_no_duplicates(spark, caplog):
    """Probe at (0.5, 0.5): round 1 rings [0,4] see nothing, round 2 [5,14]
    finds the long segment via 15 covering cells, round 3 [15,...] re-finds
    the SAME segment via cell (15, 8) while the probe is still unsettled
    (k=2, only 1 candidate so far) — the carried-state + fresh-candidate
    merge must collapse to one row per (qid, id)."""
    segs = spark.createDataFrame(SEGS, ["id", "x1", "y1", "x2", "y2"])
    probes = spark.createDataFrame([(1, 0.5, 0.5)], ["qid", "x", "y"])
    caplog.set_level(logging.DEBUG, logger="locus_spark.plans.knn")
    caplog.clear()
    out = segment_knn_to_point_join(segs, probes, k=2, grid=GRID).collect()
    rounds = [r.args for r in caplog.records if r.name == "locus_spark.plans.knn"]
    assert len(rounds) >= 3, (
        "fixture regression: the resurfacing scenario needs >= 3 rounds, got "
        f"{rounds}"
    )
    pairs = [(r.qid, r.id) for r in out]
    assert len(pairs) == len(set(pairs)), f"duplicate (qid,id) rows: {sorted(pairs)}"
    assert sorted(r.rn for r in out) == [1, 2]
    # exactness against brute force
    expect = sorted(
        ((_brute_point_seg_d2(0.5, 0.5, *s[1:]), s[0]) for s in SEGS)
    )[:2]
    got = sorted((r.dist2, r.id) for r in out)
    assert got == pytest.approx(expect)


def _radius_fixture():
    """Targets only in the lower-left [0, 9)² of GRID: a dense cluster over
    cells (3..5, 3..5) holding five identical points / segments (ids
    900..904, a tie straddling the k-th rank), plus a sparse spread.
    Probes: four in the cluster (one on the tie, so its k = 3 answer is
    the three smallest tied ids) and one isolated in the far corner cell,
    where no target lies within the sampled window — so it has no sampled
    radius and must take the ring rounds."""
    import numpy as np

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


def test_sampled_radius_settles_in_one_round(spark, monkeypatch, caplog):
    """With the sampled pass armed, every probe that got a sampled radius
    settles in round one (radius == 4 cluster probes, nothing else settles
    there through a radius later), while the isolated probe with fewer than
    k sampled candidates still needs later ring rounds — and both families
    (points; segments, which dedup multi-cell targets) equal brute force,
    duplicate-geometry ties included.  Without the pass the same fixture
    needs >= 2 rounds for every family."""
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

    def run(name):
        query, d2, targets = families[name]
        caplog.clear()
        out = query().collect()
        recs = [r.args for r in caplog.records if r.name == "locus_spark.plans.knn"]
        got = {}
        for r in out:
            got.setdefault(r.qid, []).append((r.rn, r.dist2, r.id))
        for qid, px, py in probes:
            want = sorted((d2(px, py, t), t[0]) for t in targets)[:k]
            rows = sorted(got[qid])
            assert [i for _, _, i in rows] == [i for _, i in want], (name, qid)
            assert [d for _, d, _ in rows] == pytest.approx([d for d, _ in want])
        return got, recs

    for name in families:
        plain, recs = run(name)
        assert len(recs) >= 2, f"fixture regression: {name} ring path {recs}"
        # the tie straddling rank k resolves to the smallest ids
        assert [i for *_, i in sorted(plain[0])] == [900, 901, 902]
    monkeypatch.setattr(knnplan, "SCAP_MIN_TARGETS", 1)
    monkeypatch.setattr(knnplan, "CAP_SAMPLE_RATE", 2)
    for name in families:
        _, recs = run(name)
        first, later = recs[0], recs[1:]
        assert first["scap"] and first["radius"] == 4, (name, recs)
        assert first["unsettled"] == 1, (name, recs)  # the isolated probe
        assert later and all(r["radius"] == 0 for r in later), (name, recs)
        assert recs[-1]["unsettled"] == 0


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
