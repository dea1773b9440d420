"""Generic exact kNN join in two phases, with no round loop — the one
planner behind every nearest/n-nearest family in the reference:

* kd points  (K1/K4: ``/root/reference/locus/kd.py:176-374``)
* R-tree boxes (R7/R9: ``/root/reference/locus/r.py:453-635``)
* segments to point / to segment (S1-S8: ``/root/reference/locus/segmental.py``)

The reference prunes with per-node lower bounds on a heap frontier
(``kd.py:368``, ``r.py:592-610``, ``_core/segmental.py:82-153``).  The
distributed analogue bounds every probe's k-th squared distance from above
ONCE, from samples, then answers every probe exactly inside that bound.

Phase 1 — a bound ``_scap`` for every probe, from nested target samples
(:func:`_levels`): level j keeps the targets with ``xxhash64(id) %
CAP_SAMPLE_RATE**j == 0`` on a grid coarsened level by level, and searches
a Chebyshev window sized to hold ~4k+8 of them at the mean density, so
each level's window holds about as many cells while covering a wider area.

1a. Every probe: the k-th smallest dist² over the level-1 sample in its
    window (null with fewer than k candidates) — one probe pass, one
    sampled target pass, one hash join, one aggregation, materialized (one
    job), so the driver counts the probes it left without a bound.  Dense
    probes, the bulk, stop here and carry no coarser rows.
1b. Planned only when that count is not zero, for those probes alone
    (sparse regions, edges, probes outside the grid): one pass over them
    and one hash join against every coarser level's window at once, plus
    two whole-grid sources behind one shared (salted) key — the sparsest
    level sample still expected to hold 4k+8 targets (all targets when
    none is), and exactly k fixed targets (the k smallest by
    ``(xxhash64(id), id)``).  ``_scap = least(...)`` of the per-level k-th
    values.

Why ``_scap`` is a valid upper bound on the probe's true k-th dist²: each
level is a set of targets, each counted once, and the k-th smallest over a
subset of the targets is >= the k-th smallest over all of them.  Multi-cell
families (boxes, segments) surface a target once per covering cell in the
windowed levels (once per fine cell inside a coarse one, too), so there a
level's distances are made distinct first, which only raises its k-th
value; the whole-grid sources read one row per target.  The k fixed
targets always hold k, so every probe gets a bound.  The minimum of upper
bounds is an upper bound.

Why the bound stays local: a probe bound at level j had fewer than k
level-(j-1) samples in its level-(j-1) window, and its level-j window
covers ~CAP_SAMPLE_RATE times that area, so its disc holds ~k ×
CAP_SAMPLE_RATE**j targets around it rather than a share of the whole
grid.  Only a probe whose widest window is empty — its region is most of
the grid — falls to the whole-grid sample, whose disc holds ~k/(sample
size) <= ~k/(4k+8) of all targets; the k fixed targets bind only when that
sample holds fewer than k (inputs of a few hundred targets, or a hash draw
that is vanishingly rare above that).

Phase 2 — the exact answer: for each probe every cell whose rect lies
within sqrt(_scap) of the probe's bbox, one hash join against the targets,
rows with dist² <= _scap, and one per-probe top-k aggregation.  It is
exact because

* every target within sqrt(_scap) of the probe has a covering cell whose
  rect lies within that distance (the point of the target nearest the
  probe lies in one of its covering cells; the rect test is shrunk by a
  float-fuzz margin far above ULP scale and far below cell scale, and
  edge cells, which also hold targets clipped in from outside the grid
  bbox, reach to infinity), so every target that can rank is evaluated,
  ties at the k-th distance included;
* the level targets that set ``_scap`` pass the row filter (same dist²
  expression over the same rows), so every probe keeps at least k rows.

Non-finite input: dist² orders NaN largest (Spark's order).  A probe whose
disc reach is NaN (NaN coordinates, or an infinite bound on an infinite
coordinate) searches the whole grid, and a cell gap that is NaN never
prunes.

Each operation emits ONE DEBUG record on this module's logger
(``locus_spark.plans.knn``).  Its args are a dict of driver-side values —
``join`` (phase 2's ``broadcast|shuffle``, or ``cross`` for the k >=
targets short-circuit), ``rows`` (the estimated phase-2 frame that picked
it, see :data:`ANN_BROADCAST_MAX_ROWS`), ``levels`` (windowed sample levels; 0 for ``cross``), ``unbound``
(probes that took phase 1b), ``targets``, ``probes`` and ``wall_s`` (wall
time to plan, including the eager count and level-1 jobs) — so reading it
costs no Spark job.
"""

from __future__ import annotations

import logging
import math
import time
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from locus_spark.cells import GridSpec
from locus_spark.session import materialize

_log = logging.getLogger(__name__)

#: window frames estimated wider than this many (probe, cell) rows are not
#: broadcast (sparse grids: many cells per probe, few candidates): that
#: phase then hash-joins them against the targets after a shuffle
#: (``shuffle_hash`` hint) instead.  Phase 1's estimate is probes × the
#: level-1 window cells, from the one count job that also counts the
#: targets; it is also the order of the phase-2 frame of a probe level 1
#: bounds.  Phase 2 adds, per probe phase 1b bounded, the fine cells of
#: the deepest level's window.
ANN_BROADCAST_MAX_ROWS = 4_000_000

#: level-1 sample rate (level j samples at its j-th power): level 1 keeps
#: the targets with ``xxhash64(id) % CAP_SAMPLE_RATE == 0``, in a window
#: sized for 1/CAP_SAMPLE_RATE of the density, so it expects as many
#: sampled candidates as a full-density window of ~4k+8 targets.  Why a
#: sample: an exact per-cell occupancy histogram + volume job was measured
#: at 128M rows to cost more than the pruning saves, and a mean-density
#: estimate under-counted skewed probes by 200x.
CAP_SAMPLE_RATE = 16

#: probe-side internal columns: cell-range of the probe geometry's bbox and
#: the bbox itself in coordinates.
PROBE_CELL_COLS = ("_bcx0", "_bcx1", "_bcy0", "_bcy1")
PROBE_BBOX_COLS = ("_sx0", "_sx1", "_sy0", "_sy1")


def probe_frame(
    probes: DataFrame,
    grid: GridSpec,
    min_x: Column,
    max_x: Column,
    min_y: Column,
    max_y: Column,
    payload: list[str],
) -> DataFrame:
    """Attach bbox + cell-range columns to a probe table.  For point probes
    pass the point for all four bounds."""
    return probes.select(
        "qid",
        *payload,
        min_x.alias("_sx0"),
        max_x.alias("_sx1"),
        min_y.alias("_sy0"),
        max_y.alias("_sy1"),
        grid.cell_x_col(min_x).alias("_bcx0"),
        grid.cell_x_col(max_x).alias("_bcx1"),
        grid.cell_y_col(min_y).alias("_bcy0"),
        grid.cell_y_col(max_y).alias("_bcy1"),
    )


class _Level(NamedTuple):
    rate: int  # keeps the targets with xxhash64(id) % rate == 0
    coarse: int  # cells of the fine grid per cell side
    nc: int  # cells a side
    h: int  # window half-width, in the level's cells


def _levels(k: int, n_targets: int, n: int) -> list[_Level]:
    """The windowed sample levels: level j keeps the targets with
    ``xxhash64(id) % CAP_SAMPLE_RATE**j == 0`` (so each level is a subset
    of the one before), on a grid of ``coarse``-times coarser cells, in a
    window of half-width ``h`` sized (:func:`_half_width`) to hold ~4k+8 of
    them at the mean density.  The coarsening keeps that window at about as
    many cells on every level, while the area it covers grows level by
    level.  Levels stop at the first whose window spans its grid, or whose
    next level would sample fewer than 4k+8 targets in all."""
    rate = CAP_SAMPLE_RATE
    step = max(2, math.isqrt(rate))
    out = []
    r, c = rate, 1
    while True:
        nc = (n - 1) // c + 1
        h = _half_width(k, n_targets / float(nc * nc * r), nc)
        out.append(_Level(r, c, nc, h))
        if 2 * h + 1 >= nc or n_targets < (4 * k + 8) * r * rate:
            return out
        r, c = r * rate, c * step


def _per_level(vals: list[int], lv: Column | None = None) -> Column:
    """``vals[lv - 1]``, by default for the row's level ``_lv`` (1 past the
    end)."""
    lv = F.col("_lv") if lv is None else lv
    return F.element_at(F.array(*[F.lit(v) for v in [*vals, 1]]), lv)


def _level_key(
    cx: Column, cy: Column, levels: list[_Level], lv: Column | None = None
) -> Column:
    """Cell (cx, cy) of level ``lv``'s grid (default: the row's ``_lv``) as
    ONE long join key (see :func:`_disc_cells` for why a single long key):
    the cells of the levels before it, plus its row-major cell."""
    offs = [sum(lv_.nc * lv_.nc for lv_ in levels[:i]) for i in range(len(levels))]
    nc = _per_level([lv_.nc for lv_ in levels], lv)
    return (_per_level(offs, lv) + cx * nc + cy).cast("long")


def _window_keys(
    probes: DataFrame, levels: list[_Level], shared: Column | None = None
) -> DataFrame:
    """A (probe, ``_jk``) frame from ONE pass over the probes: the probe's
    window cells on every level of ``levels``, keyed by
    :func:`_level_key`, and, when ``shared`` is given, one more row keyed
    by it.  A window is the probe's cell-rectangle on the level's grid
    widened by ``h`` each way, slid back inside the grid where it would
    cross an edge, so that a probe near an edge (or outside the grid) keeps
    as many cells."""
    c = _per_level([lv.coarse for lv in levels])
    m = _per_level([lv.nc for lv in levels])
    h = _per_level([lv.h for lv in levels])
    windowed = F.col("_lv") <= len(levels)

    def span(c0: str, c1: str) -> Column:
        lo = F.floor(F.col(c0) / c)
        width = F.floor(F.col(c1) / c) - lo + 2 * h + 1
        start = F.greatest(F.lit(0), F.least(lo - h, m - width))
        end = F.least(m - 1, start + width - 1)
        return F.when(windowed, F.sequence(start, end)).otherwise(
            F.array(F.lit(0).cast("long"))
        )

    n_lv = len(levels) + (shared is not None)
    cells = (
        probes.withColumn("_lv", F.explode(F.sequence(F.lit(1), F.lit(n_lv))))
        .withColumn("_cx", F.explode(span("_bcx0", "_bcx1")))
        .withColumn("_cy", F.explode(span("_bcy0", "_bcy1")))
    )
    key = _level_key(F.col("_cx"), F.col("_cy"), levels)
    if shared is not None:
        key = F.when(windowed, key).otherwise(shared)
    return cells.withColumn("_jk", key).drop("_lv", "_cx", "_cy")


def _disc_cells(probes: DataFrame, grid: GridSpec, margin: float) -> DataFrame:
    """(probe, cell) pairs for every cell whose rect lies within
    sqrt(_scap) of the probe's bbox — the distributed form of the
    reference's branch-and-bound prune (its ``kd.py:368`` and
    ``r.py:592-606``): a bound on the k-th neighbor caps how far the search
    ever needs to look."""
    n = grid.n
    inf = float("inf")
    r = F.sqrt(F.col("_scap")) + F.lit(margin)

    # a NaN reach (NaN coordinates, or inf - inf) spans the whole grid
    def reach(c: Column, edge: float) -> Column:
        return F.nanvl(c, F.lit(edge))

    cx0 = grid.cell_x_col(reach(F.col("_sx0") - r, -inf))
    cx1 = grid.cell_x_col(reach(F.col("_sx1") + r, inf))
    cy0 = grid.cell_y_col(reach(F.col("_sy0") - r, -inf))
    cy1 = grid.cell_y_col(reach(F.col("_sy1") + r, inf))
    out = (
        probes.withColumn("_cx", F.explode(F.sequence(cx0, cx1)))
        .withColumn("_cy", F.explode(F.sequence(cy0, cy1)))
    )
    # squared coordinate distance from the probe bbox to the cell rect;
    # edge cells also hold the targets clipped into them from outside the
    # grid bbox, so their outer sides reach to infinity
    big = F.lit(inf)
    cell_x0 = F.lit(grid.min_x) + F.col("_cx") * F.lit(grid.cell_w)
    cell_y0 = F.lit(grid.min_y) + F.col("_cy") * F.lit(grid.cell_h)
    cell_x1 = F.when(F.col("_cx") == n - 1, big).otherwise(cell_x0 + F.lit(grid.cell_w))
    cell_y1 = F.when(F.col("_cy") == n - 1, big).otherwise(cell_y0 + F.lit(grid.cell_h))
    cell_x0 = F.when(F.col("_cx") == 0, -big).otherwise(cell_x0)
    cell_y0 = F.when(F.col("_cy") == 0, -big).otherwise(cell_y0)
    dx = F.greatest(F.lit(0.0), cell_x0 - F.col("_sx1"), F.col("_sx0") - cell_x1)
    dy = F.greatest(F.lit(0.0), cell_y0 - F.col("_sy1"), F.col("_sy0") - cell_y1)
    d2_cell = (F.greatest(F.lit(0.0), dx - F.lit(margin)) ** 2
               + F.greatest(F.lit(0.0), dy - F.lit(margin)) ** 2)
    # a NaN gap (an infinite probe coordinate against an edge cell) cannot
    # prune
    out = out.filter(F.isnan(d2_cell) | (d2_cell <= F.col("_scap")))
    # fuse (cx, cy) into ONE long join key: a single-long equi-join key gives
    # the broadcast join a LongHashedRelation (dense, allocation-free probes)
    # instead of the composite-key BytesToBytesMap relation, whose lookup
    # path was measured to stop scaling with cores entirely (570M-row
    # candidate join at 128M targets: 13.6 s @2 cores -> 12.6 s @8; the
    # fused key: 5.0 s -> 1.4 s, at the host's own parallel ceiling)
    return out.withColumn("_jc", grid.pack(F.col("_cx"), F.col("_cy"))).drop(
        "_cx", "_cy"
    )


def _half_width(k: int, density: float, n: int) -> int:
    """Chebyshev half-width of a window expected to hold ~4k+8 targets at
    ``density`` targets per cell, clamped to [0, max(1, n//4)].  When the
    probe's own cell already holds that many (dense targets) the window
    stays the probe's own cells — widening it would multiply candidate work
    for no tighter bound (128M rows at resolution 10, k=5: ~122
    targets/cell -> 0)."""
    h = int(math.ceil((math.sqrt((4.0 * k + 8.0) / max(density, 1e-12)) - 1.0) / 2.0))
    return max(0, min(h, max(1, n // 4)))


def _build_side(frame: DataFrame, shuffle: bool) -> DataFrame:
    """Hint a (probe, cell) frame as the hash-join build side: broadcast,
    or — for frames too wide to broadcast — built per partition after a
    shuffle (a ShuffledHashJoin, not a sort-merge join)."""
    return frame.hint("shuffle_hash") if shuffle else F.broadcast(frame)


def _bound(
    targets: DataFrame,
    target_cells: DataFrame,
    probes: DataFrame,
    k: int,
    grid: GridSpec,
    dist2: Column,
    dedup: bool,
    levels: list[_Level],
    n_targets: int,
    n_probes: int,
    wide: bool,
) -> tuple[DataFrame, int]:
    """Phase 1 over ``levels`` (:func:`_levels`): ``probes`` with
    ``_scap``, a valid upper bound on each probe's k-th dist² (see the
    module docstring), and the number of probes that took phase 1b.  Runs
    the level-1 pass; the rest stays lazy."""
    hid = F.xxhash64(F.col("id"))

    def kth(d: Column, distinct: bool) -> Column:
        d = F.sort_array(F.collect_list(d))
        if distinct:
            # a multi-cell target surfaces once per covering cell in the
            # windowed levels; distinct distances only raise the k-th
            d = F.array_distinct(d)
        return F.get(d, k - 1)

    # ---- phase 1a: level 1 for every probe — one probe pass, one sampled
    # target pass, one hash join, one aggregation.  Plain double lists, not
    # row structs: a bound needs only the k-th distance.  The probe columns
    # rejoin through the one-row-per-probe bounds: carrying them through
    # this aggregate with first() doubled its executor time (4M targets,
    # 10k probes, local[4]: 35 s vs 17 s).
    sample1 = target_cells.filter(F.pmod(hid, F.lit(levels[0].rate)) == 0).select(
        *targets.columns, grid.pack(F.col("_cx"), F.col("_cy")).alias("_jk")
    )
    caps1 = (
        _build_side(_window_keys(probes, levels[:1]), wide)
        .join(sample1, ["_jk"])
        # dist² in a projection (whole-stage codegen), not inside the
        # aggregate, which evaluates its inputs interpreted
        .select("qid", dist2.alias("dist2"))
        .groupBy("qid")
        .agg(kth(F.col("dist2"), dedup).alias("_scap"))
    )
    # materialized, so the driver can count the probes it bounds: when it
    # bounds them all, phase 1b is not planned at all
    caps1 = materialize(caps1)
    unbound = n_probes - caps1.filter(F.col("_scap").isNotNull()).count()
    if unbound == 0:
        return probes.join(F.broadcast(caps1), "qid"), 0
    bound1 = probes.join(F.broadcast(caps1), "qid", "left")

    # ---- phase 1b: only the probes level 1 left without a bound (fewer
    # than k sampled candidates in the window: sparse regions, edges), one
    # pass over them and one join, against every coarser level, a
    # whole-grid sample and k fixed targets.  The last two share one join
    # key, salted on the shuffled path so that no single task takes every
    # such probe.
    coarse = levels[1:]
    top = len(coarse) + 1
    top_rate = max(
        [lv.rate for lv in levels if n_targets >= (4 * k + 8) * lv.rate] or [1]
    )
    salts = (
        int(probes.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        if wide else 1
    )
    # ONE pass over the sampled target cells (when there are coarse levels,
    # the top sample is the deepest one): each row once per coarse level it
    # belongs to (the levels nest), and once per salt on the top level
    def entry(lv: Column, jk: Column) -> Column:
        return F.struct(lv.alias("lv"), jk.cast("long").alias("jk"))

    entries = F.when(
        F.pmod(hid, F.lit(top_rate)) == 0,
        F.transform(
            F.sequence(F.lit(-salts), F.lit(-1)), lambda s: entry(F.lit(top), s)
        ),
    ).otherwise(F.array())
    if coarse:
        deepest = sum(
            F.when(F.pmod(hid, F.lit(lv.rate)) == 0, 1).otherwise(0) for lv in coarse
        )
        c = [lv.coarse for lv in coarse]

        def coarse_entry(lv: Column) -> Column:
            cx = F.floor(F.col("_cx") / _per_level(c, lv))
            cy = F.floor(F.col("_cy") / _per_level(c, lv))
            return entry(lv, _level_key(cx, cy, coarse, lv))

        entries = F.concat(
            F.transform(F.sequence(F.lit(1), deepest), coarse_entry), entries
        )
    sample2 = target_cells.filter(
        F.pmod(hid, F.lit(coarse[0].rate if coarse else top_rate)) == 0
    ).select(*targets.columns, F.explode(entries).alias("_e")).select(
        *targets.columns, F.col("_e.lv").alias("_lv"), F.col("_e.jk").alias("_jk")
    ).unionByName(targets.orderBy(hid, F.col("id")).limit(k).select(
        *targets.columns,
        F.lit(top + 1).alias("_lv"),
        F.explode(F.sequence(
            F.lit(-salts).cast("long"), F.lit(-1).cast("long")
        )).alias("_jk"),
    ))
    shared = F.lit(-1) - F.pmod(F.xxhash64(F.col("qid")), F.lit(salts))
    cand2 = (
        _build_side(
            _window_keys(bound1.filter(F.col("_scap").isNull()), coarse, shared),
            wide,
        )
        .join(sample2, ["_jk"])
        .select("qid", "_lv", dist2.alias("dist2"))
    )
    # the k fixed targets are read one row per target; the sampled levels
    # may hold a multi-cell target once per covering cell
    caps2 = cand2.groupBy("qid").agg(F.least(*[
        kth(F.when(F.col("_lv") == i, F.col("dist2")), dedup and i <= top)
        for i in range(1, top + 2)
    ]).alias("_scap2"))
    bounded = bound1.join(F.broadcast(caps2), "qid", "left").select(
        *probes.columns,
        F.coalesce(F.col("_scap"), F.col("_scap2")).alias("_scap"),
    )
    return bounded, unbound


def generic_knn_join(
    targets: DataFrame,
    target_cells: DataFrame,
    probes: DataFrame,
    k: int,
    grid: GridSpec,
    dist2: Column,
    tie_desc_id: bool = False,
    dedup: bool = False,
) -> DataFrame:
    """Exact top-k join.

    ``targets``       — ``id`` + geometry payload columns, one row per target.
    ``target_cells``  — same rows with ``_cx``/``_cy`` (exploded covering
                        cells for multi-cell geometries).
    ``probes``        — output of :func:`probe_frame`.
    ``dist2``         — squared-distance Column over the joined row.
    ``tie_desc_id``   — R-tree family breaks distance ties by *largest* id
                        (``/root/reference/locus/r.py:599-606``); kd and
                        segmental by smallest.
    ``dedup``         — targets may cover several cells (boxes, segments).

    Returns probe payload + target payload + ``dist2`` + ``rn`` (long).
    """
    if k < 1:
        raise ValueError("knn: k must be >= 1")
    t0 = time.monotonic()
    # the first eager job: sizes the sample windows and the frame estimate
    # that picks the join strategy
    counts = (
        targets.select(F.lit(True).alias("_t"))
        .unionByName(probes.select(F.lit(False).alias("_t")))
        .agg(F.count(F.when(F.col("_t"), 1)), F.count(F.when(~F.col("_t"), 1)))
        .first()
    )
    n_targets, n_probes = counts[0], counts[1]
    if n_targets == 0:
        raise ValueError("knn: empty target input")

    probe_payload = [
        c for c in probes.columns if c not in PROBE_CELL_COLS + PROBE_BBOX_COLS
    ]
    target_payload = targets.columns
    out_cols = [*probe_payload, *target_payload, "dist2"]

    def record(join: str, rows: int, levels: int, unbound: int) -> None:
        _log.debug(
            "knn join=%(join)s rows=%(rows)d levels=%(levels)d "
            "unbound=%(unbound)d targets=%(targets)d probes=%(probes)d "
            "wall_s=%(wall_s).3f",
            {
                "join": join,
                "rows": rows,
                "levels": levels,
                "unbound": unbound,
                "targets": n_targets,
                "probes": n_probes,
                "wall_s": time.monotonic() - t0,
            },
        )

    if k >= n_targets:
        # O3 short-circuit (/root/reference/locus/kd.py:216-220 etc.)
        tie = F.col("id").desc() if tie_desc_id else F.col("id").asc()
        w = Window.partitionBy("qid").orderBy(F.col("dist2").asc(), tie)
        pairs = F.broadcast(probes.drop(*PROBE_CELL_COLS)).join(targets)
        record("cross", n_probes * n_targets, 0, 0)
        return (
            pairs.withColumn("dist2", dist2)
            .select(*out_cols, F.row_number().over(w).cast("long").alias("rn"))
        )

    scale = max(
        abs(grid.min_x), abs(grid.max_x), abs(grid.min_y), abs(grid.max_y),
        grid.cell_w * grid.n, grid.cell_h * grid.n,
    )
    margin = 1e-9 * scale
    levels = _levels(k, n_targets, grid.n)
    rows = n_probes * (2 * levels[0].h + 1) ** 2
    wide = rows > ANN_BROADCAST_MAX_ROWS
    bounded, unbound = _bound(
        targets, target_cells, probes, k, grid, dist2, dedup, levels, n_targets,
        n_probes, wide,
    )
    # a probe phase 1b bounded searches a disc up to its deepest window
    deep = levels[-1]
    rows += unbound * min(grid.n, (2 * deep.h + 1) * deep.coarse) ** 2
    wide = rows > ANN_BROADCAST_MAX_ROWS

    # ---- phase 2: one join over each probe's disc, one top-k aggregation
    cand = (
        _build_side(_disc_cells(bounded, grid, margin), wide)
        .join(
            target_cells.withColumn("_jc", grid.pack(F.col("_cx"), F.col("_cy"))),
            ["_jc"],
        )
        .withColumn("dist2", dist2)
        # ties at equal dist2 still pass — id order can displace
        .filter(F.col("dist2") <= F.col("_scap"))
    )
    # Per-probe top-k is a hash AGGREGATION (collect_list → array_sort →
    # slice), not a window: WindowExec sorts every partition's full row set
    # outside whole-stage codegen and was measured scaling only ~2.1x from 2
    # to 8 cores, while the object-hash aggregate with per-group sorts of
    # cap-bounded lists runs 1.7x faster at 8 cores and scales ~3.2x.  The
    # sort key is dist² asc, then the family tie order; desc-id families
    # sort ascending on ~id (bitwise complement): strictly order-reversing
    # over the whole long range, unlike -id which overflows at
    # Long.MIN_VALUE.
    tie_key = F.bitwise_not(F.col("id")) if tie_desc_id else F.col("id")
    payload = [c for c in out_cols if c not in ("qid", "dist2")]
    # the row structs are built in a projection (whole-stage codegen), not
    # inside the aggregate, which evaluates its inputs interpreted
    top = cand.select("qid", F.struct(
        F.col("dist2").alias("_d"),
        tie_key.alias("_t"),
        F.struct(*payload).alias("_p"),
    ).alias("_s")).groupBy("qid").agg(
        F.array_sort(F.collect_list("_s")).alias("_top")
    )
    if dedup:
        # a multi-cell target surfaces once per covering cell with a
        # BIT-IDENTICAL struct (same geometry → same dist², same payload),
        # so its copies sit next to each other in the sorted list: dropping
        # each element equal to its predecessor before the k-truncation keeps
        # duplicates from eating top-k slots, in one linear pass
        # (array_distinct compares struct elements pairwise)
        top = top.withColumn("_top", F.filter(
            "_top",
            lambda x, i: (i == 0) | (x != F.get(F.col("_top"), i - 1)),
        ))
    record("shuffle" if wide else "broadcast", rows, len(levels), unbound)
    return (
        top.select("qid", F.posexplode(F.slice("_top", 1, k)).alias("_rn", "_s"))
        .select(
            "qid",
            *[F.col("_s._p")[c].alias(c) for c in payload],
            F.col("_s._d").alias("dist2"),
            (F.col("_rn") + 1).cast("long").alias("rn"),
        )
    )
