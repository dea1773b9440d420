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
and one per-probe top-k aggregation over the rows with dist² <= _scap.  It
is exact because

* every target within sqrt(_scap) of the probe has a covering cell whose
  rect lies within that distance (the point of the target nearest the
  probe lies in one of its covering cells; the rect test is shrunk by a
  float-fuzz margin far above the ULP scale of the grid and of the probe,
  and far below cell scale unless the grid has a zero-extent axis, and
  edge cells, which also hold targets clipped in from outside the grid
  bbox, reach to infinity), so every target that can rank is evaluated,
  ties at the k-th distance included;
* the level targets that set ``_scap`` pass the bound check (same dist²
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

Every expression of the plan is Spark SQL text, handed to the JVM once per
projection (``selectExpr``/``F.expr``): composing ``Column`` trees costs
one py4j round trip per function and operator, which made planning, not
the Spark jobs, the bulk of an operation's wall.

dist² is evaluated once per candidate, in generated code HotSpot compiles.
HotSpot never JIT-compiles a method above 8,000 bytes of bytecode
(``DontCompileHugeMethods``), and a whole-stage-codegen stage's consume
path is one method, so the stage's text is kept small:

* a staged :class:`~locus_spark.functions.metrics.Metric` (segment to
  segment) is evaluated as ordered projections, its shared sub-expressions
  as named columns and then dist² over them (:func:`_with_dist2`).
  Spark's subexpression elimination does not enter a CASE branch, so
  inlined, the seg–seg dist² spelled each clamped ``t`` four times;
* phase 2's bound check is part of the aggregate's input, not a Filter:
  the optimizer pushes a Filter on dist² into the join's condition, which
  then evaluates dist² a second time.

Together they took phase 2's largest method for segments from 31,958
bytes to 6,277, and phase 1a's from 13,371 to 5,633.
"""

from __future__ import annotations

import logging
import math
import time
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from locus_spark.cells import GridSpec, sql_double
from locus_spark.functions.metrics import Metric
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

_HID = "xxhash64(`id`)"


def _names(cols) -> list[str]:
    return [f"`{c}`" for c in cols]


def probe_frame(
    probes: DataFrame,
    grid: GridSpec,
    min_x: str,
    max_x: str,
    min_y: str,
    max_y: str,
    payload: list[str],
) -> DataFrame:
    """Attach bbox + cell-range columns to a probe table; the bounds are
    SQL expressions over its columns.  For point probes pass the point for
    all four bounds."""
    return probes.selectExpr(
        "qid",
        *_names(payload),
        f"{min_x} AS _sx0",
        f"{max_x} AS _sx1",
        f"{min_y} AS _sy0",
        f"{max_y} AS _sy1",
        f"{grid.cell_x_sql(min_x)} AS _bcx0",
        f"{grid.cell_x_sql(max_x)} AS _bcx1",
        f"{grid.cell_y_sql(min_y)} AS _bcy0",
        f"{grid.cell_y_sql(max_y)} AS _bcy1",
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


def _per_level(vals: list[int], lv: str = "_lv") -> str:
    """``vals[lv - 1]``, by default for the row's level ``_lv`` (1 past the
    end)."""
    return f"element_at(array({', '.join(map(str, [*vals, 1]))}), {lv})"


def _level_key(cx: str, cy: str, levels: list[_Level], lv: str = "_lv") -> str:
    """Cell (cx, cy) of level ``lv``'s grid (default: the row's ``_lv``) as
    ONE long join key (see :func:`_disc_cells` for why a single long key):
    the cells of the levels before it, plus its row-major cell."""
    offs = [sum(lv_.nc * lv_.nc for lv_ in levels[:i]) for i in range(len(levels))]
    nc = _per_level([lv_.nc for lv_ in levels], lv)
    return f"CAST({_per_level(offs, lv)} + ({cx}) * {nc} + ({cy}) AS BIGINT)"


def _window_keys(
    probes: DataFrame, levels: list[_Level], shared: str | None = None
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
    windowed = f"_lv <= {len(levels)}"

    def span(c0: str, c1: str) -> str:
        lo = f"floor({c0} / {c})"
        width = f"(floor({c1} / {c}) - {lo} + 2 * {h} + 1)"
        start = f"greatest(0, least({lo} - {h}, {m} - {width}))"
        end = f"least({m} - 1, {start} + {width} - 1)"
        return (
            f"CASE WHEN {windowed} THEN sequence({start}, {end}) "
            "ELSE array(CAST(0 AS BIGINT)) END"
        )

    n_lv = len(levels) + (shared is not None)
    key = _level_key("_cx", "_cy", levels)
    if shared is not None:
        key = f"CASE WHEN {windowed} THEN {key} ELSE {shared} END"
    # a select holds one generator: one projection per explode
    return (
        probes.selectExpr("*", f"explode(sequence(1, {n_lv})) AS _lv")
        .selectExpr("*", f"explode({span('_bcx0', '_bcx1')}) AS _cx")
        .selectExpr("*", f"explode({span('_bcy0', '_bcy1')}) AS _cy")
        .selectExpr(*_names(probes.columns), f"{key} AS _jk")
    )


def _disc_cells(probes: DataFrame, grid: GridSpec, scale: float) -> DataFrame:
    """(probe, cell) pairs for every cell whose rect lies within
    sqrt(_scap) of the probe's bbox — the distributed form of the
    reference's branch-and-bound prune (its ``kd.py:368`` and
    ``r.py:592-606``): a bound on the k-th neighbor caps how far the search
    ever needs to look."""
    n = grid.n
    inf, neg_inf = sql_double(float("inf")), sql_double(float("-inf"))
    # the float-fuzz margin follows the larger of the grid's magnitude and
    # the probe's own (a probe far outside a small or zero-extent grid
    # rounds its reach at its own ULP scale), plus 1e-150 for gaps whose
    # square underflows to a dist² of 0
    mg = (
        f"({sql_double(1e-9)} * greatest({sql_double(scale)},"
        f" abs(_sx0), abs(_sx1), abs(_sy0), abs(_sy1)) + {sql_double(1e-150)})"
    )
    r = f"(sqrt(_scap) + {mg})"
    # a NaN reach (NaN coordinates, or inf - inf) spans the whole grid
    cx0 = grid.cell_x_sql(f"nanvl(_sx0 - {r}, {neg_inf})")
    cx1 = grid.cell_x_sql(f"nanvl(_sx1 + {r}, {inf})")
    cy0 = grid.cell_y_sql(f"nanvl(_sy0 - {r}, {neg_inf})")
    cy1 = grid.cell_y_sql(f"nanvl(_sy1 + {r}, {inf})")
    # squared coordinate distance from the probe bbox to the cell rect;
    # edge cells also hold the targets clipped into them from outside the
    # grid bbox, so their outer sides reach to infinity
    x0 = f"({sql_double(grid.min_x)} + _cx * {sql_double(grid.cell_w)})"
    y0 = f"({sql_double(grid.min_y)} + _cy * {sql_double(grid.cell_h)})"
    x1 = f"CASE WHEN _cx = {n - 1} THEN {inf} ELSE {x0} + {sql_double(grid.cell_w)} END"
    y1 = f"CASE WHEN _cy = {n - 1} THEN {inf} ELSE {y0} + {sql_double(grid.cell_h)} END"
    x0 = f"CASE WHEN _cx = 0 THEN {neg_inf} ELSE {x0} END"
    y0 = f"CASE WHEN _cy = 0 THEN {neg_inf} ELSE {y0} END"
    dx = f"greatest(0.0D, ({x0}) - _sx1, _sx0 - ({x1}))"
    dy = f"greatest(0.0D, ({y0}) - _sy1, _sy0 - ({y1}))"
    d2_cell = (
        f"(power(greatest(0.0D, {dx} - {mg}), 2)"
        f" + power(greatest(0.0D, {dy} - {mg}), 2))"
    )
    # a NaN gap (an infinite probe coordinate against an edge cell) cannot
    # prune.  (cx, cy) fuse into ONE long join key: a single-long equi-join
    # key gives the broadcast join a LongHashedRelation (dense,
    # allocation-free probes) instead of the composite-key BytesToBytesMap
    # relation, whose lookup path was measured to stop scaling with cores
    # entirely (570M-row candidate join at 128M targets: 13.6 s @2 cores ->
    # 12.6 s @8; the fused key: 5.0 s -> 1.4 s, at the host's own parallel
    # ceiling)
    return (
        probes.selectExpr("*", f"explode(sequence({cx0}, {cx1})) AS _cx")
        .selectExpr("*", f"explode(sequence({cy0}, {cy1})) AS _cy")
        .filter(f"isnan({d2_cell}) OR {d2_cell} <= _scap")
        .selectExpr(*_names(probes.columns), f"{grid.pack_sql('_cx', '_cy')} AS _jc")
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


def _with_dist2(frame: DataFrame, dist2: str | Metric, *keep: str) -> DataFrame:
    """``keep`` and ``dist2`` over a joined frame, each in a projection
    (whole-stage codegen), not inside the aggregate that reads it, which
    evaluates its inputs interpreted.  A staged metric's steps are
    projected first: the optimizer keeps a projection whose column the next
    one reads more than once, so each step is computed once per row."""
    if isinstance(dist2, Metric):
        frame = frame.selectExpr("*", *(f"{t} AS {n}" for n, t in dist2.steps))
        dist2 = dist2.expr
    return frame.selectExpr(*keep, f"{dist2} AS dist2")


def _build_side(frame: DataFrame, shuffle: bool) -> DataFrame:
    """Hint a (probe, cell) frame as the hash-join build side: broadcast,
    or — for frames too wide to broadcast — built per partition after a
    shuffle (a ShuffledHashJoin, not a sort-merge join)."""
    return frame.hint("shuffle_hash") if shuffle else F.broadcast(frame)


def _kth(k: int, d: str, distinct: bool) -> str:
    """The k-th smallest of a group's values ``d`` (null with fewer)."""
    d = f"sort_array(collect_list({d}))"
    if distinct:
        # a multi-cell target surfaces once per covering cell in the
        # windowed levels; distinct distances only raise the k-th
        d = f"array_distinct({d})"
    return f"get({d}, {k - 1})"


def _bound(
    targets: DataFrame,
    target_cells: DataFrame,
    probes: DataFrame,
    k: int,
    grid: GridSpec,
    dist2: str | Metric,
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
    tcols = _names(targets.columns)

    # ---- phase 1a: level 1 for every probe — one probe pass, one sampled
    # target pass, one hash join, one aggregation.  Plain double lists, not
    # row structs: a bound needs only the k-th distance.  The probe columns
    # rejoin through the one-row-per-probe bounds: carrying them through
    # this aggregate with first() doubled its executor time (4M targets,
    # 10k probes, local[4]: 35 s vs 17 s).
    sample1 = target_cells.filter(f"pmod({_HID}, {levels[0].rate}) = 0").selectExpr(
        *tcols, f"{grid.pack_sql('_cx', '_cy')} AS _jk"
    )
    caps1 = _with_dist2(
        _build_side(_window_keys(probes, levels[:1]), wide).join(sample1, ["_jk"]),
        dist2, "qid",
    ).groupBy("qid").agg(F.expr(f"{_kth(k, 'dist2', dedup)} AS _scap"))
    # materialized, and the bound probes counted by the same job: when it
    # bounds them all, phase 1b is not planned at all
    caps1, seen = materialize(caps1, [F.expr("count(_scap) AS bound")])
    unbound = n_probes - seen["bound"]
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
    def entry(lv: str, jk: str) -> str:
        return f"named_struct('_lv', {lv}, '_jk', CAST({jk} AS BIGINT))"

    entries = (
        f"CASE WHEN pmod({_HID}, {top_rate}) = 0 THEN transform("
        f"sequence({-salts}, -1), _s -> {entry(str(top), '_s')}) ELSE array() END"
    )
    if coarse:
        deepest = " + ".join(
            f"CASE WHEN pmod({_HID}, {lv.rate}) = 0 THEN 1 ELSE 0 END" for lv in coarse
        )
        c = _per_level([lv.coarse for lv in coarse], "_l")
        key = _level_key(f"floor(_cx / {c})", f"floor(_cy / {c})", coarse, "_l")
        entries = (
            f"concat(transform(sequence(1, {deepest}), _l -> {entry('_l', key)}), "
            f"{entries})"
        )
    sample2 = target_cells.filter(
        f"pmod({_HID}, {coarse[0].rate if coarse else top_rate}) = 0"
    ).selectExpr(*tcols, f"inline({entries})").unionByName(
        targets.orderBy(F.expr(_HID), "id").limit(k).selectExpr(
            *tcols,
            f"{top + 1} AS _lv",
            f"explode(sequence(CAST({-salts} AS BIGINT), CAST(-1 AS BIGINT))) AS _jk",
        )
    )
    shared = f"-1 - pmod(xxhash64(qid), {salts})"
    cand2 = _with_dist2(
        _build_side(_window_keys(bound1.filter("_scap IS NULL"), coarse, shared), wide)
        .join(sample2, ["_jk"]),
        dist2, "qid", "_lv",
    )
    # the k fixed targets are read one row per target; the sampled levels
    # may hold a multi-cell target once per covering cell
    kths = ", ".join(
        _kth(k, f"CASE WHEN _lv = {i} THEN dist2 END", dedup and i <= top)
        for i in range(1, top + 2)
    )
    caps2 = cand2.groupBy("qid").agg(F.expr(f"least({kths}) AS _scap2"))
    bounded = bound1.join(F.broadcast(caps2), "qid", "left").selectExpr(
        *_names(probes.columns), "coalesce(_scap, _scap2) AS _scap"
    )
    return bounded, unbound


def generic_knn_join(
    targets: DataFrame,
    target_cells: DataFrame,
    probes: DataFrame,
    k: int,
    grid: GridSpec,
    dist2: str | Metric,
    tie_desc_id: bool = False,
    dedup: bool = False,
) -> DataFrame:
    """Exact top-k join.

    ``targets``       — ``id`` + geometry payload columns, one row per target.
    ``target_cells``  — same rows with ``_cx``/``_cy`` (exploded covering
                        cells for multi-cell geometries).
    ``probes``        — output of :func:`probe_frame`.
    ``dist2``         — squared distance over the joined row, as Spark SQL
                        text or a staged :class:`Metric` (a
                        ``functions/metrics.py`` template).
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
    n_targets, n_probes = (
        targets.selectExpr("true AS _t")
        .unionByName(probes.selectExpr("false AS _t"))
        .selectExpr("count(CASE WHEN _t THEN 1 END)", "count(CASE WHEN NOT _t THEN 1 END)")
        .first()
    )
    if n_targets == 0:
        raise ValueError("knn: empty target input")

    probe_payload = [
        c for c in probes.columns if c not in PROBE_CELL_COLS + PROBE_BBOX_COLS
    ]
    out_cols = [*probe_payload, *targets.columns, "dist2"]

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

    tie = "DESC" if tie_desc_id else "ASC"
    if k >= n_targets:
        # O3 short-circuit (/root/reference/locus/kd.py:216-220 etc.)
        pairs = F.broadcast(probes.drop(*PROBE_CELL_COLS)).join(targets)
        record("cross", n_probes * n_targets, 0, 0)
        return _with_dist2(pairs, dist2, "*").selectExpr(
            *_names(out_cols),
            "CAST(row_number() OVER (PARTITION BY qid "
            f"ORDER BY dist2 ASC, `id` {tie}) AS BIGINT) AS rn",
        )

    scale = max(
        abs(grid.min_x), abs(grid.max_x), abs(grid.min_y), abs(grid.max_y),
        grid.cell_w * grid.n, grid.cell_h * grid.n,
    )
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
    # Per-probe top-k is a hash AGGREGATION (collect_list → array_sort →
    # slice), not a window: WindowExec sorts every partition's full row set
    # outside whole-stage codegen and was measured scaling only ~2.1x from 2
    # to 8 cores, while the object-hash aggregate with per-group sorts of
    # cap-bounded lists runs 1.7x faster at 8 cores and scales ~3.2x.  The
    # sort key is dist² asc, then the family tie order; desc-id families
    # sort ascending on ~id (bitwise complement): strictly order-reversing
    # over the whole long range, unlike -id which overflows at
    # Long.MIN_VALUE.
    payload = [c for c in out_cols if c not in ("qid", "dist2")]
    fields = ", ".join(f"'{c}', `{c}`" for c in payload)
    row = (
        f"named_struct('_d', dist2, '_t', {'~' if tie_desc_id else ''}`id`, "
        f"'_p', named_struct({fields}))"
    )
    # The bound check rides the aggregate's input (collect_list drops the
    # nulls) rather than a Filter: the optimizer pushes a Filter on dist2
    # into the join's condition, which inlines dist² there a second time.
    # Ties at equal dist2 still pass — id order can displace.  The row
    # structs are built in a projection (whole-stage codegen), not inside
    # the aggregate, which evaluates its inputs interpreted.
    cand = _build_side(_disc_cells(bounded, grid, scale), wide).join(
        target_cells.selectExpr("*", f"{grid.pack_sql('_cx', '_cy')} AS _jc"),
        ["_jc"],
    )
    top = (
        _with_dist2(cand, dist2, "*")
        .selectExpr("qid", f"CASE WHEN dist2 <= _scap THEN {row} END AS _s")
        .groupBy("qid")
        .agg(F.expr("array_sort(collect_list(_s)) AS _top"))
    )
    ranked = "_top"
    if dedup:
        # a multi-cell target surfaces once per covering cell with a
        # BIT-IDENTICAL struct (same geometry → same dist², same payload),
        # so its copies sit next to each other in the sorted list: dropping
        # each element equal to its predecessor before the k-truncation keeps
        # duplicates from eating top-k slots, in one linear pass
        # (array_distinct compares struct elements pairwise)
        ranked = "filter(_top, (_x, _i) -> _i = 0 OR _x != get(_top, _i - 1))"
    record("shuffle" if wide else "broadcast", rows, len(levels), unbound)
    return top.selectExpr(
        "qid", f"posexplode(slice({ranked}, 1, {k})) AS (_rn, _s)"
    ).selectExpr(
        "qid",
        *[f"_s._p.`{c}` AS `{c}`" for c in payload],
        "_s._d AS dist2",
        "CAST(_rn + 1 AS BIGINT) AS rn",
    )
