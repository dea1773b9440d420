"""Generic exact kNN join via cell-ring expansion — the one planner behind
every nearest/n-nearest family in the reference:

* kd points  (K1/K4: ``/root/reference/locus/kd.py:176-374``)
* R-tree boxes (R7/R9: ``/root/reference/locus/r.py:453-635``)
* segments to point / to segment (S1-S8: ``/root/reference/locus/segmental.py``)

The reference prunes with per-node lower bounds on a heap frontier
(``kd.py:368``, ``r.py:592-610``, ``_core/segmental.py:82-153``).  The
distributed analogue: join probes against targets in Chebyshev cell annuli of
geometrically growing width, maintain a per-probe running top-k, and settle a
probe once its k-th best squared distance is within the squared distance from
the probe's geometry to the nearest *uncovered* region.  Exactness holds
because (a) the exact dist² is evaluated on every candidate and (b) the
settle bound is conservative (shrunk by a float-fuzz margin far above ULP
scale, far below cell scale).

Every round is one distributed hash join (probe annuli are tiny relative to
targets and are broadcast; frames too wide for that are shuffled instead) +
one per-probe top-k aggregation; the driver loop only synchronizes rounds —
ring counts stay O(log gridsize) thanks to geometric annulus growth, so the
pattern holds at 1000-executor scale where each round is a full-cluster job.

Targets that span multiple cells (boxes, segments) may surface in several
annuli; rounds therefore dedup on (qid, id) before the top-k cut.

Sampled radius (from SCAP_MIN_TARGETS targets on).  Before the ring loop,
ONE pass over a deterministic 1/CAP_SAMPLE_RATE target sample gives each
probe ``_scap``: the k-th smallest sampled dist² inside a window sized for
the sample's density.  Round one then searches a radius probe (non-null
``_scap``) exactly: every cell whose rect distance to the probe bbox is
<= sqrt(_scap), rows with dist² <= _scap.  Such a probe settles in round
one by construction:

* the true k-th dist² <= _scap — the k-th smallest over a subset of the
  targets is >= the k-th smallest over all of them (for multi-cell
  families the sampled distances are made distinct first, which only
  raises the k-th value);
* every target within sqrt(_scap) of the probe has a covering cell whose
  rect lies within that distance (the point of the target nearest the
  probe lies in one of its covering cells; the rect test is shrunk by the
  float-fuzz margin, and edge cells, which also hold clipped targets
  outside the grid bbox, reach to infinity), so round one evaluates every
  target that can rank, ties at the k-th distance included.

Probes with fewer than k sampled candidates (null ``_scap``) take the
ring path: ``[0, hi0]`` in round one, then geometric growth under the
carried ``_cap``.

Each round emits one DEBUG record on this module's logger
(``locus_spark.plans.knn``).  Its args are a dict of driver-side values —
``round, lo, hi`` (the ring searched by probes without a sampled radius;
in round one ``[0, hi0]``, while radius probes search their own disc),
``join`` (``broadcast|shuffle``), ``scap`` (the up-front sampled pass
ran), ``radius`` (probes the round settled through a sampled radius),
``unsettled`` (probes left after the round) and ``wall_s`` — so reading
it costs no Spark job.
"""

from __future__ import annotations

import logging
import math
import time

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from locus_spark.cells import GridSpec
from locus_spark.session import materialize

_log = logging.getLogger(__name__)

#: target-count threshold between the two materialization policies.  Below
#: it the exploded target side is persisted across rounds.  At or above it
#: targets are re-scanned each round instead (why: see `persist_targets` in
#: generic_knn_join), and the probe frame is checkpointed and counted once up
#: front, so round one's annulus frame size is known before the round's join
#: strategy is picked.
LOCAL_TOPK_MIN_TARGETS = 2_000_000

#: annulus frames estimated wider than this many (probe, cell) rows are not
#: broadcast (sparse grids: many cells per probe, few candidates): the same
#: round evaluator then hash-joins them against the targets after a shuffle
#: (``shuffle_hash`` hint) instead.  The estimate is unsettled probes × ring
#: cells, known from round two on, or from round one when probes are counted
#: up front (LOCAL_TOPK_MIN_TARGETS).  With the sampled pass, round one's
#: ring is the sample window, which also sizes the pass's own frame.
#: Everything else about the round — the fused ``_jc`` key, ``_cap``/
#: ``_scap`` row pruning, dedup, sentinels and settling — is shared by both
#: join strategies.
ANN_BROADCAST_MAX_ROWS = 4_000_000

#: sampled radius: the up-front pass derives each probe's ``_scap`` from
#: the targets with ``xxhash64(id) % CAP_SAMPLE_RATE == 0``, in a window
#: sized by the round-one density formula at 1/CAP_SAMPLE_RATE of the
#: density (so it expects as many sampled candidates as round one expects
#: real ones).  ``_scap`` bounds the true k-th dist² from above, so it both
#: sizes the probe's exact round-one window and row-prunes it: a radius
#: probe settles in round one and its aggregation sees ~CAP_SAMPLE_RATE*k
#: rows whatever the cell density (see the module docstring).  Why a
#: sample: an exact per-cell occupancy histogram + volume job was measured
#: at 128M rows to cost more than the pruning saves, and a mean-density
#: estimate under-counted skewed probes by 200x.
CAP_SAMPLE_RATE = 16

#: run the sampled pass from this target count on: at sf0.1 (~600k
#: segments, 1000 probe segments, one 3x3-ish ring) the unpruned
#: collect_list aggregation ingests the full candidate volume and its walls
#: turn ERRATIC under memory pressure — measured min-of-reps 6.0 s but
#: 15.4 s on 2 of 4 warm reps, vs a flat 5.4 s with sampled pruning.  Below
#: this count the sampled pass is pure overhead (and toy-scale tests pin
#: the plain-broadcast plan), so every probe takes the ring path.
SCAP_MIN_TARGETS = 100_000

#: runaway backstop: annulus widths double every round, so the ring covers
#: any grid long before this; hitting it raises instead of returning a
#: partial answer.
MAX_ROUNDS = 64

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


def _annulus_cells(
    probes: DataFrame, grid: GridSpec, lo: int, hi: int, margin: float = 0.0
) -> DataFrame:
    """(probe, cell) pairs for cells whose Chebyshev distance to the probe's
    cell-rectangle lies in [lo, hi], clipped to the grid.  A probe row with
    a non-null ``_scap`` (sampled radius, round one only) instead gets every
    cell whose rect lies within sqrt(_scap) of its bbox.

    When the probe row carries a ``_cap`` column (the running k-th-best
    squared distance from earlier rounds) or a ``_scap`` (its sampled
    upper bound), cells whose squared distance to the probe's bbox exceeds
    that bound are pruned — the distributed form of
    the reference's branch-and-bound bound (``/root/reference/locus/kd.py:368``,
    ``r.py:592-606``): an already-found k-th neighbor caps how far the search
    ever needs to look, which keeps fringe probes from dragging whole dense
    cells through later rounds."""
    n = grid.n
    cx0 = F.greatest(F.lit(0), F.col("_bcx0") - F.lit(hi))
    cx1 = F.least(F.lit(n - 1), F.col("_bcx1") + F.lit(hi))
    cy0 = F.greatest(F.lit(0), F.col("_bcy0") - F.lit(hi))
    cy1 = F.least(F.lit(n - 1), F.col("_bcy1") + F.lit(hi))
    if "_scap" in probes.columns:
        has_r = F.col("_scap").isNotNull()
        r = F.sqrt(F.col("_scap")) + F.lit(margin)
        cx0 = F.when(has_r, grid.cell_x_col(F.col("_sx0") - r)).otherwise(cx0)
        cx1 = F.when(has_r, grid.cell_x_col(F.col("_sx1") + r)).otherwise(cx1)
        cy0 = F.when(has_r, grid.cell_y_col(F.col("_sy0") - r)).otherwise(cy0)
        cy1 = F.when(has_r, grid.cell_y_col(F.col("_sy1") + r)).otherwise(cy1)
    out = (
        probes.withColumn("_cx", F.explode(F.sequence(cx0, cx1)))
        .withColumn("_cy", F.explode(F.sequence(cy0, cy1)))
    )
    if lo > 0:
        dist_rect = F.greatest(
            F.greatest(F.col("_bcx0") - F.col("_cx"), F.col("_cx") - F.col("_bcx1"), F.lit(0)),
            F.greatest(F.col("_bcy0") - F.col("_cy"), F.col("_cy") - F.col("_bcy1"), F.lit(0)),
        )
        out = out.filter(dist_rect >= F.lit(lo))
    cap = _cap_col(probes)
    if cap is not None:
        # squared coordinate distance from the probe bbox to the cell rect;
        # edge cells also hold the targets clipped into them from outside
        # the grid bbox, so their outer sides reach to infinity
        inf = F.lit(float("inf"))
        cell_x0 = F.lit(grid.min_x) + F.col("_cx") * F.lit(grid.cell_w)
        cell_y0 = F.lit(grid.min_y) + F.col("_cy") * F.lit(grid.cell_h)
        cell_x1 = F.when(F.col("_cx") == n - 1, inf).otherwise(cell_x0 + F.lit(grid.cell_w))
        cell_y1 = F.when(F.col("_cy") == n - 1, inf).otherwise(cell_y0 + F.lit(grid.cell_h))
        cell_x0 = F.when(F.col("_cx") == 0, -inf).otherwise(cell_x0)
        cell_y0 = F.when(F.col("_cy") == 0, -inf).otherwise(cell_y0)
        dx = F.greatest(F.lit(0.0), cell_x0 - F.col("_sx1"), F.col("_sx0") - cell_x1)
        dy = F.greatest(F.lit(0.0), cell_y0 - F.col("_sy1"), F.col("_sy0") - cell_y1)
        d2_cell = (F.greatest(F.lit(0.0), dx - F.lit(margin)) ** 2
                   + F.greatest(F.lit(0.0), dy - F.lit(margin)) ** 2)
        out = out.filter(cap.isNull() | (d2_cell <= cap))
    # fuse (cx, cy) into ONE long join key: a single-long equi-join key gives
    # the broadcast join a LongHashedRelation (dense, allocation-free probes)
    # instead of the composite-key BytesToBytesMap relation, whose lookup
    # path was measured to stop scaling with cores entirely (570M-row
    # candidate join at 128M targets: 13.6 s @2 cores -> 12.6 s @8; the
    # fused key: 5.0 s -> 1.4 s, at the host's own parallel ceiling)
    return out.withColumn("_jc", grid.pack(F.col("_cx"), F.col("_cy"))).drop(
        "_cx", "_cy"
    )


def _cap_col(frame: DataFrame) -> Column | None:
    """The probe's upper bound on its k-th dist²: the carried ``_cap`` or the
    sampled radius ``_scap`` (a probe never has both), None when the frame
    carries neither column."""
    caps = [F.col(c) for c in ("_cap", "_scap") if c in frame.columns]
    return F.coalesce(*caps) if caps else None


def _first_ring(k: int, density: float, n: int) -> int:
    """Chebyshev half-width of a first window expected to hold ~4k+8
    targets at ``density`` targets per cell, clamped to [0, max(1, n//4)].

    It sizes round one so the typical probe settles there — every extra
    round costs a fixed number of Spark jobs, which dominates wall time
    when the data per round is small.  When the probe's own cell already
    holds that many (dense targets) the window stays a single ring —
    widening it would multiply candidate work for no round saved (128M
    rows at resolution 10, k=5: ~122 targets/cell -> 0).  Sparse regions
    still expand geometrically afterwards."""
    h = int(math.ceil((math.sqrt((4.0 * k + 8.0) / max(density, 1e-12)) - 1.0) / 2.0))
    return max(0, min(h, max(1, n // 4)))


def _build_side(ann: DataFrame, shuffle: bool) -> DataFrame:
    """Hint a round's (probe, annulus-cell) frame as the hash-join build
    side: broadcast, or — for frames too wide to broadcast — built per
    partition after a shuffle (a ShuffledHashJoin, not a sort-merge join)."""
    return ann.hint("shuffle_hash") if shuffle else F.broadcast(ann)


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

    ``targets``       — ``id`` + geometry payload columns.
    ``target_cells``  — same rows with ``_cx``/``_cy`` (exploded covering
                        cells for multi-cell geometries).
    ``probes``        — output of :func:`probe_frame`.
    ``dist2``         — squared-distance Column over the joined row.
    ``tie_desc_id``   — R-tree family breaks distance ties by *largest* id
                        (``/root/reference/locus/r.py:599-606``); kd and
                        segmental by smallest.

    Returns probe payload + target payload + ``dist2`` + ``rn`` (long).
    """
    if k < 1:
        raise ValueError("knn: k must be >= 1")
    n_targets = targets.count()
    if n_targets == 0:
        raise ValueError("knn: empty target input")

    tie = F.col("id").desc() if tie_desc_id else F.col("id").asc()
    w = Window.partitionBy("qid").orderBy(F.col("dist2").asc(), tie)
    probe_payload = [c for c in probes.columns if c not in PROBE_CELL_COLS]
    target_payload = targets.columns
    out_cols = [*probe_payload, *target_payload, "dist2"]
    out_cols = [c for c in out_cols if c not in PROBE_BBOX_COLS]

    if k >= n_targets:
        # O3 short-circuit (/root/reference/locus/kd.py:216-220 etc.)
        pairs = F.broadcast(probes.drop(*PROBE_CELL_COLS)).join(targets)
        return (
            pairs.withColumn("dist2", dist2)
            .select(*out_cols, F.row_number().over(w).cast("long").alias("rn"))
        )

    scale = max(
        abs(grid.min_x), abs(grid.max_x), abs(grid.min_y), abs(grid.max_y),
        grid.cell_w * grid.n, grid.cell_h * grid.n,
    )
    margin = 1e-9 * scale

    density = n_targets / float(grid.n * grid.n)
    hi0 = _first_ring(k, density, grid.n)

    # Incremental re-rank: only UNSETTLED probes' rows flow through the
    # per-round dedup/window/stats path.  A probe's top-k is final the round
    # it settles — its rows move to `done` and are never re-ranked again
    # (the r2 plan re-windowed every probe's accumulated rows every round).
    #
    # `target_cells` is persisted across rounds ONLY below the large-scale
    # threshold: every family's target lineage is a narrow scan + Column
    # projection (floor-arithmetic cells, least/greatest bbox, explode of a
    # cell sequence — no shuffle anywhere), so above it the per-round
    # re-scan is a linear columnar read that parallelizes with cores, while
    # persisting means WRITING a second copy of the whole target side to
    # the block store first — a data-sized, storage-bound cost that no
    # added executor speeds up (measured at 128M rows as ~40 s of
    # core-count-invariant kNN stage time, capping two-level scaling at
    # 0.49; it is also the wrong plan on a real cluster, where a 100 TB
    # target side is re-scanned pruned from columnar storage, never
    # duplicated into executor block stores).
    from pyspark import StorageLevel

    # fused long cell key (see _annulus_cells): every equi-join and groupBy
    # below keys on `_jc` so the broadcast relations are LongHashedRelation
    target_cells = target_cells.withColumn(
        "_jc", grid.pack(F.col("_cx"), F.col("_cy"))
    ).drop("_cx", "_cy")

    persist_targets = n_targets < LOCAL_TOPK_MIN_TARGETS
    if persist_targets:
        target_cells = target_cells.persist(StorageLevel.MEMORY_AND_DISK)
    n_unsettled: int | None = None
    unsettled = probes
    if not persist_targets:
        # materialize the probe frame once: every round touches it several
        # times (annulus build, settle joins), and its raw lineage re-scans
        # the probe source each time; the count also sizes the sampled
        # pass's and round one's frames for the join strategy choice below
        unsettled = materialize(probes)
        n_unsettled = unsettled.count()
    # round one's frame estimate: the [0, hi0] ring, or with the sampled
    # pass the sample window — a radius disc holds k of the ~4k+8 sampled
    # candidates that window expects, so it typically lies inside it
    ring1 = hi0
    use_scap = n_targets >= SCAP_MIN_TARGETS
    if use_scap:
        # the ONE sampled pass: each probe's k-th smallest dist² over the
        # 1/CAP_SAMPLE_RATE target sample, in a window sized for the
        # sample's density.  Fewer than k sampled candidates => null _scap
        # => the probe takes the ring path.
        hs = _first_ring(k, density / CAP_SAMPLE_RATE, grid.n)
        sampled = target_cells.filter(
            F.pmod(F.xxhash64(F.col("id")), F.lit(CAP_SAMPLE_RATE)) == 0
        )
        s_wide = (
            n_unsettled is not None
            and n_unsettled * (2 * hs + 1) ** 2 > ANN_BROADCAST_MAX_ROWS
        )
        scand = (
            _build_side(_annulus_cells(unsettled, grid, 0, hs), s_wide)
            .join(sampled, ["_jc"])
            .withColumn("dist2", dist2)
        )
        sorted_d = F.sort_array(F.collect_list("dist2"))
        if dedup:
            # multi-cell targets surface once per covering cell; a
            # duplicated near target would understate the sampled k-th.
            # Distinct distances only shift the k-th element toward larger
            # values, so the bound stays a valid upper bound — and it
            # removes the dropDuplicates shuffle a row-level dedup needs.
            sorted_d = F.array_distinct(sorted_d)
        kth = F.get("_ck", 0)
        caps = (
            scand.groupBy("qid")
            .agg(F.slice(sorted_d, k, 1).alias("_ck"))
            # a NaN k-th (non-finite geometry) sizes no window
            .select("qid", F.when(~F.isnan(kth), kth).alias("_scap"))
        )
        unsettled = unsettled.join(F.broadcast(caps), "qid", "left")
        ring1 = hs
    # Round state is ONE checkpointed frame per round (`merged`): every probe
    # still in play contributes a sentinel row (dist2 = +inf, null target), so
    # per-probe settle statistics are window columns computed inside the same
    # job that ranks the candidates, and the settled/unsettled/carried splits
    # are plain filters over the checkpoint — no stats join, no second
    # checkpoint, no semi/anti joins.  A round is exactly TWO blocking jobs
    # (the candidate join + rank + checkpoint, then a tiny termination agg);
    # every extra per-round job pays a fixed scheduling floor at EVERY
    # parallelism level, which is what caps two-cluster-size scaling once the
    # data-sized work is parallel.
    base_probe_cols = list(unsettled.columns)
    state_cols = [*base_probe_cols, *target_payload, "dist2"]
    state_cols_noq = [c for c in state_cols if c != "qid"]
    null_targets = [
        F.lit(None).cast(f.dataType).alias(f.name) for f in targets.schema.fields
    ]
    real = F.col("id").isNotNull()  # sentinel rows have a null target id
    # Per-probe top-k is a hash AGGREGATION (collect_list → array_sort →
    # slice), not a window: WindowExec sorts every partition's full row set
    # outside whole-stage codegen and was measured scaling only ~2.1x from 2
    # to 8 cores on the flagship round, while the object-hash aggregate with
    # per-group sorts of cap-bounded lists runs 1.7x faster at 8 cores and
    # scales ~3.2x.  The sort key mirrors the ranking window: dist² asc,
    # sentinels strictly last (a real dist² could itself overflow to +inf
    # and must never be displaced by the sentinel), then the family tie
    # order; the tie key is negated for desc-id families so one ascending
    # struct sort realizes every family's order.
    # desc-id families sort ascending on ~id (bitwise complement): strictly
    # order-reversing over the whole long range, unlike -id which overflows
    # at Long.MIN_VALUE and would corrupt the k-th-boundary tie order
    tie_struct_val = F.bitwise_not(F.col("id")) if tie_desc_id else F.col("id")
    sort_struct = F.struct(
        F.col("dist2").alias("_d"),
        F.col("id").isNull().alias("_sn"),
        F.coalesce(tie_struct_val, F.lit(0)).alias("_t"),
        F.struct(*state_cols_noq).alias("_p"),
    )
    done: list[DataFrame] = []
    carried: DataFrame | None = None  # unsettled probes' running top-k
    lo, step = 0, hi0 + 1
    for rnd in range(1, MAX_ROUNDS + 1):
        hi = lo + step - 1
        t_round = time.monotonic()
        ann = _annulus_cells(unsettled, grid, lo, hi, margin=margin)
        # The round evaluator: equi-join the (probe, annulus-cell) frame
        # against the targets on `_jc`, then the per-probe top-k aggregation
        # below.  It is fully whole-stage-codegen and its aggregation input
        # is bounded by the carried `_cap` (probes with >= k candidates) or
        # the sampled radius `_scap`, so it is the plan at ANY exact
        # candidate volume.  Only the join strategy varies: broadcast, or a
        # shuffled hash join once the frame is known to exceed
        # ANN_BROADCAST_MAX_ROWS.
        outer = ring1 if lo == 0 else hi
        ring_cells = (2 * outer + 1) ** 2 - ((2 * lo - 1) ** 2 if lo > 0 else 0)
        ann_rows = None if n_unsettled is None else n_unsettled * ring_cells
        wide = ann_rows is not None and ann_rows > ANN_BROADCAST_MAX_ROWS
        cand = (
            _build_side(ann, wide)
            .join(target_cells, ["_jc"])
            .withColumn("dist2", dist2)
        )
        cap = _cap_col(ann)
        if cap is not None:
            # branch-and-bound at ROW level: a candidate farther than an
            # upper bound of the probe's k-th best can never rank (ties at
            # equal dist2 still pass — id order can displace)
            cand = cand.filter(cap.isNull() | (F.col("dist2") <= cap))
        cand = cand.select(*state_cols)
        merged = cand if carried is None else carried.unionByName(cand)
        # one sentinel per in-play probe: guarantees every probe has a row in
        # `merged` (rn == 1), so the termination agg and the next round's
        # probe frame are filters of this one checkpoint — including probes
        # whose annulus held no targets at all this round
        sent = unsettled.select(
            *base_probe_cols, *null_targets, F.lit(float("inf")).alias("dist2")
        )
        srt = F.array_sort(F.collect_list(sort_struct))
        if dedup:
            # a multi-cell target surfaces once per covering cell with a
            # BIT-IDENTICAL struct (same geometry → same dist², same
            # payload), so distinct-on-struct over the sorted list replaces
            # the dropDuplicates shuffle the window plan needed; it runs
            # before the k-truncation so duplicates never eat top-k slots
            srt = F.array_distinct(srt)
        top = (
            merged.unionByName(sent)
            .groupBy("qid")
            .agg(F.slice(srt, 1, k).alias("_top"))
            .withColumn(
                "_cnt", F.size(F.filter(F.col("_top"), lambda x: ~x["_sn"]))
            )
            .withColumn(
                "_kth",
                F.when(
                    F.col("_cnt") > 0,
                    # sentinels sort last, so real rows are a prefix and the
                    # _cnt-th element is the running k-th-best dist²
                    F.element_at(F.col("_top"), F.col("_cnt"))["_d"],
                ),
            )
        )
        # Round-state materialization: always the eager materialize()
        # protocol.  A lazy localCheckpoint (the round-4 small-scale mode)
        # made the wide-dist² segment family's walls erratic, and eager
        # measured equal-or-faster for every other family (BENCH.md).
        merged_plan = (
            top.select(
                "qid",
                "_cnt",
                "_kth",
                F.posexplode("_top").alias("_rn0", "_s"),
            )
            .select(
                "qid",
                "_cnt",
                "_kth",
                (F.col("_rn0") + 1).alias("_rn"),
                "_s._p.*",
            )
        )
        merged = materialize(merged_plan)

        n = grid.n
        big = F.lit(float("inf"))
        lx = F.lit(grid.min_x) + (F.col("_bcx0") - F.lit(hi)) * F.lit(grid.cell_w)
        rx = F.lit(grid.min_x) + (F.col("_bcx1") + F.lit(hi + 1)) * F.lit(grid.cell_w)
        ly = F.lit(grid.min_y) + (F.col("_bcy0") - F.lit(hi)) * F.lit(grid.cell_h)
        ty = F.lit(grid.min_y) + (F.col("_bcy1") + F.lit(hi + 1)) * F.lit(grid.cell_h)
        exh_l = F.col("_bcx0") - F.lit(hi) <= 0
        exh_r = F.col("_bcx1") + F.lit(hi) >= n - 1
        exh_b = F.col("_bcy0") - F.lit(hi) <= 0
        exh_t = F.col("_bcy1") + F.lit(hi) >= n - 1
        gap = F.least(
            F.when(exh_l, big).otherwise(F.col("_sx0") - lx),
            F.when(exh_r, big).otherwise(rx - F.col("_sx1")),
            F.when(exh_b, big).otherwise(F.col("_sy0") - ly),
            F.when(exh_t, big).otherwise(ty - F.col("_sy1")),
        )
        bound = F.greatest(F.lit(0.0), gap - F.lit(margin))
        all_exhausted = exh_l & exh_r & exh_b & exh_t
        # reach2: every target within this dist² of the probe has been
        # evaluated — the ring's gap, or a radius probe's whole disc
        reach2 = bound * bound
        by_radius = F.lit(False)
        if use_scap:
            by_radius = F.col("_scap").isNotNull()
            reach2 = F.coalesce(F.col("_scap"), reach2)
            all_exhausted = ~by_radius & all_exhausted
        settled = all_exhausted | F.coalesce(
            (F.col("_cnt") >= k) & (F.col("_kth") <= reach2), F.lit(False)
        )
        # ONE tiny job decides the round's fate: total unsettled
        # (termination + annulus width guard) and how many settled through
        # a sampled radius.  Every probe has an rn == 1 row (sentinels), so
        # this is a keyless agg over the checkpoint — no join.
        counts = merged.filter(F.col("_rn") == 1).agg(
            F.count(F.when(~settled, F.lit(1))).alias("_n"),
            F.count(F.when(settled & by_radius, F.lit(1))).alias("_nr"),
        ).first()
        n_unsettled = counts[0]
        _log.debug(
            "knn round %(round)d ring [%(lo)d,%(hi)d] join=%(join)s "
            "scap=%(scap)s radius=%(radius)d unsettled=%(unsettled)d "
            "wall_s=%(wall_s).3f",
            {
                "round": rnd,
                "lo": lo,
                "hi": hi,
                "join": "shuffle" if wide else "broadcast",
                "scap": use_scap,
                "radius": counts[1],
                "unsettled": n_unsettled,
                "wall_s": time.monotonic() - t_round,
            },
        )
        if n_unsettled == 0:
            done.append(merged.filter(real))  # everyone settled: all final
            break
        # settled/carried/next-probe splits: plain filters over the round
        # checkpoint (block cleanup is the ContextCleaner's job — see
        # session.materialize)
        done.append(merged.filter(settled & real))
        carried = merged.filter((~settled) & real).select(*state_cols)
        unsettled = merged.filter((F.col("_rn") == 1) & (~settled)).select(
            *base_probe_cols,
            # carry the k-th-best dist² forward as the next round's
            # branch-and-bound cap (null while fewer than k found)
            F.when(F.col("_cnt") >= k, F.col("_kth")).alias("_cap"),
        )
        lo, step = hi + 1, step * 2
    else:
        raise RuntimeError("generic_knn_join: ring expansion did not converge")

    if persist_targets:
        target_cells.unpersist()  # output rows live in checkpointed frames
    out = done[0]
    for part in done[1:]:
        out = out.unionByName(part)
    return out.select(
        *out_cols, F.row_number().over(w).cast("long").alias("rn")
    )

