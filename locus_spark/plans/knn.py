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

Each round emits one DEBUG record on this module's logger
(``locus_spark.plans.knn``).  Its args are a dict of driver-side values —
``round, lo, hi, join`` (``broadcast|shuffle``), ``scap`` (sampled-cap
prefilter ran), ``unsettled`` (probes left after the round) and ``wall_s``
— so reading it costs no Spark job.
"""

from __future__ import annotations

import logging
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
#: up front (LOCAL_TOPK_MIN_TARGETS).  Everything else about the round — the
#: fused ``_jc`` key, ``_cap``/``_scap`` row pruning, dedup, sentinels and
#: settling — is shared by both join strategies.
ANN_BROADCAST_MAX_ROWS = 4_000_000

#: sampled-cap prefilter: when a round has probes with no carried `_cap`
#: (always in round one; later for probes that found < k candidates so far)
#: from SCAP_MIN_TARGETS on, derive a per-probe upper bound of the true k-th
#: distance from a 1/CAP_SAMPLE_RATE deterministic target sample and
#: row-prune the full join with it before the top-k aggregation.  The bound
#: is exact-safe (k-th smallest within a subset >= k-th smallest overall;
#: probes with < k sampled candidates keep a null cap = no pruning), and it
#: bounds the aggregation's input at ~CAP_SAMPLE_RATE*k rows per probe
#: regardless of cell density — measured at 32M rows / 24k probes / 143M
#: first-round candidates: 30 s window -> ~6 s total, pure JVM.  (An exact
#: candidate-volume gate — per-cell occupancy histogram + a per-round volume
#: job — used to decide this; at 128M rows the gate's own jobs cost more
#: than the prefilter ever saves, so capless probes at scale always take it.)
CAP_SAMPLE_RATE = 16

#: arm the sampled-cap prefilter from this target count on: at sf0.1
#: (~600k segments, 1000 probe segments, one 3x3-ish ring) the
#: un-prefiltered collect_list aggregation ingests the full candidate volume
#: and its walls turn ERRATIC under memory pressure — measured min-of-reps
#: 6.0 s but 15.4 s on 2 of 4 warm reps (and 25-55 s whole-query outliers in
#: the round-4 board), vs a flat 5.4 s with the prefilter on.  Below this
#: count the sampled pass is pure overhead (and toy-scale tests pin the
#: plain-broadcast plan).
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
    cell-rectangle lies in [lo, hi], clipped to the grid.

    When the probe row carries a ``_cap`` column (the running k-th-best
    squared distance from earlier rounds), cells whose squared distance to
    the probe's bbox exceeds the cap are pruned — the distributed form of
    the reference's branch-and-bound bound (``/root/reference/locus/kd.py:368``,
    ``r.py:592-606``): an already-found k-th neighbor caps how far the search
    ever needs to look, which keeps fringe probes from dragging whole dense
    cells through later rounds."""
    n = grid.n
    cx0 = F.greatest(F.lit(0), F.col("_bcx0") - F.lit(hi))
    cx1 = F.least(F.lit(n - 1), F.col("_bcx1") + F.lit(hi))
    cy0 = F.greatest(F.lit(0), F.col("_bcy0") - F.lit(hi))
    cy1 = F.least(F.lit(n - 1), F.col("_bcy1") + F.lit(hi))
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
    if "_cap" in probes.columns:
        # squared coordinate distance from the probe bbox to the cell rect
        cell_x0 = F.lit(grid.min_x) + F.col("_cx") * F.lit(grid.cell_w)
        cell_x1 = cell_x0 + F.lit(grid.cell_w)
        cell_y0 = F.lit(grid.min_y) + F.col("_cy") * F.lit(grid.cell_h)
        cell_y1 = cell_y0 + F.lit(grid.cell_h)
        dx = F.greatest(F.lit(0.0), cell_x0 - F.col("_sx1"), F.col("_sx0") - cell_x1)
        dy = F.greatest(F.lit(0.0), cell_y0 - F.col("_sy1"), F.col("_sy0") - cell_y1)
        d2_cell = (F.greatest(F.lit(0.0), dx - F.lit(margin)) ** 2
                   + F.greatest(F.lit(0.0), dy - F.lit(margin)) ** 2)
        out = out.filter(F.col("_cap").isNull() | (d2_cell <= F.col("_cap")))
    # fuse (cx, cy) into ONE long join key: a single-long equi-join key gives
    # the broadcast join a LongHashedRelation (dense, allocation-free probes)
    # instead of the composite-key BytesToBytesMap relation, whose lookup
    # path was measured to stop scaling with cores entirely (570M-row
    # candidate join at 128M targets: 13.6 s @2 cores -> 12.6 s @8; the
    # fused key: 5.0 s -> 1.4 s, at the host's own parallel ceiling)
    return out.withColumn("_jc", grid.pack(F.col("_cx"), F.col("_cy"))).drop(
        "_cx", "_cy"
    )


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

    # size the FIRST window from mean cell density so the typical probe
    # settles in round one — every extra round costs a fixed number of Spark
    # jobs, which dominates wall time when the data per round is small.  The
    # (2·hi+1)² window aims for ≥ ~4k expected candidates; when the probe's
    # own cell already holds that many (dense targets) the window stays a
    # single ring — widening it would multiply candidate-kernel work for no
    # round saved.  Sparse regions still expand geometrically afterwards.
    # At dense shapes the formula itself yields a single cell (128M rows at
    # resolution 10, k=5: ~122 targets/cell -> hi0 = 0).
    import math

    density = n_targets / float(grid.n * grid.n)
    hi0 = int(
        math.ceil((math.sqrt((4.0 * k + 8.0) / max(density, 1e-12)) - 1.0) / 2.0)
    )
    hi0 = max(0, min(hi0, max(1, grid.n // 4)))

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
    n_nocap: int | None = None  # unsettled probes with no carried _cap yet
    unsettled = probes
    if not persist_targets:
        # materialize the probe frame once: every round touches it several
        # times (annulus build, settle joins), and its raw lineage re-scans
        # the probe source each time; the count also sizes round one's
        # annulus frame for the evaluator choice below
        unsettled = materialize(probes)
        n_unsettled = unsettled.count()
        n_nocap = n_unsettled  # round one: nobody has a cap yet
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
    base_probe_cols = list(probes.columns)
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
        # the sampled-cap prefilter (probes without one), so it is the plan
        # at ANY exact candidate volume.  Only the join strategy varies:
        # broadcast, or a shuffled hash join once the frame is known to
        # exceed ANN_BROADCAST_MAX_ROWS.
        ring_cells = (2 * hi + 1) ** 2 - ((2 * lo - 1) ** 2 if lo > 0 else 0)
        ann_rows = None if n_unsettled is None else n_unsettled * ring_cells
        wide = ann_rows is not None and ann_rows > ANN_BROADCAST_MAX_ROWS
        has_cap = "_cap" in ann.columns
        cand = (
            _build_side(ann, wide)
            .join(target_cells, ["_jc"])
            .withColumn("dist2", dist2)
        )
        if has_cap:
            # branch-and-bound at ROW level: a candidate farther than the
            # probe's current k-th best can never displace it (ties at equal
            # dist2 still pass — id order can displace)
            cand = cand.filter(
                F.col("_cap").isNull() | (F.col("dist2") <= F.col("_cap"))
            )
        # Arm the sampled-cap prefilter whenever capless probes exist from
        # SCAP_MIN_TARGETS on.  An exact candidate-volume probe job used to
        # gate this (a per-cell occupancy histogram + a per-round count
        # job); measured at 128M rows the histogram build plus the extra
        # blocking job cost more than the prefilter's sampled pass ever
        # saves, and probes sampled from skewed data make a density
        # *estimate* under-count by orders of magnitude (200x measured) —
        # so at scale the prefilter is simply always worth it.
        use_scap = n_targets >= SCAP_MIN_TARGETS and (
            n_nocap is None or n_nocap > 0
        )
        if use_scap:
            # capless probes over dense cells (all of them in round one;
            # later, probes that still found < k candidates): derive a
            # per-probe UPPER bound of the true k-th distance from a
            # deterministic 1/CAP_SAMPLE_RATE target sample and prune with
            # it, so the aggregation never sees the dense cells' full
            # candidate volume.  Safe: the k-th smallest within a subset >=
            # the k-th smallest overall; fewer than k sampled candidates =>
            # null cap => no pruning; <= keeps distance ties (id order may
            # still displace).
            ann_nocap = ann.filter(F.col("_cap").isNull()) if has_cap else ann
            sampled = target_cells.filter(
                F.pmod(F.xxhash64(F.col("id")), F.lit(CAP_SAMPLE_RATE)) == 0
            )
            scand = (
                _build_side(ann_nocap, wide)
                .join(sampled, ["_jc"])
                .withColumn("dist2", dist2)
            )
            sorted_d = F.sort_array(F.collect_list("dist2"))
            if dedup:
                # multi-cell targets surface once per covering cell; a
                # duplicated near target would understate the sampled k-th
                # and over-prune.  Distinct distances only shift the k-th
                # element toward larger values, so the bound stays a valid
                # upper bound — and it removes the dropDuplicates shuffle a
                # row-level dedup would need.
                sorted_d = F.array_distinct(sorted_d)
            caps = (
                scand.groupBy("qid")
                .agg(F.slice(sorted_d, k, 1).alias("_ck"))
                .select("qid", F.get("_ck", 0).alias("_scap"))
            )
            # probes with a carried _cap aren't in `caps` => null _scap
            # => pass through (they are already row-pruned above)
            cand = cand.join(F.broadcast(caps), "qid", "left").filter(
                F.col("_scap").isNull() | (F.col("dist2") <= F.col("_scap"))
            )
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
        settled = all_exhausted | F.coalesce(
            (F.col("_cnt") >= k) & (F.col("_kth") <= bound * bound), F.lit(False)
        )
        # ONE tiny job decides the round's fate: total unsettled (termination
        # + annulus width guard) and how many still lack a carried _cap
        # (whether the next round needs the prefilter).  Every probe has an
        # rn == 1 row (sentinels), so this is a keyless agg over the
        # checkpoint — no join.
        counts = merged.filter(F.col("_rn") == 1).agg(
            F.count(F.when(~settled, F.lit(1))).alias("_n"),
            F.count(
                F.when((~settled) & (F.col("_cnt") >= k), F.lit(1))
            ).alias("_nc"),
        ).first()
        n_unsettled = counts[0]
        n_nocap = n_unsettled - counts[1]
        _log.debug(
            "knn round %(round)d ring [%(lo)d,%(hi)d] join=%(join)s "
            "scap=%(scap)s unsettled=%(unsettled)d wall_s=%(wall_s).3f",
            {
                "round": rnd,
                "lo": lo,
                "hi": hi,
                "join": "shuffle" if wide else "broadcast",
                "scap": use_scap,
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

