"""The benchmark's workloads, each aimed at one use of the engine.

* ``ingest_range`` — build and serve: turn a crawl-pages table into a
  checkpointed, Hilbert-clustered, salted cell layout, fold a re-crawl batch
  into it, then answer single-round range joins (box and ball joins over the
  layout's points; subset, superset and overlap joins over boxes).
* ``knn_join`` — iterative reads: exact point kNN and segment kNN through
  the ring planner.

A workload generates its inputs from the seed in ``setup`` and returns one
*cycle* of operations from ``cycle``; ``run.py`` runs whole cycles back to
back.  An operation's ``run`` does the timed work and returns a check, which
``run.py`` calls outside the timed window: it compares the engine's output
with a numpy brute-force answer and releases what the operation kept for
that comparison.  Called with ``checked=False`` (warm-up operations), it
only releases.
"""

from __future__ import annotations

import pathlib
import shutil
import sys
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import inputs
from spans import Tracer

from locus_spark.cells import cluster_by_hilbert, grid_from_boxes, grid_from_points
from locus_spark.extract import with_extracted_text
from locus_spark.geocode import geocode
from locus_spark.operators import boxes as box_ops
from locus_spark.operators import maintenance
from locus_spark.operators import points as point_ops
from locus_spark.operators import segments as seg_ops
from locus_spark.queries import SF_RESOLUTION
from locus_spark.skew import hot_cells, salted_repartition
from locus_spark.sources.checkpoint import StageCheckpoint

#: input sizes.  ``full`` is what the benchmark measures; ``tiny`` only
#: checks that every operation and metric works end to end (selftest.py).
SIZES = {
    "full": {
        "pages": 20_000, "batch": 2_000, "boxes": 60_000,
        "box_probes": 2_000, "ball_probes": 2_000, "subset_probes": 200,
        "superset_probes": 200, "overlap_probes": 200,
        "knn_targets": 150_000, "segments": 110_000,
        "knn_probes": 400, "seg_probes": 100,
    },
    "tiny": {
        "pages": 3_000, "batch": 300, "boxes": 3_000,
        "box_probes": 40, "ball_probes": 40, "subset_probes": 20,
        "superset_probes": 20, "overlap_probes": 20,
        "knn_targets": 10_000, "segments": 5_000,
        "knn_probes": 40, "seg_probes": 20,
    },
}

K = 5
#: spread (degrees) of the normal around each hot spot
SIGMA = 3.0
#: probes per operation whose output is compared with the brute-force answer
CHECKED_PROBES = 16
#: probe sets generated per operation type; successive operations of one
#: type alternate between them
PROBE_SETS = 2

# Range-probe shapes are the repo's own query traffic, not scaled:
#: point box and ball probes of ``jobs/run.py``: 4° x 2° boxes and r = 1.5°
#: balls centred on sampled pages
PAGE_BOX_HALF = (2.0, 1.0)
PAGE_BALL_R = 1.5
#: the ``boxes`` and ``query_boxes`` tables of ``locus_spark.sources.derived``
#: that the ``r_find_subsets``/``r_find_supersets``/``r_overlaps`` queries
#: join: half-width and half-height ranges of the indexed boxes and of the
#: probe boxes (one probe shape for all three joins, as there)
BOX_HALF = ((0.018, 9.018), (0.018, 4.518))
QUERY_BOX_HALF = ((1.0, 26.0), (1.0, 13.0))


def shuffle_partitions(rows: int) -> int:
    """Shuffle partitions from data size, never from cores (the rule of
    ``jobs/run.py``): about 64k rows a partition, 4 to 64 partitions."""
    return max(4, min(64, rows // 65_536))


@dataclass
class Ctx:
    spark: SparkSession
    tracer: Tracer
    rng: np.random.Generator
    seed: int
    dir: pathlib.Path
    size: dict


@dataclass
class Op:
    kind: str
    items: int
    run: Callable[[int], Callable[[bool], None]]


class Failed(AssertionError):
    """An operation's output disagrees with the brute-force answer."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise Failed(what)


def _dir_mb(path: pathlib.Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / (1024.0 * 1024.0)


def _content_hash(df: DataFrame) -> tuple[int, int]:
    """Row count and an order-independent hash of ``(id, x, y)``."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("id", "x", "y").cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def _no_rebuild() -> DataFrame:
    raise Failed("resume tried to rebuild a complete checkpoint")


@dataclass
class ProbeSet:
    cols: dict[str, np.ndarray]
    table: DataFrame


def _probe_sets(ctx: Ctx, kind: str, n: int, make) -> list[ProbeSet]:
    """PROBE_SETS probe tables of ``n`` rows, written as parquet and read
    back; ``make(n)`` returns the probe columns (``qid`` is added here)."""
    out = []
    for i in range(PROBE_SETS):
        cols = {"qid": np.arange(n, dtype=np.int64), **make(n)}
        path = inputs.write_parquet(pa.table(cols), ctx.dir / "in" / f"{kind}{i}", 1)
        out.append(ProbeSet(cols, ctx.spark.read.parquet(path)))
    return out


def _rows_by_qid(df: DataFrame, qids: np.ndarray) -> dict[int, object]:
    """The rows of ``df`` for ``qids``, as one pandas frame per qid."""
    pdf = df.filter(F.col("qid").isin([int(q) for q in qids])).toPandas()
    return {int(q): grp for q, grp in pdf.groupby("qid")}


class _Probing:
    """Operations that join a probe table against the workload's data.  The
    result is persisted inside the timed window, so the check reads the
    operation's own output, and compared probe by probe."""

    ctx: Ctx
    probes: dict[str, list[ProbeSet]]
    #: operations run so far, per kind
    turns: dict[str, int]

    def probe_op(self, kind: str, span: str, join, compare) -> Op:
        sets = self.probes[kind]

        def run(op: int) -> Callable[[bool], None]:
            turn = self.turns.get(kind, 0)
            self.turns[kind] = turn + 1
            probes = sets[turn % len(sets)]
            with self.ctx.tracer.span(span):
                res = join(probes.table).persist(StorageLevel.MEMORY_AND_DISK)
                rows = res.count()

            def verify(checked: bool = True) -> None:
                print(f"perfbench: {kind}: {rows / len(probes.cols['qid']):.1f} result rows "
                      "per probe", file=sys.stderr)
                if not checked:
                    res.unpersist(blocking=True)
                    return
                try:
                    qids = probes.cols["qid"][:CHECKED_PROBES]
                    got = _rows_by_qid(res, qids)
                    for q in qids:
                        probe = {c: v[q] for c, v in probes.cols.items()}
                        check(compare(probe, got.get(int(q))), f"{kind}: probe {q} differs")
                finally:
                    res.unpersist(blocking=True)

            return verify

        return Op(kind, len(sets[0].cols["qid"]), run)


# --------------------------------------------------------------------------
class IngestRange(_Probing):
    """Build and serve: the layout built from raw pages, a re-crawl batch
    folded into it, and single-round range joins against the result."""

    name = "ingest_range"

    def setup(self, ctx: Ctx) -> None:
        size, rng, tr = ctx.size, ctx.rng, ctx.tracer
        self.ctx = ctx
        n, b = size["pages"], size["batch"]
        self.base_ids = np.arange(n, dtype=np.int64)
        self.parts = shuffle_partitions(n)
        pages, host = inputs.pages(rng, self.base_ids, ctx.seed)
        hot = host < inputs.HOT_HOSTS
        self.pages = inputs.write_parquet(pages, ctx.dir / "in" / "pages", max(2, n // 12_500))
        batch, self.moved, self.new = inputs.upsert_batch(rng, host, n, b, ctx.seed)
        self.batch = inputs.write_parquet(batch, ctx.dir / "in" / "batch", 2)

        with tr.span("cells.grid"):
            # the layout grid is derived once from the geocoded crawl and
            # frozen: upsert batches are indexed into the same grid
            geo = geocode(ctx.spark.read.parquet(self.pages)).select("page_id", "x", "y")
            self.grid = grid_from_points(geo, resolution=None)
        base = geo.toPandas().sort_values("page_id")
        # what the served layout must hold after the upsert: the geocoded
        # crawl minus the re-crawled pages, plus the geocoded batch.  It is
        # the brute-force side of the upsert check and of the box and ball
        # joins, and is computed here, apart from the maintenance layer.
        moved_or_new = np.concatenate([self.moved, self.new])
        fresh = (
            geocode(ctx.spark.read.parquet(self.batch)).select("page_id", "x", "y").toPandas()
        )
        served = pd.concat([base[~base["page_id"].isin(moved_or_new)], fresh])
        served = served.sort_values("page_id")
        self.served = {
            "id": served["page_id"].to_numpy(), "x": served["x"].to_numpy(),
            "y": served["y"].to_numpy(),
        }

        # probe centres: sampled pages, as ``jobs/run.py`` samples its
        # probes from the indexed points; half on the hot hosts' pages (hot
        # cells), half on the other hosts'
        bx, by = base["x"].to_numpy(), base["y"].to_numpy()
        hot_pages, cold_pages = np.flatnonzero(hot), np.flatnonzero(~hot)

        def centres(k):
            on_hot = np.arange(k) % 2 == 0
            pick = np.where(
                on_hot, rng.choice(hot_pages, k), rng.choice(cold_pages, k)
            )
            return bx[pick], by[pick]

        def page_boxes(k):
            x, y = centres(k)
            hw, hh = PAGE_BOX_HALF
            return {"min_x": x - hw, "max_x": x + hw, "min_y": y - hh, "max_y": y + hh}

        def circles(k):
            x, y = centres(k)
            return {"x": x, "y": y, "r": np.full(k, PAGE_BALL_R)}

        centers = inputs.hot_centers(rng)
        m = size["boxes"]
        self.boxes = inputs.boxes(rng, m, centers, SIGMA, *BOX_HALF)
        path = inputs.write_parquet(
            pa.table({"id": np.arange(m, dtype=np.int64), **self.boxes}), ctx.dir / "in" / "boxes", 8
        )
        self.box_table = ctx.spark.read.parquet(path)
        with tr.span("cells.grid"):
            # the resolution the repo's box queries use for this traffic
            self.box_grid = grid_from_boxes(self.box_table, resolution=SF_RESOLUTION)

        def query_boxes(k):
            return inputs.boxes(rng, k, centers, SIGMA, *QUERY_BOX_HALF)

        self.turns = {}
        self.probes = {
            "box": _probe_sets(ctx, "box", size["box_probes"], page_boxes),
            "ball": _probe_sets(ctx, "ball", size["ball_probes"], circles),
            "subsets": _probe_sets(ctx, "subsets", size["subset_probes"], query_boxes),
            "supersets": _probe_sets(ctx, "supersets", size["superset_probes"], query_boxes),
            "overlaps": _probe_sets(ctx, "overlaps", size["overlap_probes"], query_boxes),
        }
        self.layout: DataFrame | None = None

    def _geocoded(self, path: str, ver: int) -> DataFrame:
        tr = self.ctx.tracer
        with tr.span("extract"):
            ext = tr.materialize(with_extracted_text(self.ctx.spark.read.parquet(path)))
        with tr.span("geocode"):
            geo = tr.materialize(geocode(ext))
        return geo.select(
            F.col("page_id").alias("id"), "x", "y",
            F.length("extracted").alias("text_len"), F.lit(ver).alias("ver"),
        )

    def _build(self, op: int) -> Callable[[bool], None]:
        ctx, tr = self.ctx, self.ctx.tracer
        root = ctx.dir / "ck" / f"op{op}"
        ck = StageCheckpoint(str(root))
        rows = self._geocoded(self.pages, 0)
        with tr.span("checkpoint.write") as s:
            geo = ck.run_stage(ctx.spark, "geocoded", lambda: rows)
            s["write_mb"] = _dir_mb(root / "geocoded")
        tr.release()
        with tr.span("cells.cluster"):
            clustered = tr.materialize(cluster_by_hilbert(geo, self.grid, num_partitions=self.parts))
        with tr.span("skew") as s:
            # a cell is hot at 8x the mean population (the engine's default)
            hot = hot_cells(clustered, factor=8.0, min_rows=64)
            salted = tr.materialize(salted_repartition(
                clustered, hot=hot, buckets=8, id_col="id", num_partitions=self.parts
            ))
            s["hot_cells"] = len(hot)
        with tr.span("checkpoint.write") as s:
            ck.run_stage(ctx.spark, "cell_index", lambda: salted)
            s["write_mb"] = _dir_mb(root / "cell_index")
            # largest partition over the mean partition, from the manifest's
            # per-partition lineage: what the salting left of the skew
            per_part = [p["rows"] for p in ck.manifest("cell_index")["partitions"]]
            s["max_part_ratio"] = max(per_part) / (sum(per_part) / len(per_part))
        tr.release()
        resumed_in_build = list(ck.resumed)
        with tr.span("checkpoint.resume"):
            again = StageCheckpoint(str(root))
            back = again.run_stage(ctx.spark, "cell_index", _no_rebuild)
            n_back = back.count()
        self.layout = back.drop("_salt")

        def verify(checked: bool = True) -> None:
            if not checked:
                return
            n = len(self.base_ids)
            check(not resumed_in_build, "the build resumed a leftover checkpoint")
            check(again.resumed == ["cell_index"], "the resume did not read the checkpoint")
            check(ck.manifest("cell_index")["rows"] == n, "manifest rows != input rows")
            check(n_back == n, "resumed row count != input rows")
            check(_content_hash(back) == _content_hash(geo), "layout content differs from its input")
            ids = np.sort(back.select("id").toPandas()["id"].to_numpy())
            check(np.array_equal(ids, self.base_ids), "layout ids != input page ids")

        return verify

    def _upsert(self, op: int) -> Callable[[bool], None]:
        ctx, tr = self.ctx, self.ctx.tracer
        base = self.layout
        root = ctx.dir / "ck" / f"op{op}"
        ck = StageCheckpoint(str(root))
        rows = self._geocoded(self.batch, 1)
        with tr.span("maintenance.delta"):
            delta = tr.materialize(maintenance.delta_layout(rows, self.grid, num_partitions=2))
        with tr.span("checkpoint.write") as s:
            delta = ck.run_stage(ctx.spark, "delta", lambda: delta)
            s["write_mb"] = _dir_mb(root / "delta")
        tr.release()
        with tr.span("maintenance.upsert"):
            served = tr.materialize(maintenance.upsert_serving(base, delta))
        with tr.span("maintenance.compact") as s:
            # the served view is the base minus re-crawled ids, plus the
            # batch; compaction folds the batch rows into the base's ranges
            kept = served.filter(F.col("ver") < 1)
            compacted, stats = maintenance.compact(kept, delta, num_ranges=8)
            compacted = tr.materialize(compacted)
            s["touched_share"] = stats["touched_ranges"] / stats["total_ranges"]
        with tr.span("checkpoint.write") as s:
            out = ck.run_stage(ctx.spark, "layout", lambda: compacted)
            s["write_mb"] = _dir_mb(root / "layout")
        tr.release()
        resumed = list(ck.resumed)
        self.layout = out

        def verify(checked: bool = True) -> None:
            if not checked:
                return
            want = self.served
            got = out.select("id", "ver", "x", "y").toPandas().sort_values("id")
            ids = got["id"].to_numpy()
            check(not resumed, "the upsert resumed a leftover checkpoint")
            check(np.array_equal(ids, np.union1d(self.base_ids, self.new)),
                  "live ids != base ∪ batch, or an id appears twice")
            check(np.array_equal(ids, want["id"]), "live ids != the expected served ids")
            check(np.array_equal(got["x"].to_numpy(), want["x"])
                  and np.array_equal(got["y"].to_numpy(), want["y"]),
                  "a live page's (x, y) differs from its geocoded crawl or batch row")
            ver = dict(zip(ids.tolist(), got["ver"].tolist()))
            check(all(ver[i] == 1 for i in self.moved.tolist()), "a moved page kept its old row")
            check(ck.manifest("layout")["rows"] == len(ids), "manifest rows != live rows")

        return verify

    def cycle(self) -> list[Op]:
        grid, bt, bgrid, bx = self.grid, self.box_table, self.box_grid, self.boxes

        def points() -> DataFrame:
            return self.layout.select("id", "x", "y")

        def same_ids(want):
            def compare(probe, got) -> bool:
                ids = np.sort(got["id"].to_numpy()) if got is not None else np.array([], np.int64)
                return np.array_equal(ids, np.sort(want(probe)))
            return compare

        def in_box(q):
            s = self.served
            return s["id"][inputs.box_hits(s["x"], s["y"], q)]

        def in_ball(q):
            s = self.served
            return s["id"][inputs.ball_hits(s["x"], s["y"], q["x"], q["y"], q["r"])]

        size = self.ctx.size
        return [
            Op("build", size["pages"], self._build),
            Op("upsert", size["batch"], self._upsert),
            self.probe_op("box", "points.box",
                          lambda q: point_ops.find_box_join(points(), q, grid=grid),
                          same_ids(in_box)),
            self.probe_op("ball", "points.ball",
                          lambda q: point_ops.find_ball_join(points(), q, grid=grid),
                          same_ids(in_ball)),
            self.probe_op("subsets", "boxes.subsets",
                          lambda q: box_ops.find_subsets_join(bt, q, grid=bgrid),
                          same_ids(lambda q: inputs.subset_hits(bx, q))),
            self.probe_op("supersets", "boxes.supersets",
                          lambda q: box_ops.find_supersets_join(bt, q, grid=bgrid),
                          same_ids(lambda q: inputs.superset_hits(bx, q))),
            self.probe_op("overlaps", "boxes.overlaps",
                          lambda q: box_ops.find_overlaps_join(bt, q, grid=bgrid),
                          same_ids(lambda q: inputs.overlap_hits(bx, q))),
        ]

    def end_cycle(self) -> None:
        shutil.rmtree(self.ctx.dir / "ck", ignore_errors=True)


# --------------------------------------------------------------------------
class KnnJoin(_Probing):
    """Iterative reads: the kNN ring planner (``plans.knn``) behind the
    point and segment ``*_knn_join`` operators."""

    name = "knn_join"

    def setup(self, ctx: Ctx) -> None:
        size, rng, tr = ctx.size, ctx.rng, ctx.tracer
        self.ctx = ctx
        centers = inputs.hot_centers(rng)
        n = size["knn_targets"]
        self.px, self.py = inputs.mixed_xy(rng, n, centers, SIGMA)
        # the ring planner derives every probe's cells itself, so the
        # targets are served straight from the generated table
        path = inputs.write_parquet(
            pa.table({"id": np.arange(n, dtype=np.int64), "x": self.px, "y": self.py}),
            ctx.dir / "in" / "targets", 8,
        )
        self.targets = ctx.spark.read.parquet(path)
        with tr.span("cells.grid"):
            self.grid = grid_from_points(self.targets, resolution=None)
        m = size["segments"]
        self.segs = inputs.segments(rng, m, centers, SIGMA, mean_len=0.05)
        path = inputs.write_parquet(
            pa.table({"id": np.arange(m, dtype=np.int64), **self.segs}), ctx.dir / "in" / "segments", 8
        )
        self.seg_table = ctx.spark.read.parquet(path)
        with tr.span("cells.grid"):
            self.seg_grid = seg_ops.grid_from_segments(self.seg_table)

        def points(k):
            x, y = inputs.mixed_xy(rng, k, centers, SIGMA)
            return {"x": x, "y": y}

        self.turns = {}
        self.probes = {
            "point_knn": _probe_sets(ctx, "pknn", size["knn_probes"], points),
            "segment_knn": _probe_sets(
                ctx, "sknn", size["seg_probes"],
                lambda k: inputs.segments(rng, k, centers, SIGMA, mean_len=0.05),
            ),
        }

    def cycle(self) -> list[Op]:
        tg, grid, st, sgrid = self.targets, self.grid, self.seg_table, self.seg_grid
        px, py, segs = self.px, self.py, self.segs

        def top_k(dist2):
            def compare(probe, got) -> bool:
                if got is None:
                    return False
                got = got.sort_values("rn")
                pairs = list(zip(got["id"].tolist(), got["dist2"].tolist()))
                return inputs.knn_matches(pairs, dist2(probe), K)
            return compare

        return [
            self.probe_op(
                "point_knn", "points.knn",
                lambda q: point_ops.knn_join(tg, q, K, grid=grid),
                top_k(lambda q: (px - q["x"]) * (px - q["x"]) + (py - q["y"]) * (py - q["y"])),
            ),
            self.probe_op(
                "segment_knn", "segments.knn",
                lambda q: seg_ops.segment_knn_join(st, q, K, grid=sgrid),
                top_k(lambda q: inputs.d2_segment_segment(q, segs)),
            ),
        ]

    def end_cycle(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (IngestRange, KnnJoin)}
