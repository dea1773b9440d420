"""Query registry: every implemented operator as a (spark_fn, oracle_sql)
pair — the driver contract surface (``__spark_entry__.py`` re-exports this).

Each Spark callable takes ``(spark, sf_dir)`` and returns a DataFrame; the
oracle is ANSI SQL DuckDB runs on the same parquet views.  Geometry
derivations and distance metrics are shared SQL text (see sources/derived.py
and functions/metrics.py), so floats agree bit-for-bit.
"""

from __future__ import annotations

import ast
import functools
import hashlib
import importlib.util
import json
import pathlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from locus_spark.cells import GridSpec
from locus_spark.functions.metrics import (
    sql_box_contains_point,
    sql_box_is_subset,
    sql_boxes_overlap,
    sql_dist2_point_box,
    sql_dist2_point_point,
    sql_dist2_point_segment,
    sql_dist2_segment_segment,
    sql_ray_crosses_edge,
)
from locus_spark.operators.boxes import (
    box_knn_join,
    box_nearest_join,
    find_subsets_join,
    find_supersets_join,
)
from locus_spark.operators.points import (
    find_ball_join,
    find_box_join,
    knn_join,
    nearest_join,
)
from locus_spark.operators.segments import (
    segment_knn_join,
    segment_knn_to_point_join,
    segment_nearest_to_point_join,
)
from locus_spark.session import _PKG_PARENT
from locus_spark.sources import derived

#: grid resolution for sf-scale runs — 64x64 cells keeps covering explosions
#: small at these extents while still pruning partitions; raise for larger SFs.
SF_RESOLUTION = 6

#: fixed world grid for the derived geometry domain ([-180,180] x [-90,90])
#: — avoids a bounds-scan job per query and keeps plans stable.
WORLD_GRID = GridSpec(-180.0, -90.0, 180.0, 90.0, SF_RESOLUTION)

KNN_K = 3

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[QueryFn, str | Callable[[], str] | None]] = {}


def register(name: str, oracle: str | Callable[[], str] | None):
    """``oracle`` is DuckDB SQL, or a function rendering it when
    :func:`oracle_sql` is called (SQL reading a temp-dir path, which
    follows ``tempfile.tempdir``)."""
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


#: the committed check runs: ``ORACLE_*.json`` (``tools/check_oracle.py
#: --json``) and the correctness harness's ``CORRECTNESS_rNN.json`` rounds.
#: Under a ``--py-files`` zip this is the zip itself, which holds none.
_ARTIFACTS = pathlib.Path(_PKG_PARENT)


def _ordered_names() -> list[str]:
    """Registry names in check-window order (the correctness harness checks
    a bounded prefix of ``queries()``): first the rows no committed
    ``ORACLE_*.json`` run passed at their current :func:`closure_hash`, then
    the rows the harness's rounds checked least recently (never checked
    first); ties keep registry order.  With no artifacts this is registry
    order, and no hash is computed."""
    vouched = {
        (row["name"], row["closure"])
        for path in _ARTIFACTS.glob("ORACLE_*.json")
        for row in json.loads(path.read_text())["queries"]
        if row["status"] == "pass" and "closure" in row
    }
    last_round: dict[str, int] = {}
    for path in _ARTIFACTS.glob("CORRECTNESS_r*.json"):
        for name in json.loads(path.read_text()):
            rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
            last_round[name] = max(last_round.get(name, -1), rnd)
    hashes = _closure_hashes(list(_REGISTRY)) if vouched else {}
    return sorted(
        _REGISTRY,
        key=lambda n: ((n, hashes.get(n)) in vouched, last_round.get(n, -1)),
    )


def _module_source(module: str) -> str:
    """Source text of a ``locus_spark`` module: the one reader the closure
    hash reads code through."""
    return importlib.util.find_spec(module).loader.get_source(module)


@functools.cache
def _is_module(name: str) -> bool:
    try:
        return importlib.util.find_spec(name) is not None
    except ModuleNotFoundError:  # a name inside a module
        return False


def _imports(tree: ast.AST) -> frozenset[str]:
    """The ``locus_spark`` modules (but this one) imported anywhere in
    ``tree``, function-local imports included (the package imports by
    absolute name only)."""
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module
            found.update(
                f"{base}.{a.name}" if _is_module(f"{base}.{a.name}") else base
                for a in node.names
            )
    return frozenset(
        m for m in found if m.split(".")[0] == "locus_spark" and m != __name__
    )


@functools.cache
def _module_imports(text: str) -> frozenset[str]:
    return _imports(ast.parse(text))


@functools.cache
def _statements(text: str) -> tuple[dict[str, list[int]], list[tuple]]:
    """This module's top-level statements, from its source ``text``: the
    statements defining each name, and per statement its source (with
    decorators), the names it reads and the modules it imports."""
    lines = text.splitlines(keepends=True)
    defs: dict[str, list[int]] = {}
    stmts = []
    for i, node in enumerate(ast.parse(text).body):
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            defined = {node.name}
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            defined = {(a.asname or a.name).split(".")[0] for a in node.names}
        else:
            targets = getattr(node, "targets", [getattr(node, "target", None)])
            defined = {n.id for t in targets if t for n in ast.walk(t)
                       if isinstance(n, ast.Name)}
        for name in defined:
            defs.setdefault(name, []).append(i)
        first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
        stmts.append((
            "".join(lines[first - 1:node.end_lineno]),
            {n.id for n in ast.walk(node) if isinstance(n, ast.Name)},
            _imports(node),
        ))
    return defs, stmts


def closure_hash(name: str) -> str:
    """sha256 over everything registry row ``name``'s answer depends on
    (see :func:`_closure_inputs`)."""
    return _closure_hashes([name])[name]


def _closure_hashes(names: list[str]) -> dict[str, str]:
    return {
        name: hashlib.sha256(json.dumps(inputs, sort_keys=True).encode()).hexdigest()
        for name, inputs in _closure_inputs(names).items()
    }


def _closure_inputs(names: list[str]) -> dict[str, dict]:
    """Per row: the source of every top-level statement of this module it
    reaches from its query function (its ``@register`` line names the
    oracle, so oracle templates, oracle callables, helpers and constants
    follow by the names each statement reads), and the source digest of
    every other ``locus_spark`` module in the transitive import closure of
    those statements (imports found with ``ast``, function-local ones
    too).  This module is hashed per statement, not as one file, so an
    edit here moves only the rows that reach it."""
    defs, stmts = _statements(_module_source(__name__))
    modules: dict[str, tuple[str, frozenset[str]]] = {}  # read once per call
    out = {}
    for name in names:
        reached, todo, roots = set(), list(defs[_REGISTRY[name][0].__name__]), set()
        while todo:
            i = todo.pop()
            if i not in reached:
                reached.add(i)
                _, reads, imports = stmts[i]
                roots |= imports
                todo += [j for ref in reads for j in defs.get(ref, ())]
        digests: dict[str, str] = {}
        todo = sorted(roots)
        while todo:
            module = todo.pop()
            if module not in modules:
                text = _module_source(module)
                modules[module] = (
                    hashlib.sha256(text.encode()).hexdigest(),
                    _module_imports(text),
                )
            if module not in digests:
                digests[module] = modules[module][0]
                todo += sorted(modules[module][1])
        out[name] = {
            "statements": sorted(stmts[i][0] for i in reached),
            "modules": digests,
        }
    return out


def queries() -> dict[str, QueryFn]:
    return {name: _REGISTRY[name][0] for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    out = {}
    for name in _ordered_names():
        oracle = _REGISTRY[name][1]
        if oracle is not None:
            out[name] = oracle() if callable(oracle) else oracle
    return out


# ===========================================================================
# kd-family point queries (SURVEY.md §2.2)
# ===========================================================================

_FIND_BOX_ORACLE = f"""
{derived.with_ctes('points', 'query_boxes')}
SELECT q.qid AS qid, p.id AS id, p.x AS x, p.y AS y
FROM query_boxes q
JOIN points p
  ON {sql_box_contains_point("p.x", "p.y", "q.min_x", "q.max_x", "q.min_y", "q.max_y")}
"""


@register("kd_find_box", _FIND_BOX_ORACLE)
def kd_find_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 find_box_items (/root/reference/locus/kd.py:449-507) as a range join."""
    pts = derived.load(spark, sf_dir, "points")
    qb = derived.load(spark, sf_dir, "query_boxes")
    return find_box_join(pts, qb, grid=WORLD_GRID)


_D2_PQ = sql_dist2_point_point("p.x", "p.y", "q.x", "q.y")

_FIND_BALL_ORACLE = f"""
{derived.with_ctes('points', 'query_circles')}
SELECT q.qid AS qid, p.id AS id, p.x AS x, p.y AS y, {_D2_PQ} AS dist2
FROM query_circles q
JOIN points p
  ON {_D2_PQ} <= q.r * q.r
"""


@register("kd_find_ball", _FIND_BALL_ORACLE)
def kd_find_ball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K11 ball search (pre-v5 find_ball; vestigial strategy at
    /root/reference/tests/kd_tests/strategies.py:71-90)."""
    pts = derived.load(spark, sf_dir, "points")
    qc = derived.load(spark, sf_dir, "query_circles")
    return find_ball_join(pts, qc, grid=WORLD_GRID)


_KNN_ORACLE_TMPL = f"""
{derived.with_ctes('points', 'query_points')}
, cand AS (
  SELECT q.qid AS qid, p.id AS id, p.x AS x, p.y AS y, {_D2_PQ} AS dist2
  FROM query_points q CROSS JOIN points p
), ranked AS (
  SELECT qid, id, x, y, dist2,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist2, id) AS rn
  FROM cand
)
SELECT qid, id, x, y, dist2{{rn_col}}
FROM ranked WHERE rn <= {{k}}
"""


@register("kd_knn", _KNN_ORACLE_TMPL.format(k=KNN_K, rn_col=", rn"))
def kd_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 n_nearest_items (/root/reference/locus/kd.py:176-253) as an exact
    kNN join (sampled bound, then one exact join)."""
    pts = derived.load(spark, sf_dir, "points")
    qp = derived.load(spark, sf_dir, "query_points")
    return knn_join(pts, qp, KNN_K, grid=WORLD_GRID)


@register("kd_knn_auto", _KNN_ORACLE_TMPL.format(k=KNN_K, rn_col=", rn"))
def kd_knn_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 kNN through the PointIndex API with ``grid=None``: bounds + row
    count derive the resolution (``cells.resolution_for``) so mean cell
    occupancy tracks ``max_children`` — the reference's ``max_children``
    auto-sizing knob (``/root/reference/locus/r.py:37``) exercised on the
    driver path.  Results are grid-independent, so the oracle is kd_knn's."""
    from locus_spark.index import PointIndex

    pts = derived.load(spark, sf_dir, "points")
    qp = derived.load(spark, sf_dir, "query_points")
    return PointIndex(pts, grid=None).n_nearest_items(qp, KNN_K)


@register("kd_nearest", _KNN_ORACLE_TMPL.format(k=1, rn_col=""))
def kd_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 nearest_item (/root/reference/locus/kd.py:320-374): kNN join, k=1."""
    pts = derived.load(spark, sf_dir, "points")
    qp = derived.load(spark, sf_dir, "query_points")
    return nearest_join(pts, qp, grid=WORLD_GRID)


# ---------------------------------------------------------------------------
# persisted-index queries: build the Hilbert-clustered layout ONCE (Stage-
# Checkpoint parquet + manifest), then answer queries from the checkpointed
# table — the reference's build-once/query-many Tree contract
# (/root/reference/locus/kd.py:29-55).
# ---------------------------------------------------------------------------


def _parquet_fingerprint(sf_dir: str, *tables: str) -> str:
    """Checkpoint-resume fingerprint of the ACTUAL input state: size + mtime
    of every file under each table's parquet path.  A path-derived tag alone
    can never mismatch — if the driver regenerated an sf_dir in place, a
    stale checkpoint would be silently reused and persisted-layout queries
    would answer from old data."""
    import os
    import pathlib as _pl

    parts = [sf_dir]
    for t in tables:
        p = _pl.Path(sf_dir) / f"{t}.parquet"
        files = sorted(p.rglob("*")) if p.is_dir() else [p]
        for f in files:
            if f.is_file():
                st = os.stat(f)
                parts.append(f"{f.name}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


def _index_checkpoint(sf_dir: str):
    import tempfile

    from locus_spark.sources.checkpoint import StageCheckpoint

    tag = sf_dir.strip("/").replace("/", "_")
    return StageCheckpoint(f"{tempfile.gettempdir()}/locus_spark_index/{tag}")


def _persisted_points_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-clustered points layout, checkpointed per sf_dir; repeated
    queries resume with a plain parquet read (manifest fingerprint match)."""
    from locus_spark.cells import cluster_by_hilbert

    def build() -> DataFrame:
        pts = derived.load(spark, sf_dir, "points")
        # sortWithinPartitions tightens parquet row-group min/max stats on
        # cell/hkey — that's what makes the scan-level pruning effective
        return cluster_by_hilbert(pts, WORLD_GRID, num_partitions=8).sortWithinPartitions(
            "hkey"
        )

    return _index_checkpoint(sf_dir).run_stage(
        spark,
        "points_hilbert",
        build,
        fingerprint=_parquet_fingerprint(sf_dir, "customer"),
    )


@register("kd_find_box_persisted", _FIND_BOX_ORACLE)
def kd_find_box_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 range search answered from the PERSISTED Hilbert layout: probe
    boxes compile to a literal cell IN (...) predicate pushed into the
    parquet scan (row-group pruning), exact predicate in a broadcast join."""
    from locus_spark.operators.points import find_box_over_layout

    layout = _persisted_points_layout(spark, sf_dir)
    qb = derived.load(spark, sf_dir, "query_boxes")
    return find_box_over_layout(layout, qb, WORLD_GRID)


@register("kd_knn_persisted", _KNN_ORACLE_TMPL.format(k=KNN_K, rn_col=", rn"))
def kd_knn_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 kNN answered from the persisted layout (the kNN planner scans the
    checkpointed clustered parquet instead of re-deriving geometry)."""
    layout = _persisted_points_layout(spark, sf_dir).select("id", "x", "y")
    qp = derived.load(spark, sf_dir, "query_points")
    return knn_join(layout, qp, KNN_K, grid=WORLD_GRID)


# ---------------------------------------------------------------------------
# incremental index maintenance: the reference trees are immutable (rebuild
# per update); at 100 TB a full rebuild per ingest batch is not a plan —
# serve base ∪ delta between compactions, then fold the delta in by
# re-sorting ONLY the Hilbert ranges it touches (operators/maintenance.py).
# The oracles are the FULL-table oracles: an incremental layout that serves
# anything other than exactly the full-rebuild answer is wrong.
# ---------------------------------------------------------------------------


def _points_base_delta(spark: SparkSession, sf_dir: str):
    """Deterministic 90/10 partition of the points table into a "built
    long ago" base and a "just ingested" delta batch."""
    pts = derived.load(spark, sf_dir, "points")
    is_delta = F.pmod(F.xxhash64(F.col("id")), F.lit(10)) == 9
    return pts.filter(~is_delta), pts.filter(is_delta)


@register("kd_find_box_incremental", _FIND_BOX_ORACLE)
def kd_find_box_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 range search over base ∪ delta WITHOUT compaction: the delta
    batch is cell-indexed against the frozen base grid and unioned in; the
    probe boxes' cell pruning applies to both sides, so results equal the
    full-rebuild answer bit-for-bit (same oracle as kd_find_box)."""
    from locus_spark.cells import cluster_by_hilbert
    from locus_spark.operators.maintenance import delta_layout, merged_layout
    from locus_spark.operators.points import find_box_over_layout

    base, delta = _points_base_delta(spark, sf_dir)
    base_layout = cluster_by_hilbert(base, WORLD_GRID, num_partitions=8)
    layout = merged_layout(base_layout, delta_layout(delta, WORLD_GRID))
    qb = derived.load(spark, sf_dir, "query_boxes")
    return find_box_over_layout(layout, qb, WORLD_GRID)


@register("kd_knn_incremental", _KNN_ORACLE_TMPL.format(k=KNN_K, rn_col=", rn"))
def kd_knn_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 kNN over the RANGED-COMPACTED layout: the delta is folded into
    the base by re-sorting only the touched Hilbert ranges; the compacted
    table must answer exactly like a full rebuild (same oracle as
    kd_knn)."""
    from locus_spark.cells import cluster_by_hilbert
    from locus_spark.operators.maintenance import compact, delta_layout

    base, delta = _points_base_delta(spark, sf_dir)
    base_layout = cluster_by_hilbert(base, WORLD_GRID, num_partitions=8)
    layout, _ = compact(base_layout, delta_layout(delta, WORLD_GRID))
    qp = derived.load(spark, sf_dir, "query_points")
    return knn_join(layout.select("id", "x", "y"), qp, KNN_K, grid=WORLD_GRID)


#: upsert rule for the driver row: every id ≡ 7 (mod 10) was re-crawled and
#: MOVED to (-x/2, -y/2) — multiplication by -0.5 is exact IEEE scaling, so
#: both engines derive bit-identical moved coordinates.
_KNN_UPSERT_ORACLE = f"""
{derived.with_ctes('points', 'query_points')}
, points_u AS (
  SELECT id,
         CASE WHEN id % 10 = 7 THEN x * (-0.5e0) ELSE x END AS x,
         CASE WHEN id % 10 = 7 THEN y * (-0.5e0) ELSE y END AS y
  FROM points
), cand AS (
  SELECT q.qid AS qid, p.id AS id, p.x AS x, p.y AS y, {_D2_PQ} AS dist2
  FROM query_points q CROSS JOIN points_u p
), ranked AS (
  SELECT qid, id, x, y, dist2,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist2, id) AS rn
  FROM cand
)
SELECT qid, id, x, y, dist2, rn
FROM ranked WHERE rn <= {KNN_K}
"""


@register("kd_knn_upsert", _KNN_UPSERT_ORACLE)
def kd_knn_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 kNN over a MERGE-style upsert serving view: every 10th point was
    re-ingested with moved coordinates; the batch REPLACES the base rows
    by id (broadcast id set → map-side left_anti on the base — deletion-
    vector semantics, base files untouched) and is served merged.  The
    oracle is the full-rebuild answer over the post-upsert point set: a
    serving view that resurrects a replaced row or misses a moved one
    fails the hash (operators/maintenance.py:upsert_serving)."""
    from locus_spark.cells import cluster_by_hilbert
    from locus_spark.operators.maintenance import delta_layout, upsert_serving

    pts = derived.load(spark, sf_dir, "points")
    base_layout = cluster_by_hilbert(pts, WORLD_GRID, num_partitions=8)
    moved = pts.filter(F.pmod(F.col("id"), F.lit(10)) == 7).select(
        "id",
        (F.col("x") * F.lit(-0.5)).alias("x"),
        (F.col("y") * F.lit(-0.5)).alias("y"),
    )
    layout = upsert_serving(base_layout, delta_layout(moved, WORLD_GRID))
    qp = derived.load(spark, sf_dir, "query_points")
    return knn_join(layout.select("id", "x", "y"), qp, KNN_K, grid=WORLD_GRID)


#: DBSCAN parameters for the driver row: eps sized so the sf0.01 point
#: cloud (density ~0.023 pts per unit area) forms real multi-point
#: clusters with plenty of border + noise rows
DBSCAN_EPS = 8.0
DBSCAN_MIN_PTS = 5


def _dbscan_oracle() -> str:
    from locus_spark.operators.density import dbscan_oracle_sql
    from locus_spark.sources.derived import DERIVED

    return dbscan_oracle_sql(
        f"WITH RECURSIVE points AS ({DERIVED['points']})",
        DBSCAN_EPS,
        DBSCAN_MIN_PTS,
    )


@register("kd_dbscan", _dbscan_oracle())
def q_kd_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-based DBSCAN over the point cloud: eps-neighbor pairs via a
    3x3 cell-neighborhood equi-join (cell width == eps — linear shuffle,
    never a distance cross join), core/border/noise roles, cluster labels
    from the star-contraction components loop (O(log n) rounds) over core
    points only (operators/density.py; oracle = brute-force pairs +
    recursive-CTE min-reachability)."""
    from locus_spark.operators.density import dbscan

    pts = derived.load(spark, sf_dir, "points")
    return dbscan(pts, DBSCAN_EPS, DBSCAN_MIN_PTS)


def _persisted_boxes_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-clustered boxes layout (keyed/clustered by the min-corner
    cell — the same key ``find_subsets_join`` prunes on), checkpointed per
    sf_dir.  The reference analogue is the packed R-tree build
    (``/root/reference/locus/r.py:31-60``)."""
    from locus_spark.cells import cluster_by_hilbert

    def build() -> DataFrame:
        b = derived.load(spark, sf_dir, "boxes")
        return cluster_by_hilbert(
            b, WORLD_GRID, x="min_x", y="min_y", num_partitions=8
        ).sortWithinPartitions("hkey")

    return _index_checkpoint(sf_dir).run_stage(
        spark,
        "boxes_hilbert",
        build,
        fingerprint=_parquet_fingerprint(sf_dir, "orders"),
    )


def _persisted_segments_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-clustered segments layout (clustered by midpoint cell),
    checkpointed per sf_dir — the reference's segmental-tree build
    (``/root/reference/locus/segmental.py:28-77``)."""
    from locus_spark.cells import cluster_by_hilbert

    def build() -> DataFrame:
        s = derived.load(spark, sf_dir, "segments")
        s = s.withColumn(
            "_mx", (F.col("x1") + F.col("x2")) * 0.5
        ).withColumn("_my", (F.col("y1") + F.col("y2")) * 0.5)
        return (
            cluster_by_hilbert(s, WORLD_GRID, x="_mx", y="_my", num_partitions=8)
            .sortWithinPartitions("hkey")
            .drop("_mx", "_my")
        )

    return _index_checkpoint(sf_dir).run_stage(
        spark,
        "segments_hilbert",
        build,
        fingerprint=_parquet_fingerprint(sf_dir, "lineitem"),
    )


# ===========================================================================
# R-tree-family box queries (SURVEY.md §2.3)
# ===========================================================================

_BOX_OUT = "b.id AS id, b.min_x AS min_x, b.max_x AS max_x, b.min_y AS min_y, b.max_y AS max_y"
_QBOX = ("q.min_x", "q.max_x", "q.min_y", "q.max_y")
_BBOX = ("b.min_x", "b.max_x", "b.min_y", "b.max_y")

_SUBSETS_ORACLE = f"""
{derived.with_ctes('boxes', 'query_boxes')}
SELECT q.qid AS qid, {_BOX_OUT}
FROM query_boxes q
JOIN boxes b
  ON {sql_box_is_subset(*_BBOX, *_QBOX)}
"""


@register("r_find_subsets", _SUBSETS_ORACLE)
def r_find_subsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 find_subsets_items (/root/reference/locus/r.py:190-235)."""
    b = derived.load(spark, sf_dir, "boxes")
    q = derived.load(spark, sf_dir, "query_boxes")
    return find_subsets_join(b, q, grid=WORLD_GRID)


@register("r_find_subsets_persisted", _SUBSETS_ORACLE)
def r_find_subsets_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 containment search answered from the PERSISTED Hilbert boxes
    layout: probe boxes compile to a literal ``cell IN (...)`` predicate
    pushed into the parquet scan, exact closed containment in a broadcast
    join (build-once/query-many, ``/root/reference/locus/r.py:31-60``)."""
    from locus_spark.operators.boxes import find_subsets_over_layout

    layout = _persisted_boxes_layout(spark, sf_dir)
    qb = derived.load(spark, sf_dir, "query_boxes")
    return find_subsets_over_layout(layout, qb, WORLD_GRID)


_OVERLAPS_ORACLE = f"""
{derived.with_ctes('boxes', 'query_boxes')}
SELECT q.qid AS qid, {_BOX_OUT}
FROM query_boxes q
JOIN boxes b
  ON {sql_boxes_overlap(*_QBOX, *_BBOX)}
"""


@register("r_overlaps", _OVERLAPS_ORACLE)
def r_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 strict ``overlaps`` (/root/reference/locus/_core/box.py:12-18) as a
    first-class join: cell equi-join candidates, exact open-inequality
    predicate, report-once on the intersection min-corner cell (no
    dropDuplicates shuffle)."""
    from locus_spark.operators.boxes import find_overlaps_join

    b = derived.load(spark, sf_dir, "boxes")
    q = derived.load(spark, sf_dir, "query_boxes")
    return find_overlaps_join(b, q, grid=WORLD_GRID)


_SUPERSETS_ORACLE = f"""
{derived.with_ctes('boxes', 'query_boxes')}
SELECT q.qid AS qid, {_BOX_OUT}
FROM query_boxes q
JOIN boxes b
  ON {sql_box_is_subset(*_QBOX, *_BBOX)}
"""


@register("r_find_supersets", _SUPERSETS_ORACLE)
def r_find_supersets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 find_supersets_items (/root/reference/locus/r.py:307-353)."""
    b = derived.load(spark, sf_dir, "boxes")
    q = derived.load(spark, sf_dir, "query_boxes")
    return find_supersets_join(b, q, grid=WORLD_GRID)


def _knn_oracle(
    data: str,
    probe: str,
    out_cols: str,
    dist2: str,
    k: int,
    tie: str = "id",
    rn: bool = True,
) -> str:
    return f"""
{derived.with_ctes(data, probe)}
, cand AS (
  SELECT q.qid AS qid, {out_cols}, {dist2} AS dist2
  FROM {probe} q CROSS JOIN {data} b
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist2, {tie}) AS rn
  FROM cand
)
SELECT * {'' if rn else 'EXCLUDE (rn)'}
FROM ranked WHERE rn <= {k}
"""


_D2_PB = sql_dist2_point_box("q.x", "q.y", "b.min_x", "b.max_x", "b.min_y", "b.max_y")


@register(
    "r_knn",
    _knn_oracle("boxes", "query_points", _BOX_OUT, _D2_PB, KNN_K, tie="id DESC"),
)
def r_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9 n_nearest_items (/root/reference/locus/r.py:453-498); ties → larger id."""
    b = derived.load(spark, sf_dir, "boxes")
    qp = derived.load(spark, sf_dir, "query_points")
    return box_knn_join(b, qp, KNN_K, grid=WORLD_GRID)


@register(
    "r_nearest",
    _knn_oracle("boxes", "query_points", _BOX_OUT, _D2_PB, 1, tie="id DESC", rn=False),
)
def r_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 nearest_item (/root/reference/locus/r.py:557-611)."""
    b = derived.load(spark, sf_dir, "boxes")
    qp = derived.load(spark, sf_dir, "query_points")
    return box_nearest_join(b, qp, grid=WORLD_GRID)


# ===========================================================================
# segmental-family queries (SURVEY.md §2.4)
# ===========================================================================

_SEG_OUT = "b.id AS id, b.x1 AS x1, b.y1 AS y1, b.x2 AS x2, b.y2 AS y2"
_D2_PS = sql_dist2_point_segment("q.x", "q.y", "b.x1", "b.y1", "b.x2", "b.y2")
_D2_SS = sql_dist2_segment_segment(
    "q.x1", "q.y1", "q.x2", "q.y2", "b.x1", "b.y1", "b.x2", "b.y2"
)


@register(
    "seg_knn_to_point",
    _knn_oracle("segments", "query_points", _SEG_OUT, _D2_PS, KNN_K),
)
def seg_knn_to_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 n_nearest_to_point_items (/root/reference/locus/segmental.py:341-392)."""
    s = derived.load(spark, sf_dir, "segments")
    qp = derived.load(spark, sf_dir, "query_points")
    return segment_knn_to_point_join(s, qp, KNN_K, grid=WORLD_GRID)


@register(
    "seg_knn_persisted",
    _knn_oracle("segments", "query_points", _SEG_OUT, _D2_PS, KNN_K),
)
def seg_knn_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 kNN answered from the PERSISTED Hilbert segments layout (the kNN
    planner scans the checkpointed clustered parquet instead of re-deriving
    geometry through the DISTINCT shuffle every query) — the reference's
    build-once segmental tree (``/root/reference/locus/segmental.py:28-77``)."""
    layout = _persisted_segments_layout(spark, sf_dir).select(
        "id", "x1", "y1", "x2", "y2"
    )
    qp = derived.load(spark, sf_dir, "query_points")
    return segment_knn_to_point_join(layout, qp, KNN_K, grid=WORLD_GRID)


@register(
    "seg_nearest_to_point",
    _knn_oracle("segments", "query_points", _SEG_OUT, _D2_PS, 1, rn=False),
)
def seg_nearest_to_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 nearest_to_point_item (/root/reference/locus/segmental.py:599-653)."""
    s = derived.load(spark, sf_dir, "segments")
    qp = derived.load(spark, sf_dir, "query_points")
    return segment_nearest_to_point_join(s, qp, grid=WORLD_GRID)


@register(
    "seg_knn",
    _knn_oracle("segments", "query_segments", _SEG_OUT, _D2_SS, KNN_K),
)
def seg_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 n_nearest_items, segment→segment (/root/reference/locus/segmental.py:192-243)."""
    s = derived.load(spark, sf_dir, "segments")
    qs = derived.load(spark, sf_dir, "query_segments")
    return segment_knn_join(s, qs, KNN_K, grid=WORLD_GRID)


@register(
    "seg_nearest",
    _knn_oracle("segments", "query_segments", _SEG_OUT, _D2_SS, 1, rn=False),
)
def seg_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 nearest_item, segment→segment (/root/reference/locus/segmental.py:477-529)."""
    from locus_spark.operators.segments import segment_nearest_join

    s = derived.load(spark, sf_dir, "segments")
    qs = derived.load(spark, sf_dir, "query_segments")
    return segment_nearest_join(s, qs, grid=WORLD_GRID)


# ===========================================================================
# tiling queries (north rule: tile assignment, point-in-polygon, raster↔vector)
# ===========================================================================

from locus_spark.operators.tiles import (  # noqa: E402
    make_polygon_edges,
    point_in_polygon_join,
    polygon_edges_values_sql,
    raster_vector_assignment,
    tile_point_counts,
)

#: the tile the Spark side assigns, rendered from the same GridSpec text
#: (WORLD_GRID is 64x64: cell_w = 360/64 = 5.625, cell_h = 180/64 = 2.8125)
_TILE_X = WORLD_GRID.cell_x_sql("x")
_TILE_Y = WORLD_GRID.cell_y_sql("y")

_TILE_COUNTS_ORACLE = f"""
{derived.with_ctes('points')}
SELECT {_TILE_X} AS tile_x, {_TILE_Y} AS tile_y, count(*) AS n
FROM points
GROUP BY 1, 2
"""


@register("tile_point_counts", _TILE_COUNTS_ORACLE)
def q_tile_point_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster tile aggregation of the points table (exact ints)."""
    pts = derived.load(spark, sf_dir, "points")
    return tile_point_counts(pts, WORLD_GRID)


PYRAMID_MIN_ZOOM = 3

# the oracle replicates Spark's derivation exactly: base tiles via the same
# float expression, coarser zooms via integer >> on the BASE index (not a
# re-division by the coarser cell width, whose float rounding could disagree
# at tile boundaries) — floor(floor(a)/2^k) == floor(a/2^k) makes the shift
# form exact.
_TILE_PYRAMID_ORACLE = f"""
{derived.with_ctes('points')}
, base AS (
  SELECT {_TILE_X} AS tx, {_TILE_Y} AS ty, count(*) AS n
  FROM points GROUP BY 1, 2
)
SELECT z.zoom AS zoom,
       tx >> ({SF_RESOLUTION} - z.zoom) AS tile_x,
       ty >> ({SF_RESOLUTION} - z.zoom) AS tile_y,
       CAST(sum(n) AS BIGINT) AS n
FROM base, unnest([{', '.join(str(z) for z in range(PYRAMID_MIN_ZOOM, SF_RESOLUTION + 1))}]) AS z(zoom)
GROUP BY 1, 2, 3
"""


@register("tile_pyramid", _TILE_PYRAMID_ORACLE)
def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution tile rollup (zoom pyramid): one scan of the points,
    then a 4→1 reaggregation cascade per coarser zoom."""
    from locus_spark.operators.tiles import tile_pyramid

    pts = derived.load(spark, sf_dir, "points")
    return tile_pyramid(pts, WORLD_GRID, min_zoom=PYRAMID_MIN_ZOOM)


_POLY_ROWS = make_polygon_edges(n_polygons=8, seed=42)
_CROSS_SQL = sql_ray_crosses_edge("p.x", "p.y", "e.x1", "e.y1", "e.x2", "e.y2")

_PIP_ORACLE = f"""
{derived.with_ctes('points')}
, edges AS (SELECT * FROM {polygon_edges_values_sql(_POLY_ROWS)})
, counted AS (
  SELECT e.qid AS qid, p.id AS id, p.x AS x, p.y AS y,
         sum(CASE WHEN {_CROSS_SQL} THEN 1 ELSE 0 END) AS nc
  FROM points p CROSS JOIN edges e
  GROUP BY e.qid, p.id, p.x, p.y
)
SELECT qid, id, x, y FROM counted WHERE nc % 2 = 1
"""


@register("pip_polygons", _PIP_ORACLE)
def q_pip_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon join (even-odd ray casting as a relational plan)."""
    pts = derived.load(spark, sf_dir, "points")
    edges = spark.createDataFrame(
        [(q, x1, y1, x2, y2) for q, _, x1, y1, x2, y2 in _POLY_ROWS],
        "qid int, x1 double, y1 double, x2 double, y2 double",
    )
    return point_in_polygon_join(pts, edges, grid=WORLD_GRID)


_RASTER_VECTOR_ORACLE = f"""
{derived.with_ctes('boxes', 'points')}
, pt AS (
  SELECT {_TILE_X} AS tile_x, {_TILE_Y} AS tile_y, count(*) AS n
  FROM points GROUP BY 1, 2
), bt AS (
  SELECT id, tx.tile_x AS tile_x, ty.tile_y AS tile_y
  FROM boxes,
       unnest(range({WORLD_GRID.cell_x_sql("min_x")}, {WORLD_GRID.cell_x_sql("max_x")} + 1)) AS tx(tile_x),
       unnest(range({WORLD_GRID.cell_y_sql("min_y")}, {WORLD_GRID.cell_y_sql("max_y")} + 1)) AS ty(tile_y)
)
SELECT bt.id AS id, count(*) AS n_tiles,
       CAST(sum(coalesce(pt.n, 0)) AS BIGINT) AS n_points
FROM bt LEFT JOIN pt ON bt.tile_x = pt.tile_x AND bt.tile_y = pt.tile_y
GROUP BY bt.id
"""


@register("raster_vector", _RASTER_VECTOR_ORACLE)
def q_raster_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster↔vector tile assignment: boxes exploded to covered raster tiles,
    aggregated against per-tile point counts (exact ints)."""
    b = derived.load(spark, sf_dir, "boxes")
    pts = derived.load(spark, sf_dir, "points")
    return raster_vector_assignment(b, pts, WORLD_GRID)


# ===========================================================================
# training-data pipeline queries (dedup / text / similarity)
# ===========================================================================

from locus_spark.operators.ann import cosine_topk, lsh_topk  # noqa: E402
from locus_spark.operators.dedup import (  # noqa: E402
    exact_dedup,
    minhash_lsh_pairs,
    simhash_near_dups,
)
from locus_spark.operators.textops import (  # noqa: E402
    doc_fingerprint,
    lang_id,
    quality_score,
    token_stats,
)

_DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_docs
FROM documents
GROUP BY md5(text)
"""


@register("dedup_exact", _DEDUP_EXACT_ORACLE)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    derived.register_base_tables(spark, sf_dir)
    return exact_dedup(spark.table("documents"))


# Cross-snapshot incremental dedup: the documents table split 80/20 into an
# existing corpus (doc_id % 5 != 0) and a new snapshot batch (doc_id % 5 = 0)
# — the recurring crawl shape where only content absent from every earlier
# snapshot may enter the batch.  Exact-duplicate texts in the synthetic
# fixture straddle the split, so both drop reasons (seen-in-corpus,
# seen-earlier-in-batch) are exercised.
_DEDUP_INCR_ORACLE = """
WITH corpus AS (
  SELECT md5(text) AS fp FROM documents WHERE doc_id % 5 <> 0
), batch AS (
  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 5 = 0
), kept AS (
  SELECT fp, min(doc_id) AS doc_id, count(*) AS n_batch_dups
  FROM batch GROUP BY fp
)
SELECT k.doc_id AS doc_id, k.fp AS fp, k.n_batch_dups AS n_batch_dups
FROM kept k
WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = k.fp)
"""


@register("dedup_incremental", _DEDUP_INCR_ORACLE)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from locus_spark.operators.dedup import incremental_exact_dedup

    derived.register_base_tables(spark, sf_dir)
    docs = spark.table("documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    return incremental_exact_dedup(corpus, batch)


# Repeated-span statistics (ExactSubstr stand-in, Lee et al. ACL'22): per
# document, the fraction of its 8-token windows whose text also appears in
# at least one OTHER document.  Same tokenization contract as every shingle
# oracle (single-space split, empties dropped, 1-indexed lists); sums are
# cast back to BIGINT because DuckDB widens SUM(BIGINT) to HUGEINT.
_SPAN_DEDUP_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
), sp AS (
  SELECT doc_id,
         md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]
             || ' ' || ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6]
             || ' ' || ts[i+7]) AS sp
  FROM toks, unnest(range(1, len(ts) - 6)) AS u(i)
  WHERE len(ts) >= 8
), pds AS (
  SELECT doc_id, sp, count(*) AS c FROM sp GROUP BY doc_id, sp
), sd AS (
  SELECT sp, count(*) AS nd FROM pds GROUP BY sp
)
SELECT p.doc_id AS doc_id,
       CAST(sum(p.c) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN s.nd > 1 THEN p.c ELSE 0 END) AS BIGINT) AS n_dup_spans,
       sum(CASE WHEN s.nd > 1 THEN p.c ELSE 0 END)
         / CAST(sum(p.c) AS DOUBLE) AS dup_frac
FROM pds p JOIN sd s ON s.sp = p.sp
GROUP BY p.doc_id
"""


@register("doc_span_dedup", _SPAN_DEDUP_ORACLE)
def q_doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from locus_spark.operators.dedup import span_dup_stats

    derived.register_base_tables(spark, sf_dir)
    return span_dup_stats(spark.table("documents"))


def _persisted_corpus_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once MinHash band index over the corpus split (doc_id % 5 != 0):
    one representative per distinct corpus text (min doc_id), 4x2 banding —
    new snapshots probe this layout without recomputing a corpus signature."""
    from locus_spark.operators.dedup import _doc_shingles, band_signatures

    def build() -> DataFrame:
        corpus = spark.table("documents").filter(F.col("doc_id") % 5 != 0)
        reps = (
            corpus.select(F.md5("text").alias("_fp"), "doc_id", "text")
            .groupBy("_fp")
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.min_by("text", "doc_id").alias("text"),
            )
        )
        return band_signatures(_doc_shingles(reps.select("doc_id", "text")))

    return _index_checkpoint(sf_dir).run_stage(
        spark,
        "corpus_minhash_bands",
        build,
        fingerprint=_parquet_fingerprint(sf_dir, "documents"),
    )


# Near-dup twin of dedup_incremental: the batch probed against the PERSISTED
# corpus MinHash band index, exact-Jaccard verified at threshold 0.5 (the 4x2
# S-curve midpoint).  match_id is the corpus REPRESENTATIVE (min doc_id per
# distinct corpus text) with the highest jaccard, smallest id among equals.
_DEDUP_INCR_MINHASH_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
), batch AS (
  SELECT doc_id, text, md5(text) AS fp FROM documents WHERE doc_id % 5 = 0
), creps AS (
  SELECT min(doc_id) AS rep_id, text FROM corpus GROUP BY text
), breps AS (
  SELECT fp, min(text) AS text FROM batch GROUP BY fp
), csh AS (
  SELECT DISTINCT rep_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
  FROM (SELECT rep_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM creps) u, unnest(range(1, len(ts) - 1)) AS uu(i)
  WHERE len(ts) >= 3
), bsh AS (
  SELECT DISTINCT fp, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
  FROM (SELECT fp, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM breps) u, unnest(range(1, len(ts) - 1)) AS uu(i)
  WHERE len(ts) >= 3
), cbands AS (
  SELECT rep_id, p // 2 AS b,
         min(CASE WHEN p % 2 = 0 THEN md5(CAST(p AS VARCHAR) || '|' || shingle) END)
      || min(CASE WHEN p % 2 = 1 THEN md5(CAST(p AS VARCHAR) || '|' || shingle) END) AS mh
  FROM csh, unnest(range(0, 8)) AS pp(p)
  GROUP BY rep_id, p // 2
), bbands AS (
  SELECT fp, p // 2 AS b,
         min(CASE WHEN p % 2 = 0 THEN md5(CAST(p AS VARCHAR) || '|' || shingle) END)
      || min(CASE WHEN p % 2 = 1 THEN md5(CAST(p AS VARCHAR) || '|' || shingle) END) AS mh
  FROM bsh, unnest(range(0, 8)) AS pp(p)
  GROUP BY fp, p // 2
), cand AS (
  SELECT DISTINCT bb.fp, cb.rep_id
  FROM bbands bb JOIN cbands cb ON bb.b = cb.b AND bb.mh = cb.mh
), inter AS (
  SELECT cand.fp, cand.rep_id, count(*) AS ni
  FROM cand
  JOIN bsh ON bsh.fp = cand.fp
  JOIN csh ON csh.rep_id = cand.rep_id AND csh.shingle = bsh.shingle
  GROUP BY cand.fp, cand.rep_id
), bsz AS (SELECT fp, count(*) AS nb FROM bsh GROUP BY fp),
   csz AS (SELECT rep_id, count(*) AS nc FROM csh GROUP BY rep_id),
   verified AS (
  SELECT i.fp, i.rep_id,
         i.ni / CAST(bsz.nb + csz.nc - i.ni AS DOUBLE) AS j
  FROM inter i JOIN bsz ON bsz.fp = i.fp JOIN csz ON csz.rep_id = i.rep_id
  WHERE i.ni / CAST(bsz.nb + csz.nc - i.ni AS DOUBLE) >= 0.5
), best AS (
  SELECT fp, max(j) AS mj FROM verified GROUP BY fp
), matched AS (
  SELECT v.fp, min(v.rep_id) AS match_id, b.mj AS jaccard
  FROM verified v JOIN best b ON b.fp = v.fp AND v.j = b.mj
  GROUP BY v.fp, b.mj
)
SELECT batch.doc_id AS doc_id, m.match_id AS match_id, m.jaccard AS jaccard
FROM batch JOIN matched m ON m.fp = batch.fp
"""


@register("dedup_incremental_minhash", _DEDUP_INCR_MINHASH_ORACLE)
def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from locus_spark.operators.dedup import incremental_minhash_dedup

    derived.register_base_tables(spark, sf_dir)
    docs = spark.table("documents")
    layout = _persisted_corpus_bands(spark, sf_dir)
    return incremental_minhash_dedup(
        layout,
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
    )


_MINHASH_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
  FROM toks, unnest(range(1, len(ts) - 1)) AS u(i)
  WHERE len(ts) >= 3
), bands AS (
  SELECT doc_id, p // 2 AS b,
         min(CASE WHEN p % 2 = 0 THEN md5(CAST(p AS VARCHAR) || '|' || shingle) END)
      || min(CASE WHEN p % 2 = 1 THEN md5(CAST(p AS VARCHAR) || '|' || shingle) END) AS mh
  FROM sh, unnest(range(0, 8)) AS pp(p)
  GROUP BY doc_id, p // 2
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
  FROM bands a JOIN bands c ON a.b = c.b AND a.mh = c.mh AND a.doc_id < c.doc_id
), inter AS (
  SELECT cand.id_a, cand.id_b, count(*) AS n_inter
  FROM cand
  JOIN sh sa ON sa.doc_id = cand.id_a
  JOIN sh sb ON sb.doc_id = cand.id_b AND sb.shingle = sa.shingle
  GROUP BY cand.id_a, cand.id_b
), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
SELECT i.id_a AS id_a, i.id_b AS id_b,
       i.n_inter / CAST(za.n_sh + zb.n_sh - i.n_inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
"""


@register("dedup_minhash_lsh", _MINHASH_ORACLE)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates with exact Jaccard verification."""
    derived.register_base_tables(spark, sf_dir)
    return minhash_lsh_pairs(spark.table("documents"))


NGRAM_MIN_JACCARD = 0.5

# the Spark side is EXACT for J >= t (prefix-filter completeness, see
# operators/dedup.py:ngram_jaccard_pairs), so the oracle can use the simplest
# complete candidate generator: every pair sharing at least one shingle.
_NGRAM_JACCARD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
  FROM toks, unnest(range(1, len(ts) - 1)) AS u(i)
  WHERE len(ts) >= 3
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
), inter AS (
  SELECT cand.id_a, cand.id_b, count(*) AS n_inter
  FROM cand
  JOIN sh sa ON sa.doc_id = cand.id_a
  JOIN sh sb ON sb.doc_id = cand.id_b AND sb.shingle = sa.shingle
  GROUP BY cand.id_a, cand.id_b
), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
SELECT i.id_a AS id_a, i.id_b AS id_b,
       i.n_inter / CAST(za.n_sh + zb.n_sh - i.n_inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
WHERE i.n_inter / CAST(za.n_sh + zb.n_sh - i.n_inter AS DOUBLE) >= {NGRAM_MIN_JACCARD}
"""


@register("dedup_ngram_jaccard", _NGRAM_JACCARD_ORACLE)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs via the prefix-filtered inverted
    shingle index (deterministic sibling of MinHash banding; complete for
    J >= t — no df cap needed, so the oracle is the exact pair set)."""
    from locus_spark.operators.dedup import ngram_jaccard_pairs

    derived.register_base_tables(spark, sf_dir)
    return ngram_jaccard_pairs(
        spark.table("documents"),
        min_jaccard=NGRAM_MIN_JACCARD,
    )


from locus_spark.operators.dedup import simhash_oracle_sql  # noqa: E402


@register("dedup_simhash", simhash_oracle_sql(max_hamming=4))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs — fully relational plan (no Python workers),
    verified bit-for-bit against the equivalent DuckDB SQL."""
    derived.register_base_tables(spark, sf_dir)
    return simhash_near_dups(spark.table("documents"), max_hamming=4)


# components over the SimHash pair graph: the pair oracle is bit-exact SQL,
# so the cluster assignment is oracle-checkable end to end — DuckDB computes
# min-reachable-id per node with a recursive CTE (terminates because UNION
# dedups the frontier), while Spark runs min-label propagation with pointer
# jumping (operators/components.py).
_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS (
{simhash_oracle_sql(max_hamming=4)}
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
), reach(u, l) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.u, r.l FROM edges e JOIN reach r ON e.v = r.u
)
SELECT u AS doc_id, min(l) AS cluster_id FROM reach GROUP BY u
"""


@register("dedup_clusters", _CLUSTERS_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment: SimHash pairs → connected components →
    (doc_id, cluster_id) for every document, cluster_id = smallest doc id in
    the component (singletons map to themselves).  The keep/drop decision a
    dedup pipeline actually consumes — pairs alone aren't actionable.
    Components run on the fingerprint-REPRESENTATIVE graph (one node per
    distinct fp), so a d-identical boilerplate cluster costs O(d), not the
    O(d²) of clustering the expanded pair list."""
    from locus_spark.operators.dedup import simhash_clusters

    derived.register_base_tables(spark, sf_dir)
    return simhash_clusters(spark.table("documents"), max_hamming=4)


#: per-language mix rates for the registered sampling query — en downweighted,
#: de kept whole, zh absent (falls to the default) to exercise every branch
SAMPLE_RATES = {"en": 0.5, "de": 1.0, "fr": 0.25, "es": 0.125}
SAMPLE_DEFAULT = 0.1

from locus_spark.operators.sampling import (  # noqa: E402
    sample_oracle_predicate,
    stratified_sample,
)

_SAMPLE_ORACLE = f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE {sample_oracle_predicate('lang', SAMPLE_RATES, 'doc_id',
                               default_rate=SAMPLE_DEFAULT)}
"""


@register("doc_sample_stratified", _SAMPLE_ORACLE)
def q_doc_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language mix rebalance: hash-threshold stratified
    sampling (pure filter — reproducible across reruns/retries/partitionings,
    no shuffle; a 0.25 sample is a subset of the 0.5 sample at the same
    seed)."""
    derived.register_base_tables(spark, sf_dir)
    return stratified_sample(
        spark.table("documents").select("doc_id", "lang", "source", "n_chars"),
        strata_col="lang",
        rates=SAMPLE_RATES,
        key_col="doc_id",
        default_rate=SAMPLE_DEFAULT,
    )


_FP_ORACLE = "SELECT doc_id, md5(text) AS fp, n_chars FROM documents"


@register("doc_fingerprint", _FP_ORACLE)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    derived.register_base_tables(spark, sf_dir)
    return doc_fingerprint(spark.table("documents"))


from locus_spark.operators.textops import SUBTOKEN_RE  # noqa: E402

_TOKEN_STATS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
)
SELECT doc_id, CAST(len(ts) AS INT) AS n_tokens,
       CAST(len(list_distinct(ts)) AS INT) AS n_uniq,
       CAST(len(list_distinct(ts)) AS DOUBLE) / CAST(len(ts) AS DOUBLE) AS uniq_ratio,
       CAST(len(regexp_extract_all(text, '{SUBTOKEN_RE}')) AS INT) AS n_subtokens
FROM toks
"""


@register("doc_token_stats", _TOKEN_STATS_ORACLE)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    derived.register_base_tables(spark, sf_dir)
    return token_stats(spark.table("documents"))


_QUALITY_ORACLE = """
WITH toks AS (
  SELECT doc_id, n_chars, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
), scored AS (
  SELECT doc_id, CAST(len(ts) AS INT) AS n_tokens,
         CAST(len(list_filter(ts, t -> list_contains(['the','a','of','and','is','to','in'], t))) AS INT) AS n_stop,
         n_chars
  FROM toks
)
SELECT doc_id, n_tokens,
       CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
       CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_tok_len,
       least(CAST(n_tokens AS DOUBLE) / 100.0e0, 1.0e0)
         * (1.0e0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS quality
FROM scored
"""


@register("doc_quality", _QUALITY_ORACLE)
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    derived.register_base_tables(spark, sf_dir)
    return quality_score(spark.table("documents"))


TOP_QUALITY_FRAC = 0.25

# oracle: the single-window formulation (fine at sf scale); the Spark side
# is the two-pass histogram selection, which must be row-identical — the
# quality doubles are bit-equal across engines (doc_quality is hash-green),
# so bucket membership and the (quality desc, doc_id asc) boundary rank
# decide identically.
_TOP_QUALITY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, n_chars, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
), scored AS (
  SELECT doc_id, lang,
         least(CAST(len(ts) AS DOUBLE) / 100.0e0, 1.0e0)
           * (1.0e0 - CAST(len(list_filter(ts, t -> list_contains(['the','a','of','and','is','to','in'], t))) AS DOUBLE)
                      / CAST(len(ts) AS DOUBLE)) AS quality
  FROM toks
), ranked AS (
  SELECT doc_id, lang, quality,
         row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM scored
)
SELECT doc_id, lang, quality
FROM ranked
WHERE rn <= ceil({TOP_QUALITY_FRAC} * n)
"""


@register("doc_top_quality", _TOP_QUALITY_ORACLE)
def q_doc_top_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-25%-quality documents per language via the two-pass
    histogram selection (operators/selection.py) — no per-language global
    sort, so the dominant language doesn't serialize through one reducer."""
    from locus_spark.operators.selection import top_fraction_per_group

    derived.register_base_tables(spark, sf_dir)
    docs = spark.table("documents")
    scored = quality_score(docs, keep_cols=("lang",)).select(
        "doc_id", "lang", "quality"
    )
    return top_fraction_per_group(
        scored,
        group_col="lang",
        order_col="quality",
        frac=TOP_QUALITY_FRAC,
        id_col="doc_id",
    )


PASSAGE_TOKENS = 8
PASSAGE_MIN_DF = 3

_PASSAGE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
), p AS (
  SELECT doc_id, i, array_to_string(ts[i:i+{PASSAGE_TOKENS - 1}], ' ') AS pass_
  FROM toks, unnest(range(1, len(ts) + 1, {PASSAGE_TOKENS})) u(i)
  WHERE len(ts) >= 1
), df AS (
  SELECT pass_, count(DISTINCT doc_id) AS dfc FROM p GROUP BY pass_
), flagged AS (
  SELECT p.doc_id, p.i, p.pass_, (df.dfc >= {PASSAGE_MIN_DF}) AS boiler
  FROM p JOIN df USING (pass_)
)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN NOT boiler THEN pass_ END, ' ' ORDER BY i), '')
         AS clean_text,
       count(*) AS n_passages,
       CAST(coalesce(sum(CASE WHEN boiler THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_removed
FROM flagged GROUP BY doc_id
"""


@register("doc_passage_dedup", _PASSAGE_ORACLE)
def q_doc_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate-passage removal (the paragraph-dedup step of
    a web pipeline): fixed 8-token passages, drop those shared by >= 3
    distinct documents, reassemble the survivors in document order."""
    from locus_spark.operators.textops import remove_boilerplate_passages

    derived.register_base_tables(spark, sf_dir)
    return remove_boilerplate_passages(
        spark.table("documents"),
        passage_tokens=PASSAGE_TOKENS,
        min_doc_freq=PASSAGE_MIN_DF,
    )


HOST_CAP_N = 10

# oracle: single-window formulation; the Spark side is the fixed-cap variant
# of the two-pass histogram selection (same bit-equal quality doubles and
# (quality desc, doc_id asc) boundary rank as doc_top_quality)
_HOST_CAP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
), scored AS (
  SELECT doc_id, source,
         least(CAST(len(ts) AS DOUBLE) / 100.0e0, 1.0e0)
           * (1.0e0 - CAST(len(list_filter(ts, t -> list_contains(['the','a','of','and','is','to','in'], t))) AS DOUBLE)
                      / CAST(len(ts) AS DOUBLE)) AS quality
  FROM toks
), ranked AS (
  SELECT doc_id, source, quality,
         row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS rn
  FROM scored
)
SELECT doc_id, source, quality FROM ranked WHERE rn <= {HOST_CAP_N}
"""


@register("doc_host_cap", _HOST_CAP_ORACLE)
def q_doc_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host document cap — "keep at most N documents per source/host by
    quality", the standard per-domain curation step of a web corpus — via
    the fixed-cap variant of the two-pass histogram selection
    (operators/selection.py): no per-host global sort, so a giant host
    never serializes through one reducer."""
    from locus_spark.operators.selection import top_n_per_group

    derived.register_base_tables(spark, sf_dir)
    docs = spark.table("documents")
    scored = quality_score(docs, keep_cols=("source",)).select(
        "doc_id", "source", "quality"
    )
    return top_n_per_group(
        scored,
        group_col="source",
        order_col="quality",
        n=HOST_CAP_N,
        id_col="doc_id",
    )


from locus_spark.operators.decontam import DECON_SHINGLE  # noqa: E402

#: eval-set membership predicate for the registered decontamination query:
#: a deterministic ~1% slice of the documents table stands in for the
#: benchmark suite (same table shape; no external data per the brief)
DECON_EVAL_MOD = 97

_DECON_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] AS shingle
  FROM toks, unnest(range(1, len(ts) - 2)) AS u(i)
  WHERE len(ts) >= {DECON_SHINGLE}
), ev AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {DECON_EVAL_MOD} = 0
), bad AS (
  SELECT DISTINCT s.doc_id FROM sh s JOIN ev ON s.shingle = ev.shingle
  WHERE s.doc_id % {DECON_EVAL_MOD} <> 0
)
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE doc_id % {DECON_EVAL_MOD} <> 0
  AND doc_id NOT IN (SELECT doc_id FROM bad)
"""


@register("dedup_decontaminate", _DECON_ORACLE)
def q_dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: drop every training document sharing a
    4-word n-gram with the (deterministic ~1%) eval slice.  Eval shingle
    set is broadcast; the training side never shuffles for the probe
    (operators/decontam.py)."""
    from locus_spark.operators.decontam import decontaminate

    derived.register_base_tables(spark, sf_dir)
    docs = spark.table("documents")
    is_eval = F.col("doc_id") % DECON_EVAL_MOD == 0
    train = docs.filter(~is_eval).select("doc_id", "lang", "source", "n_chars", "text")
    eval_docs = docs.filter(is_eval).select("doc_id", "text")
    return decontaminate(train, eval_docs).drop("text")


_REPETITION_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
), bi AS (
  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS bigram
  FROM toks, unnest(range(1, len(ts))) AS u(i)
  WHERE len(ts) >= 2
), per AS (
  SELECT doc_id, bigram, count(*) AS n FROM bi GROUP BY doc_id, bigram
)
SELECT doc_id,
       CAST(sum(n) AS BIGINT) AS n_bigrams,
       CAST(count(*) AS BIGINT) AS n_uniq_bigrams,
       1.0e0 - CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS dup_bigram_ratio,
       CAST(max(n) AS BIGINT) AS top_bigram_n,
       CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS top_bigram_ratio
FROM per GROUP BY doc_id
"""


@register("doc_repetition", _REPETITION_ORACLE)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (Gopher-style filters): duplicate
    bigram-occurrence fraction + top-bigram share, two map-side-combined
    hash aggs (operators/textops.py:repetition_stats)."""
    from locus_spark.operators.textops import repetition_stats

    derived.register_base_tables(spark, sf_dir)
    return repetition_stats(spark.table("documents"))


_LEN_QUANTILES_ORACLE = """
WITH counts AS (
  SELECT lang, n_chars, count(*) AS cnt FROM documents GROUP BY lang, n_chars
), cum AS (
  SELECT lang, n_chars,
         sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
         sum(cnt) OVER (PARTITION BY lang) AS n
  FROM counts
)
SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
       CAST(min(CASE WHEN cum >= ceil(0.25e0 * n) THEN n_chars END) AS BIGINT) AS p25,
       CAST(min(CASE WHEN cum >= ceil(0.5e0 * n) THEN n_chars END) AS BIGINT) AS p50,
       CAST(min(CASE WHEN cum >= ceil(0.9e0 * n) THEN n_chars END) AS BIGINT) AS p90,
       CAST(min(CASE WHEN cum >= ceil(0.99e0 * n) THEN n_chars END) AS BIGINT) AS p99
FROM cum GROUP BY lang
"""


@register("doc_len_quantiles", _LEN_QUANTILES_ORACLE)
def q_doc_len_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length quantiles via the value histogram — the
    cumulative window runs over |langs| x |distinct lengths| cells, never
    the data (operators/textops.py:len_quantiles)."""
    from locus_spark.operators.textops import len_quantiles

    derived.register_base_tables(spark, sf_dir)
    return len_quantiles(spark.table("documents"))


from locus_spark.operators.packing import PACK_BUDGET, PACK_SHARDS  # noqa: E402

_PACK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, doc_id % {PACK_SHARDS} AS pack_group,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS INT)
           AS n_tokens
  FROM documents
), packed AS (
  SELECT doc_id, pack_group, n_tokens,
         sum(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id)
           - n_tokens AS start_tok
  FROM toks
)
SELECT doc_id, pack_group, n_tokens,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(floor(start_tok / {float(PACK_BUDGET)}) AS BIGINT) AS seq_id
FROM packed
"""


@register("doc_pack_sequences", _PACK_ORACLE)
def q_doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per-shard token streams, each doc
    labeled with its stream offset and training-window index
    (operators/packing.py — shards independent, one window cumsum each)."""
    from locus_spark.operators.packing import pack_sequences

    derived.register_base_tables(spark, sf_dir)
    return pack_sequences(spark.table("documents"))


#: the composite training-mix pipeline cuts to the top half per language
#: before rebalancing — separate constant from TOP_QUALITY_FRAC so the two
#: registered queries exercise different boundary buckets
MIX_TOP_FRAC = 0.5

_TRAINING_MIX_ORACLE_TMPL = """
WITH keep AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
), surv AS (
  SELECT d.doc_id, d.lang, d.text FROM documents d JOIN keep USING (doc_id)
), toks AS (
  SELECT doc_id, lang, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM surv
), scored AS (
  SELECT doc_id, lang,
         least(CAST(len(ts) AS DOUBLE) / 100.0e0, 1.0e0)
           * (1.0e0 - CAST(len(list_filter(ts, t -> list_contains(['the','a','of','and','is','to','in'], t))) AS DOUBLE)
                      / CAST(len(ts) AS DOUBLE)) AS quality
  FROM toks
), ranked AS (
  SELECT doc_id, lang, quality,
         row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM scored
), top AS (
  SELECT doc_id, lang, quality FROM ranked WHERE rn <= ceil({frac} * n)
)
SELECT doc_id, lang, quality FROM top WHERE {sample_pred}
"""


@register(
    "pipeline_training_mix",
    _TRAINING_MIX_ORACLE_TMPL.format(
        frac=MIX_TOP_FRAC,
        sample_pred=sample_oracle_predicate(
            "lang", SAMPLE_RATES, "doc_id", default_rate=SAMPLE_DEFAULT
        ),
    ),
)
def q_pipeline_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data curation flow as ONE declarative plan:
    exact dedup (md5 content hash, keep smallest doc_id) → quality scoring →
    exact top-half-per-language histogram selection → deterministic
    per-language mix rebalance.  Three composable operators, one Catalyst
    plan: the dedup groupBy and the keeper join shuffle on their keys, the
    selection histogram is map-side combinable, and the mix rebalance is a
    pure codegen'd filter — nothing funnels through a single reducer at any
    corpus size."""
    from locus_spark.operators.dedup import exact_dedup
    from locus_spark.operators.selection import top_fraction_per_group

    derived.register_base_tables(spark, sf_dir)
    docs = spark.table("documents")
    keepers = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    survivors = docs.join(keepers, "doc_id")
    scored = quality_score(survivors, keep_cols=("lang",)).select(
        "doc_id", "lang", "quality"
    )
    top = top_fraction_per_group(
        scored,
        group_col="lang",
        order_col="quality",
        frac=MIX_TOP_FRAC,
        id_col="doc_id",
    )
    return stratified_sample(
        top,
        strata_col="lang",
        rates=SAMPLE_RATES,
        key_col="doc_id",
        default_rate=SAMPLE_DEFAULT,
    )


def _lang_score_sql(lang: str, markers: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return (
        f"CAST(len(list_filter(ts, t -> list_contains([{lst}], t))) AS INT) AS _s_{lang}"
    )


from locus_spark.operators.textops import LANG_MARKERS  # noqa: E402

_LANG_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
), scores AS (
  SELECT doc_id, lang,
         {", ".join(_lang_score_sql(l, m) for l, m in sorted(LANG_MARKERS.items()))}
  FROM toks
), best AS (
  SELECT *, greatest({", ".join(f"_s_{l}" for l in sorted(LANG_MARKERS))}) AS _best
  FROM scores
)
SELECT doc_id, lang,
       CASE {" ".join(f"WHEN _s_{l} = _best THEN '{l}'" for l in sorted(LANG_MARKERS))} END AS pred_lang,
       CAST(_best AS BIGINT) AS n_hits
FROM best
"""


@register("doc_lang_id", _LANG_ORACLE)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    derived.register_base_tables(spark, sf_dir)
    return lang_id(spark.table("documents"))


ANN_K = 5


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine similarity of two embedding columns."""
    def dot(x: str, y: str) -> str:
        return f"list_dot_product(CAST({x} AS DOUBLE[]), CAST({y} AS DOUBLE[]))"

    return f"{dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)}))"


def _probes(emb: DataFrame, where: str) -> DataFrame:
    """(qid, qvec) probe frame: the ``where`` rows of an embedding frame."""
    return emb.filter(where).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )


#: exact cosine ranking of the first 10 embeddings against the corpus
_ANN_RANKED = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
cand AS (
  SELECT q.qid AS qid, e.vec_id AS vec_id, {_cos_sql('e.embedding', 'q.qv')} AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.qid
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
  FROM cand
)"""

_ANN_ORACLE = f"""{_ANN_RANKED}
SELECT qid, vec_id, cos, rn FROM ranked WHERE rn <= {ANN_K}
"""


@register("ann_cosine_topk", _ANN_ORACLE)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k (baseline for the LSH scale path)."""
    derived.register_base_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    probes = _probes(emb, "vec_id < 10")
    return cosine_topk(emb, probes, ANN_K)


# side-parquet dir for the ANN recall oracles: each recall query OVERWRITES
# its approximate result's (qid, vec_id) here before returning, and its
# DuckDB oracle reads the same files — valid because the harness always runs
# the Spark query before its oracle (tools/check_oracle.py order; the
# driver's gate does the same).  The path is sf-independent on purpose: the
# overwrite makes whatever sf runs last the one both engines see.
def ann_ids_path(name: str) -> str:
    """Where recall query ``name`` persists its approximate ids, under the
    temp dir of the moment (``tempfile.tempdir`` may point a run at a
    private dir)."""
    import tempfile

    return f"{tempfile.gettempdir()}/locus_spark_ann/{name}"


def _ann_recall_oracle(name: str) -> Callable[[], str]:
    """DuckDB recall oracle: its OWN brute-force exact top-k, left-joined
    against the approximate ids the Spark query persisted.  The approximate
    side enters both engines as data (deterministic — seeded planes /
    centroids); the value-verified parts are the exact top-k, the
    intersection, and the recall arithmetic — and the measured recall itself
    becomes a hash-checked artifact instead of a pytest-only claim.
    Rendered by :func:`oracle_sql`, so it reads the path the query wrote."""
    return lambda: f"""{_ANN_RANKED}, exact AS (
  SELECT qid, vec_id FROM ranked WHERE rn <= {ANN_K}
), apx AS (
  SELECT qid, vec_id FROM read_parquet('{ann_ids_path(name)}/*.parquet')
)
SELECT e.qid AS qid,
       CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       CAST(count(a.vec_id) AS DOUBLE) / CAST({ANN_K} AS DOUBLE) AS recall
FROM exact e LEFT JOIN apx a ON e.qid = a.qid AND e.vec_id = a.vec_id
GROUP BY e.qid
"""


def _recall_vs_exact(
    spark: SparkSession, approx: DataFrame, exact: DataFrame, name: str
) -> DataFrame:
    """Persist the approximate ids, read them back (so Spark computes recall
    over the same artifact the oracle reads), and emit per-qid recall."""
    ids_path = ann_ids_path(name)
    approx.select("qid", "vec_id").write.mode("overwrite").parquet(ids_path)
    apx = spark.read.parquet(ids_path).withColumn("_hit", F.lit(1))
    joined = exact.select("qid", "vec_id").join(apx, ["qid", "vec_id"], "left")
    return joined.groupBy("qid").agg(
        F.count("_hit").alias("n_hit"),
        (F.count("_hit").cast("double") / F.lit(float(ANN_K))).alias("recall"),
    )


@register("ann_lsh_recall", _ann_recall_oracle("lsh_topk_ids"))
def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General-distribution hyperplane-LSH top-k, value-checked via its
    RECALL against the exact brute force: the approximate run (deterministic
    — seeded planes) is persisted as data for both engines, each engine
    computes its own exact top-k, and the per-probe hit counts must agree.
    Replaces the former rows-only ``ann_lsh_topk`` row; the jittered recall
    floor is additionally pytest-asserted (tests/test_pipeline_ops.py)."""
    derived.register_base_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    probes = _probes(emb, "vec_id < 10")
    approx = lsh_topk(emb, probes, ANN_K, n_planes=6, n_tables=8)
    exact = cosine_topk(emb, probes, ANN_K)
    return _recall_vs_exact(spark, approx, exact, "lsh_topk_ids")


EMB_DUP_THRESHOLD = 0.35  # testdata embeddings have no planted dups (max cos ~0.51)

_EMB_DUP_ORACLE = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos_sql('a.embedding', 'b.embedding')} AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {EMB_DUP_THRESHOLD}
"""


@register("dedup_embedding_cosine", _EMB_DUP_ORACLE)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact all-pairs form — the SMALL-SCALE
    VERIFIER ONLY (O(n²) nested-loop join; the scale component is the
    LSH-bucketed ``dedup_embedding_lsh`` below)."""
    from locus_spark.operators.ann import cosine_expr

    derived.register_base_tables(spark, sf_dir)
    e = spark.table("embeddings")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a", "id_b", cosine_expr("va", "vb").alias("cos")
    ).filter(F.col("cos") >= EMB_DUP_THRESHOLD)


# --- LSH-bucketed near-dup: the 100 TB-scale component -----------------------
#
# The testdata embeddings have no natural near-dups (max cos ~0.51), so the
# fixture PLANTS them deterministically: for every vec_id % 20 == 0, a copy
# with the vector scaled by 2.  cos(v, 2v) ≈ 1 and — the key property — a
# positive scaling preserves every hyperplane sign, so the planted pair lands
# in the SAME bucket of every LSH table: the approximate path is provably
# complete on this fixture and the exact all-pairs oracle is a true equality
# check, not a recall bound.  (float→double and ×2.0 are exact IEEE ops, so
# Spark and DuckDB derive bit-identical vectors.)

EMB_LSH_THRESHOLD = 0.99

_EMB_AUG_SPARK = """
SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
FROM embeddings
UNION ALL
SELECT vec_id + 10000000 AS vec_id,
       transform(embedding, x -> CAST(x AS DOUBLE) * 2.0e0) AS embedding
FROM embeddings WHERE vec_id % 20 = 0
"""

_EMB_AUG_DUCK = """
SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
FROM embeddings
UNION ALL
SELECT vec_id + 10000000 AS vec_id,
       list_transform(embedding, x -> CAST(x AS DOUBLE) * 2.0e0) AS embedding
FROM embeddings WHERE vec_id % 20 = 0
"""

_EMB_LSH_ORACLE = f"""
WITH aug AS ({_EMB_AUG_DUCK})
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos_sql('a.embedding', 'b.embedding')} AS cos
FROM aug a JOIN aug b ON a.vec_id < b.vec_id
WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {EMB_LSH_THRESHOLD}
"""


def _planted_topk_oracle(aug: str, k: int) -> str:
    """Exact cosine top-``k`` of the planted originals over the augmented
    corpus ``aug`` (DuckDB SQL)."""
    return f"""
WITH aug AS ({aug})
, q AS (SELECT vec_id AS qid, embedding AS qv FROM aug
        WHERE vec_id % 20 = 0 AND vec_id < 200)
, cand AS (
  SELECT q.qid AS qid, a.vec_id AS vec_id, {_cos_sql('a.embedding', 'q.qv')} AS cos
  FROM aug a CROSS JOIN q
  WHERE a.vec_id <> q.qid
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
  FROM cand
)
SELECT qid, vec_id, cos, rn FROM ranked WHERE rn <= {k}
"""


# top-1 ANN over the same planted fixture: each probe's nearest neighbor is
# its scaled copy (cos ≈ 1 vs ≤ ~0.51 natural), and a positive scaling lands
# in the SAME sign bucket of every LSH table, so the approximate path is
# provably exact at k=1 here — giving the LSH ANN operator a full-equality
# oracle row (its general top-k recall is pytest-asserted instead).
_ANN_LSH_PLANTED_ORACLE = _planted_topk_oracle(_EMB_AUG_DUCK, 1)


@register("ann_lsh_top1_planted", _ANN_LSH_PLANTED_ORACLE)
def q_ann_lsh_top1_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN with a deterministic exactness guarantee: top-1
    over the planted-copy corpus, checked for full equality against the
    exact brute-force oracle."""
    derived.register_base_tables(spark, sf_dir)
    aug = spark.sql(_EMB_AUG_SPARK)
    # only planted originals probe — each has a scaled copy in the corpus,
    # which every LSH table is guaranteed to bucket with it
    probes = _probes(aug, "vec_id % 20 = 0 AND vec_id < 200")
    return lsh_topk(aug, probes, 1, n_planes=6, n_tables=8)


# top-K planted fixture: THREE copies per planted original, scaled by 2, 4
# and 8.  Powers of two make every derived float exact-scaled (c·x rounds to
# exactly c·round(x) for c = 2^k), so (a) every hyperplane sign and every
# centroid cosine is bit-identical to the original's — the copies share its
# bucket in EVERY LSH table and its IVF cluster, making the approximate path
# provably complete at k=3 — and (b) cos(v, c·v) is the SAME float for all
# three copies (the c cancels exactly through dot, norm and sqrt), so the
# top-3 tie order is purely the vec_id order, identical in both engines.
ANN_PLANTED_K = 3

_SCALES3 = ((10_000_000, "2.0e0"), (20_000_000, "4.0e0"), (30_000_000, "8.0e0"))

_EMB_AUG3_SPARK = "\nUNION ALL\n".join(
    ["""SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
FROM embeddings"""]
    + [
        f"""SELECT vec_id + {off} AS vec_id,
       transform(embedding, x -> CAST(x AS DOUBLE) * {scale}) AS embedding
FROM embeddings WHERE vec_id % 20 = 0"""
        for off, scale in _SCALES3
    ]
)

_EMB_AUG3_DUCK = _EMB_AUG3_SPARK.replace("transform(", "list_transform(")

_ANN_PLANTED_TOPK_ORACLE = _planted_topk_oracle(_EMB_AUG3_DUCK, ANN_PLANTED_K)


@register("ann_lsh_topk_planted", _ANN_PLANTED_TOPK_ORACLE)
def q_ann_lsh_topk_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN at k > 1 with a deterministic exactness guarantee: each
    probe's true top-3 are its three power-of-two scaled copies (cos ≈ 1 vs
    ≤ ~0.51 natural; equal cos floats, vec_id tie order), every copy shares
    the probe's bucket in every table, so the approximate top-3 equals the
    brute-force oracle — full value equality through the same k-slicing and
    ranking code the general top-k runs."""
    derived.register_base_tables(spark, sf_dir)
    aug = spark.sql(_EMB_AUG3_SPARK)
    probes = _probes(aug, "vec_id % 20 = 0 AND vec_id < 200")
    return lsh_topk(aug, probes, ANN_PLANTED_K, n_planes=6, n_tables=8)


@register("ann_ivf_topk_planted", _ANN_PLANTED_TOPK_ORACLE)
def q_ann_ivf_topk_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN at k > 1 with the same planted exactness guarantee: scaled
    copies have bit-identical centroid cosines (argmax never flips), so the
    probe's own cluster — always among its n_probe — holds all three."""
    from locus_spark.operators.ann import ivf_topk

    derived.register_base_tables(spark, sf_dir)
    aug = spark.sql(_EMB_AUG3_SPARK)
    probes = _probes(aug, "vec_id % 20 = 0 AND vec_id < 200")
    cents = _ivf_centroids(spark, sf_dir, "planted3", aug)
    return ivf_topk(aug, probes, ANN_PLANTED_K, n_probe=4, centroids=cents)


#: trained IVF centroids memoized per (sf_dir, corpus tag) — k-means is
#: deterministic (seeded init + fixed Lloyd rounds), so retraining inside
#: every query call would only burn jobs re-deriving the same vectors.
_IVF_CENTROIDS: dict[tuple[str, str], list[list[float]]] = {}


def _ivf_centroids(
    spark: SparkSession, sf_dir: str, tag: str, corpus: DataFrame
) -> list[list[float]]:
    from locus_spark.operators.ann import kmeans_centroids

    key = (sf_dir, tag)
    if key not in _IVF_CENTROIDS:
        _IVF_CENTROIDS[key] = kmeans_centroids(corpus, n_centroids=32, iters=2)
    return _IVF_CENTROIDS[key]


@register("ann_ivf_top1_planted", _ANN_LSH_PLANTED_ORACLE)
def q_ann_ivf_top1_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (k-means coarse quantizer + cluster-probed search) with a
    deterministic exactness guarantee: a positively scaled copy has
    bit-identical centroid cosines (argmax never flips), so it shares its
    original's cluster and the probe's first probed cluster always holds
    it — top-1 over the planted corpus equals the brute-force oracle."""
    from locus_spark.operators.ann import ivf_topk

    derived.register_base_tables(spark, sf_dir)
    aug = spark.sql(_EMB_AUG_SPARK)
    probes = _probes(aug, "vec_id % 20 = 0 AND vec_id < 200")
    cents = _ivf_centroids(spark, sf_dir, "planted", aug)
    return ivf_topk(aug, probes, 1, n_probe=4, centroids=cents)


@register("ann_ivf_recall", _ann_recall_oracle("ivf_topk_ids"))
def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General-distribution IVF top-k value-checked via its recall against
    the exact brute force — same protocol as ``ann_lsh_recall`` (approximate
    run persisted as data; both engines independently compute the exact side
    and the hit counts).  Replaces the former rows-only ``ann_ivf_topk``."""
    from locus_spark.operators.ann import ivf_topk

    derived.register_base_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    probes = _probes(emb, "vec_id < 10")
    cents = _ivf_centroids(spark, sf_dir, "raw", emb)
    approx = ivf_topk(emb, probes, ANN_K, n_probe=4, centroids=cents)
    exact = cosine_topk(emb, probes, ANN_K)
    return _recall_vs_exact(spark, approx, exact, "ivf_topk_ids")


def _persisted_ivf_layout(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[list[float]]]:
    """Build-once inverted file over the planted corpus: vectors assigned to
    their nearest centroid and written as parquet PARTITIONED BY the cluster
    id, with the trained centroids in a sidecar JSON.  Query-many runs read
    back only the probed clusters' partitions (directory-level pruning) —
    at 100 TB this is what makes IVF search touch n_probe/n_centroids of
    the corpus bytes, not just rows."""
    import json as _json

    from locus_spark.operators.ann import ivf_assign

    ck = _index_checkpoint(sf_dir)
    side = ck.root / "ivf_planted" / "centroids.json"
    fp = _parquet_fingerprint(sf_dir, "embeddings")

    def build() -> DataFrame:
        aug = spark.sql(_EMB_AUG_SPARK)
        cents = _ivf_centroids(spark, sf_dir, "planted", aug)
        side.parent.mkdir(parents=True, exist_ok=True)
        side.write_text(_json.dumps(cents))
        return ivf_assign(aug, cents)

    layout = ck.run_stage(
        spark, "ivf_planted", build, fingerprint=fp, partition_by=["_cid"]
    )
    if not side.exists():  # resumed from a manifest written without the sidecar
        aug = spark.sql(_EMB_AUG_SPARK)
        side.write_text(
            _json.dumps(_ivf_centroids(spark, sf_dir, "planted", aug))
        )
    return layout, _json.loads(side.read_text())


@register("ann_ivf_top1_persisted", _ANN_LSH_PLANTED_ORACLE)
def q_ann_ivf_top1_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-1 answered from the PERSISTED inverted file: probes compile
    their n_probe cluster ids to a literal ``_cid IN (...)`` predicate that
    prunes parquet partitions at the scan (small-probe contract, same bound
    as ``find_box_over_layout``); exact cosine + window inside the read
    clusters.  Same planted full-equality oracle as the from-scratch form."""
    from locus_spark.operators.ann import ivf_search, probe_cluster_ids

    derived.register_base_tables(spark, sf_dir)
    layout, cents = _persisted_ivf_layout(spark, sf_dir)
    aug = spark.sql(_EMB_AUG_SPARK)
    probes = _probes(aug, "vec_id % 20 = 0 AND vec_id < 200")
    pr = probe_cluster_ids(probes, cents, n_probe=4)
    cids = sorted(r["_cid"] for r in pr.select("_cid").distinct().collect())
    corpus = layout.filter(F.col("_cid").isin(cids))
    return ivf_search(corpus, pr, 1)


@register("dedup_embedding_lsh", _EMB_LSH_ORACLE)
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via hyperplane-LSH buckets (operators/ann.py
    ``embedding_near_dups``) — candidate pairs come from a bucket equi-join
    (no cartesian product; candidate volume ≈ n/2^planes per bucket), exact
    cosine verified inside each bucket.  Run over the planted-dup fixture and
    checked for full equality against the exact all-pairs oracle."""
    from locus_spark.operators.ann import embedding_near_dups

    derived.register_base_tables(spark, sf_dir)
    aug = spark.sql(_EMB_AUG_SPARK)
    return embedding_near_dups(aug, threshold=EMB_LSH_THRESHOLD)


# --- IVF-PQ: product-quantized ANN (operators/pq.py) ------------------------
#
# The storage/bandwidth scale path: the candidate scan reads m-byte PQ codes
# (64× smaller than the 64-dim float64 vectors), full vectors are fetched
# only for the per-probe shortlist re-rank.  Two value rows, same protocol
# as the IVF/LSH family: a recall row (the measured recall itself is the
# hash-checked artifact) and a planted full-equality row.

#: trained PQ codebooks memoized per sf_dir — training is deterministic
#: (xxhash-seeded init + fixed Lloyd rounds), same rationale as
#: ``_IVF_CENTROIDS``.
_PQ_BOOKS: dict[str, list[list[list[float]]]] = {}


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    from locus_spark.operators.pq import train_codebooks

    if sf_dir not in _PQ_BOOKS:
        _PQ_BOOKS[sf_dir] = train_codebooks(
            spark.table("embeddings"), m=8, ksub=16, dim=64
        )
    return _PQ_BOOKS[sf_dir]


@register("ann_pq_recall", _ann_recall_oracle("pq_topk_ids"))
def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General-distribution IVF-PQ top-k value-checked via its recall against
    the exact brute force (approximate ids persisted as data; both engines
    independently compute the exact side and the per-probe hit counts).
    Exercises the full scale path: coarse prune -> ADC over codes ->
    shortlist -> exact re-rank."""
    from locus_spark.operators.pq import ivf_pq_topk

    derived.register_base_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    probes = _probes(emb, "vec_id < 10")
    cents = _ivf_centroids(spark, sf_dir, "raw", emb)
    books = _pq_codebooks(spark, sf_dir)
    approx = ivf_pq_topk(
        emb, probes, ANN_K, books, centroids=cents, n_probe=8, shortlist=50
    )
    exact = cosine_topk(emb, probes, ANN_K)
    return _recall_vs_exact(spark, approx, exact, "pq_topk_ids")


#: identity-copy augmentation for the PQ planted row: the copy must be
#: BIT-IDENTICAL to its original (not just exactly-scaled) so it shares the
#: original's PQ code and IVF cluster by construction.
_EMB_AUG1_SPARK = """
SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
FROM embeddings
UNION ALL
SELECT vec_id + 10000000 AS vec_id,
       transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
FROM embeddings WHERE vec_id % 20 = 0
"""

_ANN_PQ_PLANTED_ORACLE = _planted_topk_oracle(
    _EMB_AUG1_SPARK.replace("transform(", "list_transform("), 1
)


@register("ann_pq_top1_planted", _ANN_PQ_PLANTED_ORACLE)
def q_ann_pq_top1_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with a deterministic exactness guarantee: each probe's true
    nearest is its planted identity copy (cos(v,v) vs <= ~0.51 natural; the
    cosine expression computes the same double in both engines).  The copy
    shares its original's IVF cluster by construction (same vector, same
    argmax), the probe's own cluster is always probed, and ``shortlist`` is
    set above the probed-cluster candidate count so ADC provably never
    prunes — the result equals exact search over the probed clusters, and
    the planted top-1 equals the brute-force oracle in full."""
    from locus_spark.operators.pq import ivf_pq_topk

    derived.register_base_tables(spark, sf_dir)
    aug = spark.sql(_EMB_AUG1_SPARK)
    probes = _probes(aug, "vec_id % 20 = 0 AND vec_id < 200")
    cents = _ivf_centroids(spark, sf_dir, "raw", spark.table("embeddings"))
    books = _pq_codebooks(spark, sf_dir)
    return ivf_pq_topk(
        aug, probes, 1, books, centroids=cents, n_probe=4, shortlist=1_000_000
    )


def _persisted_pq_layout(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[list[float]], list[list[list[float]]]]:
    """Build-once PQ inverted file over the identity-copy corpus: rows are
    (vec_id, code) ONLY — 8 small ints instead of the 64-double vector —
    written as parquet PARTITIONED BY the IVF cluster id, with centroids and
    codebooks in a sidecar JSON.  Query-many runs read back only the probed
    clusters' partitions; at 100 TB the serving scan therefore touches
    n_probe/n_centroids of a frame that is itself ~64× smaller than the
    vectors (which stay in the base table, fetched per-shortlist-row)."""
    import json as _json

    from locus_spark.operators.ann import ivf_assign
    from locus_spark.operators.pq import l2_normalized, pq_encode

    ck = _index_checkpoint(sf_dir)
    side = ck.root / "pq_planted" / "model.json"
    fp = _parquet_fingerprint(sf_dir, "embeddings")

    def model() -> tuple[list[list[float]], list[list[list[float]]]]:
        cents = _ivf_centroids(spark, sf_dir, "raw", spark.table("embeddings"))
        books = _pq_codebooks(spark, sf_dir)
        return cents, books

    def build() -> DataFrame:
        cents, books = model()
        side.parent.mkdir(parents=True, exist_ok=True)
        side.write_text(_json.dumps({"centroids": cents, "codebooks": books}))
        aug = spark.sql(_EMB_AUG1_SPARK)
        return pq_encode(l2_normalized(ivf_assign(aug, cents)), books)

    layout = ck.run_stage(
        spark, "pq_planted", build, fingerprint=fp, partition_by=["_cid"]
    )
    if not side.exists():  # resumed from a manifest written without the sidecar
        cents, books = model()
        side.parent.mkdir(parents=True, exist_ok=True)
        side.write_text(_json.dumps({"centroids": cents, "codebooks": books}))
    m = _json.loads(side.read_text())
    return layout, m["centroids"], m["codebooks"]


@register("ann_pq_top1_persisted", _ANN_PQ_PLANTED_ORACLE)
def q_ann_pq_top1_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ answered from the PERSISTED code layout: probes compile their
    n_probe cluster ids to a ``_cid IN (...)`` literal that prunes parquet
    partitions at the scan (small-probe contract, as the IVF persisted row),
    ADC scores the read-back codes, and the shortlist re-rank joins vectors
    from the base corpus.  Same identity-copy full-equality oracle as the
    from-scratch form (shortlist above the candidate count)."""
    from locus_spark.operators.ann import probe_cluster_ids
    from locus_spark.operators.pq import ivf_pq_search

    derived.register_base_tables(spark, sf_dir)
    layout, cents, books = _persisted_pq_layout(spark, sf_dir)
    aug = spark.sql(_EMB_AUG1_SPARK)
    probes = _probes(aug, "vec_id % 20 = 0 AND vec_id < 200")
    pr = probe_cluster_ids(probes, cents, n_probe=4)
    cids = sorted(r["_cid"] for r in pr.select("_cid").distinct().collect())
    corpus = layout.filter(F.col("_cid").isin(cids))
    return ivf_pq_search(
        corpus, probes, aug, books, cents, 1, n_probe=4, shortlist=1_000_000
    )


# ===========================================================================
# multimodal plumbing (binary columns + typed metadata; decode kernels are
# deterministic fakes — see operators/multimodal.py)
# ===========================================================================

#: deterministic media table derived from documents — shared SQL text so the
#: frame-sample plan is oracle-checkable (payload column added Spark-side only
#: where needed; DuckDB never sees it).
MEDIA_META_SQL = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'video'
            WHEN doc_id % 3 = 1 THEN 'image'
            ELSE 'audio' END AS kind,
       CAST(n_chars * 7 + 500 AS BIGINT) AS duration_ms
FROM documents
"""

_FRAME_SAMPLE_ORACLE = f"""
WITH media AS ({MEDIA_META_SQL})
SELECT media_id, CAST(ts AS BIGINT) AS frame_ts_ms
FROM media, unnest(range(0, greatest(CAST(1 AS BIGINT), duration_ms), 1000)) AS t(ts)
WHERE kind = 'video'
"""


@register("media_frame_sample", _FRAME_SAMPLE_ORACLE)
def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (pure Column math; decode stubbed)."""
    from locus_spark.operators.multimodal import frame_sample_plan

    derived.register_base_tables(spark, sf_dir)
    media = spark.sql(MEDIA_META_SQL).withColumn(
        "duration_ms", F.col("duration_ms").cast("int")
    )
    out = frame_sample_plan(media, every_ms=1000)
    return out.select("media_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"))


# the fake stats decoder (operators/multimodal.py:fake_decode_stats) computes
# only exact-integer ratios over the payload bytes, and the documents text is
# pure ASCII, so DuckDB can replicate every feature bit-for-bit from ord() of
# each character (byte == code point).
_MEDIA_FEATURES_ORACLE = f"""
WITH media AS ({MEDIA_META_SQL})
, src AS (
  SELECT m.media_id AS media_id, m.kind AS kind, d.text AS text
  FROM media m JOIN documents d ON m.media_id = d.doc_id
)
, chars AS (
  SELECT media_id, kind, i, ord(substr(text, CAST(i AS INT), 1)) AS b,
         len(text) AS n
  FROM src, unnest(range(1, len(text) + 1)) AS t(i)
)
SELECT media_id, kind,
       CAST(sum(b) AS DOUBLE) / CAST(n AS DOUBLE) AS f0,
       CAST(min(b) AS DOUBLE) AS f1,
       CAST(max(b) AS DOUBLE) AS f2,
       CAST(n AS DOUBLE) AS f3,
       CAST(sum(CASE WHEN b > 100 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(n AS DOUBLE) AS f4,
       CASE WHEN n > 1
            THEN CAST(sum(CASE WHEN i <= n // 2 THEN b ELSE 0 END) AS DOUBLE)
                   / CAST(n // 2 AS DOUBLE)
            ELSE 0.0e0 END AS f5,
       CASE WHEN n > 1
            THEN CAST(sum(CASE WHEN i > n // 2 THEN b ELSE 0 END) AS DOUBLE)
                   / CAST(n - n // 2 AS DOUBLE)
            ELSE 0.0e0 END AS f6,
       CAST(sum(b * b) AS DOUBLE) / CAST(n AS DOUBLE) AS f7
FROM chars
GROUP BY media_id, kind, n
UNION ALL
-- empty payload: the chars unnest drops the group entirely, but
-- fake_decode_stats returns an all-zero feature row for it
SELECT media_id, kind, 0.0e0, 0.0e0, 0.0e0, 0.0e0, 0.0e0, 0.0e0, 0.0e0, 0.0e0
FROM src WHERE len(text) = 0
"""


@register("media_features", _MEDIA_FEATURES_ORACLE)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over opaque binary payloads —
    scalar-column form (f0..f7 doubles) so tabular harnesses can hash it;
    the array<float> form stays available via extract_media_features."""
    from locus_spark.operators.multimodal import extract_media_feature_stats

    derived.register_base_tables(spark, sf_dir)
    media = spark.sql(MEDIA_META_SQL).join(
        spark.table("documents").select("doc_id", "text"),
        F.col("media_id") == F.col("doc_id"),
    ).select(
        "media_id",
        "kind",
        F.encode("text", "utf-8").alias("payload"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
        F.col("duration_ms").cast("int").alias("duration_ms"),
    )
    return extract_media_feature_stats(media)


# ===========================================================================
# pages pipeline (north-rule input shape: url, warc_ts, html, text, lang) —
# synthesized deterministically (sources/synth.py).  The geocoded table is
# materialized ONCE through a StageCheckpoint; every pages query (and its
# DuckDB oracle) reads the SAME persisted parquet, which upgrades all three
# from rows-only to value-level checks: the xxhash64-geocoded coordinates
# and url ids are computed Spark-side and STORED, so the oracle never needs
# a hash builtin — it just reads the files.
# ===========================================================================

PAGES_N = 20_000
PAGES_GRID_RES = 6
PAGES_GRID = GridSpec(-180.0, -90.0, 180.0, 90.0, PAGES_GRID_RES)



def pages_ck_root() -> str:
    """Checkpoint root of the persisted pages, under the temp dir of the
    moment (``tempfile.tempdir`` may point a run at a private dir)."""
    import tempfile

    return f"{tempfile.gettempdir()}/locus_spark_pages"


#: the pages input is code-generated (no files to stat), so the honest
#: fingerprint is a code-version tag — BUMP whenever synth/extract/geocode
#: semantics change, or stale checkpoints will be resumed.
PAGES_FINGERPRINT = f"synth-v1-n{PAGES_N}"


def pages_data_dir() -> str:
    """Parquet data dir of the persisted stage (the path the oracles read)."""
    return f"{pages_ck_root()}/geocoded_n{PAGES_N}/data"


def _geocoded_pages(spark: SparkSession):
    from locus_spark.geocode import geocode
    from locus_spark.sources.synth import synth_pages_extracted

    return geocode(synth_pages_extracted(spark, PAGES_N, partitions=8))


def _persisted_geocoded_pages(spark: SparkSession) -> DataFrame:
    """synth → extract → geocode, materialized once (build-once/query-many —
    the pipeline analogue of the persisted spatial layouts above)."""
    from locus_spark.sources.checkpoint import StageCheckpoint

    ck = StageCheckpoint(pages_ck_root())

    def build() -> DataFrame:
        geo = _geocoded_pages(spark)
        return geo.select(
            "url",
            F.xxhash64("url").alias("id"),
            "lang",
            "text",
            "extracted",
            "x",
            "y",
        )

    return ck.run_stage(
        spark, f"geocoded_n{PAGES_N}", build, fingerprint=PAGES_FINGERPRINT
    )


def _pages_geotile_oracle() -> str:
    tx, ty = PAGES_GRID.cell_x_sql("x"), PAGES_GRID.cell_y_sql("y")
    return f"""
SELECT {tx} AS tile_x, {ty} AS tile_y, lang, count(*) AS n
FROM read_parquet('{pages_data_dir()}/*.parquet')
GROUP BY 1, 2, 3
"""


@register("pages_geotile_lang", _pages_geotile_oracle)
def q_pages_geotile_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pages pipeline: synth → extract → geocode (persisted once) →
    per-(tile, lang) rollup.  The batch shape of the 10^12-row production
    job (jobs/run.py); value-checked against DuckDB over the persisted
    parquet."""
    geo = _persisted_geocoded_pages(spark)
    return (
        geo.selectExpr(
            f"{PAGES_GRID.cell_x_sql('x')} AS tile_x",
            f"{PAGES_GRID.cell_y_sql('y')} AS tile_y",
            "lang",
        )
        .groupBy("tile_x", "tile_y", "lang")
        .agg(F.count("*").alias("n"))
    )


def _pages_identity_oracle() -> str:
    return f"""
SELECT lang, count(*) AS n_pages,
       CAST(sum(CASE WHEN extracted = text THEN 1 ELSE 0 END) AS BIGINT)
         AS n_identical
FROM read_parquet('{pages_data_dir()}/*.parquet')
GROUP BY lang
"""


@register("pages_extract_identity", _pages_identity_oracle)
def q_pages_extract_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identity audit: per-lang page counts vs rows where the vectorized
    extractor reproduced the source text exactly (input_hint invariant)."""
    geo = _persisted_geocoded_pages(spark)
    return geo.groupBy("lang").agg(
        F.count("*").alias("n_pages"),
        F.sum((F.col("extracted") == F.col("text")).cast("long")).alias("n_identical"),
    )


_D2_PAGES = sql_dist2_point_point("g.x", "g.y", "p.qx", "p.qy")

def _pages_knn_oracle() -> str:
    return f"""
WITH geo AS (
  SELECT id, x, y FROM read_parquet('{pages_data_dir()}/*.parquet')
), probes AS (
  SELECT id AS qid, x AS qx, y AS qy FROM geo WHERE id % 200 = 0
), cand AS (
  SELECT p.qid AS qid, g.id AS id, g.x AS x, g.y AS y, {_D2_PAGES} AS dist2
  FROM probes p CROSS JOIN geo g
), ranked AS (
  SELECT qid, id, x, y, dist2,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist2, id) AS rn
  FROM cand
)
SELECT qid, id, x, y, dist2, rn FROM ranked WHERE rn <= {KNN_K}
"""


@register("pages_knn", _pages_knn_oracle)
def q_pages_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship production shape: exact kNN join over the persisted geocoded
    pages (probes = a deterministic 1-in-200 id sample; ``pmod(id,200)==0``
    agrees with the oracle's ``id % 200 = 0`` — both mean divisible)."""
    geo = _persisted_geocoded_pages(spark).select("id", "x", "y")
    probes = geo.filter(F.pmod(F.col("id"), F.lit(200)) == 0).select(
        F.col("id").alias("qid"), "x", "y"
    )
    return knn_join(geo, probes, KNN_K, grid=PAGES_GRID)


def _canonical_oracle() -> str:
    from locus_spark.operators.urls import (
        DUCK_CANONICAL_TMPL,
        DUCK_MESSY_TMPL,
        DUCK_U3_TMPL,
    )

    messy = DUCK_MESSY_TMPL.format(u="url", id="id")
    u3 = DUCK_U3_TMPL.format(u="raw")
    canon = DUCK_CANONICAL_TMPL.format(u3="u3")
    return f"""
WITH raw AS (
  SELECT unnest([url, {messy}]) AS raw
  FROM read_parquet('{pages_data_dir()}/*.parquet')
), pre AS (
  SELECT raw, {u3} AS u3 FROM raw
), canon AS (
  SELECT raw, {canon} AS canonical_url FROM pre
)
SELECT canonical_url, count(*) AS n_fetches,
       CAST(count(DISTINCT raw) AS BIGINT) AS n_raw_forms,
       min(raw) AS rep_url
FROM canon GROUP BY canonical_url
"""


@register("pages_canonical_dedup", _canonical_oracle)
def q_pages_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL dedup: each stored page url plus a deterministic
    fetch-noise variant (uppercased host / explicit :443 / utm+fragment
    decoration, keyed by id mod 4) is canonicalized — fragment and utm_*
    stripped, default port dropped, host lowercased — and grouped by the
    canonical form.  Pure Column projection + one count/min hash agg;
    duplicate-storm hot keys arrive map-side pre-reduced
    (operators/urls.py)."""
    from locus_spark.operators.urls import canonical_url, messy_variant

    geo = _persisted_geocoded_pages(spark).select("id", "url")
    raw = geo.select(
        F.explode(
            F.array(F.col("url"), messy_variant(F.col("url"), F.col("id")))
        ).alias("raw")
    )
    return raw.groupBy(
        canonical_url(F.col("raw")).alias("canonical_url")
    ).agg(
        F.count("*").alias("n_fetches"),
        F.countDistinct("raw").alias("n_raw_forms"),
        F.min("raw").alias("rep_url"),
    )


#: pages-DBSCAN parameters: eps well under the 2-degree geocode jitter, so
#: only genuinely dense url clusters (hot hosts — the built-in skew of the
#: synth corpus, max host ~2k pages) reach core density; sparse hosts fall
#: out as noise.  The spam-farm-detection shape.
PAGES_DBSCAN_EPS = 0.25
PAGES_DBSCAN_MIN_PTS = 5


def _pages_dbscan_oracle() -> str:
    from locus_spark.operators.density import dbscan_oracle_sql

    cte = (
        "WITH RECURSIVE points AS ("
        f"SELECT id, x, y FROM read_parquet('{pages_data_dir()}/*.parquet'))"
    )
    return dbscan_oracle_sql(cte, PAGES_DBSCAN_EPS, PAGES_DBSCAN_MIN_PTS)


@register("pages_dbscan", _pages_dbscan_oracle)
def q_pages_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density clustering of the geocoded pages: dense url neighborhoods
    (hot hosts / spatial spam farms) become DBSCAN clusters, sparse hosts
    noise — the production-input twin of kd_dbscan, over the persisted
    geocoded parquet (operators/density.py)."""
    from locus_spark.operators.density import dbscan

    geo = _persisted_geocoded_pages(spark).select("id", "x", "y")
    return dbscan(geo, PAGES_DBSCAN_EPS, PAGES_DBSCAN_MIN_PTS)


#: host re-derived from the STORED url with the same regex in both engines
#: (simple char classes — Java regex and RE2 agree), so the oracle needs no
#: parse_url builtin
_HOST_RE = "https://([^/]+)/"

def _pages_host_oracle() -> str:
    return f"""
SELECT regexp_extract(url, '{_HOST_RE}', 1) AS host,
       count(*) AS n_pages,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(sum(length(extracted)) AS BIGINT) AS n_chars,
       min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
FROM read_parquet('{pages_data_dir()}/*.parquet')
GROUP BY 1
"""


@register("pages_host_stats", _pages_host_oracle)
def q_pages_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host rollup of the persisted geocoded pages: page count, distinct
    languages, extracted bytes, and the host's point bounding box (the
    host-anchor + jitter neighborhood).  One hash agg with map-side
    combine; hosts are the natural domain-level curation unit (and the
    skew drivers — the bbox exposes each hot host's spatial footprint)."""
    geo = _persisted_geocoded_pages(spark)
    return geo.groupBy(
        F.regexp_extract("url", _HOST_RE, 1).alias("host")
    ).agg(
        F.count("*").alias("n_pages"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.length("extracted")).alias("n_chars"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


# ===========================================================================
# streaming / events
# ===========================================================================

_EVENTS_ORACLE = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""

# at-least-once ingest fixture: the unique-keyed events table with two
# deterministic redelivery waves (exact row copies, as a replaying transport
# produces) — dedup must return exactly the original table
_EVENTS_REPLAYED = """
SELECT * FROM events
UNION ALL SELECT * FROM events WHERE event_id % 7 = 0
UNION ALL SELECT * FROM events WHERE event_id % 13 = 0
"""

_EVENTS_DEDUP_ORACLE = f"SELECT DISTINCT * FROM ({_EVENTS_REPLAYED})"


@register("events_dedup_replayed", _EVENTS_DEDUP_ORACLE)
def q_events_dedup_replayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion dedup over an at-least-once replayed feed — the batch form
    of ``streaming/dedup.dedup_events_stream`` (watermark-bounded
    ``dropDuplicatesWithinWatermark``, redelivery replay pytest).
    Redeliveries are exact copies, so ``dropDuplicates`` on the key is
    value-deterministic and equals the oracle's ``SELECT DISTINCT *``."""
    from locus_spark.streaming.dedup import dedup_events_batch

    derived.register_base_tables(spark, sf_dir)
    return dedup_events_batch(spark.sql(_EVENTS_REPLAYED))


_SESSIONIZE_ORACLE = """
WITH o AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM s GROUP BY user_id, sid
"""


@register("events_sessionize", _SESSIONIZE_ORACLE)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization, batch form; the streaming form is the
    applyInPandasWithState operator in locus_spark/streaming/sessionize.py."""
    from locus_spark.streaming.sessionize import sessionize_batch

    derived.register_base_tables(spark, sf_dir)
    return sessionize_batch(spark.table("events"), gap_s=1800)


@register("events_hourly", _EVENTS_ORACLE)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event rollup — the batch form of the streaming aggregation in
    locus_spark/streaming (same plan, readStream source)."""
    derived.register_base_tables(spark, sf_dir)
    ev = spark.table("events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(
        F.count("*").alias("n"), F.countDistinct("user_id").alias("n_users")
    )


# ===========================================================================
# bucketed co-located join — write-once pre-shuffle for repeated equi-joins
# ===========================================================================

_BUCKETED_JOIN_ORACLE = """
SELECT d.lang AS lang, e.label AS label,
       COUNT(*) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
GROUP BY d.lang, e.label
"""


def _bucketed_root(sf_dir: str):
    """Data root of the bucketed tables of ``sf_dir``, under the temp dir of
    the moment (``tempfile.tempdir`` may point a run at a private dir)."""
    import pathlib
    import tempfile

    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_").replace("-", "_")
    return pathlib.Path(tempfile.gettempdir()) / "locus_spark_bucketed" / tag


def _bucketed_doc_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """documents/embeddings rewritten ONCE as bucketed external tables
    (8 buckets on the join key, sorted within buckets); rebuilt only when
    the input parquet fingerprint changes or the session's catalog lost the
    table definitions (the in-memory catalog does not survive restarts —
    the data files do, but bucket metadata lives in the catalog, so a
    path-level parquet read of the same files would NOT be bucketed)."""
    import json

    from locus_spark.sources.bucketed import write_bucketed

    root = _bucketed_root(sf_dir)
    tag = root.name
    docs_t, embs_t = f"locus_docs_b_{tag}", f"locus_embs_b_{tag}"
    fp = _parquet_fingerprint(sf_dir, "documents", "embeddings")
    man = root / "manifest.json"
    if (
        spark.catalog.tableExists(docs_t)
        and spark.catalog.tableExists(embs_t)
        and man.exists()
        and json.loads(man.read_text()).get("fingerprint") == fp
    ):
        return docs_t, embs_t
    derived.register_base_tables(spark, sf_dir)
    write_bucketed(
        spark.table("documents"), docs_t, str(root / "documents"),
        bucket_cols=["doc_id"], num_buckets=8, sort_cols=["doc_id"],
    )
    write_bucketed(
        spark.table("embeddings"), embs_t, str(root / "embeddings"),
        bucket_cols=["vec_id"], num_buckets=8, sort_cols=["vec_id"],
    )
    root.mkdir(parents=True, exist_ok=True)
    man.write_text(json.dumps({"fingerprint": fp}))
    return docs_t, embs_t


@register("doc_join_bucketed", _BUCKETED_JOIN_ORACLE)
def q_doc_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, label) rollup over a documents-embeddings equi-join served
    from bucketed layouts: both tables were pre-shuffled ONCE at write time
    (``bucketBy`` on the join key, same bucket count), so the join plans
    with NO Exchange on either side — each task reads bucket *i* of both
    tables and joins locally.  At 100 TB this converts every repeated join
    in a curation pipeline from a full corpus shuffle into a co-located
    read (the no-Exchange plan shape is pinned in
    tests/test_bucketed_join.py)."""
    from locus_spark.sources.bucketed import colocated_join

    docs_t, embs_t = _bucketed_doc_tables(spark, sf_dir)
    joined = colocated_join(spark, docs_t, embs_t, on=[("doc_id", "vec_id")])
    return joined.groupBy("lang", "label").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


_ATTRIBUTION_ORACLE = """
SELECT v.user_id AS user_id, v.event_id AS view_id, c.event_id AS click_id,
       v.ts AS view_ts, c.ts AS click_ts
FROM events v JOIN events c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts
 AND c.ts <= v.ts + INTERVAL 30 MINUTE
WHERE v.event_type = 'view' AND c.event_type = 'click'
"""


@register("events_attribution", _ATTRIBUTION_ORACLE)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→click attribution (same user, click within 30 min of the view,
    inclusive) — the batch form of the watermarked stream-stream join in
    locus_spark/streaming/joins.py (state bounded by watermark + gap;
    multi-batch replay + eviction pytest in tests/test_streaming_joins.py)."""
    from locus_spark.streaming.joins import attribute_clicks_batch

    derived.register_base_tables(spark, sf_dir)
    return attribute_clicks_batch(spark.table("events"), gap_s=1800)


# ===========================================================================
# sketch aggregations (operators/sketches.py): HLL distinct, GK quantile
# summaries, frequent items — the tolerance-oracle protocol of the ANN
# recall rows (exact statistic + deterministic in-bound boolean), except
# heavy hitters, whose output is exact and oracled as plain SQL.
# ===========================================================================

_HLL_ORACLE = """
SELECT lang, CAST(count(DISTINCT md5(text)) AS BIGINT) AS exact_distinct,
       true AS hll_ok
FROM documents GROUP BY lang
"""


@register("doc_distinct_hll", _HLL_ORACLE)
def q_doc_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinct-document count: exact count_distinct (the
    oracle-checked value) beside an HLL++ sketch asserted to land within
    4x its relative standard deviation (operators/sketches.py — at 100 TB
    only the constant-size sketch ships; the exact column judges it)."""
    from locus_spark.operators.sketches import hll_distinct_check

    derived.register_base_tables(spark, sf_dir)
    docs = spark.table("documents").select(
        "lang", F.md5("text").alias("fp")
    )
    return hll_distinct_check(docs, "lang", "fp")


_QSKETCH_ORACLE = """
WITH counts AS (
  SELECT lang, n_chars, count(*) AS cnt FROM documents GROUP BY lang, n_chars
), cum AS (
  SELECT lang, n_chars,
         sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
         sum(cnt) OVER (PARTITION BY lang) AS n
  FROM counts
), ps AS (SELECT unnest([0.25e0, 0.5e0, 0.9e0, 0.99e0]) AS p)
SELECT lang, p,
       CAST(min(CASE WHEN cum >= ceil(p * n) THEN n_chars END) AS BIGINT)
         AS exact_q,
       true AS rank_ok
FROM cum CROSS JOIN ps GROUP BY lang, p
"""


@register("doc_quantile_sketch", _QSKETCH_ORACLE)
def q_doc_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, p) exact discrete n_chars quantile beside a
    percentile_approx (Greenwald-Khanna) sketch whose value's TRUE rank is
    asserted within the published 1/accuracy rank-error bound — an exact
    integer test via the same value histogram (operators/sketches.py),
    deterministic under any partition merge order."""
    from locus_spark.operators.sketches import quantile_sketch_check
    from locus_spark.operators.textops import QUANTILE_PS

    derived.register_base_tables(spark, sf_dir)
    out = quantile_sketch_check(
        spark.table("documents"), "lang", "n_chars", QUANTILE_PS
    )
    return out.withColumn("exact_q", F.col("exact_q").cast("long"))


from locus_spark.operators.sketches import HH_SUPPORT  # noqa: E402

_HH_ORACLE = f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
  FROM documents
), tot AS (SELECT count(*) AS n FROM toks)
SELECT tok, CAST(count(*) AS BIGINT) AS cnt
FROM toks CROSS JOIN tot
GROUP BY tok, n
HAVING count(*) >= ceil({HH_SUPPORT} * n)
"""


@register("doc_heavy_hitters", _HH_ORACLE)
def q_doc_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (tokens at >= 1% of all occurrences):
    Arrow-batched per-batch candidate pruning (pigeonhole superset) + an
    exact map-side-filtered count of candidates only — the shuffle never
    carries the full token stream (operators/sketches.py:heavy_hitters)."""
    from locus_spark.operators.sketches import heavy_hitters

    derived.register_base_tables(spark, sf_dir)
    return heavy_hitters(spark.table("documents"))


# ===========================================================================
# inverted text index (operators/invindex.py) and as-of join
# (operators/asof.py) — webtext search/serving surface
# ===========================================================================

#: fixed conjunctive query for the driver rows — three common corpus tokens
SEARCH_TERMS = ("scan", "merge", "data")

_SEARCH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> ''))
           AS tok
  FROM documents
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks
  WHERE tok IN ('scan', 'merge', 'data')
  GROUP BY doc_id, tok
)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS sum_tf
FROM tf GROUP BY doc_id HAVING count(*) = 3
"""


@register("doc_search_and", _SEARCH_ORACLE)
def q_doc_search_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) term search over inverted posting rows: filter to
    the query terms (pushdown), one map-side-combined aggregation checks
    all-terms membership — the shuffle carries query-term postings only
    (operators/invindex.py)."""
    from locus_spark.operators.invindex import build_postings, search_and

    derived.register_base_tables(spark, sf_dir)
    postings = build_postings(spark.table("documents"))
    return search_and(postings, SEARCH_TERMS)


def _persisted_posting_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once posting layout partitioned by token hash bucket ``_pb``
    (64 dirs): term queries prune to |terms| directories — the text-index
    twin of the IVF cluster-partitioned inverted file."""
    from locus_spark.operators.invindex import _bucket, build_postings

    def build() -> DataFrame:
        return build_postings(spark.table("documents")).withColumn(
            "_pb", _bucket(F.col("tok"))
        ).repartition("_pb")

    return _index_checkpoint(sf_dir).run_stage(
        spark,
        "postings_bucketed",
        build,
        fingerprint=_parquet_fingerprint(sf_dir, "documents"),
        partition_by=["_pb"],
    )


@register("doc_search_persisted", _SEARCH_ORACLE)
def q_doc_search_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same conjunctive search served from the persisted bucket-partitioned
    posting layout — `_pb IN` is directory-level pruning, `tok IN` a pushed
    row-group predicate inside the surviving directories (pruning pinned in
    tests/test_invindex.py)."""
    from locus_spark.operators.invindex import search_persisted

    derived.register_base_tables(spark, sf_dir)
    layout = _persisted_posting_layout(spark, sf_dir)
    return search_persisted(spark, layout, SEARCH_TERMS)


def _bm25_oracle() -> str:
    from locus_spark.operators.invindex import bm25_oracle_sql

    return bm25_oracle_sql(SEARCH_TERMS, k=10)


@register("doc_search_bm25", _bm25_oracle())
def q_doc_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by BM25 over the query terms: dl-denormalized
    postings (no corpus join at query time), broadcast |terms|-row df
    side, fixed-order per-term pivot sum (deterministic float addition),
    TakeOrdered top-k — scores rounded to 6 decimals before ranking for
    cross-engine ln reproducibility (operators/invindex.py:search_bm25)."""
    from locus_spark.operators.invindex import (
        build_scored_postings,
        corpus_stats,
        search_bm25,
    )

    derived.register_base_tables(spark, sf_dir)
    docs = spark.table("documents")
    n_docs, avgdl = corpus_stats(docs)
    postings = build_scored_postings(docs)
    return search_bm25(postings, SEARCH_TERMS, n_docs, avgdl, k=10)


def _persisted_scored_posting_layout(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Build-once (tok, doc_id, tf, dl) layout partitioned by token hash
    bucket — the ranked-search twin of ``_persisted_posting_layout``."""
    from locus_spark.operators.invindex import _bucket, build_scored_postings

    def build() -> DataFrame:
        return build_scored_postings(spark.table("documents")).withColumn(
            "_pb", _bucket(F.col("tok"))
        ).repartition("_pb")

    return _index_checkpoint(sf_dir).run_stage(
        spark,
        "postings_scored",
        build,
        fingerprint=_parquet_fingerprint(sf_dir, "documents"),
        partition_by=["_pb"],
    )


@register("doc_search_bm25_persisted", _bm25_oracle())
def q_doc_search_bm25_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from the persisted bucket-partitioned scored-posting
    layout: `_pb IN` directory pruning + pushed `tok IN` row-group
    predicate, then the same broadcast-df ranked plan — at corpus scale a
    ranked query reads |terms| directories, never the posting table."""
    from locus_spark.operators.invindex import (
        corpus_stats,
        prune_to_term_buckets,
        search_bm25,
    )

    derived.register_base_tables(spark, sf_dir)
    docs = spark.table("documents")
    n_docs, avgdl = corpus_stats(docs)
    layout = _persisted_scored_posting_layout(spark, sf_dir)
    pruned = prune_to_term_buckets(spark, layout, SEARCH_TERMS).drop("_pb")
    return search_bm25(pruned, SEARCH_TERMS, n_docs, avgdl, k=10)


#: fixed phrase for the driver row — a bigram that occurs in the corpus
PHRASE_TERMS = ("table", "hash")


def _phrase_oracle() -> str:
    from locus_spark.operators.invindex import phrase_oracle_sql

    return phrase_oracle_sql(PHRASE_TERMS)


@register("doc_search_phrase", _phrase_oracle())
def q_doc_search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over positional postings: each phrase-term
    posting emits its slot index keyed by the implied phrase start, one
    map-side-combined aggregation checks all m slots present — no m-way
    positional self-join (operators/invindex.py:search_phrase)."""
    from locus_spark.operators.invindex import (
        build_positional_postings,
        search_phrase,
    )

    derived.register_base_tables(spark, sf_dir)
    postings = build_positional_postings(spark.table("documents"))
    return search_phrase(postings, PHRASE_TERMS)


_TRENDING_ORACLE = """
WITH parsed AS (
  SELECT date_trunc('hour', ts) AS ws,
         CAST(props->>'$.k' AS BIGINT) AS k
  FROM events
), counts AS (
  SELECT ws, k, count(*) AS cnt FROM parsed GROUP BY ws, k
), ranked AS (
  SELECT ws, k, cnt,
         row_number() OVER (PARTITION BY ws ORDER BY cnt DESC, k ASC) AS rn
  FROM counts
)
SELECT ws, k, CAST(cnt AS BIGINT) AS cnt FROM ranked WHERE rn <= 3
"""


@register("events_trending_props", _TRENDING_ORACLE)
def q_events_trending_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction + windowed top-N: parse the JSON ``props``
    column JVM-side (get_json_object — no Python), count per (1-hour
    event-time window, prop value), then EXACT top-3 per window via the
    two-pass histogram selection (operators/selection.py) — no per-window
    global sort, so a hot hour never serializes through one reducer."""
    from locus_spark.operators.selection import top_n_per_group

    derived.register_base_tables(spark, sf_dir)
    counts = (
        spark.table("events")
        .select(
            F.window("ts", "1 hour").start.alias("ws"),
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("ws", "k")
        .agg(F.count("*").alias("cnt"))
    )
    out = top_n_per_group(
        counts, group_col="ws", order_col="cnt", n=3, id_col="k",
        lo=0.0, hi=100000.0,
    )
    return out.select("ws", "k", "cnt")


def _pmi_oracle() -> str:
    from locus_spark.operators.textops import pmi_oracle_sql

    return pmi_oracle_sql()


@register("doc_pmi_collocations", _pmi_oracle())
def q_doc_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by PMI over adjacent token pairs: bigrams built
    inside each document row (array transform, no positional self-join),
    two map-side-combined count aggregations, min-count filter BEFORE the
    probability joins, TakeOrdered top-k; ranked at 6-decimal rounding
    (operators/textops.py:pmi_collocations)."""
    from locus_spark.operators.textops import (
        corpus_token_totals,
        pmi_collocations,
    )

    derived.register_base_tables(spark, sf_dir)
    docs = spark.table("documents")
    nu, nb = corpus_token_totals(docs)
    return pmi_collocations(docs, nu, nb)


def _pagerank_oracle() -> str:
    from locus_spark.operators.graph import pagerank_oracle_sql

    return pagerank_oracle_sql()


@register("doc_pagerank", _pagerank_oracle())
def q_doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the deterministic md5-derived pseudo link graph: 10
    damped power-iteration rounds, per-edge 1/outdeg weights joined once
    before the loop, per-round join + map-side-combined sum(contrib),
    lineage-truncated round state — the Pregel shuffle shape
    (operators/graph.py; oracle = fully unrolled 10-round DuckDB CTE)."""
    from locus_spark.operators.graph import derive_links, pagerank

    derived.register_base_tables(spark, sf_dir)
    docs = spark.table("documents")
    n = docs.count()
    nodes = docs.select(F.col("doc_id").alias("v"))
    edges = derive_links(docs, n)
    out = pagerank(nodes, edges, n)
    return out.select(
        F.col("v").alias("doc_id"), F.round("r", 6).alias("pr")
    )


#: personalized-PageRank seed rule for the driver row: every 50th doc
PPR_SEED_MOD = 50


def _ppr_oracle() -> str:
    from locus_spark.operators.graph import pagerank_oracle_sql

    return pagerank_oracle_sql(seed_mod=PPR_SEED_MOD)


@register("doc_pagerank_personalized", _ppr_oracle())
def q_doc_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart into a seed set —
    every 50th doc): identical loop and shuffle shape as `doc_pagerank`,
    the per-node teleport probability just rides the |V|-row node frame
    the round join already touches (operators/graph.py teleport_col)."""
    from locus_spark.operators.graph import derive_links, pagerank

    derived.register_base_tables(spark, sf_dir)
    docs = spark.table("documents")
    n = docs.count()
    n_seeds = docs.filter(F.col("doc_id") % PPR_SEED_MOD == 0).count()
    nodes = docs.select(
        F.col("doc_id").alias("v"),
        F.when(
            F.col("doc_id") % PPR_SEED_MOD == 0,
            F.lit(1.0) / F.lit(float(n_seeds)),
        )
        .otherwise(F.lit(0.0))
        .alias("p"),
    )
    edges = derive_links(docs, n)
    out = pagerank(nodes, edges, n, teleport_col="p")
    return out.select(
        F.col("v").alias("doc_id"), F.round("r", 6).alias("pr")
    )


def _pr_incr_oracle() -> str:
    from locus_spark.operators.graph import pagerank_incremental_oracle_sql

    return pagerank_incremental_oracle_sql()


@register("doc_pagerank_incremental", _pr_incr_oracle())
def q_doc_pagerank_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warm-start PageRank after a link-graph delta: converge the base
    3-link graph (10 rounds), land one extra derived link per doc, then
    re-converge in 3 warm rounds FROM the old fixpoint (graph.py
    init_ranks) — the incremental-maintenance path; damped iteration
    contracts from any start, so warm-starting trades round count, never
    correctness."""
    from locus_spark.operators.graph import derive_links, pagerank

    derived.register_base_tables(spark, sf_dir)
    docs = spark.table("documents")
    n = docs.count()
    nodes = docs.select(F.col("doc_id").alias("v"))
    ranks_a = pagerank(nodes, derive_links(docs, n, n_links=3), n)
    out = pagerank(
        nodes,
        derive_links(docs, n, n_links=4),
        n,
        iterations=3,
        init_ranks=ranks_a,
    )
    return out.select(
        F.col("v").alias("doc_id"), F.round("r", 6).alias("pr")
    )


#: temperature-mix sample size for the driver row
MIX_TOTAL = 200


def _mix_oracle() -> str:
    from locus_spark.operators.mixing import temperature_mix_oracle_sql

    return temperature_mix_oracle_sql("source", MIX_TOTAL)


@register("doc_mix_temperature", _mix_oracle())
def q_doc_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (tau=0.5) training-mix sample: per-source quotas
    by largest-remainder apportionment over round(sqrt(count)*1e6)
    integer weights — exact integer arithmetic end to end — and members
    chosen per group by md5 priority through the two-pass histogram
    selection (no per-group global sort; operators/mixing.py)."""
    from locus_spark.operators.mixing import temperature_mix

    derived.register_base_tables(spark, sf_dir)
    docs = spark.table("documents")
    return temperature_mix(docs, "source", MIX_TOTAL)


def _lm_oracle() -> str:
    from locus_spark.operators.textops import bigram_lm_oracle_sql

    return bigram_lm_oracle_sql()


@register("doc_lm_score", _lm_oracle())
def q_doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal: every 5th document trains an
    add-1-smoothed bigram model; ALL documents are scored by mean bigram
    log-likelihood under it (perplexity filtering = thresholding this
    score).  Model tables are vocabulary-sized (broadcastable at scale);
    the corpus-side bigram stream takes two left lookups + one per-doc
    agg (operators/textops.py:bigram_lm_scores)."""
    from locus_spark.operators.textops import LM_REF_MOD, bigram_lm_scores

    derived.register_base_tables(spark, sf_dir)
    docs = spark.table("documents")
    ref = docs.filter(F.col("doc_id") % LM_REF_MOD == 0)
    return bigram_lm_scores(docs, ref)


def _triangle_oracle() -> str:
    from locus_spark.operators.graph import triangle_oracle_sql

    return triangle_oracle_sql()


@register("doc_triangles", _triangle_oracle())
def q_doc_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    derived link graph via degree-ordered edge orientation (Suri &
    Vassilvitskii WWW'11) — wedges enumerate only at each edge's lower-
    degree endpoint, so no hub ever materializes its neighborhood square
    (operators/graph.py:triangle_stats; oracle = plain 3-way-join triangle
    enumeration on the canonical a<b edge set)."""
    from locus_spark.operators.graph import derive_links, triangle_stats

    derived.register_base_tables(spark, sf_dir)
    docs = spark.table("documents")
    n = docs.count()
    out = triangle_stats(derive_links(docs, n))
    return out.withColumnRenamed("v", "doc_id")


def _hits_oracle() -> str:
    from locus_spark.operators.graph import hits_oracle_sql

    return hits_oracle_sql()


@register("doc_hits", _hits_oracle())
def q_doc_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the derived link graph: 8 L1-normalized
    rounds, each half-step one key-partitioned join + map-side-combined
    sum, normalizer a scalar aggregate (one double to the driver per
    half-step, never data) — operators/graph.py:hits; oracle = fully
    unrolled DuckDB CTE of the identical raw-double recurrence."""
    from locus_spark.operators.graph import derive_links, hits

    derived.register_base_tables(spark, sf_dir)
    docs = spark.table("documents")
    n = docs.count()
    nodes = docs.select(F.col("doc_id").alias("v"))
    return hits(nodes, derive_links(docs, n)).withColumnRenamed("v", "doc_id")


_ANOMALY_ORACLE = """
WITH hourly AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
         count(*) AS n_total,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_err
  FROM events GROUP BY 1
), rated AS (
  SELECT *, CAST(n_err AS DOUBLE) / n_total AS rate FROM hourly
), stats AS (
  SELECT avg(rate) AS mu, sqrt(avg(rate * rate) - avg(rate) * avg(rate)) AS sd
  FROM rated
)
SELECT hour, n_total, n_err,
       round(rate, 6) AS rate,
       round((rate - stats.mu) / stats.sd, 6) AS z,
       abs(round((rate - stats.mu) / stats.sd, 6)) > 2.0e0 AS is_anomaly
FROM rated CROSS JOIN stats
"""


@register("events_anomaly", _ANOMALY_ORACLE)
def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly error-rate anomaly detection: per-hour error fraction
    z-scored against the corpus-wide mean/std (population formula), hours
    beyond |z| > 2 flagged.  One map-side-combinable hourly rollup; the
    stats are a scalar aggregate over the HOURS frame (bounded by the
    time horizon, never event volume) cross-joined back.  The flag
    compares the 6dp-ROUNDED z in both engines, so a borderline hour
    cannot flip on last-bit float noise."""
    derived.register_base_tables(spark, sf_dir)
    ev = spark.table("events")
    hourly = ev.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00").alias(
            "hour"
        )
    ).agg(
        F.count("*").alias("n_total"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("n_err"),
    )
    rated = hourly.withColumn(
        "rate", F.col("n_err").cast("double") / F.col("n_total")
    )
    stats = rated.agg(
        F.avg("rate").alias("mu"),
        F.sqrt(
            F.avg(F.col("rate") * F.col("rate"))
            - F.avg("rate") * F.avg("rate")
        ).alias("sd"),
    )
    z = F.round((F.col("rate") - F.col("mu")) / F.col("sd"), 6)
    return (
        rated.crossJoin(F.broadcast(stats))
        .select(
            "hour",
            "n_total",
            "n_err",
            F.round("rate", 6).alias("rate"),
            z.alias("z"),
            (F.abs(z) > F.lit(2.0)).alias("is_anomaly"),
        )
    )


_FUNNEL_ORACLE = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view'
  GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
)
SELECT * FROM (
  SELECT 1 AS step, 'view' AS event_type, count(*) AS n_users FROM s1
  UNION ALL
  SELECT 2, 'click', count(*) FROM s2
  UNION ALL
  SELECT 3, 'purchase', count(*) FROM s3
)
"""


@register("events_funnel", _FUNNEL_ORACLE)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: each step is the
    user's FIRST qualifying event strictly after the previous step.  Three
    map-side-combinable min-aggregations chained by user-keyed joins —
    never a per-user event-list sort or window, so a bot user with 10^8
    events costs one combiner, not one reducer."""
    derived.register_base_tables(spark, sf_dir)
    ev = spark.table("events")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def row(step: int, name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(F.count("*").alias("n_users")).select(
            F.lit(step).alias("step"),
            F.lit(name).alias("event_type"),
            "n_users",
        )

    return row(1, "view", s1).unionByName(row(2, "click", s2)).unionByName(
        row(3, "purchase", s3)
    )


_RETENTION_ORACLE = """
WITH firstday AS (
  SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT e.user_id, fd.cohort_day,
         date_diff('day', fd.cohort_day, date_trunc('day', e.ts)) AS day_offset
  FROM events e JOIN firstday fd ON fd.user_id = e.user_id
)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(day_offset AS BIGINT) AS day_offset,
       count(*) AS n_users
FROM activity GROUP BY 1, 2
"""


@register("events_retention", _RETENTION_ORACLE)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity day,
    counted once per (cohort, day-offset) they were active.  Two hash
    aggregations + one user-keyed join; the distinct is on (user, offset)
    — bounded by users × horizon, never by event volume."""
    derived.register_base_tables(spark, sf_dir)
    ev = spark.table("events")
    fd = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    act = (
        ev.join(fd, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .distinct()
    )
    return act.groupBy(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        F.col("day_offset").cast("long").alias("day_offset"),
    ).agg(F.count("*").alias("n_users"))


_ASOF_ORACLE = """
WITH pairs AS (
  SELECT c.event_id AS click_id, c.user_id AS user_id, c.ts AS click_ts,
         v.event_id AS view_id, v.ts AS view_ts,
         row_number() OVER (PARTITION BY c.event_id
                            ORDER BY v.ts DESC, v.event_id DESC) AS rn
  FROM events c JOIN events v
    ON v.user_id = c.user_id AND v.ts <= c.ts
  WHERE c.event_type = 'click' AND v.event_type = 'view'
)
SELECT click_id, user_id, click_ts, view_id, view_ts FROM pairs WHERE rn = 1
"""


@register("events_asof_view", _ASOF_ORACLE)
def q_events_asof_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every click matched to the user's LATEST view at or
    before it (ties on equal ts broken by highest event_id).  Union-tag
    merge + one per-key forward-fill window — |L|+|R| rows through one
    shuffle, no pair blowup (operators/asof.py; the DuckDB oracle is the
    independent pair-join/row_number formulation of the same semantics)."""
    from locus_spark.operators.asof import asof_join

    derived.register_base_tables(spark, sf_dir)
    ev = spark.table("events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    return asof_join(
        clicks,
        views,
        key="user_id",
        left_ts="click_ts",
        right_ts="ts",
        payload_cols=("view_id", "view_ts"),
        tiebreak="event_id",
    )


# ===========================================================================
# JSONL ingestion (sources/jsonl.py) — full-row parity through the JSON
# round trip proves the source path is lossless (explicit schema, no
# inference pass; PERMISSIVE corrupt capture pinned in tests)
# ===========================================================================

_JSONL_ORACLE = """
SELECT doc_id, text, lang, source, n_chars FROM documents
"""


@register("doc_jsonl_ingest", _JSONL_ORACLE)
def q_doc_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents ingested from a JSONL twin of the parquet table (written
    once per sf, fingerprint-keyed): explicit-schema PERMISSIVE read —
    byte parity of every column, including newline/quote-bearing text,
    against the parquet source (sources/jsonl.py)."""
    import json as _json

    from locus_spark.sources.jsonl import (
        documents_parquet_to_jsonl,
        read_documents_jsonl,
        split_corrupt,
    )

    ck = _index_checkpoint(sf_dir)
    jdir = ck.root / "documents_jsonl"
    man = jdir / "manifest.json"
    fp = _parquet_fingerprint(sf_dir, "documents")
    if not (man.exists() and _json.loads(man.read_text()).get("fingerprint") == fp):
        documents_parquet_to_jsonl(spark, sf_dir, str(jdir / "data"))
        man.write_text(_json.dumps({"fingerprint": fp}))
    clean, _corrupt = split_corrupt(read_documents_jsonl(spark, str(jdir / "data")))
    return clean.select("doc_id", "text", "lang", "source", "n_chars")


# ===========================================================================
# relational-surface coverage: multi-level rollup (grouping sets) and set
# operations as first-class oracled queries (SURVEY §2.6 presence map)
# ===========================================================================

_ROLLUP_ORACLE = """
SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY ROLLUP (lang, source)
"""


@register("doc_rollup_lang_source", _ROLLUP_ORACLE)
def q_doc_rollup_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregate in ONE pass: per-(lang, source), per-lang and
    grand-total rows via ``rollup`` — Spark's Expand operator computes all
    grouping sets map-side before a single shuffle, vs three separate
    aggregation jobs (each a full scan) at 100 TB."""
    derived.register_base_tables(spark, sf_dir)
    return (
        spark.table("documents")
        .rollup("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


_SETOPS_ORACLE = """
WITH lang_docs AS (
  SELECT doc_id, lang FROM documents WHERE lang IN ('en', 'de')
), long_docs AS (
  SELECT doc_id FROM documents WHERE n_chars >= 300
)
SELECT 'en_long' AS part, doc_id FROM (
  SELECT doc_id FROM lang_docs WHERE lang = 'en'
  INTERSECT SELECT doc_id FROM long_docs
)
UNION ALL
SELECT 'de_short' AS part, doc_id FROM (
  SELECT doc_id FROM lang_docs WHERE lang = 'de'
  EXCEPT SELECT doc_id FROM long_docs
)
"""


@register("doc_set_ops", _SETOPS_ORACLE)
def q_doc_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations as corpus partitioning: English docs that are long
    (INTERSECT) and German docs that are not (EXCEPT), tagged and unioned.
    Both set ops plan as hash joins on doc_id — at scale the same shape as
    the semi/anti joins the curation pipeline uses."""
    derived.register_base_tables(spark, sf_dir)
    docs = spark.table("documents")
    en = docs.filter(F.col("lang") == "en").select("doc_id")
    de = docs.filter(F.col("lang") == "de").select("doc_id")
    long_docs = docs.filter(F.col("n_chars") >= 300).select("doc_id")
    return en.intersect(long_docs).select(
        F.lit("en_long").alias("part"), "doc_id"
    ).unionAll(
        de.exceptAll(long_docs).select(F.lit("de_short").alias("part"), "doc_id")
    )
