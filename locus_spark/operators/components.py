"""Connected components over near-duplicate pair lists.

The dedup family (``operators/dedup.py``, ``operators/ann.py``) emits PAIRS
(id_a, id_b); a training-data pipeline needs per-document CLUSTER decisions —
"these d documents are one group, keep the canonical one".  Pairs are a
graph; groups are its connected components; the canonical id is the
component minimum.  Not in the reference (it has no text processing) — this
is the standard distributed-CC building block the dedup surface was missing.

Algorithm: alternating LARGE-STAR / SMALL-STAR edge contraction (Kiveris
et al., SoCC'14 "Connected Components in MapReduce and Beyond") — each
round rewrites the edge set so every node's neighborhood collapses toward
its minimum, converging in O(log n) rounds to per-component stars rooted
at the component minimum.  (The module's first implementation was
min-label propagation with pointer jumping (Rastogi et al., ICDE'13);
label-chain shortcuts cap at local id minima, which degraded to one hop
per round between basins — O(diameter) on geometric cluster graphs.  Star
contraction rewrites the edges themselves, so no basin boundary survives
more than O(log n) rounds; see connected_components docstring for the
measured difference.)

Scale shape: each phase is one map-side-combinable min-aggregate + one
equi-join on the edge frame; no step ever materializes a component as a
single row/partition, so a 10^9-node component costs the same per-round
shuffle volume as 10^9 singletons.  Round state goes through
``session.materialize`` (checkpoint policy and why plan statistics are
reset: see there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from locus_spark.session import materialize


#: the per-round fixpoint signature, observed on the round's checkpoint job:
#: edge count and an order-free hash sum (a decimal accumulator: a LONG sum
#: of 2^63-scale hashes overflows under ANSI mode)
SQL_SIGNATURE = ("count(*) AS c", "sum(CAST(xxhash64(u, v) AS DECIMAL(38,0))) AS h")


def _bidir(edges: DataFrame) -> DataFrame:
    """Both orientations of every edge (u, v)."""
    return edges.union(edges.selectExpr("v AS u", "u AS v"))


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star phase (Kiveris et al., SoCC'14): every node connects
    its STRICTLY-LARGER neighbors to the minimum of its closed
    neighborhood.  One min-aggregate + one equi-join, both map-side
    combinable / key-partitioned."""
    bidir = _bidir(edges)
    mins = bidir.groupBy("u").agg(F.expr("least(u, min(v)) AS _m"))
    return (
        bidir.join(mins, "u")
        .where("v > u AND v <> _m")
        .selectExpr("v AS u", "_m AS v")
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star phase: orient every edge large→small, then every
    node connects its smaller neighbors (and itself) to the minimum of
    that set."""
    dire = edges.selectExpr("greatest(u, v) AS u", "least(u, v) AS v").distinct()
    mins = dire.groupBy("u").agg(F.expr("min(v) AS _mn"))
    return (
        dire.join(mins, "u")
        .selectExpr("v AS a", "_mn AS b")
        .union(mins.selectExpr("u AS a", "_mn AS b"))
        .where("a <> b")
        .selectExpr("a AS u", "b AS v")
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    col_a: str = "id_a",
    col_b: str = "id_b",
    max_rounds: int = 64,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``; the
    component id is the smallest node id in the component.

    Algorithm: alternating LARGE-STAR / SMALL-STAR contraction (Kiveris
    et al., SoCC'14 "Connected Components in MapReduce and Beyond") to an
    edge-set fixpoint, at which every component is a star rooted at its
    minimum; labels read off as each node's minimum star neighbor.

    This replaced the earlier min-label-propagation + pointer-jumping
    loop: label-chasing shortcuts cap at LOCAL minima (a node smaller
    than all its neighbors), so inter-basin progress was one hop per
    round and a geometric DBSCAN giant component of hop-diameter ~60
    took 30 rounds (measured).  Star contraction rewrites the EDGES, so
    basins merge in O(log n) rounds regardless of diameter or id
    placement (same load: 4 rounds).

    Scale shape: each phase is one min-aggregate + one equi-join on the
    edge frame, both map-side combinable; no component is ever
    materialized on one task.  Small-star output is already a distinct,
    consistently-oriented (u > v) edge set, so the per-round fixpoint
    gate is ONE scalar signature (count + order-free xxhash64 sum) observed
    on the round's checkpoint job itself; only when the signature
    repeats does an exact one-sided subtract CONFIRM the fixpoint (hash
    equality alone is collision-probabilistic — the subtract runs once
    per call, not once per round).  ``max_rounds`` is a runaway backstop;
    hitting it raises rather than returning a partial labeling."""
    edges = materialize(
        pairs.selectExpr(f"{col_a} AS u", f"{col_b} AS v").where("u <> v").distinct()
    )
    all_nodes = materialize(
        edges.select("u").union(edges.select("v")).distinct()
    )
    signature = [F.expr(m) for m in SQL_SIGNATURE]
    prev_sig, prev_edges = None, None
    for _ in range(max_rounds):
        edges, row = materialize(_small_star(_large_star(edges)), signature)
        sig = (row["c"], row["h"])
        if sig == prev_sig and edges.subtract(prev_edges).isEmpty():
            mins = _bidir(edges).groupBy("u").agg(F.expr("min(v) AS _mn"))
            return all_nodes.join(mins, "u", "left").selectExpr(
                "u AS node", "least(u, coalesce(_mn, u)) AS component"
            )
        prev_sig, prev_edges = sig, edges
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds"
    )


def assign_clusters(
    documents: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    col_a: str = "id_a",
    col_b: str = "id_b",
) -> DataFrame:
    """Per-document cluster assignment: (doc_id, cluster_id) for EVERY
    document — members of a near-dup component get the component's smallest
    doc id, untouched documents map to themselves (singleton clusters).
    ``cluster_id == doc_id`` marks the canonical keeper row."""
    comp = connected_components(pairs, col_a=col_a, col_b=col_b)
    return (
        documents.selectExpr(f"{id_col} AS doc_id")
        .join(comp.selectExpr("node AS doc_id", "component"), "doc_id", "left")
        .selectExpr("doc_id", "coalesce(component, doc_id) AS cluster_id")
    )
