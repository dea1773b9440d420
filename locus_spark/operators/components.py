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


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star phase (Kiveris et al., SoCC'14): every node connects
    its STRICTLY-LARGER neighbors to the minimum of its closed
    neighborhood.  One min-aggregate + one equi-join, both map-side
    combinable / key-partitioned."""
    bidir = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        bidir.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least("u", "_mn").alias("_m"))
    )
    return (
        bidir.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star phase: orient every edge large→small, then every
    node connects its smaller neighbors (and itself) to the minimum of
    that set."""
    dire = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    mins = dire.groupBy("u").agg(F.min("v").alias("_mn"))
    out = (
        dire.join(mins, "u")
        .select(F.col("v").alias("a"), F.col("_mn").alias("b"))
        .union(mins.select(F.col("u").alias("a"), F.col("_mn").alias("b")))
    )
    return (
        out.where(F.col("a") != F.col("b"))
        .select(F.col("a").alias("u"), F.col("b").alias("v"))
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
    edges = (
        pairs.select(F.col(col_a).alias("u"), F.col(col_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    edges = materialize(edges)
    all_nodes = materialize(
        edges.select("u").union(edges.select("v")).distinct()
    )
    prev_sig, prev_edges = None, None
    for _ in range(max_rounds):
        edges, row = materialize(
            _small_star(_large_star(edges)),
            [
                F.count("*").alias("c"),
                # decimal accumulator: a LONG sum of 2^63-scale hashes
                # overflows under ANSI mode
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
            ],
        )
        sig = (row["c"], row["h"])
        if sig == prev_sig and edges.subtract(prev_edges).isEmpty():
            bidir = edges.union(
                edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            return (
                all_nodes.join(
                    bidir.groupBy("u").agg(F.min("v").alias("_mn")),
                    "u",
                    "left",
                )
                .select(
                    F.col("u").alias("node"),
                    F.least("u", F.coalesce("_mn", "u")).alias("component"),
                )
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
        documents.select(F.col(id_col).alias("doc_id"))
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
    )
