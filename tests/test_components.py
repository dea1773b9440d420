"""Connected components / cluster assignment (operators/components.py)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from locus_spark.operators.components import assign_clusters, connected_components
from locus_spark.session import materialize


def _union_find(n_nodes, pairs):
    """Ground-truth components via driver-side union-find."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {u: find(u) for u in range(n_nodes)}


def test_chain_worst_case_converges_logarithmically(spark):
    """A 64-node path is the diameter worst case: plain min propagation
    needs ~63 rounds; pointer jumping must land it within O(log n) + slack."""
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    comp = connected_components(pairs, max_rounds=12)
    rows = comp.collect()
    assert len(rows) == n
    assert all(r.component == 0 for r in rows)


def test_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    n = 200
    pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    pairs = [(a, b) for a, b in pairs if a != b]
    truth = _union_find(n, pairs)
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r.node: r.component for r in connected_components(df).collect()}
    touched = {a for a, _ in pairs} | {b for _, b in pairs}
    assert set(got) == touched
    for u in touched:
        assert got[u] == truth[u], f"node {u}"


def test_assign_clusters_covers_singletons(spark):
    docs = spark.range(10).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(1, 4), (4, 7), (2, 9)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.cluster_id for r in assign_clusters(docs, pairs).collect()}
    assert got == {0: 0, 1: 1, 4: 1, 7: 1, 2: 2, 9: 2, 3: 3, 5: 5, 6: 6, 8: 8}


def test_empty_pairs_all_singletons(spark):
    docs = spark.range(5).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = {r.doc_id: r.cluster_id for r in assign_clusters(docs, pairs).collect()}
    assert got == {i: i for i in range(5)}


def _plan_size_in_bytes(df):
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()


def test_materialize_keeps_rows_and_drops_plan_stats(spark):
    """Every loop's round state goes through materialize(): on a local
    master it must keep the rows, use no checkpoint dir, and hand back a
    scan with NO size estimate (Long.MaxValue) — a bare checkpoint carries
    the origin plan's estimate forward, which squares per self-join round."""
    df = spark.range(200).select("id", (F.col("id") % 7).alias("g"))
    joined = df.join(df.withColumnRenamed("id", "id2"), "g")
    assert _plan_size_in_bytes(joined) != 2**63 - 1
    out = materialize(joined)
    assert sorted(out.collect()) == sorted(joined.collect())
    assert spark.sparkContext.getCheckpointDir() is None
    assert _plan_size_in_bytes(out) == 2**63 - 1
