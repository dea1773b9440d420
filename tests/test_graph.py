"""PageRank (operators/graph.py): numpy power-iteration parity, teleport
mass for sink-free derived graphs, derived-link determinism, and the
early-termination path."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from locus_spark.operators.graph import (
    PR_DAMPING,
    PR_OUT_LINKS,
    derive_links,
    pagerank,
)


def _graph(spark):
    # 5 nodes; node 4 has no in-links, node 0 none out (dangling excluded
    # from this fixture: give it a self-loop so every node has out-degree)
    edges = [(0, 0), (1, 0), (2, 0), (2, 1), (3, 1), (3, 2), (4, 2), (4, 3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    n = spark.createDataFrame([(i,) for i in range(5)], "v long")
    return n, e, edges


def test_pagerank_matches_numpy_power_iteration(spark):
    nodes, edges, elist = _graph(spark)
    iters, d, n = 10, PR_DAMPING, 5
    got = {r["v"]: r["r"] for r in pagerank(nodes, edges, n, d, iters).collect()}

    outdeg = {u: sum(1 for s, _ in elist if s == u) for u in range(n)}
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.full(n, (1.0 - d) / n)
        for u, v in elist:
            nxt[v] += d * r[u] / outdeg[u]
        r = nxt
    for v in range(n):
        assert abs(got[v] - r[v]) < 1e-12, (v, got[v], r[v])
    # node 4 has no in-links: exactly the teleport base after any round
    assert got[4] == (1.0 - d) / n


def test_pagerank_mass_conserved(spark):
    nodes, edges, _ = _graph(spark)
    out = pagerank(nodes, edges, 5, iterations=30)
    total = out.agg(F.sum("r").alias("s")).first()["s"]
    assert abs(total - 1.0) < 1e-9  # no dangling nodes -> mass conserved


def test_derive_links_shape_and_determinism(spark):
    docs = spark.range(20).select(F.col("id").alias("doc_id"))
    e1 = derive_links(docs, 20).collect()
    e2 = derive_links(docs, 20).collect()
    assert sorted(map(tuple, e1)) == sorted(map(tuple, e2))
    assert len(e1) == 20 * PR_OUT_LINKS
    assert all(0 <= r["dst"] < 20 for r in e1)
    per_src = {}
    for r in e1:
        per_src[r["src"]] = per_src.get(r["src"], 0) + 1
    assert set(per_src.values()) == {PR_OUT_LINKS}


def test_pagerank_bucketed_edges_match_and_skip_edge_shuffle(spark, tmp_path):
    from locus_spark.operators.graph import (
        pagerank,
        prepare_edges_bucketed,
        round_contrib,
    )

    nodes, edges, _ = _graph(spark)
    ew = prepare_edges_bucketed(
        spark, edges, table="pr_edges_pytest",
        path=str(tmp_path / "pr_edges"), buckets=4,
    )
    try:
        a = {r["v"]: r["r"] for r in pagerank(nodes, edges, 5).collect()}
        b = {
            r["v"]: r["r"]
            for r in pagerank(
                nodes, ew, 5, edges_are_weighted=True
            ).collect()
        }
        assert set(a) == set(b)
        assert all(abs(a[v] - b[v]) < 1e-12 for v in a)

        # the edge-side scan must be bucketed (co-located, no Exchange on
        # the edge side of the rank join) even when the rank side is too
        # big to broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            ranks = nodes.select("v", F.lit(0.2).alias("r"))
            plan = (
                round_contrib(ew, ranks)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        assert "Bucketed: true" in plan
        # exactly two exchanges: rank side into the bucket partitioning,
        # and the dst aggregation — never a third for the edge frame
        assert plan.count("Exchange hashpartitioning") == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS pr_edges_pytest")


def test_pagerank_round_agg_is_partial(spark):
    """The per-round contribution sum must show a partial (map-side)
    aggregate before the dst shuffle — the scale-critical plan property.
    (The full pagerank() plan is lineage-truncated per round, so pin the
    round builder the loop actually calls.)"""
    from locus_spark.operators.graph import round_contrib

    nodes, edges, _ = _graph(spark)
    edges_w = edges.join(
        edges.groupBy("src").agg(F.count("*").alias("_od")), "src"
    ).select("src", "dst", (F.lit(1.0) / F.col("_od")).alias("w"))
    ranks = nodes.select("v", F.lit(0.2).alias("r"))
    plan = (
        round_contrib(edges_w, ranks)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("HashAggregate") >= 2  # partial + final pair
    assert "partial_sum" in plan or "partial" in plan.lower()


def test_personalized_pagerank_teleports_to_seeds(spark):
    nodes_plain, edges, elist = _graph(spark)
    d, iters, n = PR_DAMPING, 10, 5
    # seed set {0}: all teleport mass restarts at node 0
    nodes = nodes_plain.select(
        "v", F.when(F.col("v") == 0, F.lit(1.0)).otherwise(F.lit(0.0)).alias("p")
    )
    got = {
        r["v"]: r["r"]
        for r in pagerank(
            nodes, edges, n, d, iters, teleport_col="p"
        ).collect()
    }

    import numpy as np  # noqa: F811

    outdeg = {u: sum(1 for s, _ in elist if s == u) for u in range(n)}
    p = np.array([1.0, 0, 0, 0, 0])
    r = p.copy()
    for _ in range(iters):
        nxt = (1.0 - d) * p
        for u, v in elist:
            nxt[v] += d * r[u] / outdeg[u]
        r = nxt
    for v in range(n):
        assert abs(got[v] - r[v]) < 1e-12, (v, got[v], r[v])
    # node 4 is unreachable from seed 0 and not a seed: rank exactly 0
    assert got[4] == 0.0
    # seed keeps the restart mass: strictly the largest rank
    assert got[0] == max(got.values())


def test_warm_start_converges_faster_than_cold(spark):
    """After a small edge delta, 3 warm rounds from the old fixpoint land
    closer to the new fixpoint than 3 cold rounds — and both reach the
    same fixpoint given enough rounds (contraction from any start)."""
    docs = spark.range(60).select(F.col("id").alias("doc_id"))
    nodes = docs.select(F.col("doc_id").alias("v"))
    edges_a = derive_links(docs, 60, n_links=3)
    edges_b = derive_links(docs, 60, n_links=4)  # +1 link per doc

    ranks_a = pagerank(nodes, edges_a, 60, iterations=20)
    fix_b = {
        r["v"]: r["r"]
        for r in pagerank(nodes, edges_b, 60, iterations=40).collect()
    }

    warm = {
        r["v"]: r["r"]
        for r in pagerank(
            nodes, edges_b, 60, iterations=3, init_ranks=ranks_a
        ).collect()
    }
    cold = {
        r["v"]: r["r"]
        for r in pagerank(nodes, edges_b, 60, iterations=3).collect()
    }
    warm_err = max(abs(warm[v] - fix_b[v]) for v in fix_b)
    cold_err = max(abs(cold[v] - fix_b[v]) for v in fix_b)
    assert warm_err < cold_err
    # warm-start with MANY rounds reaches the same fixpoint
    deep = {
        r["v"]: r["r"]
        for r in pagerank(
            nodes, edges_b, 60, iterations=40, init_ranks=ranks_a
        ).collect()
    }
    assert all(abs(deep[v] - fix_b[v]) < 1e-10 for v in fix_b)


def test_triangle_stats_matches_brute_force(spark):
    from locus_spark.operators.graph import triangle_stats

    # fixture with hubs, multi-edges, self-loops, and asymmetric direction
    edges = [
        (0, 1), (1, 0), (1, 2), (2, 0), (2, 3), (3, 0), (3, 1),
        (4, 4), (4, 0), (5, 0), (5, 1), (6, 2), (6, 3), (2, 3),
    ]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["v"]: (r["degree"], r["tri_count"], r["clustering"])
        for r in triangle_stats(e).collect()
    }

    und = {tuple(sorted(p)) for p in edges if p[0] != p[1]}
    nodes = sorted({v for p in und for v in p})
    adj = {v: {b if a == v else a for a, b in und if v in (a, b)} for v in nodes}
    for v in nodes:
        deg = len(adj[v])
        tri = sum(
            1
            for a, b in und
            if a in adj[v] and b in adj[v] and a != v and b != v
        )
        if deg >= 2:
            assert got[v] == (deg, tri, round(2.0 * tri / (deg * (deg - 1)), 6)), v
        else:
            assert v not in got, v


def test_triangle_stats_hub_fanout_is_degree_bounded(spark):
    """A star (hub with many leaves) has zero triangles and, with degree
    orientation, the hub contributes ZERO wedges — every star edge points
    leaf->hub, so no reducer sees the hub's neighborhood square."""
    from locus_spark.operators.graph import triangle_stats, undirect_edges

    star = [(100, i) for i in range(50)] + [(0, 1)]
    e = spark.createDataFrame(star, "src long, dst long")
    rows = triangle_stats(e).collect()
    hub = [r for r in rows if r["v"] == 100][0]
    assert hub["degree"] == 50 and hub["tri_count"] == 1  # 0-1-100 closes
    assert undirect_edges(e).count() == 51


def test_hits_matches_numpy(spark):
    from locus_spark.operators.graph import hits

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (3, 1), (4, 0)]
    e = spark.createDataFrame(edges, "src long, dst long")
    n = spark.createDataFrame([(i,) for i in range(5)], "v long")
    got = {r["v"]: (r["hub"], r["auth"]) for r in hits(n, e, iterations=8).collect()}

    h = np.ones(5)
    for _ in range(8):
        a = np.zeros(5)
        for s, d in edges:
            a[d] += h[s]
        a /= a.sum()
        h2 = np.zeros(5)
        for s, d in edges:
            h2[s] += a[d]
        h = h2 / h2.sum()
    for v in range(5):
        assert abs(got[v][0] - round(h[v], 6)) < 2e-6, (v, got[v], h[v])
        assert abs(got[v][1] - round(a[v], 6)) < 2e-6, (v, got[v], a[v])
    # node 4 points at 0 but nothing points at 4: authority exactly zero
    assert got[4][1] == 0.0


def test_hits_edgeless_graph_all_zero(spark):
    """No edges => no link mass: every hub/auth score is 0.0 instead of a
    null-division crash (ADVICE r4 — float(None) TypeError in the old
    driver-collected normalizer)."""
    from locus_spark.operators.graph import hits

    n = spark.createDataFrame([(i,) for i in range(3)], "v long")
    e = spark.createDataFrame([], "src long, dst long")
    got = {r["v"]: (r["hub"], r["auth"]) for r in hits(n, e, iterations=2).collect()}
    assert got == {0: (0.0, 0.0), 1: (0.0, 0.0), 2: (0.0, 0.0)}
