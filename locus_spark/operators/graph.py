"""PageRank over a web-style link graph — the iterative-algorithm exemplar
beside connected components (operators/components.py).

A Common-Crawl-scale corpus is a graph (pages link to pages); rank-style
centrality drives crawl prioritization and quality weighting in training-data
curation.  The sandbox corpus has no real hyperlinks, so ``derive_links``
synthesises a DETERMINISTIC pseudo link graph from the document ids alone —
md5-based, so DuckDB derives the bit-identical edge set for the oracle (same
cross-engine hash contract as operators/sampling.py).

Algorithm: classic damped power iteration (Page et al., 1999)::

    r_{t+1}(v) = (1-d)/N + d * sum_{u->v} r_t(u) / outdeg(u)

Scale shape (the Pregel shuffle pattern):

- the per-edge weight ``1/outdeg`` is joined ONCE before the loop and the
  weighted edge frame is lineage-truncated — rounds never recompute degrees;
- each round is one join (ranks |V| rows x edges |E| rows, both key-
  partitioned on ``src``) + one ``groupBy(dst).sum`` with map-side partial
  aggregation — no component/neighborhood ever funnels through one task;
- round state goes through ``session.materialize`` (checkpoint policy:
  see there), so lineage stays O(1) across iterations;
- at production scale the weighted edge frame belongs in a bucketed table
  (sources/bucketed.py) keyed by ``src`` so the per-round join co-locates
  without re-shuffling the edges; the rank frame (|V| rows) is the only
  per-round shuffle.

Determinism contract: a FIXED iteration count (default 10) keeps the result
oracle-comparable; float contributions are summed in engine-dependent order,
so callers compare at 6-decimal rounding (drift across 10 damped rounds is
~1e-15 relative).

Reference scope note: the locus reference (/root/reference/locus) has no
graph surface; this is webtext functionality the build mandate adds beyond
reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from locus_spark.session import materialize

#: standard damping factor (Page et al., 1999).
PR_DAMPING = 0.85
#: out-links per document in the derived pseudo graph.
PR_OUT_LINKS = 3
#: fixed power-iteration count for oracle-deterministic runs.
PR_ITERATIONS = 10


def _hash_mod(prefix: str, col: F.Column, modulus: int) -> F.Column:
    """uint32(md5(prefix || col)) % modulus — first 8 md5 hex chars, the
    cross-engine hash contract shared with operators/sampling.py (DuckDB:
    ``('0x' || substr(md5(...), 1, 8))::BIGINT % modulus``)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(prefix), col.cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % F.lit(modulus)
    )


def derive_links(
    documents: DataFrame,
    n_docs: int,
    n_links: int = PR_OUT_LINKS,
    id_col: str = "doc_id",
) -> DataFrame:
    """(src, dst) pseudo link graph: document ``u`` links to
    ``uint32(md5('L{i}:u')) % n_docs`` for i in 0..n_links-1.

    Requires a CONTIGUOUS id space 0..n_docs-1 (the synth corpus contract);
    a non-contiguous corpus needs an id-densification pass first.  Parallel
    edges and self-links are kept — they are deterministic in both engines
    and PageRank treats them as ordinary multi-edges."""
    targets = F.array(
        *[_hash_mod(f"L{i}:", F.col(id_col), n_docs) for i in range(n_links)]
    )
    return documents.select(
        F.col(id_col).alias("src"), F.explode(targets).alias("dst")
    )


def weight_edges(edges: DataFrame) -> DataFrame:
    """(src, dst, w=1/outdeg): the static per-edge weight frame the
    iteration loop consumes — computed ONCE, never inside a round."""
    outdeg = edges.groupBy("src").agg(F.count("*").alias("_od"))
    return edges.join(outdeg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("_od")).alias("w")
    )


def prepare_edges_bucketed(
    spark,
    edges: DataFrame,
    table: str = "pr_edges_w",
    path: str = "/tmp/locus_pr_edges_w",
    buckets: int = 64,
) -> DataFrame:
    """Materialize the weighted edge frame as a table BUCKETED BY ``src``
    (sources/bucketed.py machinery): the scan then reports
    HashPartitioning(src), so every round's rank join shuffles ONLY the
    |V|-row rank frame — the |E|-row edge side is read co-located from
    disk instead of being re-exchanged each round.  This is the production
    shape for iterate-over-static-graph jobs; pair ``buckets`` with the
    session's shuffle partition count so the rank side lands on the same
    partitioning."""
    from locus_spark.sources.bucketed import write_bucketed

    # bucket files sorted by src: a sort-merge rank join then reads sorted
    # runs straight off disk instead of re-sorting |E| rows every round
    return write_bucketed(
        weight_edges(edges), table, path, ["src"], buckets, sort_cols=["src"]
    )


def round_contrib(edges_w: DataFrame, ranks: DataFrame) -> DataFrame:
    """One round's incoming-mass sums: join weighted edges with the rank
    frame on ``src``, then ``groupBy(dst).sum`` — the partial (map-side)
    aggregate before the dst shuffle is the scale-critical plan property
    (pinned in tests/test_graph.py)."""
    return (
        edges_w.join(ranks.withColumnRenamed("v", "src"), "src")
        .groupBy("dst")
        .agg(F.sum(F.col("r") * F.col("w")).alias("_s"))
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    n_nodes: int,
    damping: float = PR_DAMPING,
    iterations: int = PR_ITERATIONS,
    edges_are_weighted: bool = False,
    teleport_col: str | None = None,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """(v, pr) after ``iterations`` damped power-iteration rounds.

    With ``teleport_col``, runs PERSONALIZED PageRank (random walk with
    restart): ``nodes`` carries a per-node teleport probability column
    (summing to 1 over the graph — e.g. ``1/|S|`` on a seed set, 0
    elsewhere); the walk restarts into that distribution instead of the
    uniform one, and ranks are initialized from it.  Same loop, same
    shuffle shape — the teleport column just rides the |V|-row node frame
    the round join already touches.

    ``nodes`` must have column ``v`` (every vertex, including ones with no
    in-links — they receive the teleport mass ``(1-d)/N``), ``edges``
    columns ``src``/``dst``.  Vertices without OUT-links are not expected
    from ``derive_links`` (every doc emits ``n_links`` edges); true dangling
    mass redistribution is out of scope and documented here.

    With ``edges_are_weighted`` the caller passes a (src, dst, w) frame
    directly — typically a ``prepare_edges_bucketed`` scan, which is left
    UNTOUCHED (no lineage truncation: a bucketed scan already reads
    materialized co-located files, and wrapping it would discard its
    HashPartitioning and reintroduce the per-round edge shuffle).

    With ``init_ranks`` (columns v, r) iteration WARM-STARTS from a prior
    snapshot's ranks instead of the teleport distribution — the
    incremental-maintenance path: after a delta of edges lands, the old
    fixpoint is already near the new one, so a handful of rounds
    re-converges where a cold start pays the full O(log) schedule.  The
    damped iteration contracts toward the unique fixpoint from ANY
    starting vector, so warm-starting affects round count, never the
    answer."""
    if teleport_col is None:
        base_expr = F.lit((1.0 - damping) / float(n_nodes))
        init_expr = F.lit(1.0) / F.lit(float(n_nodes))
    else:
        base_expr = F.lit(1.0 - damping) * F.col(teleport_col)
        init_expr = F.col(teleport_col)
    edges_w = edges if edges_are_weighted else materialize(weight_edges(edges))
    if init_ranks is not None:
        ranks = materialize(init_ranks.select("v", "r"))
    else:
        ranks = materialize(nodes.select("v", init_expr.alias("r")))
    for _ in range(iterations):
        contrib = round_contrib(edges_w, ranks)
        stepped = (
            nodes.join(contrib.withColumnRenamed("dst", "v"), "v", "left")
            .select(
                "v",
                (
                    base_expr
                    + F.lit(damping) * F.coalesce("_s", F.lit(0.0))
                ).alias("r"),
            )
        )
        ranks = materialize(stepped)
    return ranks.select("v", "r")


def undirect_edges(edges: DataFrame) -> DataFrame:
    """(a, b) canonical undirected edge set: self-loops dropped, each pair
    oriented ``a < b``, parallel edges collapsed — the simple-graph view
    triangle counting is defined over."""
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    undirected simple graph of ``edges`` (src, dst).

    Algorithm: degree-ordered edge orientation (Suri & Vassilvitskii,
    WWW'11 "Counting triangles and the curse of the last reducer"): every
    undirected edge is directed from its lower-``(deg, id)`` endpoint to
    the higher, wedges are enumerated only at each edge's LOWER endpoint,
    and a wedge (v, w) closes a triangle iff the oriented edge v→w exists.
    Each triangle is found exactly once (at its minimum-rank vertex).

    Scale shape: orientation bounds every node's wedge fan-out by its
    oriented out-degree ≤ O(sqrt(|E|)) — a celebrity page with 10^7
    in-links contributes NO wedges from its own adjacency (its edges all
    point toward it), so no reducer ever materializes a hub's full
    neighborhood square.  The plan is three equi-joins + two hash
    aggregations, all map-side combinable; nothing is all-pairs.

    Returns (v, degree, tri_count, clustering) for nodes with degree >= 2
    (the coefficient is undefined below that); ``clustering`` is rounded
    to 6 decimals (pure ratio of exact integers — the rounding is only for
    cross-engine float-division display parity)."""
    und = materialize(undirect_edges(edges))
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    e = und.join(
        deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), "a"
    ).join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = materialize(
        e.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("w"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dw"),
        )
    )
    # wedges centered at u, ordered so (v, w) matches the v->w orientation
    w1 = oriented.select("u", F.col("w").alias("v"), F.col("dw").alias("dv"))
    wedges = w1.join(oriented, "u").where(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    tris = wedges.join(
        oriented.select(F.col("u").alias("v"), "w"), ["v", "w"]
    ).select("u", "v", "w")
    per_node = (
        tris.select(F.explode(F.array("u", "v", "w")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("tri_count"))
    )
    return (
        deg.where(F.col("deg") >= 2)
        .join(per_node, "v", "left")
        .select(
            "v",
            F.col("deg").alias("degree"),
            F.coalesce("tri_count", F.lit(0)).alias("tri_count"),
            F.round(
                F.lit(2.0)
                * F.coalesce("tri_count", F.lit(0))
                / (F.col("deg") * (F.col("deg") - F.lit(1))),
                6,
            ).alias("clustering"),
        )
    )


def _links_sql(n_links: int) -> str:
    """DuckDB mirror of :func:`derive_links` over the oracles' ``nodes``
    and ``nn`` CTEs: one md5-hashed SELECT per out-link, UNION ALL'd."""
    return "\n  UNION ALL ".join(
        f"SELECT v AS src, (('0x' || substr(md5('L{i}:' || CAST(v AS VARCHAR)), 1, 8))::BIGINT"
        " % nn.ni) AS dst FROM nodes CROSS JOIN nn"
        for i in range(n_links)
    )


def triangle_oracle_sql(n_links: int = PR_OUT_LINKS) -> str:
    """DuckDB mirror of ``triangle_stats`` over ``derive_links``: plain
    3-way join triangle enumeration on the canonical a<b edge set (every
    triangle appears exactly once as x<y<z), identical float-division +
    6-decimal rounding for the coefficient."""
    return f"""
WITH nodes AS (SELECT doc_id AS v FROM documents),
nn AS (SELECT count(*) AS ni FROM nodes),
links AS (
  {_links_sql(n_links)}
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM links WHERE src <> dst
),
deg AS (
  SELECT v, count(*) AS deg
  FROM (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
  GROUP BY v
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
per_node AS (
  SELECT v, count(*) AS tri_count
  FROM (SELECT x AS v FROM tri UNION ALL SELECT y AS v FROM tri
        UNION ALL SELECT z AS v FROM tri)
  GROUP BY v
)
SELECT deg.v AS doc_id, deg.deg AS degree,
       coalesce(per_node.tri_count, 0) AS tri_count,
       round(2.0 * coalesce(per_node.tri_count, 0)
             / (deg.deg * (deg.deg - 1)), 6) AS clustering
FROM deg LEFT JOIN per_node ON per_node.v = deg.v
WHERE deg.deg >= 2
"""


def pagerank_oracle_sql(
    damping: float = PR_DAMPING,
    n_links: int = PR_OUT_LINKS,
    iterations: int = PR_ITERATIONS,
    seed_mod: int | None = None,
) -> str:
    """DuckDB SQL unrolling the fixed-round power iteration with the EXACT
    expression shapes of ``pagerank`` over ``derive_links`` — parameter
    literals CAST to DOUBLE so DuckDB's decimal arithmetic never diverges
    from Spark's double math; results compare at 6-decimal rounding.

    With ``seed_mod`` the unrolled iteration is the PERSONALIZED variant:
    teleport mass ``1/|S|`` on the seed set ``v % seed_mod == 0``, zero
    elsewhere (mirroring ``teleport_col``)."""
    ctes = [
        "nodes AS (SELECT doc_id AS v FROM documents)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n, count(*) AS ni FROM nodes)",
        f"links AS (\n  {_links_sql(n_links)}\n)",
        "outdeg AS (SELECT src, count(*) AS _od FROM links GROUP BY src)",
        "ew AS (SELECT links.src, links.dst, CAST(1.0 AS DOUBLE) / outdeg._od AS w"
        " FROM links JOIN outdeg USING (src))",
    ]
    base_lit = repr((1.0 - damping))
    if seed_mod is None:
        ctes.append(
            "r0 AS (SELECT v, CAST(1.0 AS DOUBLE) / nn.n AS r"
            " FROM nodes CROSS JOIN nn)"
        )
        base_term = f"CAST({base_lit} AS DOUBLE) / nn.n"
        extra_from = "CROSS JOIN nn"
    else:
        ctes.append(
            "ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes"
            f" WHERE v % {seed_mod} = 0)"
        )
        p_case = (
            f"CASE WHEN nodes.v % {seed_mod} = 0"
            " THEN CAST(1.0 AS DOUBLE) / ns.n ELSE CAST(0.0 AS DOUBLE) END"
        )
        ctes.append(
            f"r0 AS (SELECT nodes.v, {p_case} AS r FROM nodes CROSS JOIN ns)"
        )
        base_term = f"CAST({base_lit} AS DOUBLE) * ({p_case})"
        extra_from = "CROSS JOIN ns"
    for t in range(1, iterations + 1):
        ctes.append(
            f"""r{t} AS (
  SELECT nodes.v,
         {base_term}
         + CAST({damping!r} AS DOUBLE) * coalesce(c._s, CAST(0.0 AS DOUBLE)) AS r
  FROM nodes {extra_from}
  LEFT JOIN (SELECT ew.dst AS v, sum(p.r * ew.w) AS _s
             FROM ew JOIN r{t - 1} p ON p.v = ew.src GROUP BY ew.dst) c
    ON c.v = nodes.v
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT v AS doc_id, round(r, 6) AS pr FROM r{iterations}"
    )


#: fixed HITS iteration count for oracle-deterministic runs.
HITS_ITERATIONS = 8


def hits(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = HITS_ITERATIONS,
) -> DataFrame:
    """(v, hub, auth) after ``iterations`` rounds of Kleinberg's HITS
    (JACM '99) with SUM (L1) normalization each half-step::

        a_t(v) = Σ_{u→v} h_{t-1}(u)   then  a_t /= Σ a_t
        h_t(v) = Σ_{v→w} a_t(w)       then  h_t /= Σ h_t

    L1 normalization (vs the paper's L2) changes only the fixpoint's
    scale, not the ranking — and it keeps the per-round normalizer a
    plain ``sum`` aggregate both engines compute bit-identically (no
    cross-engine ``sqrt``).

    Scale shape: identical to the PageRank loop — each half-step is one
    key-partitioned join (scores |V| x edges |E|) + one map-side-combined
    ``groupBy.sum``; the normalizer rides INSIDE the plan as a one-row
    broadcast (``crossJoin(broadcast(sum))``) instead of a per-half-step
    driver collect, so a full iteration (both half-steps) is ONE blocking
    job — the round-state checkpoint — rather than four (measured 8.0 s →
    ~2.5 s at sf0.1: at toy scale the wall was pure per-job scheduling
    floor, 16 half-steps x 2 blocking jobs each).  Round state is
    lineage-truncated once per iteration; the final ``auth`` lineage hangs
    one half-step off the last checkpoint (recomputed once at consume
    time).  At production scale the edge frame belongs in a src- AND
    dst-bucketed pair of tables (the loop joins on both ends).

    Edgeless graphs: every half-step sum is empty (normalizer null), so
    scores short-circuit to 0.0 for every node instead of dividing by
    null/zero — the L1 fixpoint of a graph with no link mass.

    Scores round to 6 decimals at the END only; per-round sums stay raw
    double (the oracle unrolls the identical raw-double recurrence)."""
    if iterations < 1:
        raise ValueError("hits: iterations must be >= 1")

    def _l1_normalized(raw: DataFrame, key: str, col: str) -> DataFrame:
        """nodes left-joined with ``raw`` (keyed ``key``), divided by the
        global L1 mass carried as a one-row broadcast column.  Null/zero
        mass (edgeless graph) => all-zero scores, never a null division."""
        norm = raw.agg(F.sum(col).alias("_norm"))
        return (
            nodes.join(raw.withColumnRenamed(key, "v"), "v", "left")
            .crossJoin(F.broadcast(norm))
            .select(
                "v",
                F.when(
                    F.col("_norm").isNotNull() & (F.col("_norm") != 0.0),
                    F.coalesce(col, F.lit(0.0)) / F.col("_norm"),
                )
                .otherwise(0.0)
                .alias(col),
            )
        )

    e = materialize(edges.select("src", "dst"))
    state = materialize(
        nodes.select("v", F.lit(1.0).alias("h"))
    )
    for _ in range(iterations):
        a_raw = (
            e.join(state.withColumnRenamed("v", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("h").alias("a"))
        )
        auth = _l1_normalized(a_raw, "dst", "a")
        h_raw = (
            e.join(auth.withColumnRenamed("v", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("a").alias("h"))
        )
        # checkpoint once per iteration — NOT less often: chaining two
        # iterations before materializing re-executes the shared auth/a_raw
        # subplans in every consumer branch (measured 6.2 s vs 4.7 s at
        # sf0.1 with an every-2nd-iteration cadence)
        state = materialize(_l1_normalized(h_raw, "src", "h"))
        last_auth = auth
    return state.join(last_auth, "v").select(
        "v", F.round("h", 6).alias("hub"), F.round("a", 6).alias("auth")
    )


def hits_oracle_sql(
    n_links: int = PR_OUT_LINKS, iterations: int = HITS_ITERATIONS
) -> str:
    """DuckDB SQL unrolling the exact L1-normalized HITS recurrence of
    :func:`hits` over ``derive_links`` (raw-double sums per round, single
    6-decimal rounding at the end)."""
    # every multiply-referenced CTE is MATERIALIZED: DuckDB otherwise
    # inlines each reference, and the sum-CTE + join double-reference per
    # half-round makes the expansion tree exponential in the round count
    # (it exhausts file descriptors before it exhausts memory)
    ctes = [
        "nodes AS MATERIALIZED (SELECT doc_id AS v FROM documents)",
        "nn AS (SELECT count(*) AS ni FROM nodes)",
        f"links AS MATERIALIZED (\n  {_links_sql(n_links)}\n)",
        "h0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS h FROM nodes)",
    ]
    prev_h = "h0"
    for t in range(1, iterations + 1):
        ctes.append(
            f"araw{t} AS MATERIALIZED (SELECT links.dst AS v, sum(p.h) AS a"
            f" FROM links JOIN {prev_h} p ON p.v = links.src GROUP BY links.dst)"
        )
        ctes.append(f"asum{t} AS (SELECT sum(a) AS s FROM araw{t})")
        ctes.append(
            f"a{t} AS MATERIALIZED (SELECT nodes.v,"
            f" coalesce(araw{t}.a, CAST(0.0 AS DOUBLE)) / asum{t}.s AS a"
            f" FROM nodes CROSS JOIN asum{t}"
            f" LEFT JOIN araw{t} ON araw{t}.v = nodes.v)"
        )
        ctes.append(
            f"hraw{t} AS MATERIALIZED (SELECT links.src AS v, sum(q.a) AS h"
            f" FROM links JOIN a{t} q ON q.v = links.dst GROUP BY links.src)"
        )
        ctes.append(f"hsum{t} AS (SELECT sum(h) AS s FROM hraw{t})")
        ctes.append(
            f"h{t} AS MATERIALIZED (SELECT nodes.v,"
            f" coalesce(hraw{t}.h, CAST(0.0 AS DOUBLE)) / hsum{t}.s AS h"
            f" FROM nodes CROSS JOIN hsum{t}"
            f" LEFT JOIN hraw{t} ON hraw{t}.v = nodes.v)"
        )
        prev_h = f"h{t}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT h{iterations}.v AS doc_id, round(h{iterations}.h, 6) AS hub,"
        f" round(a{iterations}.a, 6) AS auth"
        f"\nFROM h{iterations} JOIN a{iterations} ON a{iterations}.v = h{iterations}.v"
    )


def pagerank_incremental_oracle_sql(
    damping: float = PR_DAMPING,
    base_links: int = PR_OUT_LINKS,
    delta_links: int = 1,
    full_iterations: int = PR_ITERATIONS,
    warm_iterations: int = 3,
) -> str:
    """DuckDB SQL for the warm-start path: unroll ``full_iterations``
    rounds over the base ``base_links``-per-doc graph, then
    ``warm_iterations`` rounds over the grown graph
    (``base_links + delta_links`` per doc) STARTING from the base
    fixpoint — the exact mirror of ``pagerank(init_ranks=...)`` after a
    delta of derived edges lands."""

    def weight_ctes(links: str, tag: str) -> list[str]:
        return [
            f"outdeg{tag} AS (SELECT src, count(*) AS _od FROM {links} GROUP BY src)",
            f"ew{tag} AS (SELECT {links}.src, {links}.dst,"
            f" CAST(1.0 AS DOUBLE) / outdeg{tag}._od AS w"
            f" FROM {links} JOIN outdeg{tag} USING (src))",
        ]

    def round_cte(name: str, prev: str, ew: str) -> str:
        base_lit = repr((1.0 - damping))
        return f"""{name} AS (
  SELECT nodes.v,
         CAST({base_lit} AS DOUBLE) / nn.n
         + CAST({damping!r} AS DOUBLE) * coalesce(c._s, CAST(0.0 AS DOUBLE)) AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN (SELECT {ew}.dst AS v, sum(p.r * {ew}.w) AS _s
             FROM {ew} JOIN {prev} p ON p.v = {ew}.src GROUP BY {ew}.dst) c
    ON c.v = nodes.v
)"""

    ctes = [
        "nodes AS (SELECT doc_id AS v FROM documents)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n, count(*) AS ni FROM nodes)",
        f"linksa AS (\n  {_links_sql(base_links)}\n)",
        f"linksb AS (\n  {_links_sql(base_links + delta_links)}\n)",
        *weight_ctes("linksa", "a"),
        *weight_ctes("linksb", "b"),
        "r0 AS (SELECT v, CAST(1.0 AS DOUBLE) / nn.n AS r FROM nodes CROSS JOIN nn)",
    ]
    prev = "r0"
    for t in range(1, full_iterations + 1):
        ctes.append(round_cte(f"r{t}", prev, "ewa"))
        prev = f"r{t}"
    for t in range(1, warm_iterations + 1):
        ctes.append(round_cte(f"s{t}", prev, "ewb"))
        prev = f"s{t}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT v AS doc_id, round(r, 6) AS pr FROM {prev}"
    )


__all__ = [
    "PR_DAMPING",
    "PR_OUT_LINKS",
    "PR_ITERATIONS",
    "derive_links",
    "weight_edges",
    "prepare_edges_bucketed",
    "round_contrib",
    "pagerank",
    "pagerank_oracle_sql",
    "pagerank_incremental_oracle_sql",
    "undirect_edges",
    "triangle_stats",
    "triangle_oracle_sql",
    "HITS_ITERATIONS",
    "hits",
    "hits_oracle_sql",
]
