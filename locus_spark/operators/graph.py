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

One text per kernel: the edge weight, a round's contribution sum, the
teleport term, the damped step, HITS' L1-normalized half-step, the
triangle-orientation tests and the pseudo-link hash are each written once
as SQL text (the ``sql_*``/``SQL_*`` names below).  Spark parses it
(``selectExpr``/``F.expr``/``where``: one py4j call per projection, built
before the round loop, instead of one per Column node per round), and the
DuckDB oracles unroll their rounds over the same text.  Parameter literals
render as ``CAST(x AS DOUBLE)`` (``functions/metrics.sql_cast_double``):
Spark reads a bare ``0.85`` as DECIMAL(2,2), whose arithmetic would
diverge from the IEEE double math both engines otherwise do bit for bit.

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

from locus_spark.functions.metrics import DUCKDB, SPARK_SQL, Dialect, sql_cast_double
from locus_spark.session import materialize

#: standard damping factor (Page et al., 1999).
PR_DAMPING = 0.85
#: out-links per document in the derived pseudo graph.
PR_OUT_LINKS = 3
#: fixed power-iteration count for oracle-deterministic runs.
PR_ITERATIONS = 10

#: per-edge weight 1/outdeg over the out-degree count ``_od``
SQL_EDGE_WEIGHT = "CAST(1.0 AS DOUBLE) / _od"
#: a round's incoming mass at ``dst``: source rank ``r`` times edge weight ``w``
SQL_CONTRIB = "sum(r * w)"
#: an edge (src, dst) as its undirected canonical pair a < b
SQL_UNDIRECTED = ("least(src, dst) AS a", "greatest(src, dst) AS b")
#: local clustering coefficient of a node of degree ``deg`` in ``tri_count``
#: triangles (null: none)
SQL_CLUSTERING = "round(CAST(2.0 AS DOUBLE) * coalesce(tri_count, 0) / (deg * (deg - 1)), 6)"


def sql_link_target(i: int, key: str, n: str, dialect: Dialect = SPARK_SQL) -> str:
    """Out-link ``i`` of document ``key``: the md5-prefix bucket of
    ``'L{i}:' || key``, mod ``n``."""
    return f"{dialect.md5_bucket(f'L{i}:', key)} % {n}"


def sql_teleport(damping: float, n: str, p: str | None = None) -> str:
    """The teleport mass ``(1-d) * p(v)``: ``p`` a per-node probability
    column, or uniform ``1/n`` without one."""
    base = sql_cast_double(1.0 - damping)
    return f"{base} / {n}" if p is None else f"{base} * ({p})"


def sql_seed_teleport(seed_mod: int, key: str, n_seeds: str) -> str:
    """Teleport probability of a seed-set walk: ``1/n_seeds`` on the seeds
    ``key % seed_mod == 0``, zero elsewhere."""
    return (
        f"CASE WHEN {key} % {seed_mod} = 0"
        f" THEN CAST(1.0 AS DOUBLE) / {n_seeds} ELSE CAST(0.0 AS DOUBLE) END"
    )


def sql_init_rank(n: str, p: str | None = None) -> str:
    """Round-0 rank: the teleport distribution ``p``, or uniform ``1/n``."""
    return f"CAST(1.0 AS DOUBLE) / {n}" if p is None else f"({p})"


def sql_pr_step(damping: float, teleport: str) -> str:
    """The damped step: teleport mass plus ``d`` times the round's incoming
    mass ``_s`` (null for a node without in-links)."""
    return f"{teleport} + {sql_cast_double(damping)} * coalesce(_s, CAST(0.0 AS DOUBLE))"


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
    targets = ", ".join(
        sql_link_target(i, id_col, str(int(n_docs))) for i in range(n_links)
    )
    return documents.selectExpr(f"{id_col} AS src", f"explode(array({targets})) AS dst")


def weight_edges(edges: DataFrame) -> DataFrame:
    """(src, dst, w=1/outdeg): the static per-edge weight frame the
    iteration loop consumes — computed ONCE, never inside a round."""
    outdeg = edges.groupBy("src").agg(F.expr("count(*) AS _od"))
    return edges.join(outdeg, "src").selectExpr("src", "dst", f"{SQL_EDGE_WEIGHT} AS w")


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
        edges_w.join(ranks.selectExpr("v AS src", "r"), "src")
        .groupBy("dst")
        .agg(F.expr(f"{SQL_CONTRIB} AS _s"))
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
    n = str(int(n_nodes))
    step = sql_pr_step(damping, sql_teleport(damping, n, teleport_col))
    edges_w = edges if edges_are_weighted else materialize(weight_edges(edges))
    if init_ranks is not None:
        ranks = materialize(init_ranks.select("v", "r"))
    else:
        ranks = materialize(
            nodes.selectExpr("v", f"{sql_init_rank(n, teleport_col)} AS r")
        )
    for _ in range(iterations):
        contrib = round_contrib(edges_w, ranks).selectExpr("dst AS v", "_s")
        ranks = materialize(
            nodes.join(contrib, "v", "left").selectExpr("v", f"{step} AS r")
        )
    return ranks.select("v", "r")


def undirect_edges(edges: DataFrame) -> DataFrame:
    """(a, b) canonical undirected edge set: self-loops dropped, each pair
    oriented ``a < b``, parallel edges collapsed — the simple-graph view
    triangle counting is defined over."""
    return edges.where("src <> dst").selectExpr(*SQL_UNDIRECTED).distinct()


def sql_rank_lt(d1: str, x1: str, d2: str, x2: str) -> str:
    """Node ``x1`` (degree ``d1``) ranks below ``x2`` (degree ``d2``) in
    the (degree, id) order triangle counting orients its edges by."""
    return f"({d1} < {d2} OR ({d1} = {d2} AND {x1} < {x2}))"


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
        und.selectExpr("a AS v")
        .unionByName(und.selectExpr("b AS v"))
        .groupBy("v")
        .agg(F.expr("count(*) AS deg"))
    )
    e = und.join(deg.selectExpr("v AS a", "deg AS da"), "a").join(
        deg.selectExpr("v AS b", "deg AS db"), "b"
    )
    a_first = sql_rank_lt("da", "a", "db", "b")
    oriented = materialize(
        e.selectExpr(
            *(
                f"CASE WHEN {a_first} THEN {x} ELSE {y} END AS {name}"
                for name, x, y in (("u", "a", "b"), ("w", "b", "a"), ("dw", "db", "da"))
            )
        )
    )
    # wedges centered at u, ordered so (v, w) matches the v->w orientation
    wedges = (
        oriented.selectExpr("u", "w AS v", "dw AS dv")
        .join(oriented, "u")
        .where(sql_rank_lt("dv", "v", "dw", "w"))
    )
    tris = wedges.join(oriented.selectExpr("u AS v", "w"), ["v", "w"])
    per_node = (
        tris.selectExpr("explode(array(u, v, w)) AS v")
        .groupBy("v")
        .agg(F.expr("count(*) AS tri_count"))
    )
    return (
        deg.where("deg >= 2")
        .join(per_node, "v", "left")
        .selectExpr(
            "v",
            "deg AS degree",
            "coalesce(tri_count, 0) AS tri_count",
            f"{SQL_CLUSTERING} AS clustering",
        )
    )


def _links_sql(n_links: int) -> str:
    """The DuckDB rendering of :func:`derive_links` over the oracles'
    ``nodes`` and ``nn`` CTEs: one SELECT per out-link, UNION ALL'd."""
    return "\n  UNION ALL ".join(
        f"SELECT v AS src, {sql_link_target(i, 'v', 'nn.ni', DUCKDB)} AS dst"
        " FROM nodes CROSS JOIN nn"
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
  SELECT DISTINCT {", ".join(SQL_UNDIRECTED)}
  FROM links WHERE src <> dst
),
degs AS (
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
SELECT degs.v AS doc_id, deg AS degree,
       coalesce(tri_count, 0) AS tri_count,
       {SQL_CLUSTERING} AS clustering
FROM degs LEFT JOIN per_node ON per_node.v = degs.v
WHERE deg >= 2
"""


def _pr_weight_ctes(tag: str) -> list[str]:
    """The oracle's ``outdeg{tag}`` and ``ew{tag}`` (weighted edges) CTEs
    over ``links{tag}``."""
    links = f"links{tag}"
    return [
        f"outdeg{tag} AS (SELECT src, count(*) AS _od FROM {links} GROUP BY src)",
        f"ew{tag} AS (SELECT {links}.src, {links}.dst, {SQL_EDGE_WEIGHT} AS w"
        f" FROM {links} JOIN outdeg{tag} USING (src))",
    ]


def _pr_round_cte(name: str, prev: str, ew: str, step: str, cross: str) -> str:
    """One unrolled power-iteration round: rank ``name`` from rank
    ``prev`` over the weighted edges ``ew``."""
    return f"""{name} AS (
  SELECT nodes.v, {step} AS r
  FROM nodes {cross}
  LEFT JOIN (SELECT {ew}.dst AS v, {SQL_CONTRIB} AS _s
             FROM {ew} JOIN {prev} p ON p.v = {ew}.src GROUP BY {ew}.dst) c
    ON c.v = nodes.v
)"""


def _pagerank_oracle(
    damping: float,
    links: dict[str, int],
    phases: list[tuple[str, str, int]],
    seed_mod: int | None = None,
) -> str:
    """DuckDB SQL unrolling ``pagerank``'s rounds over the shared texts.
    ``links`` maps a tag to the out-link count of graph ``links{tag}``;
    each phase ``(prefix, tag, rounds)`` runs ``rounds`` rounds over graph
    ``tag`` from the previous phase's last rank."""
    ctes = [
        "nodes AS (SELECT doc_id AS v FROM documents)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n, count(*) AS ni FROM nodes)",
    ]
    for tag, n_links in links.items():
        ctes.append(f"links{tag} AS (\n  {_links_sql(n_links)}\n)")
    for tag in links:
        ctes += _pr_weight_ctes(tag)
    p, cross = None, "CROSS JOIN nn"
    if seed_mod is not None:
        ctes.append(
            "ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes"
            f" WHERE v % {seed_mod} = 0)"
        )
        p, cross = sql_seed_teleport(seed_mod, "nodes.v", "ns.n"), "CROSS JOIN ns"
    ctes.append(f"r0 AS (SELECT nodes.v, {sql_init_rank('nn.n', p)} AS r FROM nodes {cross})")
    step = sql_pr_step(damping, sql_teleport(damping, "nn.n", p))
    prev = "r0"
    for prefix, tag, rounds in phases:
        for t in range(1, rounds + 1):
            ctes.append(_pr_round_cte(f"{prefix}{t}", prev, f"ew{tag}", step, cross))
            prev = f"{prefix}{t}"
    return "WITH " + ",\n".join(ctes) + f"\nSELECT v AS doc_id, round(r, 6) AS pr FROM {prev}"


def pagerank_oracle_sql(
    damping: float = PR_DAMPING,
    n_links: int = PR_OUT_LINKS,
    iterations: int = PR_ITERATIONS,
    seed_mod: int | None = None,
) -> str:
    """DuckDB SQL unrolling the fixed-round power iteration of ``pagerank``
    over ``derive_links``, in the same texts; results compare at 6-decimal
    rounding.

    With ``seed_mod`` the unrolled iteration is the PERSONALIZED variant:
    teleport mass ``1/|S|`` on the seed set ``v % seed_mod == 0``, zero
    elsewhere (mirroring ``teleport_col``)."""
    return _pagerank_oracle(damping, {"": n_links}, [("r", "", iterations)], seed_mod)


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
    return _pagerank_oracle(
        damping,
        {"a": base_links, "b": base_links + delta_links},
        [("r", "a", full_iterations), ("s", "b", warm_iterations)],
    )


#: fixed HITS iteration count for oracle-deterministic runs.
HITS_ITERATIONS = 8


def sql_l1_normalized(x: str) -> str:
    """Score ``x`` (null: no in-mass) over the half-step's L1 mass
    ``_norm``.  A null or zero mass (an edgeless graph) gives 0.0, never a
    null division."""
    return (
        f"CASE WHEN _norm IS NOT NULL AND _norm <> 0"
        f" THEN coalesce({x}, CAST(0.0 AS DOUBLE)) / _norm ELSE CAST(0.0 AS DOUBLE) END"
    )


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

    def half_step(state: DataFrame, x: str, out: str, key: str, other: str) -> DataFrame:
        """Sum score ``x`` along the edges from ``other`` to ``key`` into
        ``out``, then L1-normalize it over every node."""
        raw = (
            e.join(state.selectExpr(f"v AS {other}", x), other)
            .groupBy(key)
            .agg(F.expr(f"sum({x}) AS {out}"))
        )
        return (
            nodes.join(raw.selectExpr(f"{key} AS v", out), "v", "left")
            .crossJoin(F.broadcast(raw.selectExpr(f"sum({out}) AS _norm")))
            .selectExpr("v", f"{sql_l1_normalized(out)} AS {out}")
        )

    e = materialize(edges.select("src", "dst"))
    state = materialize(nodes.selectExpr("v", "CAST(1.0 AS DOUBLE) AS h"))
    for _ in range(iterations):
        auth = half_step(state, "h", "a", "dst", "src")
        # checkpoint once per iteration — NOT less often: chaining two
        # iterations before materializing re-executes the shared auth/a_raw
        # subplans in every consumer branch (measured 6.2 s vs 4.7 s at
        # sf0.1 with an every-2nd-iteration cadence)
        state = materialize(half_step(auth, "a", "h", "src", "dst"))
    return state.join(auth, "v").selectExpr(
        "v", "round(h, 6) AS hub", "round(a, 6) AS auth"
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
    for t in range(1, iterations + 1):
        for x, out, key, other, prev in (
            ("h", "a", "dst", "src", f"h{t - 1}"),
            ("a", "h", "src", "dst", f"a{t}"),
        ):
            ctes += [
                f"{out}raw{t} AS MATERIALIZED (SELECT links.{key} AS v, sum({x}) AS {out}"
                f" FROM links JOIN {prev} p ON p.v = links.{other} GROUP BY links.{key})",
                f"{out}sum{t} AS (SELECT sum({out}) AS _norm FROM {out}raw{t})",
                f"{out}{t} AS MATERIALIZED (SELECT nodes.v, {sql_l1_normalized(out)} AS {out}"
                f" FROM nodes CROSS JOIN {out}sum{t}"
                f" LEFT JOIN {out}raw{t} ON {out}raw{t}.v = nodes.v)",
            ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT h{iterations}.v AS doc_id, round(h{iterations}.h, 6) AS hub,"
        f" round(a{iterations}.a, 6) AS auth"
        f"\nFROM h{iterations} JOIN a{iterations} ON a{iterations}.v = h{iterations}.v"
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
