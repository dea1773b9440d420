"""Driver planning bill of a kNN, range, tiling, dedup or loop operation: the
planners build their expressions as Spark SQL text, one py4j call per
projection, so an operation sends hundreds of commands to the JVM, not
thousands (kNN built as Column trees, call by call, sent over 4,000; the
persisted scans' ``isin`` list ~3,000; SimHash's Column-built votes
~11,000; HITS' Column-built rounds ~4,800).  Also: a warm
operation compiles no class, so no probe-dependent literal reaches generated
code, and the answers are the brute-force ones."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from locus_spark.cells import GridSpec, cluster_by_hilbert
from locus_spark.functions.metrics import (
    DUCKDB,
    sql_box_contains_point,
    sql_box_is_subset,
    sql_boxes_overlap,
    sql_dist2_point_box,
    sql_dist2_point_point,
    sql_dist2_segment_segment,
    sql_ray_crosses_edge,
)
from locus_spark.operators import boxes as box_ops
from locus_spark.functions import metrics
from locus_spark.operators import dedup, density, graph, mixing, selection, textops
from locus_spark.operators import points as point_ops
from locus_spark.operators import segments as seg_ops
from locus_spark.operators import tiles as tile_ops
from locus_spark import queries
from locus_spark.operators.sampling import sql_sample_predicate
from locus_spark.queries import oracle_sql
from locus_spark.session import codegen_counters, py4j_calls

#: commands per operation, plan + run + collect (Column-built planner:
#: 3,900-5,400 on these inputs)
MAX_CALLS = 800
K = 5
GRID = GridSpec(0.0, 0.0, 100.0, 100.0, 5)


@pytest.fixture(scope="module")
def tables(spark):
    rng = np.random.default_rng(3)
    xy = rng.uniform(0.0, 100.0, (3000, 2))
    dxy = rng.uniform(-2.0, 2.0, (1500, 2))
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)],
        "id long, x double, y double",
    )
    boxes = spark.createDataFrame(
        [(i, float(x), float(x + 1.5), float(y), float(y + 0.5))
         for i, (x, y) in enumerate(xy[:1500])],
        "id long, min_x double, max_x double, min_y double, max_y double",
    )
    segs = spark.createDataFrame(
        [(i, float(x), float(y), float(x + dx), float(y + dy))
         for i, ((x, y), (dx, dy)) in enumerate(zip(xy[:1500], dxy))],
        "id long, x1 double, y1 double, x2 double, y2 double",
    )
    # probes inside and outside the grid
    probes = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(-5.0, 105.0, (30, 2)))],
        "qid long, x double, y double",
    )
    qsegs = segs.filter("id % 100 = 7").selectExpr("id AS qid", "x1", "y1", "x2", "y2")
    return [t.cache() for t in (pts, boxes, segs, probes, qsegs)]


def _brute(targets, probes, d2: str, desc: bool):
    """Every probe against every target, with the same metric text."""
    order = "DESC" if desc else "ASC"
    return sorted(
        (r.qid, r.rn, r.id, r.dist2)
        for r in probes.crossJoin(targets)
        .selectExpr("qid", "id", f"{d2} AS dist2")
        .selectExpr("*", f"row_number() OVER (PARTITION BY qid ORDER BY dist2, id {order}) AS rn")
        .filter(f"rn <= {K}")
        .collect()
    )


def _cases(tables):
    pts, boxes, segs, probes, qsegs = tables
    q = probes.selectExpr("qid", "x AS _qx", "y AS _qy")
    qs = qsegs.selectExpr("qid", "x1 AS _qx1", "y1 AS _qy1", "x2 AS _qx2", "y2 AS _qy2")
    return {
        "point": (
            lambda: point_ops.knn_join(pts, probes, K, grid=GRID),
            lambda: _brute(pts, q, sql_dist2_point_point("x", "y", "_qx", "_qy"), False),
        ),
        "box": (
            lambda: box_ops.box_knn_join(boxes, probes, K, grid=GRID),
            lambda: _brute(boxes, q, sql_dist2_point_box(
                "_qx", "_qy", "min_x", "max_x", "min_y", "max_y"), True),
        ),
        "segment": (
            lambda: seg_ops.segment_knn_join(segs, qsegs, K, grid=GRID),
            lambda: _brute(segs, qs, sql_dist2_segment_segment(
                "_qx1", "_qy1", "_qx2", "_qy2", "x1", "y1", "x2", "y2"), False),
        ),
    }


def _warm_bill(spark, op):
    """(rows, py4j commands, compiled classes) of a warm run of ``op``."""
    op().collect()  # warm-up: the first run compiles its classes
    c0 = codegen_counters(spark)[0]
    with py4j_calls(spark) as sent:
        rows = op().collect()
    return rows, sent[0], codegen_counters(spark)[0] - c0


@pytest.mark.parametrize("family", ["point", "box", "segment"])
def test_knn_op_plans_in_few_py4j_calls(spark, tables, family):
    op, brute = _cases(tables)[family]
    rows, calls, compiled = _warm_bill(spark, op)

    got = sorted((r.qid, r.rn, r.id, r.dist2) for r in rows)
    assert got == brute()
    assert calls <= MAX_CALLS, f"{family} kNN sent {calls} py4j commands"
    assert compiled == 0, f"the warm {family} kNN compiled {compiled} classes"


@pytest.fixture(scope="module")
def range_tables(spark, tables, tmp_path_factory):
    """Probe boxes (large, and small enough to lie inside indexed boxes),
    circles and polygons inside and outside the grid, and the persisted
    Hilbert layouts of the points and boxes."""
    pts, boxes = tables[:2]
    rng = np.random.default_rng(7)
    c = rng.uniform(-5.0, 105.0, (20, 2)).tolist()
    inner = [(b.min_x + 0.1, b.min_y + 0.1) for b in boxes.orderBy("id").limit(10).collect()]
    qboxes = spark.createDataFrame(
        [(i, x, x + 8.0, y, y + 6.0) for i, (x, y) in enumerate(c)]
        + [(20 + i, x, x + 0.2, y, y + 0.1) for i, (x, y) in enumerate(inner)],
        "qid long, min_x double, max_x double, min_y double, max_y double",
    )
    circles = spark.createDataFrame(
        [(i, x, y, 4.0) for i, (x, y) in enumerate(c)],
        "qid long, x double, y double, r double",
    )
    # one triangle per center: (x, y), (x + 9, y + 2), (x + 3, y + 7)
    edges = spark.createDataFrame(
        [(i, *a, *b)
         for i, (x, y) in enumerate(c[:10])
         for a, b in [((x, y), (x + 9, y + 2)), ((x + 9, y + 2), (x + 3, y + 7)),
                      ((x + 3, y + 7), (x, y))]],
        "qid long, x1 double, y1 double, x2 double, y2 double",
    )
    root = tmp_path_factory.mktemp("layouts")
    cluster_by_hilbert(pts, GRID, num_partitions=4).sortWithinPartitions("hkey").write.parquet(
        f"{root}/points"
    )
    cluster_by_hilbert(boxes, GRID, x="min_x", y="min_y", num_partitions=4).sortWithinPartitions(
        "hkey"
    ).write.parquet(f"{root}/boxes")
    layouts = [spark.read.parquet(f"{root}/{t}") for t in ("points", "boxes")]
    # the edges stay a local relation, as ``pip_polygons`` passes them: with
    # them cached too, AQE creates the polygon join's stages in either order
    # and renumbers its codegen stages, so ~1 warm run in 10 compiles 4
    # classes (on the Column-built parent as well)
    return [t.cache() for t in (qboxes, circles)] + [edges] + layouts


def _pairs(df, cond: str):
    return sorted((r.qid, r.id) for r in df.filter(cond).select("qid", "id").collect())


def _range_cases(tables, range_tables):
    pts, boxes = tables[:2]
    qboxes, circles, edges, pts_layout, boxes_layout = range_tables
    q = qboxes.selectExpr(
        "qid", "min_x AS _qmin_x", "max_x AS _qmax_x", "min_y AS _qmin_y", "max_y AS _qmax_y"
    )
    qb, bb = ("_qmin_x", "_qmax_x", "_qmin_y", "_qmax_y"), ("min_x", "max_x", "min_y", "max_y")
    contains = sql_box_contains_point("x", "y", *bb)
    subsets = sql_box_is_subset(*bb, *qb)
    crossings = (
        edges.crossJoin(pts)
        .groupBy("qid", "id")
        .agg(F.expr(f"sum(CASE WHEN {sql_ray_crosses_edge('x', 'y', 'x1', 'y1', 'x2', 'y2')}"
                    " THEN 1 ELSE 0 END) AS n"))
    )
    c = circles.selectExpr("qid", "x AS _qx", "y AS _qy", "r")
    return {
        "box": (lambda: point_ops.find_box_join(pts, qboxes, grid=GRID),
                lambda: _pairs(qboxes.crossJoin(pts), contains)),
        "box_layout": (lambda: point_ops.find_box_over_layout(pts_layout, qboxes, GRID),
                       lambda: _pairs(qboxes.crossJoin(pts), contains)),
        "ball": (lambda: point_ops.find_ball_join(pts, circles, grid=GRID),
                 lambda: _pairs(c.crossJoin(pts),
                                f"{sql_dist2_point_point('x', 'y', '_qx', '_qy')} <= r * r")),
        "subsets": (lambda: box_ops.find_subsets_join(boxes, qboxes, grid=GRID),
                    lambda: _pairs(q.crossJoin(boxes), subsets)),
        "subsets_layout": (lambda: box_ops.find_subsets_over_layout(boxes_layout, qboxes, GRID),
                           lambda: _pairs(q.crossJoin(boxes), subsets)),
        "supersets": (lambda: box_ops.find_supersets_join(boxes, qboxes, grid=GRID),
                      lambda: _pairs(q.crossJoin(boxes), sql_box_is_subset(*qb, *bb))),
        "overlaps": (lambda: box_ops.find_overlaps_join(boxes, qboxes, grid=GRID),
                     lambda: _pairs(q.crossJoin(boxes), sql_boxes_overlap(*qb, *bb))),
        "polygon": (lambda: tile_ops.point_in_polygon_join(pts, edges, GRID),
                    lambda: _pairs(crossings, "n % 2 = 1")),
    }


@pytest.mark.parametrize(
    "op",
    ["box", "box_layout", "ball", "subsets", "subsets_layout", "supersets", "overlaps", "polygon"],
)
def test_range_op_plans_in_few_py4j_calls(spark, tables, range_tables, op):
    run, brute = _range_cases(tables, range_tables)[op]
    rows, calls, compiled = _warm_bill(spark, run)

    got = sorted((r.qid, r.id) for r in rows)
    want = brute()
    assert got == want and len(want) > 0
    assert calls <= MAX_CALLS, f"{op} sent {calls} py4j commands"
    assert compiled == 0, f"the warm {op} compiled {compiled} classes"


def test_py4j_calls_counts_commands_and_restores_the_client(spark):
    client = spark.sparkContext._gateway._gateway_client
    with py4j_calls(spark) as sent:
        spark.sparkContext._jvm.java.lang.Math.abs(-1)
    assert sent[0] >= 1
    assert "send_command" not in vars(client)


@pytest.fixture(scope="module")
def corpus(spark):
    """100 random 12-word texts, 30 exact duplicates and 30 one-word
    extensions of them."""
    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(200)]
    base = [" ".join(rng.choice(vocab, 12)) for _ in range(100)]
    texts = base + base[:30] + [t + " extra" for t in base[30:60]]
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string").cache()


#: py4j commands per warm dedup operation, plan + run + collect.  Measured
#: on this corpus (local[4], four warm runs each): near_dups 293-349,
#: clusters 1,008-1,143, minhash 1,039-1,122.  With the hash kernels and
#: the star-contraction rounds built as Column trees they sent
#: 13,044-13,257, 14,268-14,452 and 2,375-2,563.  Warm runs are not pinned
#: at 0 compiled classes: minhash_lsh_pairs compiled 22, 2, 0, 2 on its
#: four warm runs (28, 4, 0, 0 with the Column-built kernels).
DEDUP_MAX_CALLS = {
    "simhash_near_dups": 600,
    "simhash_clusters": 1800,
    "minhash_lsh_pairs": 1600,
}


@pytest.mark.parametrize("op", sorted(DEDUP_MAX_CALLS))
def test_dedup_op_plans_in_few_py4j_calls(spark, corpus, op):
    run = {
        "simhash_near_dups": lambda: dedup.simhash_near_dups(corpus, max_hamming=4),
        "simhash_clusters": lambda: dedup.simhash_clusters(corpus, max_hamming=4),
        "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(corpus),
    }[op]
    rows, calls, _ = _warm_bill(spark, run)
    spark.catalog.clearCache()
    corpus.cache()

    assert len(rows) > 0
    assert calls <= DEDUP_MAX_CALLS[op], f"{op} sent {calls} py4j commands"


def test_dedup_oracles_render_the_engine_kernels():
    """The oracle rows of the dedup family run the engine's kernel texts."""
    simhash = [
        dedup.sql_simhash_fp(),  # holds all 64 dedup.sql_simhash_vote(j) texts
        dedup.sql_band_key("fp", "b"),
        dedup.sql_hamming("a.fp", "c.fp"),
    ]
    minhash = [dedup.sql_minhash_perm(p) for p in range(8)] + [
        dedup.sql_minhash_band_key(b, 2) for b in range(4)
    ]
    oracles = oracle_sql()
    for row, kernels in {
        "dedup_simhash": simhash,
        "dedup_clusters": simhash,
        "dedup_minhash_lsh": minhash,
        "dedup_incremental_minhash": minhash,
    }.items():
        for text in kernels:
            assert text in oracles[row], f"{row} does not render {text[:60]!r}"


@pytest.fixture(scope="module")
def loop_inputs(spark):
    """A 300-document pseudo link graph and 600 points uniform on
    [0, 200)², which DBSCAN at eps 8, min_pts 5 splits into clusters,
    border points and noise."""
    docs = spark.range(LINK_DOCS).selectExpr("id AS doc_id").cache()
    xy = np.random.default_rng(5).uniform(0.0, 200.0, (600, 2))
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)],
        "id long, x double, y double",
    ).cache()
    return docs, pts


LINK_DOCS = 300

#: py4j commands per warm loop operation, plan + run + collect.  Measured
#: on these inputs (local[4], four warm runs each): pagerank 854-1,005,
#: hits 1,462-1,655, dbscan 1,056-1,129.  With their rounds and projections
#: built as Column trees they sent 2,271-2,524, 4,825-4,878 and
#: 3,554-3,672.  What remains is mostly pyspark's own per-call cost (a
#: list argument becomes a JVM Seq in 4 + n commands, and every JVM proxy
#: Python frees is one more) and the round checkpoints.  Warm runs are not
#: pinned at 0 compiled classes: hits compiled 2, 2, 0, 0 classes on its
#: four warm runs and dbscan 0, 6, 3, 0 (2, 0, 0, 0 and 2, 0, 0, 2 with
#: the Column builders).
LOOP_MAX_CALLS = {"pagerank": 1500, "hits": 2400, "dbscan": 1700}


@pytest.mark.parametrize("op", sorted(LOOP_MAX_CALLS))
def test_loop_op_plans_in_few_py4j_calls(spark, loop_inputs, op):
    docs, pts = loop_inputs
    nodes = docs.selectExpr("doc_id AS v")
    run = {
        "pagerank": lambda: graph.pagerank(nodes, graph.derive_links(docs, LINK_DOCS), LINK_DOCS),
        "hits": lambda: graph.hits(nodes, graph.derive_links(docs, LINK_DOCS)),
        "dbscan": lambda: density.dbscan(pts, 8.0, 5),
    }[op]
    rows, calls, _ = _warm_bill(spark, run)

    assert len(rows) == (600 if op == "dbscan" else LINK_DOCS)
    assert calls <= LOOP_MAX_CALLS[op], f"{op} sent {calls} py4j commands"


def test_graph_oracles_render_the_engine_kernels():
    """The oracle rows of PageRank, HITS, triangles, DBSCAN and the samplers
    run the engine's kernel texts."""
    d = graph.PR_DAMPING
    links = [graph.sql_link_target(i, "v", "nn.ni", DUCKDB) for i in range(graph.PR_OUT_LINKS)]
    pagerank = links + [graph.SQL_EDGE_WEIGHT, graph.SQL_CONTRIB]
    seeds = graph.sql_seed_teleport(queries.PPR_SEED_MOD, "nodes.v", "ns.n")

    def dbscan(eps, min_pts):
        return [
            density.sql_eps_neighbors("p.x", "p.y", "q.x", "q.y", eps),
            density.sql_is_core(min_pts),
            ", ".join(density.SQL_LABELS),
        ]

    sample = [
        sql_sample_predicate(
            "lang", queries.SAMPLE_RATES, "doc_id",
            default_rate=queries.SAMPLE_DEFAULT, dialect=DUCKDB,
        )
    ]
    oracles = oracle_sql()
    for row, kernels in {
        "doc_pagerank": pagerank + [
            graph.sql_init_rank("nn.n"),
            graph.sql_pr_step(d, graph.sql_teleport(d, "nn.n")),
        ],
        "doc_pagerank_personalized": pagerank + [
            graph.sql_init_rank("nn.n", seeds),
            graph.sql_pr_step(d, graph.sql_teleport(d, "nn.n", seeds)),
        ],
        "doc_pagerank_incremental": pagerank + [
            graph.sql_link_target(graph.PR_OUT_LINKS, "v", "nn.ni", DUCKDB),
            graph.sql_pr_step(d, graph.sql_teleport(d, "nn.n")),
        ],
        "doc_hits": links + [graph.sql_l1_normalized("a"), graph.sql_l1_normalized("h")],
        "doc_triangles": links + [", ".join(graph.SQL_UNDIRECTED), graph.SQL_CLUSTERING],
        "kd_dbscan": dbscan(queries.DBSCAN_EPS, queries.DBSCAN_MIN_PTS),
        "pages_dbscan": dbscan(queries.PAGES_DBSCAN_EPS, queries.PAGES_DBSCAN_MIN_PTS),
        "doc_sample_stratified": sample,
        "pipeline_training_mix": sample,
    }.items():
        for text in kernels:
            assert text in oracles[row], f"{row} does not render {text[:60]!r}"


@pytest.fixture(scope="module")
def text_docs(spark):
    """200 documents of 5-40 words drawn from the stopwords, every
    language's markers and 100 other words, in five languages."""
    rng = np.random.default_rng(13)
    vocab = [*textops.STOPWORDS, *(m for ms in textops.LANG_MARKERS.values() for m in ms)]
    vocab += [f"w{i}" for i in range(100)]
    rows = []
    for i in range(200):
        text = " ".join(rng.choice(vocab, rng.integers(5, 41)))
        rows.append((i, sorted(textops.LANG_MARKERS)[i % 5], len(text), text))
    return spark.createDataFrame(rows, "doc_id long, lang string, n_chars long, text string").cache()


#: py4j commands per warm text operation, plan + run + collect.  Measured on
#: this corpus (local[4], four warm runs each): quality_score 34, lang_id 43,
#: quality_score -> top_fraction_per_group (the training mix's selection)
#: 822-922, of which the selection's own histogram plan is most.  With the
#: tokenizer, the stopword count, the quality arithmetic and the language
#: argmax built as Column trees they sent 496-943, 775-1,468 and
#: 1,403-1,441.
TEXT_MAX_CALLS = {"quality_score": 300, "lang_id": 300, "quality_top_fraction": 1200}


@pytest.mark.parametrize("op", sorted(TEXT_MAX_CALLS))
def test_text_op_plans_in_few_py4j_calls(spark, text_docs, op):
    def top_fraction():
        scored = textops.quality_score(text_docs, keep_cols=("lang",))
        return selection.top_fraction_per_group(
            scored.select("doc_id", "lang", "quality"), "lang", "quality", 0.5, "doc_id"
        )

    run = {
        "quality_score": lambda: textops.quality_score(text_docs),
        "lang_id": lambda: textops.lang_id(text_docs),
        "quality_top_fraction": top_fraction,
    }[op]
    rows, calls, _ = _warm_bill(spark, run)

    assert len(rows) == (100 if op == "quality_top_fraction" else 200)
    assert calls <= TEXT_MAX_CALLS[op], f"{op} sent {calls} py4j commands"


def test_text_oracles_render_the_engine_kernels():
    """The oracle rows of the text pipeline run the engine's tokenizer,
    quality, language-ID and mix-priority texts."""
    duck = metrics.DUCKDB
    quality = [", ".join(textops.sql_token_counts(duck)), ", ".join(textops.SQL_QUALITY)]
    tokenized = [
        "dedup_clusters", "dedup_decontaminate", "dedup_incremental_minhash",
        "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash",
        "doc_heavy_hitters", "doc_host_cap", "doc_lang_id", "doc_lm_score",
        "doc_pack_sequences", "doc_passage_dedup", "doc_pmi_collocations",
        "doc_quality", "doc_repetition", "doc_search_and", "doc_search_bm25",
        "doc_search_bm25_persisted", "doc_search_persisted", "doc_search_phrase",
        "doc_span_dedup", "doc_token_stats", "doc_top_quality", "pipeline_training_mix",
    ]
    kernels = {row: [metrics.sql_tokens("text")] for row in tokenized}
    for row in ("doc_quality", "doc_top_quality", "doc_host_cap", "pipeline_training_mix"):
        kernels[row] += quality
    kernels["doc_lang_id"] += [
        ", ".join(textops.sql_marker_counts(duck)), textops.SQL_BEST_LANG, textops.SQL_PRED_LANG,
    ]
    kernels["doc_token_stats"] += [", ".join(textops.sql_token_stats(duck))]
    kernels["doc_mix_temperature"] = [mixing.sql_priority("doc_id", duck)]
    oracles = oracle_sql()
    for row, texts in kernels.items():
        for text in texts:
            assert text in oracles[row], f"{row} does not render {text[:60]!r}"
