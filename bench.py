#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion (count) with a warm session; per-query
wall seconds are reported, value = total.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import sys
import tempfile
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

from locus_spark import queries as q  # noqa: E402
from locus_spark.session import codegen_counters, get_spark, py4j_calls  # noqa: E402

#: headline set — one per operator family + the pipeline ops.  The
#: *_persisted and pages_* entries time the WARM query over an
#: already-built checkpoint; the builds are timed separately (below) so
#: build-once cost isn't conflated into query walls.
HEADLINE = [
    "kd_find_box",
    "kd_find_ball",
    "kd_nearest",
    "kd_knn",
    "r_find_subsets",
    "r_find_supersets",
    "r_overlaps",
    "r_knn",
    "seg_knn_to_point",
    "seg_knn",
    "tile_point_counts",
    "tile_pyramid",
    "pip_polygons",
    "raster_vector",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_lsh",
    "dedup_clusters",
    "dedup_decontaminate",
    "doc_sample_stratified",
    "doc_token_stats",
    "doc_lang_id",
    "doc_top_quality",
    "doc_repetition",
    "doc_len_quantiles",
    "doc_pack_sequences",
    "pipeline_training_mix",
    "doc_join_bucketed",
    "ann_cosine_topk",
    "ann_ivf_recall",
    "ann_ivf_top1_persisted",
    "ann_pq_recall",
    "media_features",
    "kd_knn_persisted",
    "kd_knn_incremental",
    "r_find_subsets_persisted",
    "seg_knn_persisted",
    "events_hourly",
    "events_dedup_replayed",
    "events_attribution",
    "media_frame_sample",
    "pages_geotile_lang",
    "pages_host_stats",
    "pages_knn",
    "doc_heavy_hitters",
    "doc_search_persisted",
    "events_asof_view",
    "dedup_incremental",
    "doc_span_dedup",
    "dedup_incremental_minhash",
    "doc_search_bm25_persisted",
    "doc_pagerank",
    "doc_search_phrase",
    "doc_pmi_collocations",
    "doc_triangles",
    "doc_hits",
    "doc_lm_score",
    "kd_dbscan",
    "kd_knn_upsert",
    "pages_canonical_dedup",
    "pages_dbscan",
]

#: queries that cache()/persist() intermediates internally (the dedup family
#: caches shingle/fingerprint frames) — only these need a cache release
#: afterwards.  Clearing after EVERY query (the r2 harness) forced the pages
#: pipeline to rebuild synth→extract→geocode inside later timed windows and
#: dropped warmed state for unrelated small queries.
CLEARS_CACHE = {
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_clusters",   # caches the SimHash fingerprint frame
}

#: ring-loop queries leave localCheckpoint blocks behind (they are NOT in
#: the DataFrame cache manager, so clearCache can't free them) — release
#: them via the persistent-RDD registry once the result is consumed, so
#: accumulated round state doesn't pressure later queries' memory.
RING_STATE = {
    "dedup_clusters",  # star-contraction rounds materialize their edges
    "tile_pyramid",    # result materialized via localCheckpoint (levels self-release)
    "kd_nearest",
    "kd_knn",
    "kd_knn_persisted",
    "kd_knn_incremental",
    "r_knn",
    "seg_knn",
    "seg_knn_to_point",
    "seg_knn_persisted",
    "pages_knn",
    "doc_pagerank",    # power-iteration rounds localCheckpoint their state
    "doc_triangles",
    "doc_hits",
    "kd_dbscan",       # CC star-contraction rounds localCheckpoint edges
    "pages_dbscan",
    "kd_knn_upsert",
}


def _release_ring_state(spark) -> None:
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist()

#: build-once stages, timed separately from the queries that read them:
#: (label, builder(spark, sf_dir) -> DataFrame)
BUILDS = [
    ("points_layout", lambda s, d: q._persisted_points_layout(s, d)),
    ("boxes_layout", lambda s, d: q._persisted_boxes_layout(s, d)),
    ("segments_layout", lambda s, d: q._persisted_segments_layout(s, d)),
    ("geocoded_pages", lambda s, d: q._persisted_geocoded_pages(s)),
    ("ivf_layout", lambda s, d: q._persisted_ivf_layout(s, d)[0]),
    ("postings_layout", lambda s, d: q._persisted_posting_layout(s, d)),
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # persisted layouts and bucketed tables go to a private, empty temp dir:
    # builds measure a real build, not a manifest resume, and runs side by
    # side (a plan audit, another bench) neither wipe nor read them
    run_tmp = tempfile.mkdtemp(prefix="locus_bench_")
    tempfile.tempdir = run_tmp
    spark = get_spark(
        app_name="locus_spark_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    registry = q.queries()
    # warm the session (codegen, parquet reader, Python workers) so the first
    # measured query doesn't absorb one-time JVM startup costs
    from locus_spark.sources.derived import register_base_tables

    register_base_tables(spark, sf_dir)
    spark.table("region").count()
    spark.range(1000).selectExpr("sum(id)").collect()

    # build-once stages first (fresh), reported separately — the persisted
    # queries below then measure the warm resume (parquet read + query).
    builds: dict[str, float] = {}
    for label, builder in BUILDS:
        t0 = time.monotonic()
        builder(spark, sf_dir).count()
        builds[label] = round(time.monotonic() - t0, 3)

    # the whole headline list runs TWICE (pass A, then pass B) and each
    # query's wall is the min of its two samples.  This host shows bursty
    # multi-second CPU-steal noise (single-run walls for the same query
    # varied 2-8x across consecutive bench invocations); two samples taken
    # minutes apart decorrelate the bursts where back-to-back reruns don't.
    samples: dict[str, list[float]] = {n: [] for n in HEADLINE}
    # each query's codegen bill per pass (classes compiled, compile ms):
    # a warm pass B should compile nothing
    compiles: dict[str, list[int]] = {n: [] for n in HEADLINE}
    compile_ms: dict[str, list[float]] = {n: [] for n in HEADLINE}
    # and its driver planning bill: py4j commands sent to the JVM
    calls: dict[str, list[int]] = {n: [] for n in HEADLINE}
    rows: dict[str, int] = {}
    for _pass in range(2):
        for name in HEADLINE:
            fn = registry[name]
            c0, ms0 = codegen_counters(spark)
            t0 = time.monotonic()
            with py4j_calls(spark) as sent:
                rows[name] = fn(spark, sf_dir).count()
            samples[name].append(round(time.monotonic() - t0, 3))
            calls[name].append(sent[0])
            c1, ms1 = codegen_counters(spark)
            compiles[name].append(c1 - c0)
            compile_ms[name].append(round(ms1 - ms0, 1))
            if name in RING_STATE:
                _release_ring_state(spark)
            if name in CLEARS_CACHE:
                spark.catalog.clearCache()
    run1 = {n: s[0] for n, s in samples.items()}
    results = {n: min(s) for n, s in samples.items()}
    total = round(sum(results.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": results,
                "sf": float(sf),
                "rows": rows,
                "cores": int(cpus),
                "builds": builds,
                "build_total_s": round(sum(builds.values()), 3),
                "queries_run1": run1,
                # per query [pass A, pass B]; totals per pass
                "codegen_compiles": compiles,
                "codegen_ms": compile_ms,
                "codegen_pass_compiles": [sum(c[i] for c in compiles.values()) for i in (0, 1)],
                "codegen_pass_ms": [
                    round(sum(m[i] for m in compile_ms.values()), 1) for i in (0, 1)
                ],
                "py4j_calls": calls,
                "py4j_pass_calls": [sum(c[i] for c in calls.values()) for i in (0, 1)],
                # session is pre-warmed before timing; persisted/pages
                # queries time the warm query over a pre-built checkpoint
                # (builds reported separately); each query runs twice and
                # the min is reported (first-run walls kept in
                # queries_run1) — see BENCH.md
                "timing": "warm_session_best_of_2",
            }
        )
    )
    spark.stop()
    shutil.rmtree(run_tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
