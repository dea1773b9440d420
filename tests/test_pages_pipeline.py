"""Common-Crawl pages pipeline: synth determinism, extraction byte-identity,
geocode clustering, checkpoint resume, skew handling."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from locus_spark.cells import grid_from_points
from locus_spark.extract import extract_text, with_extracted_text
from locus_spark.geocode import JITTER, geocode
from locus_spark.skew import hot_cells, salted_repartition
from locus_spark.sources.checkpoint import StageCheckpoint
from locus_spark.sources.synth import synth_pages

N = 3000


def test_synth_deterministic_across_parallelism(spark):
    a = synth_pages(spark, N, partitions=3).orderBy("url").collect()
    b = synth_pages(spark, N, partitions=17).orderBy("url").collect()
    assert a == b
    assert len(a) == N


def test_synth_schema_and_skew(spark):
    pages = synth_pages(spark, N, partitions=4)
    assert pages.schema.simpleString() == (
        "struct<url:string,warc_ts:timestamp,html:binary,text:string,lang:string>"
    )
    hosts = (
        pages.select(F.parse_url("url", F.lit("HOST")).alias("h"))
        .groupBy("h")
        .count()
        .orderBy(F.desc("count"))
        .collect()
    )
    top5 = sum(r["count"] for r in hosts[:5])
    assert top5 > 0.4 * N  # hot hosts got the skewed share


def test_extract_byte_identity(spark):
    """BASELINE input_hint per-row invariant: byte-identical extracted text
    per url, pure-Python extractor vs its vectorized Spark application."""
    pages = synth_pages(spark, 500, partitions=4)
    rows = with_extracted_text(pages).select("url", "html", "text", "extracted").collect()
    assert len(rows) == 500
    for r in rows:
        assert r.extracted == extract_text(bytes(r.html))  # Spark ≡ pure Python
        assert r.extracted.encode() == r.text.encode()  # and invertible wrapping


def test_fused_synth_extract_matches_two_stage(spark):
    """The single-Python-hop production path (synth_pages_extracted) must be
    row-identical to synth_pages → with_extracted_text."""
    from locus_spark.sources.synth import synth_pages_extracted

    fused = synth_pages_extracted(spark, 400, partitions=3).orderBy("url").collect()
    two = (
        with_extracted_text(synth_pages(spark, 400, partitions=5))
        .orderBy("url")
        .collect()
    )
    assert fused == two


def test_extract_handles_entities_scripts():
    assert extract_text(b"<p>a &amp; b</p>") == "a & b"
    assert extract_text(b"<script>var x=1;</script>hi") == "hi"
    assert extract_text(b"<STYLE>x</STYLE>ok <b>bold</b>") == "ok bold"
    assert extract_text(None) == ""


def test_geocode_host_clustering(spark):
    pages = geocode(synth_pages(spark, 2000, partitions=4))
    assert {"host", "x", "y"} <= set(pages.columns)
    spread = pages.groupBy("host").agg(
        (F.max("x") - F.min("x")).alias("sx"), (F.max("y") - F.min("y")).alias("sy")
    )
    bad = spread.filter(
        (F.col("sx") > 2 * JITTER + 1e-9) | (F.col("sy") > 2 * JITTER + 1e-9)
    ).count()
    assert bad == 0  # pages of a host stay inside the jitter box
    bounds = pages.agg(F.min("x"), F.max("x"), F.min("y"), F.max("y")).collect()[0]
    assert -180.0 <= bounds[0] and bounds[1] <= 180.0
    assert -90.0 <= bounds[2] and bounds[3] <= 90.0


def test_checkpoint_build_then_resume(spark, tmp_path):
    ck = StageCheckpoint(str(tmp_path / "ck"))
    calls = []

    def build():
        calls.append(1)
        return synth_pages(spark, 200, partitions=2).select("url", "lang")

    out1 = ck.run_stage(spark, "pages", build, fingerprint="v1")
    assert out1.count() == 200 and len(calls) == 1
    out2 = ck.run_stage(spark, "pages", build, fingerprint="v1")
    assert out2.count() == 200 and len(calls) == 1  # resumed, not rebuilt
    man = json.loads((tmp_path / "ck" / "pages" / "manifest.json").read_text())
    assert man["rows"] == 200 and man["status"] == "complete"
    assert sum(p["rows"] for p in man["partitions"]) == 200
    assert man["latency_s"] >= 0
    # fingerprint change → rebuild
    ck.run_stage(spark, "pages", build, fingerprint="v2")
    assert len(calls) == 2


def test_skew_detection_and_salting(spark):
    pts = geocode(synth_pages(spark, 4000, partitions=4)).select(
        F.monotonically_increasing_id().alias("id"), "x", "y"
    )
    grid = grid_from_points(pts, resolution=5)
    cells = pts.withColumn("cell", grid.cell_col("x", "y"))
    hot = hot_cells(cells, factor=4.0, min_rows=50)
    assert hot, "synthetic hot hosts must produce hot cells"
    salted = salted_repartition(cells, hot=hot, buckets=8, id_col="id")
    per_cell_salts = (
        salted.groupBy("cell").agg(F.countDistinct("_salt").alias("ns")).collect()
    )
    by_cell = {r.cell: r.ns for r in per_cell_salts}
    assert max(by_cell[c] for c in hot) > 1  # hot cells fanned out
    cold = [c for c in by_cell if c not in hot]
    assert all(by_cell[c] == 1 for c in cold)  # cold cells untouched
