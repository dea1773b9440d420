"""``session.materialize`` with observed metrics, and the temp-dir roots of
the persisted layouts."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from locus_spark import queries as q
from locus_spark.session import materialize


def _grouped(spark):
    """A grouped aggregate like the kNN planner's level-1 bounds: 40
    groups, 10 of them with a null value."""
    return (
        spark.range(400)
        .selectExpr("id % 40 AS g", "id")
        .groupBy("g")
        .agg(F.expr("CASE WHEN g % 4 = 0 THEN NULL ELSE max(id) END AS v"))
    )


def _check(spark, out, seen):
    # each row counted once: a second evaluation of the plan inside the
    # checkpoint job would double the counts
    assert seen == {"n": 40, "bound": 30}
    assert out.count() == 40
    assert out.filter("v IS NOT NULL").count() == 30


def test_materialize_observes_metrics_on_the_local_checkpoint(spark):
    metrics = [F.count("*").alias("n"), F.expr("count(v) AS bound")]
    out, seen = materialize(_grouped(spark), metrics)
    _check(spark, out, seen)
    # without metrics the frame alone comes back
    assert materialize(_grouped(spark)).count() == 40


def test_materialize_observes_metrics_on_the_reliable_checkpoint(spark, tmp_path, monkeypatch):
    sc = spark.sparkContext
    ck = tmp_path / "ck"
    sc.setCheckpointDir(str(ck))
    # the reliable branch is taken on any non-local master
    monkeypatch.setattr(sc, "master", "spark://cluster:7077")
    metrics = [F.count("*").alias("n"), F.expr("count(v) AS bound")]
    out, seen = materialize(_grouped(spark), metrics)
    _check(spark, out, seen)
    # the reliable checkpoint was written
    assert any(p.is_file() for p in ck.rglob("*"))


def test_persisted_roots_follow_tempfile_tempdir(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf = "/data/sf0.01"
    assert str(q._index_checkpoint(sf).root).startswith(str(tmp_path))
    assert q.pages_ck_root().startswith(str(tmp_path))
    assert str(q._bucketed_root(sf)).startswith(str(tmp_path))
    assert str(tmp_path) in q.oracle_sql()["pages_knn"]
    other = tmp_path / "other"
    monkeypatch.setattr(tempfile, "tempdir", str(other))
    assert q.pages_ck_root().startswith(str(other))
    assert str(other) in q.oracle_sql()["pages_knn"]


def test_ann_recall_paths_follow_tempfile_tempdir(tmp_path, monkeypatch):
    """The recall rows persist their approximate ids under the temp dir of
    the moment, and their oracles read the same path."""
    rows = {"ann_lsh_recall": "lsh", "ann_ivf_recall": "ivf", "ann_pq_recall": "pq"}
    for root in (tmp_path, tmp_path / "other"):
        monkeypatch.setattr(tempfile, "tempdir", str(root))
        oracles = q.oracle_sql()
        for name, kind in rows.items():
            path = q.ann_ids_path(f"{kind}_topk_ids")
            assert path == f"{root}/locus_spark_ann/{kind}_topk_ids"
            assert f"read_parquet('{path}/*.parquet')" in oracles[name]
