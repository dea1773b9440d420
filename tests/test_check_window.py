"""The check-window order of ``queries()``: rows with no passing oracle run
at their current closure hash first, then the rows the correctness
harness's rounds checked least recently, registry order within ties."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

import locus_spark.queries as q

REPO = pathlib.Path(__file__).resolve().parent.parent


def _vouch_all(root: pathlib.Path) -> None:
    """One committed oracle run in which every row passed at its current hash."""
    rows = [
        {"name": n, "closure": h, "status": "pass"}
        for n, h in q._closure_hashes(list(q._REGISTRY)).items()
    ]
    (root / "ORACLE_test.json").write_text(json.dumps({"queries": rows}))


def test_hash_is_stable_across_interpreters():
    probe = (
        "import json, sys; sys.path.insert(0, sys.argv[1]); "
        "import locus_spark.queries as q; "
        "assert q._statements.cache_info().currsize == 0; "  # import hashes nothing
        "print(json.dumps(q._closure_hashes(list(q._REGISTRY))))"
    )
    outs = []
    for seed in ("1", "2"):
        proc = subprocess.run(
            [sys.executable, "-c", probe, str(REPO)],
            capture_output=True,
            text=True,
            env={**os.environ, "PYTHONHASHSEED": seed},
            check=True,
        )
        outs.append(json.loads(proc.stdout))
    assert outs[0] == outs[1]
    assert set(outs[0]) == set(q._REGISTRY)
    assert len(set(outs[0].values())) == len(outs[0])


def test_stalest_rows_first_when_every_row_passes(tmp_path, monkeypatch):
    monkeypatch.setattr(q, "_ARTIFACTS", tmp_path)
    _vouch_all(tmp_path)
    names = list(q._REGISTRY)
    r05 = names[::3]
    (tmp_path / "CORRECTNESS_r04.json").write_text(json.dumps({n: {} for n in names}))
    (tmp_path / "CORRECTNESS_r05.json").write_text(json.dumps({n: {} for n in r05}))
    order, oracles = list(q.queries()), q.oracle_sql()
    assert order == [n for n in names if n not in r05] + r05
    assert list(oracles) == [n for n in order if n in oracles]


def test_edited_module_moves_exactly_its_rows_forward(tmp_path, monkeypatch):
    monkeypatch.setattr(q, "_ARTIFACTS", tmp_path)
    _vouch_all(tmp_path)
    names = list(q._REGISTRY)
    assert list(q.queries()) == names
    modules = {n: i["modules"] for n, i in q._closure_inputs(names).items()}
    hourly = q.closure_hash("events_hourly")
    read = q._module_source
    # kd_find_box reaches the kNN planner through operators/points.py;
    # dedup_clusters reaches session.py only through a function-local import
    for edited, known in (
        ("locus_spark.plans.knn", "kd_find_box"),
        ("locus_spark.session", "dedup_clusters"),
    ):
        monkeypatch.setattr(
            q,
            "_module_source",
            lambda m, edited=edited: read(m) + ("\n# edited\n" if m == edited else ""),
        )
        order = list(q.queries())
        reach = [n for n in names if edited in modules[n]]
        assert known in reach and 20 <= len(reach) < len(names)
        assert order == reach + [n for n in names if n not in reach]
        assert "events_hourly" not in reach
        assert q.closure_hash("events_hourly") == hourly


def test_no_artifacts_is_registry_order(tmp_path, monkeypatch):
    monkeypatch.setattr(q, "_ARTIFACTS", tmp_path)

    def no_hash(names):
        raise AssertionError("hashed with no artifacts")

    monkeypatch.setattr(q, "_closure_hashes", no_hash)
    assert list(q.queries()) == list(q._REGISTRY)
    assert list(q.oracle_sql()) == [n for n in q._REGISTRY if q._REGISTRY[n][1]]
