"""Temperature mix (operators/mixing.py): exact apportionment, quota
semantics, tail up-weighting, and the under-fill contract."""

from __future__ import annotations

import hashlib
import math

from locus_spark.operators.mixing import (
    WEIGHT_SCALE,
    temperature_allocation,
    temperature_mix,
)


def _docs(spark, sizes):
    rows = []
    nid = 0
    for g, n in sizes.items():
        for _ in range(n):
            rows.append((nid, g))
            nid += 1
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_allocation_matches_hand_apportionment(spark):
    sizes = {"a": 400, "b": 100, "c": 25}
    total = 100
    docs = _docs(spark, sizes)
    got = {r["source"]: r["n"] for r in temperature_allocation(docs, "source", total).collect()}

    w = {g: round(math.sqrt(c) * WEIGHT_SCALE) for g, c in sizes.items()}
    W = sum(w.values())
    base = {g: total * w[g] // W for g in w}
    rem = {g: total * w[g] % W for g in w}
    leftover = total - sum(base.values())
    for g in sorted(w, key=lambda g: (-rem[g], g))[:leftover]:
        base[g] += 1
    assert got == base
    assert sum(got.values()) == total
    # tau=0.5 flattens: c has 4.7% of docs but sqrt gives it > 4.7% of quota
    assert got["c"] / total > 25 / 525


def test_mix_selects_exact_quota_members(spark):
    sizes = {"a": 50, "b": 18}
    docs = _docs(spark, sizes)
    alloc = {r["source"]: r["n"] for r in temperature_allocation(docs, "source", 30).collect()}
    out = temperature_mix(docs, "source", 30).collect()
    assert len(out) == 30
    by_g = {}
    for r in out:
        by_g.setdefault(r["source"], set()).add(r["doc_id"])
    assert {g: len(s) for g, s in by_g.items()} == alloc
    # membership = top-n by md5 priority desc (id asc ties): the first 8
    # hex digits of md5(str(id)) over 2^32
    pri = {
        r["doc_id"]: int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16) / 2**32
        for r in docs.select("doc_id").collect()
    }
    for g, members in by_g.items():
        group_ids = [r for r in pri if (r < 50) == (g == "a")]
        expected = set(sorted(group_ids, key=lambda i: (-pri[i], i))[: alloc[g]])
        assert members == expected, g


def test_mix_underfill_not_redistributed(spark):
    """A group smaller than its quota keeps only its rows; the shortfall
    is disclosed as NOT redistributed."""
    sizes = {"big": 100, "tiny": 2}
    docs = _docs(spark, sizes)
    total = 80
    alloc = {r["source"]: r["n"] for r in temperature_allocation(docs, "source", total).collect()}
    assert alloc["tiny"] > 2  # quota exceeds the group
    out = temperature_mix(docs, "source", total).collect()
    kept = {}
    for r in out:
        kept[r["source"]] = kept.get(r["source"], 0) + 1
    assert kept["tiny"] == 2
    assert kept["big"] == alloc["big"]
    assert len(out) == alloc["big"] + 2  # < total, by contract
