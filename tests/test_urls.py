"""URL canonicalization (operators/urls.py): semantic cases (not just
engine parity), and the messy-variant round trip the driver query relies
on."""

from __future__ import annotations

from pyspark.sql import functions as F

from locus_spark.operators.urls import canonical_url, messy_variant


def _canon(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    return [
        r["c"] for r in df.select(canonical_url(F.col("u")).alias("c")).collect()
    ]


def test_canonical_url_semantics(spark):
    cases = {
        # fragment dropped
        "https://a.example/p#sec2": "https://a.example/p",
        # all utm params dropped, non-utm params kept
        "https://a.example/p?utm_source=x&utm_medium=y": "https://a.example/p",
        "https://a.example/p?id=7&utm_source=x": "https://a.example/p?id=7",
        # LEADING utm param: stripped with its '&', the '?' stays, so both
        # param orders map to ONE dedup key (ADVICE r4)
        "https://a.example/p?utm_source=x&id=7": "https://a.example/p?id=7",
        # several leading utm params: still one '?' before the survivor
        "https://a.example/p?utm_a=1&utm_b=2&id=7": "https://a.example/p?id=7",
        # '&' is legal in a path: a query-less or utm-free url is untouched
        "https://a.example/a&b": "https://a.example/a&b",
        "https://a.example/a&b?c=1": "https://a.example/a&b?c=1",
        "https://a.example/a&b?utm_x=1&c=2": "https://a.example/a&b?c=2",
        # default port dropped
        "https://a.example:443/p": "https://a.example/p",
        # host lowercased, path case preserved
        "https://WWW.Example.COM/CaseY": "https://www.example.com/CaseY",
        # trailing index.html collapsed
        "https://a.example/dir/index.html": "https://a.example/dir/",
        # index.html only at the end
        "https://a.example/index.html/x": "https://a.example/index.html/x",
        # bare host (no path) survives
        "https://a.example": "https://a.example",
        # everything at once
        "https://B.Example:443/d/index.html?utm_c=1#f": "https://b.example/d/",
    }
    got = _canon(spark, list(cases))
    assert got == list(cases.values()), dict(zip(cases, got))


def test_messy_variant_roundtrips_to_identity(spark):
    """canonical(messy(u, id)) == u for every decoration case — the
    invariant the pages_canonical_dedup oracle groups on."""
    df = spark.createDataFrame(
        [(i, f"https://host{i}.example/{i:016x}") for i in range(8)],
        "id long, u string",
    )
    rows = df.select(
        "u",
        messy_variant(F.col("u"), F.col("id")).alias("m"),
    ).select("u", "m", canonical_url(F.col("m")).alias("c"))
    n_decorated = 0
    for r in rows.collect():
        assert r["c"] == r["u"], (r["m"], r["c"])
        n_decorated += r["m"] != r["u"]
    assert n_decorated == 6  # cases 1-3 decorate; case 0 is identity
