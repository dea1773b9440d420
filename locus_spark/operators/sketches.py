"""Sketch aggregations for corpus-scale statistics: HLL++ distinct counts,
approx-quantile summaries, and frequent-item (heavy-hitter) detection.

Why sketches at 100 TB: an exact ``COUNT(DISTINCT url)`` or a sort-based
percentile over 10^12 rows shuffles the full key stream; the sketch
versions ship a few KB of mergeable state per partition instead.  Spark's
built-ins (``approx_count_distinct`` = HyperLogLog++,
``percentile_approx`` = Greenwald-Khanna) are JVM-side partial
aggregations with map-side combine — the right scale shape for free.

Correctness protocol (the ANN-recall pattern, queries.py): a sketch has no
bit-exact SQL twin, so each query emits the EXACT statistic (computable by
both engines) plus a boolean asserting the sketch landed inside its
published error bound — deterministic because both the sketch (hash-based,
order-independent merge for HLL; rank-error-bounded for GK regardless of
merge order) and the bound check are.  A sketch drifting out of bound
flips the boolean and fails the value hash.

Heavy hitters are different: the sketch stage only PRUNES (per-batch
count thresholding — a vectorized relative of Misra-Gries/SpaceSaving
candidate generation), and an exact counting pass over the pruned
candidate set makes the final output exact, so its oracle is plain SQL.

Reference scope note: the locus reference (/root/reference/locus) has no
aggregation surface; these are the training-data-pipeline additions the
build mandate asks for beyond reference parity.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from locus_spark.functions.metrics import sql_tokens

#: relative standard deviation for the HLL++ sketch; the check allows
#: 4 sigma — at sf<=0.1 cardinalities HLL++ sits in sparse (exact) mode,
#: so the bound is slack there and tightens exactly where HLL engages.
HLL_RSD = 0.05

#: 1/accuracy is the guaranteed RANK error fraction of percentile_approx
#: (Greenwald-Khanna summaries; the bound holds under any partition merge
#: order, which is what makes the check deterministic under AQE).
GK_ACCURACY = 10_000

#: minimum corpus frequency (as a fraction of all tokens) for a token to
#: be a heavy hitter; candidate stage prunes at half this rate so float
#: rounding on the per-batch threshold can never break the pigeonhole
#: superset guarantee.
HH_SUPPORT = 0.01


def hll_distinct_check(
    df: DataFrame, group_col: str, value_col: str, rsd: float = HLL_RSD
) -> DataFrame:
    """Per-group exact distinct count + HLL++ in-bound assertion:
    (group, exact_distinct, hll_ok).

    One hash aggregation computes both: ``count(distinct x)`` keeps the
    exact semantics the oracle mirrors, ``approx_count_distinct`` carries
    the constant-size sketch a 100 TB run would keep INSTEAD of the exact
    (the exact column here exists to judge the sketch, not to ship).
    ``hll_ok`` allows 4x the sketch's relative standard deviation."""
    est = F.approx_count_distinct(value_col, rsd)
    exact = F.count_distinct(F.col(value_col))
    return (
        df.groupBy(group_col)
        .agg(exact.alias("exact_distinct"), est.alias("_est"))
        .select(
            group_col,
            "exact_distinct",
            (
                F.abs(F.col("_est") - F.col("exact_distinct"))
                <= F.lit(4.0 * rsd) * F.col("exact_distinct") + F.lit(1.0)
            ).alias("hll_ok"),
        )
    )


def quantile_sketch_check(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ps: tuple[float, ...],
    accuracy: int = GK_ACCURACY,
) -> DataFrame:
    """Per-(group, p) exact discrete quantile + GK-sketch rank assertion:
    (group, p, exact_q, rank_ok).

    The exact side reuses the value-histogram shape of
    ``textops.len_quantiles`` (smallest value whose cumulative count
    reaches ``ceil(p * n)``) — the histogram is |groups| x |distinct
    values| cells, so the window never sees the data.  The sketch side is
    ``percentile_approx``; instead of comparing values (two valid
    summaries may return different same-rank values), ``rank_ok`` checks
    the sketch value's true rank against the GK guarantee
    ``|rank(v)/n - p| <= 1/accuracy`` — an EXACT integer test via the same
    histogram."""
    from pyspark.sql import Window

    hist = df.groupBy(group_col, value_col).agg(F.count("*").alias("cnt"))
    cum = hist.select(
        group_col,
        value_col,
        F.sum("cnt").over(
            Window.partitionBy(group_col).orderBy(value_col)
        ).alias("cum"),
        F.sum("cnt").over(Window.partitionBy(group_col)).alias("n"),
    )

    p_arr = F.array(*[F.lit(float(p)) for p in ps])
    approx = (
        df.groupBy(group_col)
        .agg(
            F.percentile_approx(
                value_col, list(ps), F.lit(accuracy)
            ).alias("_qs")
        )
        .select(group_col, F.posexplode("_qs").alias("_i", "_av"))
        .select(
            group_col,
            F.element_at(p_arr, F.col("_i") + 1).alias("p"),
            "_av",
        )
    )

    # a repeated value occupies a rank INTERVAL [lo+1, hi] (lo = count
    # strictly below it, hi = count <= it); the GK guarantee holds if that
    # interval intersects [p*n - bound, p*n + bound].  Exact quantile =
    # min value with cum >= ceil(p*n), the len_quantiles convention.
    per_p = approx.join(cum, group_col).groupBy(group_col, "p").agg(
        F.min(
            F.when(
                F.col("cum")
                >= F.ceil(F.col("p") * F.col("n")),
                F.col(value_col),
            )
        ).alias("exact_q"),
        F.max(
            F.when(F.col(value_col) <= F.col("_av"), F.col("cum")).otherwise(
                F.lit(0)
            )
        ).alias("_rank_hi"),
        F.max(
            F.when(F.col(value_col) < F.col("_av"), F.col("cum")).otherwise(
                F.lit(0)
            )
        ).alias("_rank_lo"),
        F.max("n").alias("_n"),
    )
    target = F.col("p") * F.col("_n").cast("double")
    bound = F.col("_n").cast("double") / F.lit(float(accuracy)) + F.lit(1.0)
    return per_p.select(
        group_col,
        "p",
        "exact_q",
        (
            ((F.col("_rank_lo") + F.lit(1)).cast("double") <= target + bound)
            & (F.col("_rank_hi").cast("double") >= target - bound)
        ).alias("rank_ok"),
    )


def _candidate_batches(
    support: float, text_col: str
) -> "callable":
    """Build the mapInPandas kernel: per Arrow batch, token counts via
    vectorized ``value_counts`` and a ``count >= (support/2) * batch_len``
    cut.  Pigeonhole guarantee: any token with global frequency >=
    support * N must reach the per-batch rate in at least one batch, so
    the union of batch survivors is a superset of the true heavy hitters
    (the half-rate cut absorbs float rounding at the boundary)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks = pdf[text_col].str.split(" ").explode()
            toks = toks[(toks != "") & toks.notna()]
            if toks.empty:
                continue
            counts = toks.value_counts()
            cut = 0.5 * support * float(len(toks))
            yield pd.DataFrame({"tok": counts.index[counts.to_numpy() >= cut]})

    return gen


def heavy_hitters(
    documents: DataFrame, support: float = HH_SUPPORT, text_col: str = "text"
) -> DataFrame:
    """EXACT frequent tokens: (tok, cnt) for every token whose corpus
    frequency reaches ``ceil(support * total_tokens)``.

    Two passes, neither shuffling the token stream:

    1. candidates — Arrow-batched per-batch counting (``mapInPandas``)
       keeps only tokens at >= support/2 of their batch; the distinct
       union is a guaranteed superset of the answer (see
       ``_candidate_batches``) and is tiny (<= 2/support per batch).
    2. exact verify — explode tokens, broadcast-semi-join against the
       candidate set BEFORE the shuffle (map-side filter), then one
       map-side-combined groupBy count of candidate tokens only; the
       support threshold compares against the exact corpus token total
       (a 1-row aggregate, broadcast-crossed, never collected).

    The full explode+groupBy over the whole vocabulary would also be
    correct but ships every token occurrence through the shuffle; here
    the shuffle carries only occurrences of ~1/support candidate tokens."""
    cand = (
        documents.select(text_col)
        .mapInPandas(
            _candidate_batches(support, text_col), schema="tok string"
        )
        .distinct()
    )
    toks = documents.selectExpr(f"explode({sql_tokens(text_col)}) AS tok")
    total = toks.agg(F.count("*").alias("_total"))
    counted = (
        toks.join(F.broadcast(cand), "tok")
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        counted.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.ceil(F.lit(support) * F.col("_total")))
        .select("tok", "cnt")
    )


__all__ = [
    "HLL_RSD",
    "GK_ACCURACY",
    "HH_SUPPORT",
    "hll_distinct_check",
    "quantile_sketch_check",
    "heavy_hitters",
]
