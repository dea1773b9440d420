"""Deterministic sampling / dataset-mixing operators.

A training-data pipeline rebalances its mix (per-language, per-source
quotas) with REPRODUCIBLE sampling: the keep/drop decision must be a pure
function of (row key, seed), not of Spark's RNG or partition layout —
otherwise a rerun, a retry, or a different partitioning samples a different
corpus.  ``df.sample()`` gives none of those guarantees; hash-threshold
sampling gives all of them and is a stateless SQL predicate (codegen'd,
embarrassingly parallel, no shuffle).

Keep rule: ``uint32(md5(seed ':' key)[:8]) < floor(rate * 2^32)`` — the
threshold is an exact integer so Spark and any oracle engine agree
bit-for-bit, and rates compose monotonically (a 0.2 sample is a subset of a
0.5 sample at the same seed, which makes downscaling a mix reproducible).
The rule is one SQL text, :func:`sql_sample_predicate`: Spark filters on
it, and the oracles render the same text in DuckDB's dialect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from locus_spark.functions.metrics import SPARK_SQL, Dialect


def threshold(rate: float) -> int:
    """Exact integer keep-threshold for a rate (clamped to [0, 1])."""
    return int(max(0.0, min(1.0, rate)) * (1 << 32))


def sql_sample_predicate(
    strata_col: str | None,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 0.0,
    seed: str = "locus",
    dialect: Dialect = SPARK_SQL,
) -> str:
    """The keep rule as SQL text: the md5-prefix bucket of ``key_col``
    below its stratum's integer threshold (``rates[s]`` for stratum ``s``,
    ``default_rate`` otherwise; with no ``rates``, ``default_rate`` for
    every row).  :func:`stratified_sample` filters on it and the
    oracles render it with :data:`~locus_spark.functions.metrics.DUCKDB`."""
    thr = str(threshold(default_rate))
    if rates:
        cases = " ".join(
            f"WHEN {strata_col} = '{s}' THEN {threshold(rates[s])}"
            for s in sorted(rates)  # deterministic plan text
        )
        thr = f"(CASE {cases} ELSE {thr} END)"
    return f"{dialect.md5_bucket(f'{seed}:', key_col)} < {thr}"


def hash_sample(
    df: DataFrame, rate: float, key_col: str, seed: str = "locus"
) -> DataFrame:
    """Deterministic ``rate``-fraction sample keyed on ``key_col``."""
    return df.where(sql_sample_predicate(None, {}, key_col, rate, seed))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 0.0,
    seed: str = "locus",
) -> DataFrame:
    """Per-stratum deterministic sampling: rows in stratum ``s`` are kept at
    ``rates[s]`` (``default_rate`` otherwise).  One filter expression — no
    shuffle, no per-stratum pass; the mix rebalance a 100-TB corpus needs.
    """
    return df.where(
        sql_sample_predicate(strata_col, rates, key_col, default_rate, seed)
    )
