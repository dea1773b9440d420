"""Temperature-scaled training-mix allocation (the data-recipe step of
multilingual / multi-source LLM corpora — e.g. the T=0.5 source
re-weighting of multilingual BERT and the sampling-temperature mixes of
XLM-R (Conneau et al., ACL'20)): sample ``total`` documents with per-group
quotas proportional to ``count^tau``, flattening the head sources and
up-weighting the tail.

Everything after the one corpus-sized count is EXACT INTEGER arithmetic,
so the Spark plan and the DuckDB oracle agree bit-for-bit with no float
ordering hazards:

* ``tau = 0.5`` weights are ``round(sqrt(c) * 10^6)`` — IEEE ``sqrt`` and
  the single multiply are correctly-rounded in both engines, and the
  rounded weight is a LONG from there on (other ``tau`` values would ride
  ``pow``, which is NOT correctly-rounded across libms — out of the
  exactness contract, documented);
* quotas are largest-remainder apportionment over the weight integers:
  ``base = total*w // W``, leftovers to the largest ``total*w % W``
  (ties: smaller group value) — pure BIGINT ops;
* within a group, the kept documents are the top-quota by a deterministic
  md5-derived priority (the same cross-engine hash contract as
  operators/sampling.py), selected with the two-pass histogram machinery
  of operators/selection.py — never a per-group global sort, so the
  dominant source doesn't serialize through one reducer.

Scale shape: one map-side-combinable count agg; the allocation runs on
the groups-sized frame (windows over ≤ |groups| rows); selection is the
histogram plan.  Groups smaller than their quota under-fill (``min(n,
n_group)``) and the shortfall is NOT redistributed — disclosed; a
redistribution pass would iterate the same tiny-frame allocation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from locus_spark.functions.metrics import DUCKDB, SPARK_SQL, Dialect, sql_cast_double

#: fixed-point scale of the sqrt weights (6 decimal digits)
WEIGHT_SCALE = 1_000_000


def sql_priority(id_col: str, dialect: Dialect = SPARK_SQL) -> str:
    """md5-derived double in [0, 1) of ``id_col``: its md5 bucket over 2^32."""
    return f"{dialect.md5_bucket('', id_col)} / {sql_cast_double(2.0**32)}"


def temperature_allocation(
    documents: DataFrame, group_col: str, total: int
) -> DataFrame:
    """(group, n) quota table: largest-remainder apportionment of ``total``
    over ``round(sqrt(count) * 10^6)`` integer weights."""
    counts = documents.groupBy(group_col).agg(F.count("*").alias("_c"))
    w = counts.select(
        group_col,
        F.round(F.sqrt("_c") * F.lit(WEIGHT_SCALE), 0).cast("long").alias("_w"),
    )
    # the windows below are GLOBAL (single partition) — legal only because
    # this frame is groups-sized, never data-sized
    wall = Window.partitionBy()
    base = (
        w.select(group_col, "_w", F.sum("_w").over(wall).alias("_wsum"))
        .withColumn("_t", F.lit(int(total)).cast("long") * F.col("_w"))
        .select(
            group_col,
            # exact BIGINT division — a double (a/b) rounds and can land
            # one above the true floor for large operands
            F.expr("_t DIV _wsum").alias("_b"),
            F.pmod(F.col("_t"), F.col("_wsum")).alias("_r"),
        )
    )
    # largest-remainder top-ups; ties by ascending group value
    wrank = Window.partitionBy().orderBy(F.col("_r").desc(), F.col(group_col).asc())
    ranked = base.select(
        group_col,
        "_b",
        F.row_number().over(wrank).alias("_rk"),
        (F.lit(int(total)) - F.sum("_b").over(wall)).alias("_left"),
    )
    return ranked.select(
        group_col,
        (F.col("_b") + (F.col("_rk") <= F.col("_left")).cast("long")).alias("n"),
    )


def temperature_mix(
    documents: DataFrame,
    group_col: str,
    total: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """The ``total``-document temperature mix: per-group quotas from
    :func:`temperature_allocation`, members the top-quota documents by
    md5 priority (desc, ties by ascending id).  Returns (id, group)."""
    from locus_spark.operators.selection import top_alloc_per_group

    alloc = temperature_allocation(documents, group_col, total)
    src = documents.selectExpr(id_col, group_col, f"{sql_priority(id_col)} AS _pri")
    out = top_alloc_per_group(
        src, group_col, "_pri", alloc, id_col, lo=0.0, hi=1.0
    )
    return out.select(id_col, group_col)


def temperature_mix_oracle_sql(
    group_col: str, total: int, id_col: str = "doc_id"
) -> str:
    """DuckDB mirror over the ``documents`` view: identical sqrt weight,
    integer apportionment, md5 priority, and single-window selection."""
    return f"""
WITH counts AS (
  SELECT {group_col} AS g, count(*) AS c FROM documents GROUP BY {group_col}
), w AS (
  SELECT g, CAST(round(sqrt(c) * {WEIGHT_SCALE}) AS BIGINT) AS w FROM counts
), tot AS (
  SELECT sum(w) AS wsum FROM w
), base AS (
  SELECT g, (CAST({int(total)} AS BIGINT) * w) // tot.wsum AS b,
         (CAST({int(total)} AS BIGINT) * w) % tot.wsum AS r
  FROM w CROSS JOIN tot
), lo AS (
  SELECT CAST({int(total)} AS BIGINT) - sum(b) AS leftover FROM base
), alloc AS (
  SELECT g, b + CASE WHEN row_number() OVER (ORDER BY r DESC, g ASC)
                     <= lo.leftover THEN 1 ELSE 0 END AS n
  FROM base CROSS JOIN lo
), pri AS (
  SELECT {id_col}, {group_col} AS g,
         {sql_priority(id_col, DUCKDB)} AS p
  FROM documents
), ranked AS (
  SELECT {id_col}, g,
         row_number() OVER (PARTITION BY g ORDER BY p DESC, {id_col} ASC) AS rn
  FROM pri
)
SELECT ranked.{id_col} AS {id_col}, ranked.g AS {group_col}
FROM ranked JOIN alloc USING (g)
WHERE ranked.rn <= alloc.n
"""


__all__ = [
    "WEIGHT_SCALE",
    "sql_priority",
    "temperature_allocation",
    "temperature_mix",
    "temperature_mix_oracle_sql",
]
