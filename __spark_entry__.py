"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship kNN join at sf0.001.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2, backed by ``locus_spark.queries`` (Spark callables paired with
DuckDB-runnable oracle SQL built from the same SQL text, so float64 results
match bit-for-bit).
"""

from __future__ import annotations

import pathlib
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

from locus_spark import queries as _q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: exact kNN join (sampled bound, one exact join) at sf0.001."""
    return _q.kd_knn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _q.queries()


def oracle_sql() -> dict[str, str]:
    return _q.oracle_sql()
