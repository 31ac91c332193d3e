"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``earthquake_data_pipeline_spark/driver_queries.py``,
which registers every catalog module's (name, build fn, oracle SQL) table
through the registry in ``earthquake_data_pipeline_spark/catalog.py`` and
puts the gate head of ``earthquake_data_pipeline_spark/gate.py`` first;
this file stays a thin adapter.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from earthquake_data_pipeline_spark.driver_queries import ORACLE, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the broadcast-join region
    rollup (scan → broadcast join ×2 → hash agg → sort), the engine's spine."""
    return QUERIES["region_rollup"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query."""
    return dict(ORACLE)
