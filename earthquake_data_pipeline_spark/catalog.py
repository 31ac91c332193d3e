"""The catalog registry: every driver query is declared once, as one
(name, build fn, oracle SQL) entry in its module's ``CATALOG`` table, and
``register`` builds the driver's ``QUERIES``/``ORACLE`` mappings from the
tables.

Registration carries the catalog's session contract. The driver owns the
SparkSession, with configs and timezone we do not control, so every
registered build fn first pins the session timezone to UTC
(``qcommon._utc``): parquet timestamps then collate exactly like DuckDB's
UTC-naive timestamps.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from .qcommon import _utc

Query = Callable[[SparkSession, str], DataFrame]
Entry = tuple[str, Query, str]


def _utc_pinned(fn: Query) -> Query:
    @functools.wraps(fn)
    def pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
        _utc(spark)
        return fn(spark, sf_dir)

    return pinned


def register(*tables: Iterable[Entry]) -> tuple[dict[str, Query], dict[str, str]]:
    """(QUERIES, ORACLE) from entry tables, in table order. A name
    declared twice raises instead of silently replacing the earlier
    query and oracle."""
    queries: dict[str, Query] = {}
    oracle: dict[str, str] = {}
    for table in tables:
        for name, fn, sql in table:
            if name in queries:
                raise ValueError(f"catalog query {name!r} is registered twice")
            queries[name] = _utc_pinned(fn)
            oracle[name] = sql
    return queries, oracle
