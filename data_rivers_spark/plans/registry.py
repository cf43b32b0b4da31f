"""Query registry backing the driver contract (``__spark_entry__.py``).

Every operator the engine claims (SURVEY.md §2) registers a named query here:
a ``(spark, sf_dir) -> DataFrame`` callable plus, when expressible, the
equivalent ANSI SQL that DuckDB runs on the same parquet tables as a
correctness oracle. Non-SQL-expressible operators (hash-sketch dedup,
iterative algorithms) register without an oracle and get the driver's weaker
rows-only check.

Conventions enforced here (the driver hash-compares values order-insensitively
after sorting columns by name):
- alias every computed column identically in Spark and SQL;
- round floating-point aggregates identically on both sides (both engines use
  half-away-from-zero rounding) so summation-order noise cannot flip the hash;
- format timestamps to strings when serialization could differ between
  engines;
- no raw array/struct/map columns in driver-checked output — the driver's
  pandas canonicalizer cannot sort list cells ("unhashable type"); serialize
  nested values to strings (array_join / to_json on the Spark side,
  ARRAY_TO_STRING / ::JSON::VARCHAR in the oracle).
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_rivers_spark.session import QUERY_NAME

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a driver-contract query; ``oracle`` is DuckDB SQL or None.
    While the query is built, ``QUERY_NAME`` holds ``name``, so its stage
    barriers (``session.stage``) name their jobs ``<name>:<stage>``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def build(*args, **kwargs) -> DataFrame:
            token = QUERY_NAME.set(name)
            try:
                return fn(*args, **kwargs)
            finally:
                QUERY_NAME.reset(token)

        QUERIES[name] = build
        if oracle is not None:
            ORACLES[name] = oracle
        return build

    return deco


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from data_rivers_spark.plans import (  # noqa: F401
        admin_queries,
        analytics_queries,
        curation_queries,
        dataops_queries,
        geo_queries,
        relational_queries,
        sql_breadth_queries,
        tpch_queries,
        transform_queries,
    )
