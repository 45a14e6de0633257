"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship query (TPC-H Q1-style pricing summary) at sf0.001.
queries()     — every implemented query/operator from SURVEY §2 + the
                LLM-pipeline extensions (see astro_sdk_spark/queries.py).
oracle_sql()  — DuckDB-equivalent SQL per query (omitted for the genuinely
                non-SQL-expressible ops → rows-only check).
"""

from __future__ import annotations

import os as _os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Python workers must be able to import astro_sdk_spark to deserialize
# the Arrow-UDF queries (PQ/IVF-PQ): export the repo root to their
# PYTHONPATH at import time — BEFORE the harness builds its
# SparkSession — so the contract holds regardless of the harness's cwd
# (same export get_session performs for library callers).
_repo_root = _os.path.dirname(_os.path.abspath(__file__))
_pp = _os.environ.get("PYTHONPATH", "")
if _repo_root not in _pp.split(_os.pathsep):
    _os.environ["PYTHONPATH"] = (
        f"{_repo_root}{_os.pathsep}{_pp}" if _pp else _repo_root
    )

from astro_sdk_spark.queries import oracle_queries, q_pricing_summary, spark_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return spark_queries()


def oracle_sql() -> dict[str, str]:
    return oracle_queries()
