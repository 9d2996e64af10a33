"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001 (smoke);
``queries()`` exposes every implemented operator as (spark, sf_dir) ->
DataFrame; ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL the
driver hash-compares against at sf0.01. Both list the registry in
registration order.

The implementations live in the ``censo_escolar_spark`` package; this
module only aggregates the registries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Importing the plan modules populates the registry.
import censo_escolar_spark.plans.censo  # noqa: F401
import censo_escolar_spark.plans.events  # noqa: F401
import censo_escolar_spark.plans.multimodal  # noqa: F401
import censo_escolar_spark.plans.northstar  # noqa: F401
import censo_escolar_spark.plans.relational  # noqa: F401
import censo_escolar_spark.plans.sketches  # noqa: F401
from censo_escolar_spark.plans.registry import ORACLE, QUERIES

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on sf0.001; driver checks rows>0."""
    return QUERIES["q01_pricing_summary"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle for each query (where expressible)."""
    return dict(ORACLE)
