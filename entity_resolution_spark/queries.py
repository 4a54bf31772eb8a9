"""Driver-contract query registry (SURVEY.md §2 operator inventory).

Each entry: name -> (spark, sf_dir) -> DataFrame, with a matching DuckDB
oracle SQL string in ORACLE_SQL where the operator is SQL-expressible.
Column names are aliased identically on both sides (the driver's compare
hashes values after sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def query(name: str, sql: str | None = None):
    def deco(fn):
        SPARK_QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# Registrations land in entity_resolution_spark/contract/*.py; import them
# here so a single `from entity_resolution_spark.queries import SPARK_QUERIES`
# sees everything. Registration order is the registry order: dedup_ops goes
# first, so the record-linkage engine's oracles (pipeline_*,
# incremental_clusters_light and the retract / review / re-threshold
# lifecycle rows) are among its first 30 entries.
from .contract import dedup_ops  # noqa: E402,F401
from .contract import (  # noqa: E402,F401
    classifier_ops,
    core_ops,
    linkage_ops,
    quality_ops,
    sampling_ops,
    stats_ops,
    stream_ops,
    text_ops,
    warehouse_ops,
)
