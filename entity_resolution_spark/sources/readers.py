"""Sources: schema-validated ingestion of the engine's input tables.

The reference ingests only in-memory frames (SURVEY.md §2.1 S1 —
``pd.DataFrame`` literals); the engine's production input is a table of
source-code repository files (BASELINE.json:input_hint) that may arrive as
Iceberg, parquet, ORC, CSV or JSONL. This module provides:

- ``REPO_FILES_SCHEMA`` — the canonical input schema;
- ``read_repo_files`` — format-dispatching reader with schema validation
  (the table-level form of the reference's column-membership guard,
  entity_resolution.py:187-189 / SURVEY.md §2.2 P4): missing/mistyped
  columns fail fast with a complete report, extra columns pass through;
- ``write_partitioned`` — layout helper: clusters/lineage tables
  partitioned by a stable bucket of the key so downstream joins prune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

REPO_FILES_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)

_FORMAT_BY_EXT = {
    ".parquet": "parquet",
    ".orc": "orc",
    ".csv": "csv",
    ".json": "json",
    ".jsonl": "json",
}


class SchemaValidationError(ValueError):
    pass


def validate_schema(df: DataFrame, expected: T.StructType = REPO_FILES_SCHEMA) -> DataFrame:
    """Fail fast with a COMPLETE report of missing/mistyped columns (not
    first-error-wins); extra columns are allowed and preserved."""
    problems = []
    have = {f.name: f.dataType for f in df.schema.fields}
    for f in expected.fields:
        if f.name not in have:
            problems.append(f"missing column '{f.name}' ({f.dataType.simpleString()})")
        elif have[f.name].simpleString() != f.dataType.simpleString():
            problems.append(
                f"column '{f.name}' has type {have[f.name].simpleString()}, "
                f"expected {f.dataType.simpleString()}"
            )
    if problems:
        raise SchemaValidationError(
            "input does not match repo_files schema: " + "; ".join(problems)
        )
    return df


def infer_format(path: str) -> str:
    for ext, fmt in _FORMAT_BY_EXT.items():
        if path.endswith(ext):
            return fmt
    return "parquet"  # directory default


def read_repo_files(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    validate: bool = True,
) -> DataFrame:
    fmt = fmt or infer_format(path)
    reader = spark.read.format(fmt)
    if fmt == "csv":
        # source code contains newlines and quotes: multiLine + quote-escape
        # are mandatory or rows shear apart
        reader = (
            reader.option("header", "true")
            .option("multiLine", "true")
            .option("escape", '"')
            .schema(REPO_FILES_SCHEMA)
        )
    elif fmt == "json":
        reader = reader.schema(REPO_FILES_SCHEMA)
    df = reader.load(path)
    if validate:
        df = validate_schema(df)
    return df


def write_partitioned(
    df: DataFrame,
    path: str,
    key: str = "cluster_id",
    n_buckets: int = 256,
    fmt: str = "parquet",
) -> None:
    """Write with a stable hash-bucket partition column on ``key`` so that
    downstream point lookups and joins prune files. (Hive-style partition
    by raw key would create one directory per cluster — millions; the
    bucket column keeps directory count fixed.)"""
    out = df.withColumn("bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)))
    out.write.format(fmt).mode("overwrite").partitionBy("bucket").save(path)
