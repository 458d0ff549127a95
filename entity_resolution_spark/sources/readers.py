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
- ``with_file_id`` — the deterministic fallback id for inputs without one;
- ``load_source`` — Iceberg catalog read with graceful parquet fallback
  (the sandbox has no Iceberg runtime jar; a cluster with one reads the
  same call as a real catalog table — SURVEY.md §7.3 item 6);
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


def with_file_id(files: DataFrame) -> DataFrame:
    """Add the deterministic fallback ``file_id`` when the input has none.

    monotonically_increasing_id() is partition-dependent, which made
    cluster_id = min(file_id) nondeterministic across runs/parallelism. A
    content-address over the identity columns is stable under any
    partitioning (64-bit birthday collisions only matter past ~10^9
    files; callers at that scale should assign their own ids)."""
    if "file_id" in files.columns:
        return files
    id_cols = [c for c in ("repo", "path", "commit") if c in files.columns]
    return files.withColumn("file_id", F.xxhash64(*[F.col(c) for c in id_cols]))


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


def load_source(spark: SparkSession, table_or_path: str) -> DataFrame:
    """Iceberg catalog table if resolvable, else a path read. One call site
    for both worlds keeps pipeline code cluster/sandbox agnostic."""
    if "/" not in table_or_path:
        try:
            return spark.read.format("iceberg").load(table_or_path)
        except Exception:
            try:
                return spark.table(table_or_path)
            except Exception as exc:
                raise ValueError(
                    f"'{table_or_path}' is neither an Iceberg/catalog table "
                    f"nor a path: {exc}"
                ) from exc
    return read_repo_files(spark, table_or_path)


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
