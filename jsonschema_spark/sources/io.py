"""Table readers — the engine's scan surface.

The reference reads JSON instance files / stdin
(/root/reference/jsonschema/cli.py:50-62,259-270); the engine's analogue
reads instance *tables*: parquet (columnar, the scale path), NDJSON
(line-delimited instances — the direct lift of the reference's input
mode), CSV, and ORC.  Iceberg works through the same `spark.read.table`
path when a catalog is configured (not bundled in this sandbox).

Schema handling: JSON/CSV readers infer by default, which samples the
input once; pass an explicit `schema` (DDL string or StructType) in
production so the scan is single-pass and types are stable.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

_FORMATS = ("parquet", "json", "csv", "orc")


def read_table(spark: SparkSession, path: str, fmt: str = "parquet",
               schema: Optional[Any] = None,
               **options: str) -> DataFrame:
    """Read an instance table.  `fmt`: parquet | json (NDJSON) | csv |
    orc, or a table name prefixed 'table:' for catalog tables."""
    if fmt.startswith("table:") or path.startswith("table:"):
        name = path[6:] if path.startswith("table:") else path
        return spark.read.table(name)
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {_FORMATS}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
        options.setdefault("inferSchema",
                           "true" if schema is None else "false")
    return reader.options(**options).format(fmt).load(path)


def write_bucketed_table(df: DataFrame, name: str, path: str,
                         bucket_col: str, n_buckets: int = 128,
                         sort: bool = False) -> None:
    """Persist `df` as an external parquet table bucketed on
    `bucket_col` — the storage layout that makes repeated key-local
    work (uniqueness aggregation, referential joins, resume scans on
    the same key) ZERO-shuffle: a groupBy/join on the bucket column
    reads each bucket in place instead of exchanging 100 TB.

    The frame is repartitioned on the bucket column first so each
    bucket lands in one file; without that, every writer task emits a
    file per bucket (tasks x buckets tiny files) and scan open()
    overhead swamps the bucketing win.  `n_buckets` should be sized so
    a bucket fits one executor's working memory at the target scale
    (rows/n_buckets) while still exceeding total cores for parallelism.
    """
    from pyspark.sql import functions as F
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    writer = (df.repartition(n_buckets, F.col(bucket_col))
              .write.bucketBy(n_buckets, bucket_col))
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.option("path", path).mode("overwrite").saveAsTable(name)


def register_bucketed_table(spark: SparkSession, name: str, path: str,
                            schema_ddl: str, bucket_col: str,
                            n_buckets: int = 128) -> DataFrame:
    """Attach an EXISTING bucketed-table location (written by
    `write_bucketed_table`, possibly in another session/cluster) to
    this session's catalog, preserving the bucket metadata that a plain
    `spark.read.parquet` would lose — the resume path for long-running
    validation jobs over a shared stored table."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} ({schema_ddl}) USING parquet "
        f"CLUSTERED BY ({bucket_col}) INTO {n_buckets} BUCKETS "
        f"LOCATION '{path}'")
    return spark.table(name)
