"""Catalog: named parquet tables -> DataFrames / temp views.

The reference treats a directory of text files as a table
(reference emulator.py:165-186); here a table is a parquet file/dir with a
fixed schema, read through the DataSource V2 parquet scan so Catalyst gets
column pruning + predicate pushdown for free.

A table's schema and row count come from its parquet footers, read on the
driver with pyarrow: `spark.read.parquet(path)` would infer the schema with
a one-task Spark job per table, and a count of a raw table is another job
for a number the footers already hold.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table with its footer schema declared, so building the read
    runs no Spark job. Parquet TIMESTAMP(NANOS) columns (pandas ns
    precision) are unsupported by Spark's reader; they are read as raw
    int64 nanos under nanosAsLong and converted below. The conf only
    affects TIMESTAMP(NANOS) fields and is set at runtime because a caller
    may hand in a session it built itself."""
    path = table_path(sf_dir, name)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _normalize_nanos_timestamps(spark.read.schema(footer_schema(path)).parquet(path))


def _data_files(path: str):
    """(filesystem, data files) of a parquet file or directory. A
    directory's files are listed recursively in path order, skipping
    names that start with `_` or `.` (`_SUCCESS`, `.crc` files, summary
    metadata) as Spark's file index does."""
    import pyarrow.fs as pafs

    fs, root = pafs.FileSystem.from_uri(path if "://" in path else os.path.abspath(path))
    if fs.get_file_info(root).type != pafs.FileType.Directory:
        return fs, [root]
    files = sorted(
        i.path
        for i in fs.get_file_info(pafs.FileSelector(root, recursive=True))
        if i.type == pafs.FileType.File
        and not any(p.startswith(("_", ".")) for p in i.path[len(root):].split("/"))
    )
    if not files:
        raise FileNotFoundError(f"no parquet data file under {path}")
    return fs, files


def footer_schema(path: str) -> T.StructType:
    """The schema Spark's parquet reader infers for `path`, from one footer
    (a directory is typed by its first data file, as Spark's non-merging
    inference does). Top-level timestamps follow the parquet type: a
    legacy INT96 (Spark's default writer output, which pyarrow shows as
    nanoseconds) is TIMESTAMP, TIMESTAMP(NANOS) is a long under
    nanosAsLong, a zoneless timestamp is TIMESTAMP_NTZ and a zoned one
    TIMESTAMP. Every other column maps through pyspark's Arrow type
    conversion, and every field is nullable, as a file source's schema
    always is."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    fs, files = _data_files(path)
    leaves = pq.read_metadata(files[0], filesystem=fs).schema
    physical = {leaves.column(i).path: leaves.column(i).physical_type for i in range(len(leaves))}
    fields = []
    for f in leaves.to_arrow_schema():
        if physical.get(f.name) == "INT96":
            dt: T.DataType = T.TimestampType()
        elif pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            dt = T.LongType()
        else:
            dt = from_arrow_type(f.type, prefer_timestamp_ntz=True)
        fields.append(T.StructField(f.name, _nullable(dt)))
    return T.StructType(fields)


def _nullable(dt: T.DataType) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType)) for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType))
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType))
    return dt


def footer_rows(path: str, stop_after: int | None = None) -> int:
    """Row count of a parquet file or directory from its footers. With
    `stop_after`, footers stop being read once the count passes it, so a
    caller that only asks "more than N rows?" reads a bounded number of
    footers however large the table is."""
    import pyarrow.parquet as pq

    fs, files = _data_files(path)
    n = 0
    for f in files:
        n += pq.read_metadata(f, filesystem=fs).num_rows
        if stop_after is not None and n > stop_after:
            break
    return n


def _normalize_nanos_timestamps(df: DataFrame) -> DataFrame:
    """Normalize the `ts` column to a session-zone TIMESTAMP regardless of
    the parquet physical type the generator used:
      * int64 TIMESTAMP(NANOS) (pandas ns precision + nanosAsLong conf) ->
        microsecond timestamps (truncating, which matches how DuckDB/Arrow
        narrow ns to us for positive epochs);
      * timestamp[us] without timezone -> Spark reads TIMESTAMP_NTZ, which
        time functions like unix_micros reject; the session zone is pinned
        UTC (session.py), so the NTZ->TIMESTAMP cast maps wall-clock
        identically to what DuckDB reads from the same file."""
    from pyspark.sql import functions as F

    for f in df.schema.fields:
        if f.name == "ts" and isinstance(f.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif f.name == "ts" and isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL entry points)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
