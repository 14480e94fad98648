"""Streaming source + sink helpers for the `events` table.

The file source treats a parquet path as an append-only directory: at 100 TB
the same code points at a landing bucket and each new file becomes a
micro-batch (bounded by maxFilesPerTrigger for backpressure). Locally the
driver's single events.parquet is one micro-batch; tests split it into
several files to exercise cross-batch state.

Timestamp precision is generator-dependent (catalog.py handles the same
variants for batch): pandas-ns parquet carries TIMESTAMP(NANOS), which
Spark's reader rejects — `ts` is then read as int64 nanos
(spark.sql.legacy.parquet.nanosAsLong) and truncated to microseconds;
timestamp[us]-without-zone parquet reads as TIMESTAMP_NTZ and is cast to
the session-zone (UTC) TIMESTAMP. A streaming source needs its schema
declared up front, so the driver reads `ts`'s type from the parquet
footer with pyarrow (no Spark job), and the conversion is catalog.py's.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from big_data_player_analysis_spark.catalog import _normalize_nanos_timestamps


def _events_raw_schema(spark: SparkSession, path: str) -> T.StructType:
    """The raw stream schema, with `ts` typed as Spark's parquet reader
    types it, from the footer of `path` (or of a directory's first
    *.parquet file) read on the driver: TIMESTAMP(NANOS) is a long under
    nanosAsLong, a zoneless timestamp is TIMESTAMP_NTZ, and a zoned one
    or a legacy INT96 (Spark's default writer output, which pyarrow shows
    as nanoseconds) is TIMESTAMP. Every other column is fixed."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if os.path.isdir(path):
        path = sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
    footer = pq.ParquetFile(path)
    ts = footer.schema_arrow.field("ts").type
    if footer.schema.column(footer.schema.names.index("ts")).physical_type == "INT96":
        ts_type: T.DataType = T.TimestampType()
    elif not pa.types.is_timestamp(ts) or ts.unit == "ns":
        ts_type = T.LongType()
    elif ts.tz is None:
        ts_type = T.TimestampNTZType()
    else:
        ts_type = T.TimestampType()
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming DataFrame over an events parquet file/directory with `ts`
    converted to a proper event-time timestamp column."""
    schema = _events_raw_schema(spark, path)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if path.endswith(".parquet"):
        # Single-file "table": FileStreamSource force-sets basePath to the
        # path itself for non-glob paths and then rejects it (basePath must
        # be a directory). Rewriting the last char as a one-char glob class
        # makes isGlobPath true, which disables that override while still
        # matching exactly this file.
        path = f"{path[:-1]}[{path[-1]}]"
    return _normalize_nanos_timestamps(reader.parquet(path))


def run_stream_to_table(
    sdf: DataFrame,
    output_mode: str,
    query_name: str | None = None,
    timeout_sec: int = 300,
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a memory
    sink; return the sink table as a batch DataFrame.

    availableNow processes everything currently in the source and stops —
    the streaming analog of a batch run, which is what makes stream==batch
    parity assertable. The memory sink is test/driver plumbing only; a real
    deployment writes the same sdf to parquet/Kafka with a checkpoint dir.
    """
    name = query_name or f"stream_{uuid.uuid4().hex[:12]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    await_completion(q, timeout_sec)
    return sdf.sparkSession.table(name)


def await_completion(q: StreamingQuery, timeout_sec: float) -> None:
    """Wait for an availableNow query to drain its source, then make sure
    it is stopped. A query still running after timeout_sec raises
    TimeoutError carrying its last progress: stopping it and reading the
    sink would return a partial result as if it were complete."""
    try:
        if not q.awaitTermination(timeout_sec):
            raise TimeoutError(
                f"streaming query {q.name or q.id} still running after "
                f"{timeout_sec}s; last progress: {q.lastProgress}"
            )
    finally:
        if q.isActive:
            q.stop()
