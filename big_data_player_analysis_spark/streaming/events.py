"""Streaming source + sink helpers: the declared-schema file source, the
`events` table over it, and the run-to-completion sinks.

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
declared up front; it is catalog.footer_schema's, read from the parquet
footer on the driver (no Spark job), the same schema the batch read
declares, and the conversion is catalog.py's too.
"""

from __future__ import annotations

import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from big_data_player_analysis_spark.catalog import _normalize_nanos_timestamps, footer_schema


def file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """Streaming DataFrame over a parquet file/dir with a declared schema
    (one arriving file = one micro-batch when max_files_per_trigger=1)."""
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
    return reader.parquet(path)


def events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming DataFrame over an events parquet file/directory with `ts`
    converted to a proper event-time timestamp column."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _normalize_nanos_timestamps(
        file_stream(spark, path, footer_schema(path), max_files_per_trigger)
    )


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


def run_foreach_batch(
    sdf: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    timeout_sec: float,
) -> None:
    """Run ``process(batch, batch_id)`` over every micro-batch of sdf to
    completion (availableNow). A replayed batch keeps its id, so a sink
    keyed on the id makes the stream exactly-once."""
    q = (
        sdf.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_completion(q, timeout_sec)


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
