"""Incremental materialized-view maintenance: a per-key aggregate kept
current by merging each micro-batch into the snapshot's partials, never
rescanning history.

The lakehouse pattern behind every "keep this rollup fresh" pipeline: the
MV stores only MERGEABLE partials (count, sum, min, max — the same algebra
Spark's own partial aggregation uses map-side), so batch N costs
O(batch + |MV|) regardless of how much history the MV summarizes. At
100 TB of accumulated events the nightly/continuous refresh touches only
the new data plus a keys-sized snapshot. Non-mergeable aggregates are
DERIVED on read (avg = sum/count below; the same trick covers stddev via
sum-of-squares, and approximate distinct via the mergeable HLL sketches of
registry.olap.hll_shard_merge).

Exactly-once without a transactional sink — the same versioned-partition
contract as streaming/ingest.py: batch N writes the merged snapshot to
``v=<N>``, and the merge reads the latest version STRICTLY BELOW the
current batch id. A replayed batch (crash between sink write and
checkpoint commit) therefore re-reads exactly the state its failed attempt
read, recomputes the identical snapshot, and overwrites its own version —
idempotent, pinned in tests/test_streaming_mv.py. Old versions are retained
as time-travel history; a real deployment vacuums them by age.
"""

from __future__ import annotations

import glob as _glob

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_player_analysis_spark.streaming.events import (
    events_stream,
    run_foreach_batch,
)

_STATE_SCHEMA = (
    "event_type string, n_events long, sum_value double, "
    "min_value double, max_value double"
)


def _read_snapshot(spark: SparkSession, mv_dir: str, below_batch: int) -> DataFrame:
    """Latest committed MV version with id < below_batch; empty (correct
    schema) when none exists. Reading strictly below the current id is
    what makes crash replay idempotent: a failed attempt's own write is
    never visible as input state. The schema is declared, so building the
    read runs no footer-inference job."""
    prior = [v for v in mv_versions(mv_dir) if v < below_batch]
    if not prior:
        return spark.createDataFrame([], _STATE_SCHEMA)
    return spark.read.schema(_STATE_SCHEMA).parquet(f"{mv_dir}/v={prior[-1]}")


def apply_batch(
    spark: SparkSession, batch: DataFrame, batch_id: int, mv_dir: str
) -> None:
    """Merge one micro-batch into the MV and write the result as version
    <batch_id>. Each batch row enters as a one-row partial (count 1 and
    sum = min = max = value), so one aggregation of its union with the
    prior snapshot merges both (sum-of-counts, sum-of-sums, min-of-mins,
    max-of-maxes): one exchange on the key, whose map side pre-aggregates
    the batch, and the snapshot side is O(keys)."""
    rows = batch.select(
        "event_type",
        F.lit(1).cast("long").alias("n_events"),
        F.col("value").alias("sum_value"),
        F.col("value").alias("min_value"),
        F.col("value").alias("max_value"),
    )
    merged = (
        _read_snapshot(spark, mv_dir, batch_id)
        .unionByName(rows)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )
    merged.coalesce(1).write.mode("overwrite").parquet(f"{mv_dir}/v={batch_id}")


def read_mv(spark: SparkSession, mv_dir: str) -> DataFrame:
    """Current MV with the derived (non-mergeable) columns attached."""
    return read_mv_at(spark, mv_dir, 1 << 62)


def stream_incremental_mv(
    spark: SparkSession,
    events_path: str,
    mv_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 300,
) -> DataFrame:
    """Run the maintenance stream to completion (availableNow) and return
    the current MV. One arriving file = one merge when
    max_files_per_trigger=1."""
    run_foreach_batch(
        events_stream(spark, events_path, max_files_per_trigger),
        lambda batch, batch_id: apply_batch(spark, batch, batch_id, mv_dir),
        checkpoint_dir,
        timeout_sec,
    )
    return read_mv(spark, mv_dir)


def mv_versions(mv_dir: str) -> list[int]:
    """Committed snapshot versions, ascending."""
    versions = []
    for p in _glob.glob(f"{mv_dir}/v=*"):
        try:
            versions.append(int(p.rsplit("=", 1)[1]))
        except ValueError:
            continue
    return sorted(versions)


def read_mv_at(spark: SparkSession, mv_dir: str, version: int) -> DataFrame:
    """Time travel: the MV as of snapshot ``version`` (the latest
    committed version <= the requested one — the Delta/Iceberg
    VERSION AS OF contract). Because every batch writes a complete
    snapshot, time travel is a single partition-directory read: no log
    replay, no reconstruction."""
    return _read_snapshot(spark, mv_dir, version + 1).withColumn(
        "avg_value", F.col("sum_value") / F.col("n_events")
    )


def vacuum_mv(mv_dir: str, keep_last: int = 2) -> list[int]:
    """Retention: drop all but the newest ``keep_last`` snapshot versions
    (never fewer than one). Complements
    operators/layout.py:compact_small_files — compaction bounds file
    count, vacuum bounds version history; together they are the
    maintenance pair every versioned sink needs (each retained version is
    a full O(keys) snapshot, so unbounded history costs
    O(batches * keys) storage). Returns the removed version ids.

    Crash-safety interaction: the merge reads the latest version strictly
    below the CURRENT batch id, so vacuuming old versions can never
    change what a replayed batch reads as long as ``keep_last >= 1``
    (the replay of batch N reads the newest version < N, which is the
    latest or second-latest — both retained at the default)."""
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = mv_versions(mv_dir)
    drop = versions[:-keep_last] if len(versions) > keep_last else []
    for v in drop:
        shutil.rmtree(f"{mv_dir}/v={v}")
    return drop
