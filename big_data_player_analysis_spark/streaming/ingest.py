"""Streaming near-dedup ingestion: a growing crawl filtered against the
accumulated corpus, micro-batch by micro-batch.

The production shape of fuzzy dedup on a live feed (the batch analog is
operators/dedup.py:dedup_incremental): each arriving batch is first
collapsed to one survivor per intra-batch near-dup cluster
(near_dedup_survivors), then anti-joined against every PREVIOUSLY INGESTED
document via the incremental MinHash path (corpus side never exchanged on
the band key), and the survivors are appended to the corpus.

Exactly-once without a transactional sink: survivors land in a
``batch=<id>`` partition written with dynamic partition overwrite, and the
in-batch corpus read filters ``batch < batch_id`` — so a replayed batch
(crash between sink write and checkpoint commit) overwrites its own
partition with identical content instead of duplicating it, and never sees
its failed attempt's output as "corpus". Same recovery contract the
foreachBatch crash test pins for the idempotent-sink pattern.

Cross-batch semantics are incremental BY DESIGN and can differ from a
global one-shot near_dedup_survivors run in one documented case: a new doc
whose only link to an old cluster runs through a doc dropped in its OWN
batch stays kept (the global transitive closure would drop it) — the
accepted recall trade of every streaming dedup (the batch incremental
operator documents the same contract). tests/test_streaming_ingest.py pins
both the agreeing and the diverging case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_player_analysis_spark.streaming.events import await_completion

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


def documents_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming DataFrame over a documents parquet file/dir (one arriving
    file = one micro-batch when max_files_per_trigger=1)."""
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if path.endswith(".parquet"):
        # same one-char glob-class trick as events_stream: stops
        # FileStreamSource from force-setting basePath to the file itself
        path = f"{path[:-1]}[{path[-1]}]"
    return reader.parquet(path)


def stream_near_dedup_ingest(
    spark: SparkSession,
    source_path: str,
    corpus_dir: str,
    checkpoint_dir: str,
    k: int = 8,
    threshold: float = 0.6,
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 300,
) -> DataFrame:
    """Run the ingest stream to completion (availableNow) and return the
    accumulated corpus (all surviving documents plus their ``batch`` id and
    ``group_size``). Ids must be globally unique across the feed (they
    identify docs across batches, dedup_incremental's contract)."""
    from big_data_player_analysis_spark.operators.dedup import (
        dedup_incremental,
        near_dedup_survivors,
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            surv = near_dedup_survivors(batch, "doc_id", "text", k, threshold)
            seen = _read_corpus(spark, corpus_dir).filter(F.col("batch") < batch_id)
            if not seen.isEmpty():
                dup_new = (
                    dedup_incremental(
                        surv, seen.select("doc_id", "text"), "doc_id", "text",
                        k, threshold,
                    )
                    .select(F.col("new_id").alias("doc_id"))
                    .distinct()
                )
                surv = surv.join(dup_new, "doc_id", "left_anti")
            # written INTO the batch=<id> partition dir: the batch value
            # comes from the directory name on read (basePath), so the
            # column is not stored in the file (storing it too made every
            # read warn COLUMN_ALREADY_EXISTS)
            (
                surv.coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{corpus_dir}/batch={batch_id}")
            )
        finally:
            batch.unpersist()

    q = (
        documents_stream(spark, source_path, max_files_per_trigger)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_completion(q, timeout_sec)
    return _read_corpus(spark, corpus_dir)


def _read_corpus(spark: SparkSession, corpus_dir: str) -> DataFrame:
    """The accumulated survivors with their partition-derived batch id;
    empty (correct schema) before the first batch lands. The schema is
    declared, so building the read runs no footer-inference job."""
    import glob as _glob

    schema = "doc_id long, text string, source string, group_size long, batch int"
    parts = _glob.glob(f"{corpus_dir}/batch=*")
    if not parts:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).option("basePath", corpus_dir).parquet(*parts)
