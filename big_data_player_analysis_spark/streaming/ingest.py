"""Streaming near-dedup ingestion and corpus curation: a growing crawl
filtered against the accumulated corpus, micro-batch by micro-batch.

The production shape of fuzzy dedup on a live feed (the batch analog is
operators/dedup.py:dedup_incremental): each arriving batch is first
collapsed to one survivor per intra-batch near-dup cluster
(near_dedup_survivors), then anti-joined against every PREVIOUSLY INGESTED
document via the incremental MinHash path (corpus side never exchanged on
the band key), and the survivors are appended to the corpus. The curation
stream runs the same loop after llm_curation_pipeline's first stages: the
quality/language gate at the batch pipeline's thresholds, then the C4
boilerplate-window strip with window statistics local to each batch. No
decontamination at ingest: that is a training-time step.

Exactly-once without a transactional sink: survivors land in a
``batch=<id>`` partition written with dynamic partition overwrite, and the
in-batch corpus read filters ``batch < batch_id`` — so a replayed batch
(crash between sink write and checkpoint commit) overwrites its own
partition with identical content instead of duplicating it, and never sees
its failed attempt's output as "corpus".

Cross-batch semantics are incremental BY DESIGN and can differ from a
global one-shot near_dedup_survivors run in one documented case: a new doc
whose only link to an old cluster runs through a doc dropped in its OWN
batch stays kept (the global transitive closure would drop it) — the
accepted recall trade of every streaming dedup (the batch incremental
operator documents the same contract). tests/test_streaming_ingest.py pins
both the agreeing and the diverging case, and the crash replay.
"""

from __future__ import annotations

import glob as _glob
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_player_analysis_spark.functions.text import (
    CURATION_MIN_QUALITY,
    predict_language,
    quality_score,
    ws_tokens,
)
from big_data_player_analysis_spark.operators.dedup import (
    dedup_incremental,
    near_dedup_survivors,
)
from big_data_player_analysis_spark.operators.repetition import (
    remove_repeated_windows,
)
from big_data_player_analysis_spark.streaming.events import (
    file_stream,
    run_foreach_batch,
)

DOCS_SCHEMA = "doc_id long, text string, source string"
# sink schemas: the stored columns in write order, then the
# partition-derived batch id
INGEST_SCHEMA = "doc_id long, text string, source string, group_size long, batch int"
CURATED_SCHEMA = (
    "doc_id long, text string, source string, group_size long, n_tokens long, batch int"
)


def documents_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming DataFrame over a documents parquet file/dir (one arriving
    file = one micro-batch when max_files_per_trigger=1)."""
    return file_stream(spark, path, DOCS_SCHEMA, max_files_per_trigger)


def stream_near_dedup_ingest(
    spark: SparkSession,
    source_path: str,
    corpus_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 300,
) -> DataFrame:
    """Run the ingest stream to completion (availableNow) and return the
    accumulated corpus (all surviving documents plus their ``batch`` id and
    ``group_size``). Ids must be globally unique across the feed (they
    identify docs across batches, dedup_incremental's contract)."""
    return _run_near_dedup_stream(
        spark, documents_stream(spark, source_path, max_files_per_trigger),
        lambda batch: batch, INGEST_SCHEMA, corpus_dir, checkpoint_dir, timeout_sec,
    )


def stream_curation_ingest(
    spark: SparkSession,
    source_path: str,
    corpus_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 300,
) -> DataFrame:
    """Run the curation stream to completion (availableNow) and return the
    accumulated curated corpus: (doc_id, text, source, group_size,
    n_tokens, batch) — text is the CLEANED text (boilerplate windows
    stripped), n_tokens its whitespace token count (what a packer
    consumes). Ids must be globally unique across the feed."""

    def curate(batch: DataFrame) -> DataFrame:
        gated = batch.filter(
            (quality_score(F.col("text")) >= CURATION_MIN_QUALITY)
            & (predict_language(F.col("text")) == "en")
        )
        return (
            remove_repeated_windows(gated, "doc_id", "text")
            .select("doc_id", F.col("clean_text").alias("text"))
            .join(batch.select("doc_id", "source"), "doc_id")
            .withColumn("n_tokens", F.size(ws_tokens(F.col("text"))).cast("long"))
        )

    return _run_near_dedup_stream(
        spark, documents_stream(spark, source_path, max_files_per_trigger),
        curate, CURATED_SCHEMA, corpus_dir, checkpoint_dir, timeout_sec,
    )


def _run_near_dedup_stream(
    spark: SparkSession,
    docs: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    schema: str,
    corpus_dir: str,
    checkpoint_dir: str,
    timeout_sec: int,
) -> DataFrame:
    """The near-dedup micro-batch loop both streams share: transform the
    batch, keep one survivor per intra-batch cluster, drop near-dups of
    the corpus below the batch's own id, and overwrite the batch's
    partition with the sink schema's columns. Returns the corpus."""

    def process(batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            surv = near_dedup_survivors(transform(batch), "doc_id", "text")
            corpus = _read_batches(spark, corpus_dir, schema)
            seen = corpus.filter(F.col("batch") < batch_id).select("doc_id", "text")
            if not seen.isEmpty():
                dup_new = (
                    dedup_incremental(surv, seen, "doc_id", "text")
                    .select(F.col("new_id").alias("doc_id"))
                    .distinct()
                )
                surv = surv.join(dup_new, "doc_id", "left_anti")
            # written INTO the batch=<id> partition dir: the batch value
            # comes from the directory name on read (basePath), so the
            # column is not stored in the file (storing it too made every
            # read warn COLUMN_ALREADY_EXISTS)
            (
                surv.select(*corpus.columns[:-1])
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{corpus_dir}/batch={batch_id}")
            )
        finally:
            batch.unpersist()

    run_foreach_batch(docs, process, checkpoint_dir, timeout_sec)
    return _read_batches(spark, corpus_dir, schema)


def _read_batches(spark: SparkSession, corpus_dir: str, schema: str) -> DataFrame:
    """The accumulated sink, its partition-derived batch id last; empty
    (correct schema) before the first batch lands. The schema is declared,
    so building the read runs no footer-inference job."""
    parts = _glob.glob(f"{corpus_dir}/batch=*")
    if not parts:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).option("basePath", corpus_dir).parquet(*parts)
