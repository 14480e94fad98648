"""Streaming corpus CURATION: the mega-pipeline's stage chain run as a
foreachBatch ingest — the production shape of continuous pre-training
corpus intake (llm_curation_pipeline is the batch one-shot of the same
policy; streaming/ingest.py is the dedup-only ingest this composes over).

Per micro-batch: quality/language gate (same thresholds as the batch
pipeline) -> cross-document boilerplate-window strip (C4 line dedup,
WITHIN the batch — repeated-window statistics are a batch-local corpus
property, the same contract the batch pipeline applies to its whole
input) -> one survivor per intra-batch near-dup cluster -> incremental
near-dedup against every PREVIOUSLY CURATED document (corpus side never
exchanged on the band key) -> append survivors to the curated corpus.

Exactly-once with a plain parquet sink, same recovery contract as
streaming/ingest.py: survivors land in a ``batch=<id>`` partition
(overwrite), the in-batch corpus read filters ``batch < batch_id``, so a
replayed batch rewrites its own partition with identical content and
never sees its failed attempt's output as "corpus"
(tests/test_streaming_curation.py pins replay idempotence).

Cross-batch semantics are incremental BY DESIGN (same documented
divergence case as streaming/ingest.py): window statistics and near-dup
closures never span batches except through the accumulated corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_player_analysis_spark.operators.repetition import (
    REPEAT_MIN_DOCS,
    REPEAT_WINDOW_TOKENS,
)
from big_data_player_analysis_spark.streaming.events import await_completion
from big_data_player_analysis_spark.streaming.ingest import documents_stream

#: same gate as the batch mega-pipeline (registry/llm_ops.py)
CURATION_MIN_QUALITY = 0.36


def stream_curation_ingest(
    spark: SparkSession,
    source_path: str,
    corpus_dir: str,
    checkpoint_dir: str,
    k: int = 8,
    threshold: float = 0.6,
    min_quality: float = CURATION_MIN_QUALITY,
    window_tokens: int = REPEAT_WINDOW_TOKENS,
    min_docs: int = REPEAT_MIN_DOCS,
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 300,
) -> DataFrame:
    """Run the curation stream to completion (availableNow) and return the
    accumulated curated corpus: (doc_id, text, source, group_size,
    n_tokens, batch) — text is the CLEANED text (boilerplate windows
    stripped), n_tokens its whitespace token count (what a packer
    consumes). Ids must be globally unique across the feed."""
    from big_data_player_analysis_spark.functions.text import (
        predict_language,
        quality_score,
    )
    from big_data_player_analysis_spark.operators.dedup import (
        dedup_incremental,
        near_dedup_survivors,
    )
    from big_data_player_analysis_spark.operators.repetition import (
        remove_repeated_windows,
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            gated = batch.filter(
                (quality_score(F.col("text")) >= min_quality)
                & (predict_language(F.col("text")) == "en")
            ).select("doc_id", "text", "source")
            cleaned = remove_repeated_windows(
                gated, "doc_id", "text",
                window_tokens=window_tokens, min_docs=min_docs,
            ).select("doc_id", F.col("clean_text").alias("text"))
            surv = near_dedup_survivors(cleaned, "doc_id", "text", k, threshold)
            seen = _read_curated(spark, corpus_dir).filter(
                F.col("batch") < batch_id
            )
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
            out = (
                surv.join(batch.select("doc_id", "source"), "doc_id")
                .select(
                    "doc_id",
                    "text",
                    "source",
                    "group_size",
                    F.size(
                        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
                    ).cast("long").alias("n_tokens"),
                )
            )
            # batch value comes from the directory name on read (basePath),
            # so the column is not stored in the file — same sink contract
            # as streaming/ingest.py
            (
                out.coalesce(1)
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
    return _read_curated(spark, corpus_dir)


def _read_curated(spark: SparkSession, corpus_dir: str) -> DataFrame:
    """The accumulated curated corpus with its partition-derived batch id;
    empty (correct schema) before the first batch lands. The schema is
    declared, so building the read runs no footer-inference job."""
    import glob as _glob

    schema = (
        "doc_id long, text string, source string, group_size long, "
        "n_tokens long, batch int"
    )
    parts = _glob.glob(f"{corpus_dir}/batch=*")
    if not parts:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).option("basePath", corpus_dir).parquet(*parts)
