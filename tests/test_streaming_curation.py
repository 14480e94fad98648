"""Streaming corpus curation (streaming/ingest.py): single-batch parity
with the batch stage chain, the quality gate, boilerplate-window stripping,
cross-batch incremental filtering, and exactly-once replay through the
idempotent partition sink."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from big_data_player_analysis_spark.streaming.ingest import (
    stream_curation_ingest,
)

BASE_A = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "quietly near the warm fireplace on a cold winter evening tonight"
)
BASE_B = (
    "distributed query engines shuffle partitioned data across the "
    "cluster network before aggregating grouped results into columnar "
    "output files for downstream consumers and the analysts who use them"
)
JUNK = "987 654 321 000 111 ### $$$ %%% 42 7"  # fails the alpha/stopword gate


def _write_file(dirpath: str, name: str, rows: list[tuple[int, str]], mtime: float):
    os.makedirs(dirpath, exist_ok=True)
    path = os.path.join(dirpath, name)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "source": pa.array(["feed"] * len(rows), pa.string()),
            }
        ),
        path,
    )
    os.utime(path, (mtime, mtime))


def test_single_batch_matches_batch_stage_chain(spark, tmp_path):
    """One micro-batch must equal the batch chain: quality/language gate ->
    remove_repeated_windows -> near_dedup_survivors, with n_tokens counted
    over the CLEANED text and everything under batch id 0."""
    from big_data_player_analysis_spark.functions.text import (
        predict_language,
        quality_score,
    )
    from big_data_player_analysis_spark.operators.dedup import near_dedup_survivors
    from big_data_player_analysis_spark.operators.repetition import (
        remove_repeated_windows,
    )

    rows = [
        (10, BASE_A + " alpha"),
        (11, BASE_A + " bravo"),  # near-dup of 10
        (20, BASE_B + " one"),
        (30, JUNK),               # quality-gated out
    ]
    src = str(tmp_path / "feed")
    _write_file(src, "f1.parquet", rows, time.time())
    corpus = stream_curation_ingest(
        spark, src, str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    )
    got = {
        (r.doc_id, r.group_size, r.n_tokens, r.batch) for r in corpus.collect()
    }

    df = spark.createDataFrame(
        [(i, t, "feed") for i, t in rows], "doc_id long, text string, source string"
    )
    gated = df.filter(
        (quality_score(F.col("text")) >= 0.36)
        & (predict_language(F.col("text")) == "en")
    )
    cleaned = remove_repeated_windows(gated, "doc_id", "text").select(
        "doc_id", F.col("clean_text").alias("text")
    )
    want = {
        (
            r.doc_id,
            r.group_size,
            len(r.text.split()) if r.text else 1,
            0,
        )
        for r in near_dedup_survivors(cleaned, "doc_id", "text").collect()
    }
    assert got == want
    assert {g[0] for g in got} == {10, 20}  # 11 deduped, 30 quality-gated


def test_cross_batch_filtering_and_replay_idempotence(spark, tmp_path):
    """A second-batch doc near-duplicating already-curated content is
    dropped; fresh passing docs land; junk never lands. Restarting the
    finished query from its checkpoint changes nothing."""
    src = str(tmp_path / "feed")
    now = time.time()
    _write_file(src, "f1.parquet", [(10, BASE_A + " alpha")], now - 100)
    _write_file(src, "f2.parquet", [
        (40, BASE_A + " bravo"),  # near-dup of curated 10
        (50, BASE_B + " two"),    # fresh, passes the gate
        (60, JUNK),               # quality-gated out
    ], now - 50)
    corpus_dir, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    corpus = stream_curation_ingest(
        spark, src, corpus_dir, ckpt, max_files_per_trigger=1
    )
    got = {r.doc_id: r.batch for r in corpus.collect()}
    assert got == {10: 0, 50: 1}

    again = stream_curation_ingest(
        spark, src, corpus_dir, ckpt, max_files_per_trigger=1
    )
    assert {r.doc_id: r.batch for r in again.collect()} == got
    assert sorted(os.listdir(corpus_dir)) == ["batch=0", "batch=1"]


def test_boilerplate_windows_stripped_within_batch(spark, tmp_path):
    """An 8-token window repeated across >= 3 docs in one batch is
    boilerplate: it must vanish from every survivor's n_tokens (the C4
    line-dedup stage running per micro-batch)."""
    # 16 tokens = exactly two 8-token windows; LEADING position so the
    # windows align identically across docs (remove_repeated_windows cuts
    # fixed windows from token 0 — a shared string at different offsets is
    # a different window, the same alignment contract the batch operator's
    # own tests pin)
    boiler = (
        "this content is copyright of the original website "
        "owner all rights reserved please do not copy"
    )
    uniq = [
        "alpine railway construction methods require careful tunnel surveys "
        "and the patience of several engineering generations to complete",
        "the harvest festival brings together farmers and the whole town "
        "for a week of markets music and shared meals every autumn",
        "deep sea exploration vessels carry the sonar equipment needed to "
        "map trenches where sunlight never reaches the ocean floor",
    ]
    rows = [(i + 1, f"{boiler} {u}") for i, u in enumerate(uniq)]
    src = str(tmp_path / "feed")
    _write_file(src, "f1.parquet", rows, time.time())
    corpus = stream_curation_ingest(
        spark, src, str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    )
    out = {r.doc_id: r for r in corpus.collect()}
    assert set(out) == {1, 2, 3}
    for i, u in enumerate(uniq):
        r = out[i + 1]
        full = len(f"{boiler} {u}".split())
        # the shared window tokens are gone; the unique tail remains
        assert r.n_tokens < full, r
        assert "copyright" not in r.text
