"""Streaming near-dedup ingestion (streaming/ingest.py): batch parity,
cross-batch incremental filtering, the documented divergence-from-global
case, and exactly-once replay through the idempotent partition sink, the
last for the curation stream too."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from big_data_player_analysis_spark.streaming.ingest import (
    CURATED_SCHEMA,
    INGEST_SCHEMA,
    _read_batches,
    stream_curation_ingest,
    stream_near_dedup_ingest,
)

BASE_A = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "quietly near the warm fireplace on a cold winter evening tonight"
)
BASE_B = (
    "distributed query engines shuffle partitioned data across the "
    "cluster network before aggregating grouped results into columnar "
    "output files for downstream consumers"
)


def _write_file(dirpath: str, name: str, rows: list[tuple[int, str]], mtime: float):
    """One parquet FILE per arriving feed drop; mtime orders the batches
    (FileStreamSource processes older files first)."""
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


def test_single_batch_matches_batch_operator(spark, tmp_path):
    """With the whole feed in one micro-batch the streaming result must
    equal the batch near_dedup_survivors run (same survivors, same
    group sizes), all under batch id 0."""
    from big_data_player_analysis_spark.operators.dedup import near_dedup_survivors

    rows = [
        (10, BASE_A + " alpha"),
        (11, BASE_A + " bravo"),
        (12, BASE_A + " delta"),
        (20, BASE_B + " one"),
        (21, BASE_B + " two"),
        (30, "a completely unrelated short document about gardening tips"),
    ]
    src = str(tmp_path / "feed")
    _write_file(src, "f1.parquet", rows, time.time())
    corpus = stream_near_dedup_ingest(
        spark, src, str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    )
    got = {(r.doc_id, r.group_size, r.batch) for r in corpus.collect()}
    df = spark.createDataFrame([(i, t, "feed") for i, t in rows],
                               "doc_id long, text string, source string")
    want = {
        (r.doc_id, r.group_size, 0)
        for r in near_dedup_survivors(df, "doc_id", "text").collect()
    }
    assert got == want
    assert {r[0] for r in got} == {10, 20, 30}


def test_cross_batch_near_dups_filtered_and_replay_is_idempotent(spark, tmp_path):
    """A second-batch doc near-duplicating an already-ingested doc is
    dropped; fresh docs land. Restarting the finished query from its
    checkpoint must change nothing (no re-appended partitions)."""
    src = str(tmp_path / "feed")
    now = time.time()
    _write_file(src, "f1.parquet", [(10, BASE_A + " alpha"), (30, BASE_B + " one")], now - 100)
    _write_file(src, "f2.parquet", [
        (40, BASE_A + " bravo"),  # near-dup of already-ingested 10
        (50, "entirely new content about alpine railway construction methods"),
    ], now - 50)
    corpus_dir, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    corpus = stream_near_dedup_ingest(
        spark, src, corpus_dir, ckpt, max_files_per_trigger=1
    )
    got = {r.doc_id: r.batch for r in corpus.collect()}
    assert got == {10: 0, 30: 0, 50: 1}

    again = stream_near_dedup_ingest(
        spark, src, corpus_dir, ckpt, max_files_per_trigger=1
    )
    assert {r.doc_id: r.batch for r in again.collect()} == got
    assert sorted(os.listdir(corpus_dir)) == ["batch=0", "batch=1"]


def test_incremental_divergence_case_is_the_documented_one(spark, tmp_path):
    """The accepted recall trade: doc 20's only link to the old cluster
    runs through doc 21, which its OWN batch dropped — so 20 stays kept
    (a global one-shot closure over all three would keep only 10)."""
    x = [f"alpha{i}" for i in range(40)]
    z = [f"omega{i}" for i in range(20)]
    doc10 = " ".join(x)                      # old corpus
    doc21 = " ".join(x + z)                  # ~ doc10 (shares all of x)
    doc20 = " ".join(x[:20] + z)             # ~ doc21, NOT ~ doc10
    src = str(tmp_path / "feed")
    now = time.time()
    _write_file(src, "f1.parquet", [(10, doc10)], now - 100)
    _write_file(src, "f2.parquet", [(20, doc20), (21, doc21)], now - 50)
    corpus = stream_near_dedup_ingest(
        spark, src, str(tmp_path / "corpus"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    got = {r.doc_id: r.batch for r in corpus.collect()}
    # 21 dropped intra-batch (cluster {20, 21}, min id survives); survivor
    # 20 is not a near-dup of 10, so it is kept — incremental semantics
    assert got == {10: 0, 20: 1}


@pytest.mark.parametrize("schema, extra", [
    pytest.param(INGEST_SCHEMA, {}, id="ingest"),
    pytest.param(CURATED_SCHEMA, {"n_tokens": pa.array([2, 3], pa.int64())}, id="curation"),
])
def test_sink_read_back_runs_no_job(spark, tmp_path, schema, extra):
    """The foreachBatch sinks read their accumulated corpus back every
    micro-batch; with the declared schema that read runs no
    footer-inference job, and `batch` still comes from the directory."""
    from tests.conftest import jobs_for

    corpus = tmp_path / "corpus"
    for b in (0, 3):
        os.makedirs(corpus / f"batch={b}")
        pq.write_table(
            pa.table({
                "doc_id": pa.array([10 * b, 10 * b + 1], pa.int64()),
                "text": pa.array(["x y", "x y z"], pa.string()),
                "source": pa.array(["feed", "feed"], pa.string()),
                "group_size": pa.array([1, 2], pa.int64()),
                **extra,
            }),
            str(corpus / f"batch={b}" / "part-0.parquet"),
        )
    df, jobs = jobs_for(
        spark, "read-back", lambda: _read_batches(spark, str(corpus), schema)
    )
    assert jobs == 0
    assert df.columns == ["doc_id", "text", "source", "group_size", *extra, "batch"]
    assert sorted((r.doc_id, r.batch) for r in df.collect()) == [(0, 0), (1, 0), (30, 3), (31, 3)]


@pytest.mark.parametrize("stream", [
    pytest.param(stream_near_dedup_ingest, id="ingest"),
    pytest.param(stream_curation_ingest, id="curation"),
])
def test_replayed_batch_rewrites_its_partition_identically(spark, tmp_path, stream):
    """A crash between batch 1's sink write and its checkpoint commit:
    removing the commit makes the restart replay batch 1 under the same
    id. The replay must rewrite batch=1 and read only the corpus below
    its id, so it never drops doc 50 as a near-dup of its own earlier
    write."""
    src = str(tmp_path / "feed")
    now = time.time()
    _write_file(src, "f1.parquet", [(10, BASE_A + " alpha")], now - 100)
    # passes the curation gate (test_streaming_curation.py lands it)
    _write_file(src, "f2.parquet", [(50, BASE_B + " and the analysts who use them")], now - 50)
    corpus_dir, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")

    def run():
        corpus = stream(spark, src, corpus_dir, ckpt, max_files_per_trigger=1)
        return sorted((r.doc_id, r.batch) for r in corpus.collect())

    def batch1_mtimes():
        part = os.path.join(corpus_dir, "batch=1")
        return {
            f: os.stat(os.path.join(part, f)).st_mtime_ns
            for f in os.listdir(part) if f.endswith(".parquet")
        }

    first = run()
    assert first == [(10, 0), (50, 1)]
    before = batch1_mtimes()
    for name in ("1", ".1.crc"):
        os.remove(os.path.join(ckpt, "commits", name))
    time.sleep(0.01)  # so a rewrite moves the mtime on coarse clocks
    assert run() == first
    after = batch1_mtimes()
    assert len(after) == 1 and after != before
