"""Structured Streaming tests: stream==batch parity for windowed
aggregations, cross-micro-batch state (stateful operator + dedup), and
watermark withholding semantics in append mode.

Multi-batch runs stream a time-split copy of the events table with
maxFilesPerTrigger=1, so state genuinely crosses micro-batch boundaries.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_player_analysis_spark.catalog import load_table
from big_data_player_analysis_spark.streaming import (
    dedup_stream_by_id,
    events_stream,
    run_stream_to_table,
    session_window_stats,
    sliding_value_avg,
    tumbling_event_stats,
    user_running_stats,
)

from tests.conftest import rows_set


@pytest.fixture(scope="module")
def events(spark, sf_small):
    return load_table(spark, sf_small, "events")


@pytest.fixture(scope="module")
def events_sdf(spark, sf_small):
    return events_stream(spark, f"{sf_small}/events.parquet")


def test_events_stream_build_runs_no_job(spark, sf_small):
    """The raw schema comes from the parquet footer, read on the driver:
    building the stream submits no Spark job."""
    from tests.conftest import jobs_for

    _, n_jobs = jobs_for(
        spark, "events_stream_build",
        lambda: events_stream(spark, f"{sf_small}/events.parquet", 1),
    )
    assert n_jobs == 0


@pytest.mark.parametrize("unit, tz, int96", [
    ("ns", None, False), ("us", None, False), ("us", "UTC", False), ("ns", None, True),
])
def test_events_raw_schema_matches_the_batch_reader(spark, tmp_path, unit, tz, int96):
    """catalog.footer_schema, the schema both events_stream and load_table
    declare, is the schema Spark's batch parquet reader infers, for each
    physical ts type a pyarrow writer produces, including the legacy INT96
    that Spark itself writes by default; a directory is typed by its first
    data file, and the footer row count is the reader's count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_player_analysis_spark.catalog import footer_rows, footer_schema

    table = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([1_700_000_000_000_000_000, 1_700_000_001_000_000_000],
                       pa.timestamp("ns")).cast(pa.timestamp(unit, tz)),
        "user_id": pa.array([7, 8], pa.int64()),
        "event_type": ["click", "view"],
        "value": [1.0, 2.5],
        "props": ["{}", "{}"],
    })
    d = tmp_path / "events"
    d.mkdir()
    p = str(d / "part-0.parquet")
    pq.write_table(table, p, use_deprecated_int96_timestamps=int96)
    pq.write_table(table.slice(1), str(d / "part-1.parquet"),
                   use_deprecated_int96_timestamps=int96)
    (d / "_SUCCESS").write_bytes(b"")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    declared = footer_schema(p)
    assert declared == spark.read.parquet(p).schema
    assert footer_schema(str(d)) == declared == spark.read.parquet(str(d)).schema
    assert footer_rows(str(d)) == spark.read.parquet(str(d)).count() == 3


@pytest.fixture(scope="module")
def split_events_dir(spark, events, tmp_path_factory):
    """The events table written as 4 time-ordered parquet files (earliest
    file first), so maxFilesPerTrigger=1 replays it as 4 micro-batches in
    event-time order."""
    base = tmp_path_factory.mktemp("events_split")
    # store ts as int64 nanos like the driver's parquet, so events_stream's
    # raw schema (LongType ts) reads these files too
    raw = events.withColumn("ts", F.unix_micros("ts") * 1000)
    n = events.count()
    ordered = raw.orderBy("ts").collect()
    per = (n + 3) // 4
    for i in range(4):
        chunk = ordered[i * per : (i + 1) * per]
        if not chunk:
            continue
        spark.createDataFrame(chunk, raw.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(base / f"chunk_{i}"))
    # flatten into one directory; the file source orders by modification
    # time, which must follow event time or the watermark treats earlier
    # chunks as late data — set explicit strictly-increasing mtimes
    import os
    import shutil
    import time

    flat = base / "flat"
    flat.mkdir()
    t0 = time.time()
    k = 0
    for i in range(4):
        src = base / f"chunk_{i}"
        if not src.exists():
            continue
        for j, f in enumerate(sorted(src.glob("*.parquet"))):
            dst = flat / f"part_{i}_{j}.parquet"
            shutil.copy(f, dst)
            os.utime(dst, (t0 + 10 * k, t0 + 10 * k))
            k += 1
    return str(flat)


def test_tumbling_stream_equals_batch(events, events_sdf):
    got = run_stream_to_table(tumbling_event_stats(events_sdf), "complete")
    want = tumbling_event_stats(events)
    assert rows_set(got) == rows_set(want)


def test_sliding_stream_equals_batch(events, events_sdf):
    got = run_stream_to_table(sliding_value_avg(events_sdf), "complete")
    want = sliding_value_avg(events)
    assert rows_set(got) == rows_set(want)
    # each event fans out to width/slide = 3 windows: total n_events
    # across windows is exactly 3x the input
    assert got.agg(F.sum("n_events")).first()[0] == 3 * events.count()


def test_session_window_batch_matches_lag_rewrite(spark, events):
    """session_window == the classic lag/cumsum sessionization (>= gap
    starts a new session, end = last event + gap)."""
    got = session_window_stats(events, gap="30 minutes")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    g = events.select(
        "user_id",
        "ts",
        F.when(prev.isNull() | (F.col("ts").cast("long") - prev.cast("long") >= 1800), 1)
        .otherwise(0)
        .alias("new_session"),
        "event_id",
    )
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = g.select("user_id", "ts", F.sum("new_session").over(cum).alias("sid"))
    want = (
        s.groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("session_start", "session_end", "user_id", "n_events")
    )
    assert rows_set(got) == rows_set(want)


def test_stateful_crosses_micro_batches(spark, events, split_events_dir):
    """applyInPandasWithState accumulates across 4 micro-batches; the last
    emission per user equals the batch aggregate over everything."""
    sdf = events_stream(spark, split_events_dir, max_files_per_trigger=1)
    out = run_stream_to_table(user_running_stats(sdf), "update").collect()
    # multiple batches -> most users emitted more than once
    assert len(out) > events.select("user_id").distinct().count()
    last = {}
    for r in out:  # memory sink appends in batch order; max n_events = final
        cur = last.get(r.user_id)
        if cur is None or r.n_events > cur.n_events:
            last[r.user_id] = r
    want = {
        r.user_id: r
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    assert set(last) == set(want)
    for uid, got in last.items():
        w = want[uid]
        assert got.n_events == w.n_events
        assert got.sum_value == pytest.approx(w.sum_value, rel=1e-12)
        assert got.last_ts == w.last_ts


def test_streaming_dedup_drops_cross_batch_duplicates(
    spark, events, split_events_dir, tmp_path
):
    """Duplicate event_ids arriving in a LATER micro-batch are dropped by
    the state store (within the watermark horizon)."""
    import shutil
    from pathlib import Path

    d = tmp_path / "with_dups"
    shutil.copytree(split_events_dir, d)
    # replay the last chunk's rows again as an extra trailing file:
    # same event ids, same timestamps -> inside the 1h watermark horizon
    files = sorted(Path(d).glob("part_*.parquet"))
    dup = d / "part_9_dup.parquet"
    shutil.copy(files[-1], dup)
    import os

    last_mtime = max(f.stat().st_mtime for f in files)
    os.utime(dup, (last_mtime + 10, last_mtime + 10))  # strictly last
    sdf = events_stream(spark, str(d), max_files_per_trigger=1)
    out = run_stream_to_table(dedup_stream_by_id(sdf), "append")
    assert out.count() == events.count()
    assert rows_set(out.select("event_id")) == rows_set(events.select("event_id"))


def test_append_mode_watermark_withholds_tail_windows(spark, events, split_events_dir):
    """Append-mode windowed agg emits only windows finalized by the
    watermark: a window is emitted iff window_end <= max(ts) - delay, and
    emitted windows match the batch answer exactly."""
    sdf = events_stream(spark, split_events_dir, max_files_per_trigger=1)
    got = run_stream_to_table(
        tumbling_event_stats(sdf, watermark="1 hour"), "append"
    )
    want = tumbling_event_stats(events)
    max_ts = events.agg(F.max("ts")).first()[0]
    import datetime

    horizon = max_ts - datetime.timedelta(hours=1)
    finalized = want.filter(F.col("window_end") <= F.lit(horizon))
    withheld = want.filter(F.col("window_end") > F.lit(horizon))
    assert rows_set(got) == rows_set(finalized)
    assert withheld.count() > 0  # the tail really was withheld


def test_streaming_parquet_sink_roundtrip(spark, events, events_sdf, tmp_path):
    """A real file sink with checkpointing: the streamed aggregate lands in
    parquet and reads back equal to the batch answer."""
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = (
        tumbling_event_stats(events_sdf)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    back = spark.read.parquet(out)
    # append mode with watermark: finalized windows only, subset of batch
    want = tumbling_event_stats(events)
    assert 0 < back.count() < want.count()
    assert rows_set(back) <= rows_set(want) or [
        r for r in rows_set(back) if r in rows_set(want)
    ] == rows_set(back)


def test_stream_stream_interval_join_equals_batch(spark, events, events_sdf, sf_small):
    from big_data_player_analysis_spark.streaming import interval_join

    def sides(src):
        p = src.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
        c = src.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
        return p, c

    sp, sc = sides(events_sdf)
    got = run_stream_to_table(
        interval_join(sp, sc, on="user_id", lookback="30 minutes"), "append"
    )
    bp, bc = sides(events)
    want = interval_join(bp, bc, on="user_id", lookback="30 minutes")
    assert rows_set(got) == rows_set(want)
    assert got.count() > 0


def test_outer_interval_join_emits_nulls_after_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join semantics pinned on crafted data:
    an unmatched left event older than the final watermark emits a
    NULL-right row; an unmatched left event INSIDE the last watermark
    interval is withheld (its state could still match a late right row);
    matches emit regardless of age."""
    import pandas as pd

    from big_data_player_analysis_spark.streaming import interval_join

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    h = pd.Timedelta(hours=1)
    mins = pd.Timedelta(minutes=10)
    # left: e1 matched+old, e2 unmatched+old, e3 unmatched+young
    left = [(1, 100, t0), (2, 100, t0 + h), (3, 100, t0 + 9 * h)]
    # right: r1 matches e1; r_max sets the right max-ts so the global
    # watermark = min(maxL, maxR) - 1h = t0+8h (> e2, < e3)
    right = [(10, 100, t0 - mins), (11, 999, t0 + 9 * h)]

    def write(rows, name):
        df = spark.createDataFrame(
            [(i, u, int(ts.value)) for i, u, ts in rows],
            "event_id long, user_id long, ts long",
        )
        df.write.parquet(str(tmp_path / name))
        return events_stream(spark, str(tmp_path / name))

    sl, sr = write(left, "l"), write(right, "r")
    out = run_stream_to_table(
        interval_join(sl, sr, on="user_id", lookback="30 minutes", how="leftOuter"),
        "append",
    ).toPandas()
    got = {
        int(r.l_event_id): (None if pd.isna(r.r_event_id) else int(r.r_event_id))
        for r in out.itertuples()
    }
    assert got == {1: 10, 2: None}  # e3 withheld: younger than the watermark


def test_foreach_batch_sink(spark, events, split_events_dir, tmp_path):
    """foreachBatch: arbitrary per-micro-batch logic (here: write each batch
    to its own parquet dir and record batch ids) — the escape hatch for
    sinks Spark lacks natively (JDBC upserts, external indexes, ...)."""
    from big_data_player_analysis_spark.streaming import events_stream

    out = tmp_path / "fb"
    out.mkdir()
    seen = []

    def handle(batch_df, batch_id):
        seen.append(batch_id)
        batch_df.write.mode("overwrite").parquet(str(out / f"b{batch_id}"))

    sdf = events_stream(spark, split_events_dir, max_files_per_trigger=1)
    q = (
        sdf.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert len(seen) == 4  # one per split file
    total = sum(
        spark.read.parquet(str(out / f"b{b}")).count() for b in seen
    )
    assert total == events.count()


def test_checkpoint_crash_recovery_exactly_once(spark, tmp_path):
    """Exactly-once resume through foreachBatch + checkpoint (round-3
    verdict stretch item): a sink failure AFTER writing but BEFORE the
    checkpoint commit must cause the restarted query to REPLAY the same
    micro-batch with the SAME batchId (idempotent overwrite -> no dupes),
    and files ingested before a clean stop must NOT be reprocessed when new
    files arrive — the two properties that make a file-source -> foreachBatch
    pipeline exactly-once end-to-end."""
    import pandas as pd
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from big_data_player_analysis_spark.streaming import events_stream

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = tmp_path / "out"

    def write_file(name, ids):
        pd.DataFrame(
            {
                "event_id": pd.array(ids, dtype="int64"),
                "ts": pd.to_datetime([1_700_000_000 + i for i in ids], unit="s"),
                "user_id": pd.array([i % 3 for i in ids], dtype="int64"),
                "event_type": ["click"] * len(ids),
                "value": [float(i) for i in ids],
                "props": ["{}"] * len(ids),
            }
        ).to_parquet(str(src / name))

    def run(sink):
        q = (
            events_stream(spark, str(src))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    def idempotent_sink(df, bid):
        # overwrite keyed on batchId: a replayed batch rewrites the same
        # path — the standard idempotent-sink pattern
        df.write.mode("overwrite").parquet(str(out / f"batch_{bid}"))

    def crashing_sink(df, bid):
        idempotent_sink(df, bid)
        raise RuntimeError("injected sink crash after write, before commit")

    write_file("a.parquet", [1, 2, 3])
    with pytest.raises(StreamingQueryException, match="injected sink crash"):
        run(crashing_sink)

    # restart from the checkpoint: batch 0 replays with the SAME id and the
    # idempotent sink overwrites — output holds file A exactly once
    run(idempotent_sink)
    got_a = sorted(
        r.event_id for r in spark.read.parquet(str(out / "batch_0")).collect()
    )
    assert got_a == [1, 2, 3]

    # new file after a clean stop: only B is processed (no re-ingest of A),
    # in a fresh micro-batch with a strictly later id
    write_file("b.parquet", [10, 11])
    run(idempotent_sink)
    import os

    batches = sorted(os.listdir(out))
    assert batches == ["batch_0", "batch_1"]
    got_b = sorted(
        r.event_id for r in spark.read.parquet(str(out / "batch_1")).collect()
    )
    assert got_b == [10, 11]
    total = sorted(
        r.event_id
        for b in batches
        for r in spark.read.parquet(str(out / b)).collect()
    )
    assert total == [1, 2, 3, 10, 11]  # every event exactly once


def test_stateful_under_rocksdb_state_store(spark, events, split_events_dir):
    """The same cross-batch stateful aggregation under the RocksDB state
    store provider — the disk-backed store a production 100 TB streaming
    job runs (state no longer bounded by executor memory; HDFS-backed
    in-memory maps are the local-mode default). Same final per-user
    aggregates as the batch twin => the operator is provider-agnostic and
    the scale path is a config switch, not a rewrite."""
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    old = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, rocks)
    try:
        sdf = events_stream(spark, split_events_dir, max_files_per_trigger=1)
        out = run_stream_to_table(user_running_stats(sdf), "update").collect()
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)
    last = {}
    for r in out:
        cur = last.get(r.user_id)
        if cur is None or r.n_events > cur.n_events:
            last[r.user_id] = r
    want = {
        r.user_id: r
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    assert set(last) == set(want)
    for uid, got in last.items():
        w = want[uid]
        assert got.n_events == w.n_events
        assert got.sum_value == pytest.approx(w.sum_value, rel=1e-12)
        assert got.last_ts == w.last_ts
