"""Incremental materialized-view maintenance (streaming/mv.py): the
multi-batch merge must equal the one-shot batch aggregate, and a replayed
batch (crash between sink write and checkpoint commit) must leave the MV
unchanged."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from big_data_player_analysis_spark.catalog import load_table
from big_data_player_analysis_spark.streaming.mv import (
    apply_batch,
    read_mv,
    stream_incremental_mv,
)


def _expected(ev):
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        (F.sum("value") / F.count(F.lit(1))).alias("avg_value"),
    )


def _rows(df):
    out = []
    for r in df.collect():
        out.append(
            tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        )
    return sorted(out, key=repr)


def test_multi_batch_merge_equals_batch_aggregate(spark, sf_small, tmp_path):
    """3 source files x maxFilesPerTrigger=1 = 3 real merges; the final
    snapshot must equal the one-shot GROUP BY over everything."""
    ev = load_table(spark, sf_small, "events")
    src = str(tmp_path / "src")
    ev.repartition(3).write.parquet(src)
    mv = stream_incremental_mv(
        spark,
        src,
        str(tmp_path / "mv"),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    assert _rows(mv) == _rows(_expected(ev))
    # multiple versions actually landed (one per micro-batch)
    import glob

    assert len(glob.glob(str(tmp_path / "mv" / "v=*"))) >= 3


def test_crash_replay_is_idempotent(spark, sf_small, tmp_path):
    """Re-applying the LAST batch (what a restart does after a crash
    between the version write and the checkpoint commit) recomputes the
    identical snapshot: the replay reads state strictly below its own id,
    so its failed attempt's output is invisible as input."""
    ev = load_table(spark, sf_small, "events").select("event_type", "value")
    mv_dir = str(tmp_path / "mv")
    b0 = ev.filter(F.col("event_type") != "purchase")
    b1 = ev.filter(F.col("event_type") == "purchase")
    apply_batch(spark, b0, 0, mv_dir)
    apply_batch(spark, b1, 1, mv_dir)
    before = _rows(read_mv(spark, mv_dir))
    apply_batch(spark, b1, 1, mv_dir)  # crash replay of batch 1
    assert _rows(read_mv(spark, mv_dir)) == before
    assert _rows(read_mv(spark, mv_dir)) == _rows(_expected(ev))


def test_double_apply_would_be_detected(spark, sf_small, tmp_path):
    """Negative control for the exactly-once claim: applying the same
    batch under a NEW id (what an at-least-once sink without the
    version contract would do) must corrupt the sums — i.e. the oracle
    hash-check genuinely discriminates."""
    ev = load_table(spark, sf_small, "events").select("event_type", "value")
    mv_dir = str(tmp_path / "mv")
    apply_batch(spark, ev, 0, mv_dir)
    apply_batch(spark, ev, 1, mv_dir)  # same data, new id: double count
    doubled = {r.event_type: r.n_events for r in read_mv(spark, mv_dir).collect()}
    want = {r.event_type: 2 * r.n_events for r in _expected(ev).collect()}
    assert doubled == want


def test_time_travel_and_vacuum(spark, sf_small, tmp_path):
    """read_mv_at returns each intermediate snapshot (VERSION AS OF
    contract: latest committed <= requested); vacuum_mv drops old
    versions, never the newest, and leaves current reads intact."""
    from big_data_player_analysis_spark.streaming.mv import (
        mv_versions,
        read_mv_at,
        vacuum_mv,
    )

    ev = load_table(spark, sf_small, "events")
    src = str(tmp_path / "src")
    mv_dir = str(tmp_path / "mv")
    ev.repartition(3).write.parquet(src)
    final = stream_incremental_mv(
        spark, src, mv_dir, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    versions = mv_versions(mv_dir)
    assert len(versions) >= 3

    # each committed version is monotone: n_events totals never decrease
    totals = [
        read_mv_at(spark, mv_dir, v).agg(F.sum("n_events")).first()[0]
        for v in versions
    ]
    assert totals == sorted(totals)
    # the final version equals read_mv / the one-shot aggregate
    assert _rows(read_mv_at(spark, mv_dir, versions[-1])) == _rows(final)
    # requesting a version between commits resolves downward
    assert _rows(read_mv_at(spark, mv_dir, versions[-1] + 100)) == _rows(final)

    removed = vacuum_mv(mv_dir, keep_last=2)
    assert removed == versions[:-2]
    assert mv_versions(mv_dir) == versions[-2:]
    # current read unchanged after vacuum
    assert _rows(read_mv(spark, mv_dir)) == _rows(final)
    # keep_last floors at one version
    import pytest as _pytest

    with _pytest.raises(ValueError):
        vacuum_mv(mv_dir, keep_last=0)


def test_timed_out_stream_raises_instead_of_returning_rows(spark, sf_small, tmp_path):
    """A stream still draining its source when timeout_sec runs out must
    raise TimeoutError (with the last progress in the message) and leave no
    active query behind; stopping it and reading the MV would return a
    partial aggregate as if it were the whole one."""
    ev = load_table(spark, sf_small, "events")
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)
    with pytest.raises(TimeoutError, match="last progress"):
        stream_incremental_mv(
            spark,
            src,
            str(tmp_path / "mv"),
            str(tmp_path / "ckpt"),
            max_files_per_trigger=1,
            timeout_sec=0.001,
        )
    assert not spark.streams.active


def test_merge_runs_one_exchange_and_read_back_runs_no_job(spark, sf_small, tmp_path):
    """A merge over a prior snapshot is one shuffle map job plus the write:
    no separate partial aggregate, and the snapshot is read with its
    declared schema, so neither it nor read_mv runs a footer-inference
    job."""
    from tests.conftest import jobs_for

    ev = load_table(spark, sf_small, "events").select("event_type", "value")
    mv_dir = str(tmp_path / "mv")
    apply_batch(spark, ev.filter(F.col("event_type") != "purchase"), 0, mv_dir)
    b1 = ev.filter(F.col("event_type") == "purchase")
    _, merge_jobs = jobs_for(spark, "mv-merge", lambda: apply_batch(spark, b1, 1, mv_dir))
    assert merge_jobs <= 2
    mv, read_jobs = jobs_for(spark, "mv-read", lambda: read_mv(spark, mv_dir))
    assert read_jobs == 0
    assert _rows(mv) == _rows(_expected(ev))


def test_null_keys_and_values_match_the_sql_twin(spark, tmp_path):
    """Null values count as events but not in sum/min/max, an all-null
    key keeps null sum/min/max/avg until a later batch brings a value, and
    null event_type rows form their own group: the merged MV equals
    SQL_INCREMENTAL_MV over all rows in DuckDB."""
    import duckdb
    import pandas as pd

    from big_data_player_analysis_spark.registry.streaming_ops import SQL_INCREMENTAL_MV

    batches = [
        [("a", 1.0), ("a", None), (None, 2.0), (None, None), ("n", None), ("late", None)],
        [("a", 4.0), (None, None), ("n", None), ("late", -3.5), ("b", 0.5)],
    ]
    mv_dir = str(tmp_path / "mv")
    for i, rows in enumerate(batches):
        apply_batch(spark, spark.createDataFrame(rows, "event_type string, value double"), i, mv_dir)
    got = _rows(read_mv(spark, mv_dir))

    events = pd.DataFrame(  # noqa: F841  (read by DuckDB by name)
        [r for rows in batches for r in rows], columns=["event_type", "value"]
    )
    con = duckdb.connect()
    want = [
        tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        for r in con.execute(SQL_INCREMENTAL_MV).fetchall()
    ]
    con.close()
    assert got == sorted(want, key=repr)
    assert ("n", 2, None, None, None, None) in got
