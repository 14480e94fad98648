"""Registry tier D: Structured Streaming surface (extension — the reference
is batch-only, SURVEY.md §2.4 "Streaming: absent").

Each entry RUNS a real streaming query (file source over the events
parquet, availableNow trigger, memory sink) and returns the sink table, so
the driver's oracle gate checks actual streaming execution, not a batch
stand-in. Determinism: complete-mode aggregations converge to the batch
answer; the single-file source yields one micro-batch, so update-mode
stateful output is one final row per key.

The window/session oracle SQL re-derives Spark's epoch-aligned window
arithmetic in DuckDB (make_timestamp on floor(epoch/width)); session
windows use the lag/cumsum rewrite with the `>= gap` boundary matching
session_window's no-merge-on-exact-gap semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from big_data_player_analysis_spark.caching import tracked_local_checkpoint
from pyspark.sql import functions as F

from big_data_player_analysis_spark.catalog import table_path
from big_data_player_analysis_spark.registry import query
from big_data_player_analysis_spark.registry.common import t
from big_data_player_analysis_spark.streaming import (
    dedup_stream_by_id,
    events_stream,
    interval_join,
    run_stream_to_table,
    session_window_stats,
    sliding_value_avg,
    tumbling_event_stats,
    user_running_stats,
)

TUMBLE_SEC = 600
SLIDE_SEC = 600
SLIDING_WIDTH_SEC = 1800
SESSION_GAP_MIN = 30

SQL_TUMBLING = f"""
WITH w AS (
  SELECT make_timestamp(CAST(floor(epoch(ts) / {TUMBLE_SEC}) AS BIGINT)
                        * {TUMBLE_SEC} * 1000000) AS window_start, *
  FROM events
)
SELECT window_start,
       window_start + INTERVAL {TUMBLE_SEC} SECOND AS window_end,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       sum(value) AS sum_value,
       avg(value) AS avg_value
FROM w GROUP BY window_start, event_type
"""

# every event falls in width/slide = 3 sliding windows: the epoch-aligned
# bucket start minus k*slide for k in 0..2
SQL_SLIDING = f"""
WITH e AS (
  SELECT make_timestamp((CAST(floor(epoch(ts) / {SLIDE_SEC}) AS BIGINT) * {SLIDE_SEC}
                         - k.k * {SLIDE_SEC}) * 1000000) AS window_start, value
  FROM events, (SELECT unnest(range(0, {SLIDING_WIDTH_SEC // SLIDE_SEC})) AS k) k
)
SELECT window_start,
       window_start + INTERVAL {SLIDING_WIDTH_SEC} SECOND AS window_end,
       CAST(count(*) AS BIGINT) AS n_events,
       avg(value) AS avg_value
FROM e GROUP BY window_start
"""

SQL_SESSION = f"""
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL {SESSION_GAP_MIN} MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), s AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM g
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
       user_id,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, session_id
"""


def _events_sdf(spark: SparkSession, sf: str) -> DataFrame:
    return events_stream(spark, table_path(sf, "events"))


@query("stream_tumbling_counts", sql=SQL_TUMBLING, tags=("streaming", "window"))
def stream_tumbling_q(spark: SparkSession, sf: str) -> DataFrame:
    """10-min tumbling windows per event_type with a 1h watermark, executed
    as a real streaming query (complete mode == batch answer)."""
    return run_stream_to_table(tumbling_event_stats(_events_sdf(spark, sf)), "complete")


@query("stream_sliding_avg", sql=SQL_SLIDING, tags=("streaming", "window"))
def stream_sliding_q(spark: SparkSession, sf: str) -> DataFrame:
    """30-min windows sliding every 10 min (3x fan-out), streaming complete
    mode."""
    return run_stream_to_table(sliding_value_avg(_events_sdf(spark, sf)), "complete")


@query("stream_dedup_by_id", sql="SELECT * FROM events", tags=("streaming", "dedup"))
def stream_dedup_q(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming first-arrival dedup on event_id (watermarked state). The
    synthetic events are already unique by id, making the streaming output
    deterministic: exactly the input set."""
    return run_stream_to_table(dedup_stream_by_id(_events_sdf(spark, sf)), "append")


@query(
    "stream_stateful_user_stats",
    sql="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           sum(value) AS sum_value, max(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def stream_stateful_q(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    count/sum/last-ts. Single-file source -> one micro-batch -> the update
    stream emits each user's final state exactly once."""
    return run_stream_to_table(user_running_stats(_events_sdf(spark, sf)), "update")


@query(
    "stream_static_enrich",
    sql="""
    WITH dim AS (
      SELECT event_type, avg(value) AS type_avg FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.user_id, e.event_type, e.value,
           round(dim.type_avg, 6) AS type_avg,
           round(e.value / round(dim.type_avg, 6), 6) AS rel_value
    FROM events e JOIN dim USING (event_type)
    """,
    tags=("streaming", "join"),
)
def stream_static_q(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static enrichment: the event stream broadcast-joined per
    micro-batch to a batch-computed dimension (per-type value average) —
    the standard streaming feature-enrichment pattern; the static side is
    planned once and re-broadcast per batch."""
    from pyspark.sql import functions as F

    dim = (
        t(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.round(F.avg("value"), 6).alias("type_avg"))
    )
    sdf = _events_sdf(spark, sf)
    enriched = (
        sdf.join(F.broadcast(dim), "event_type")
        .withColumn("rel_value", F.round(F.col("value") / F.col("type_avg"), 6))
        .select("event_id", "user_id", "event_type", "value", "type_avg", "rel_value")
    )
    return run_stream_to_table(enriched, "append")


@query(
    "stream_stream_interval_join",
    sql="""
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
    SELECT p.user_id,
           p.event_id AS l_event_id, p.ts AS l_ts,
           c.event_id AS r_event_id, c.ts AS r_ts
    FROM p JOIN c ON p.user_id = c.user_id
      AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
    """,
    tags=("streaming", "join"),
)
def stream_stream_q(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked stream-stream interval join: every purchase matched to
    the same user's clicks in the preceding 30 minutes, both sides real
    streams (join state bounded by watermark + interval). Inner-join
    matches emit eagerly, so availableNow converges to the batch answer."""
    purchases = _events_sdf(spark, sf).filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "user_id", "ts")
    clicks = _events_sdf(spark, sf).filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    joined = interval_join(purchases, clicks, on="user_id", lookback="30 minutes")
    return run_stream_to_table(
        joined.select("user_id", "l_event_id", "l_ts", "r_event_id", "r_ts"), "append"
    )


OUTER_LOOKBACK_MIN = 30
OUTER_WM_SEC = 3600

SQL_OUTER_IJ = f"""
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
wm AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
              - INTERVAL {OUTER_WM_SEC} SECOND AS w)
SELECT p.user_id, p.event_id AS l_event_id, p.ts AS l_ts,
       c.event_id AS r_event_id, c.ts AS r_ts
FROM p JOIN c ON p.user_id = c.user_id
  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL {OUTER_LOOKBACK_MIN} MINUTE
UNION ALL
SELECT p.user_id, p.event_id, p.ts, CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP)
FROM p, wm
WHERE p.ts < wm.w AND NOT EXISTS (
  SELECT 1 FROM c WHERE c.user_id = p.user_id
    AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL {OUTER_LOOKBACK_MIN} MINUTE)
"""


@query("stream_outer_interval_join", sql=SQL_OUTER_IJ, tags=("streaming", "join"))
def stream_outer_q(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join — the harder
    outer case on top of stream_stream_interval_join: matches emit
    eagerly, and a purchase with NO click in its preceding 30 minutes
    emits a NULL-click row only once the global watermark (min across the
    two streams of max-seen-ts minus the 1h delay) passes the point where
    a future click could still match (watermark > l_ts — Spark can then
    evict the left row's join state). The oracle replicates exactly that
    cutoff: the inner matches UNION ALL the unmatched purchases older
    than the final watermark — purchases in the stream's last watermark
    interval are withheld by design, and the hash row is therefore
    evidence the state-eviction semantics are bit-for-bit understood, not
    just that an outer join ran."""
    purchases = _events_sdf(spark, sf).filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "user_id", "ts")
    clicks = _events_sdf(spark, sf).filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    joined = interval_join(
        purchases,
        clicks,
        on="user_id",
        lookback=f"{OUTER_LOOKBACK_MIN} minutes",
        watermark=f"{OUTER_WM_SEC} seconds",
        how="leftOuter",
    )
    return run_stream_to_table(
        joined.select("user_id", "l_event_id", "l_ts", "r_event_id", "r_ts"), "append"
    )


@query("olap_session_window", sql=SQL_SESSION, tags=("streaming", "window", "sessionization"))
def session_window_q(spark: SparkSession, sf: str) -> DataFrame:
    """session_window(gap=30min) per user — batch execution of the same
    expression the streaming tier uses (streaming parity + watermark
    withholding are pinned in tests/test_streaming.py; the oracle proves
    session_window == the ANSI lag/cumsum sessionization)."""
    return session_window_stats(t(spark, sf, "events"), gap=f"{SESSION_GAP_MIN} minutes")


WATERMARK_DELAY_SEC = 3600

SQL_LATE_DROP = f"""
WITH w AS (
  SELECT make_timestamp(CAST(floor(epoch(ts) / {TUMBLE_SEC}) AS BIGINT)
                        * {TUMBLE_SEC} * 1000000) AS window_start, *
  FROM events
),
agg AS (
  SELECT window_start,
         window_start + INTERVAL {TUMBLE_SEC} SECOND AS window_end,
         event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         sum(value) AS sum_value,
         avg(value) AS avg_value
  FROM w GROUP BY window_start, event_type
),
mx AS (SELECT max(ts) AS max_ts FROM events)
SELECT agg.* FROM agg, mx
WHERE agg.window_end <= mx.max_ts - INTERVAL {WATERMARK_DELAY_SEC} SECOND
"""


@query("stream_late_data_drop", sql=SQL_LATE_DROP, tags=("streaming", "watermark"))
def stream_late_data_q(spark: SparkSession, sf: str) -> DataFrame:
    """Append-mode watermark semantics as a hard oracle row: the tumbling
    aggregation emits ONLY windows finalized by the event-time watermark
    (window_end <= max event time - 1h delay); open tail windows are
    withheld in the state store. The oracle derives the same closed-window
    set relationally — max(ts) is the terminal watermark after availableNow
    drains the source and the no-data finalization batch fires. The
    multi-batch late-arrival variant (files arriving out of event-time
    order being dropped by the same predicate) is pinned in
    tests/test_streaming.py, which this entry complements with driver-side
    evidence. No window_end can tie the watermark exactly: window ends are
    epoch-aligned to {TUMBLE_SEC} s while the generator's max ts sits
    hundreds of seconds off-boundary at every SF."""
    return run_stream_to_table(tumbling_event_stats(_events_sdf(spark, sf)), "append")


# ------------------------------------------------- streaming near-dedup ingest

from big_data_player_analysis_spark.registry.llm_ops import (  # noqa: E402
    ORACLE_SCALE_SURVIVORS,
    SQL_SURVIVORS,
)

# One micro-batch over the whole documents table makes the streaming result
# equal the batch survivor closure — the same recursive-CTE oracle wrapped
# with the constant batch id the ingest partitions on.
SQL_INGEST = f"""
SELECT s.doc_id, s.source, s.group_size, CAST(0 AS INT) AS batch
FROM ({SQL_SURVIVORS.strip()}) s
"""


def _ingest_oracle_scale(con):
    """Scale-capable twin of SQL_INGEST: the union-find survivor closure
    plus the constant batch id."""
    df = ORACLE_SCALE_SURVIVORS(con)
    return df.assign(batch=0).astype({"batch": "int32"})


@query(
    "stream_near_dedup_ingest",
    sql=SQL_INGEST,
    tags=("streaming", "dedup", "llm"),
    oracle_scale=_ingest_oracle_scale,
)
def stream_ingest_q(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming near-dedup ingestion end-to-end (streaming/ingest.py): a
    real foreachBatch availableNow run that collapses each arriving
    micro-batch to one survivor per near-dup cluster, anti-joins it
    against every previously ingested doc via the incremental MinHash path
    (corpus never exchanged on the band key), and lands survivors in an
    idempotent batch=<id> partition — crash replay overwrites identically
    (exactly-once without a transactional sink). Driver shape: the single
    source file is one batch, so the accumulated corpus equals the batch
    survivor closure and hash-checks against the recursive-CTE oracle;
    cross-batch filtering, replay idempotence, and the documented
    incremental-vs-global divergence case are pinned in
    tests/test_streaming_ingest.py."""
    from big_data_player_analysis_spark.streaming.ingest import (
        stream_near_dedup_ingest,
    )
    from big_data_player_analysis_spark.workspace import scratch_dir

    # scratch (sink + checkpoint) is reclaimed on exit; the returned frame
    # is localCheckpoint-materialized first so it outlives the files
    with scratch_dir("ingest") as scratch:
        corpus = stream_near_dedup_ingest(
            spark,
            table_path(sf, "documents"),
            f"{scratch}/corpus",
            f"{scratch}/ckpt",
        )
        return corpus.select(
            "doc_id", "source", "group_size", "batch"
        ).transform(tracked_local_checkpoint)


SQL_INCREMENTAL_MV = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       sum(value) AS sum_value,
       min(value) AS min_value,
       max(value) AS max_value,
       sum(value) / count(*) AS avg_value
FROM events GROUP BY event_type
"""


@query(
    "stream_incremental_mv",
    sql=SQL_INCREMENTAL_MV,
    tags=("streaming", "lakehouse", "mv", "bench"),
)
def stream_incremental_mv_q(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized-view maintenance (streaming/mv.py): a
    foreachBatch availableNow run merges each micro-batch's MERGEABLE
    partial aggregate (count/sum/min/max) into a versioned snapshot —
    batch cost O(batch + keys), never a history rescan — with the
    versioned-partition idempotence contract (replayed batches re-read
    the state below their own id and overwrite their own version).
    Non-mergeable avg derives on read as sum/count. The hash-check
    against the plain GROUP BY oracle IS the exactly-once evidence: any
    double-applied or dropped batch changes the sums. Multi-batch merge
    + crash-replay idempotence are pinned in tests/test_streaming_mv.py."""
    from big_data_player_analysis_spark.streaming.mv import (
        stream_incremental_mv,
    )
    from big_data_player_analysis_spark.workspace import scratch_dir

    with scratch_dir("mv") as scratch:
        return stream_incremental_mv(
            spark,
            table_path(sf, "events"),
            f"{scratch}/mv",
            f"{scratch}/ckpt",
        ).transform(tracked_local_checkpoint)


# ------------------------------------------------- streaming curation

from big_data_player_analysis_spark.registry.llm_ops import (  # noqa: E402
    SQL_PIPE_UND,
    _sql_pipe_pre,
    closure_oracle,
)

# Single-batch driver shape: the whole documents table arrives as one
# micro-batch (no eval holdout at ingest — decontamination is a
# training-time step), so the curated corpus equals the batch chain
# quality gate -> line dedup -> survivor closure, replayed by the same
# parameterized CTE chain the mega-pipeline oracle uses, plus the
# constant batch id the sink partitions on. Output deliberately excludes
# the cleaned text column (n_tokens pins its token count; the window
# rebuild itself is pinned by the batch pipeline's oracle).
_SQL_CURATE_TAIL = """
, pgs AS (SELECT component, CAST(count(*) AS BIGINT) AS group_size
          FROM comp GROUP BY component),
psurv AS (
  SELECT c.doc_id, c.clean_text,
         CAST(coalesce(g.group_size, 1) AS BIGINT) AS group_size
  FROM pclean c
  LEFT JOIN comp cm ON c.doc_id = cm.node
  LEFT JOIN pgs g ON g.component = c.doc_id
  WHERE cm.node IS NULL OR cm.component = c.doc_id)
SELECT s.doc_id, d.source, s.group_size,
       CAST(len(regexp_split_to_array(trim(coalesce(s.clean_text, '')), '\\s+')) AS BIGINT) AS n_tokens,
       CAST(0 AS INT) AS batch
FROM psurv s JOIN documents d ON d.doc_id = s.doc_id
"""

SQL_STREAM_CURATION = (
    "WITH RECURSIVE " + _sql_pipe_pre("TRUE").strip() + SQL_PIPE_UND + _SQL_CURATE_TAIL
)

_SQL_CURATE_PAIRS = (
    "WITH " + _sql_pipe_pre("TRUE").strip() + "\nSELECT doc_a, doc_b FROM pcpairs"
)

ORACLE_SCALE_CURATION = closure_oracle(
    ", " + _sql_pipe_pre("TRUE").strip() + _SQL_CURATE_TAIL,
    pairs_sql=_SQL_CURATE_PAIRS,
)


@query(
    "stream_curation_ingest",
    sql=SQL_STREAM_CURATION,
    tags=("streaming", "llm", "pipeline", "dedup"),
    oracle_scale=ORACLE_SCALE_CURATION,
)
def stream_curation_q(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming corpus CURATION end-to-end (streaming/ingest.py): the
    mega-pipeline's stage chain run as a real foreachBatch availableNow
    ingest — per micro-batch quality/language gate, C4 boilerplate-window
    strip, one survivor per intra-batch near-dup cluster, incremental
    near-dedup against everything previously curated (corpus side never
    exchanged on the band key), landing in an idempotent batch=<id>
    partition (crash replay overwrites identically). The production
    shape of continuous pre-training corpus intake; llm_curation_pipeline
    is the batch one-shot of the same policy. Driver shape: one source
    file = one batch, so the curated corpus hash-checks against the
    parameterized gate+line-dedup+closure oracle (recursive CTE at the
    gate, union-find oracle_scale above it); multi-batch filtering and
    replay idempotence are pinned in tests/test_streaming_curation.py."""
    from big_data_player_analysis_spark.streaming.ingest import (
        stream_curation_ingest,
    )
    from big_data_player_analysis_spark.workspace import scratch_dir

    with scratch_dir("curate") as scratch:
        corpus = stream_curation_ingest(
            spark,
            table_path(sf, "documents"),
            f"{scratch}/corpus",
            f"{scratch}/ckpt",
        )
        return corpus.select(
            "doc_id", "source", "group_size", "n_tokens", "batch"
        ).transform(tracked_local_checkpoint)
