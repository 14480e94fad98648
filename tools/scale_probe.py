"""Scale probe: runs the heavy operators on synthetically scaled corpora
(1x, 4x, 16x the sf0.1 documents/embeddings tables) and records wall time
per scale into SCALE.md. Near-linear growth is the evidence that the
candidate-generation designs (inverted index, LSH bands, partial top-k)
hold as data grows; quadratic blow-up would show immediately at 16x.

Scaled documents are rotated-alphabet rewrites of the originals, so the
synthetic corpus does NOT add planted near-duplicates (which would change
the workload semantics — duplicate density — not just its size).

Usage: python tools/scale_probe.py [--scales 1,4,16]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from big_data_player_analysis_spark.catalog import load_table
from big_data_player_analysis_spark.functions.text import word_ngrams
from big_data_player_analysis_spark.functions.urls import canonicalize_url
from big_data_player_analysis_spark.multimodal import (
    attach_synth_payload,
    decode_audio_features,
    synth_wav_payload,
)
from big_data_player_analysis_spark.operators.chunking import (
    cdc_chunks,
    chunk_fixed,
    pack_sequences,
)
from big_data_player_analysis_spark.operators.repetition import (
    duplicate_span_profile,
    remove_duplicate_spans,
    remove_repeated_windows,
)
from big_data_player_analysis_spark.operators.sampling import apply_mix, shard_assign
from big_data_player_analysis_spark.operators.dedup import (
    dedup_exact,
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_ngram_jaccard_auto,
    dedup_simhash,
)
from big_data_player_analysis_spark.operators.similarity import knn_join_vectorized
from big_data_player_analysis_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.1"


ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"


def scaled_docs(spark, base, factor: int):
    """factor copies; copy i rewrites the text through a rotated-alphabet
    substitution (translate), so copies of the same base doc share ZERO
    shingles — duplicate density stays constant as the corpus scales
    (a prefix-sharing scheme tried first planted sub-threshold near-dups
    whose LSH-candidate volume grew quadratically in the factor). The same
    translate pass applies at factor 1 (rotation 0 = identity) so every
    scale has identical per-document workload. The 36 alphabet rotations
    repeat at copy 36 (7 and 36 are coprime, so i and i+36 collide) —
    copies 36..71 additionally REVERSE the text, whose character k-grams
    share nothing with the forward rotation, keeping all 72 supported
    transforms duplicate-free."""
    if factor > 72:
        raise ValueError("scaled_docs supports factors up to 72")
    n = base.count()
    copies = []
    for i in range(factor):
        r = (7 * i) % len(ALPHABET)
        rotated = ALPHABET[r:] + ALPHABET[:r]
        text = F.translate(F.lower("text"), ALPHABET, rotated)
        if i >= 36:
            text = F.reverse(text)
        copies.append(
            base.select(
                (F.col("doc_id") + i * n).alias("doc_id"),
                text.alias("text"),
                "source",
            )
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def scaled_embeddings(spark, base, factor: int):
    """factor copies; copy i CIRCULAR-SHIFTS the embedding dimensions by a
    copy-specific offset. A permutation of dimensions preserves every
    intra-copy norm/cosine exactly (identical per-copy workload), while
    cross-copy cosines between shifted versions of the same base vector
    drop to lag-autocorrelation noise — so the composed corpus does NOT
    plant near-duplicates. (The previous additive-nudge scheme kept copies
    of the same base vector at cosine ~ 1, which made the exact-threshold
    product's OUTPUT grow quadratically in the factor: the 16x
    dedup_embedding_cosine cell measured 527 s of planted-duplicate
    emission, not operator scaling.)"""
    if factor == 1:
        return base
    n = base.count()
    dim = len(base.select("embedding").first()[0])
    copies = []
    for i in range(factor):
        s = (11 * i) % dim
        shifted = F.concat(
            F.slice("embedding", s + 1, dim - s), F.slice("embedding", 1, s)
        ) if s else F.col("embedding")
        copies.append(
            base.select(
                (F.col("vec_id") + i * n).alias("vec_id"),
                shifted.alias("embedding"),
                "label",
            )
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def scaled_events(spark, base, factor: int):
    """factor copies of the events table; copy i shifts ids and SUFFIXES
    event_type with the copy index, so the lead-window duel derivation
    (registry/common.py:duel_edges) keeps each copy a DISJOINT subgraph —
    graph structure (degree distribution, convergence behavior) stays
    constant while edge count scales linearly."""
    if factor == 1:
        return base
    n = base.count()
    nu = 1 + (base.agg(F.max("user_id")).first()[0] or 0)
    copies = []
    for i in range(factor):
        copies.append(
            base.select(
                (F.col("event_id") + i * n).alias("event_id"),
                "ts",
                (F.col("user_id") + i * nu).alias("user_id"),
                F.concat("event_type", F.lit(f"_{i}")).alias("event_type"),
                "value",
                "props",
            )
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def duels_probe(events):
    """The events->duels derivation itself (q00_duel_edges): the round-8
    bucketed rewrite — the corpus moves through one (event_type, bucket)
    exchange instead of a 5-task sort, and the probe's suffixed
    event_type copies additionally multiply the type axis."""
    from big_data_player_analysis_spark.registry.common import duel_edges_from

    return duel_edges_from(events)


def heroic_probe(events):
    """The iterative flagship over scaled disjoint duel graphs: converge
    the damped rank, take the top-10. The build() call runs the eager
    iteration loop, so timed() captures the full convergence cost. Uses
    the same bucketed duels derivation as the registry entries
    (registry/common.py:duel_edges_from, round-8 rewrite)."""
    from big_data_player_analysis_spark.plans.heroic import heroic_top_k
    from big_data_player_analysis_spark.registry.common import duel_edges_from

    return heroic_top_k(duel_edges_from(events), k=10, alpha=0.1, tol=0.1, max_iter=10)


def timed(build) -> float:
    """Min of two executions of a freshly BUILT plan (``build`` is a
    thunk). Building per run matters: spark.catalog.clearCache() between
    operators also drops PENDING cache registrations, so a DataFrame
    built before the clear would run with its internal .persist() marks
    silently disabled — dedup_ngram_jaccard measured 17.5 s that way vs
    1.6 s with its candidate cache live (every consumer of the candidate
    table recomputed the whole shingle pipeline). Fresh construction per
    run registers the persists after the clear, which is how bench.py and
    any real caller execute the operator. Min of two runs: this host
    shows sustained external load swings (load-average bursts with zero
    in-container CPU consumers) that inflate single-shot wall times up to
    6x; the min of back-to-back runs estimates the uncontended cost. The
    load average at probe time is recorded in SCALE.md.

    COLD-PATH SEMANTICS (round 6, same change as bench.py): tracked
    persists/checkpoints are released after EACH run. Before, the second
    run of a persist-based operator silently read the first run's cached
    fragments (CacheManager substitutes cached InMemoryRelations into any
    later plan whose subtree matches), so the recorded min was the
    cache-warmed cost — dedup_minhash_lsh's pre-r6 64x cell read 4.7 s
    where the true cold cost is ~42 s (the signature pandas_udf pass over
    320k docs, linear and scan-proportional). Checkpoint-based operators
    never got that reuse (a checkpointed RDD's plan is unique per
    instance), so rows mixed warm and cold semantics depending on an
    implementation detail. Now every run pays its full cost; compare r6+
    cells to prior rounds' cells only with this in mind."""
    from big_data_player_analysis_spark.caching import release_tracked

    times = []
    for _ in range(2):
        t0 = time.time()
        try:
            build().write.format("noop").mode("overwrite").save()
            times.append(time.time() - t0)
        finally:
            # release even on a throwing cell — leaked tracked blocks would
            # stay cached for every subsequent cell and skew their timings
            release_tracked()
    return round(min(times), 2)


def _repetition_profile_probe(docs):
    """Within-doc Gopher repetition signals over the scaled corpus: one
    fixed-width hash exchange of O(tokens) rows — linear by design."""
    from big_data_player_analysis_spark.operators.repetition import (
        repetition_profile,
    )

    return repetition_profile(docs, "doc_id", "text")


def _curation_pipeline_probe(docs):
    """The end-to-end mega-pipeline over the scaled corpus. Growth should
    be the max of its stages' rows (all individually near-linear); a
    super-linear cell means a fan-out stage lost its persist and re-runs
    upstream stages."""
    from pyspark.sql import functions as F

    from big_data_player_analysis_spark.functions.text import (
        predict_language,
        quality_score,
    )
    from big_data_player_analysis_spark.operators.chunking import (
        PACK_BUDGET,
        PACK_GROUPS,
        pack_sequences,
    )
    from big_data_player_analysis_spark.operators.dedup import (
        decontaminate,
        near_dedup_survivors,
    )
    from big_data_player_analysis_spark.operators.repetition import (
        REPEAT_MIN_DOCS,
        REPEAT_WINDOW_TOKENS,
        remove_repeated_windows,
    )
    from big_data_player_analysis_spark.registry.llm_ops import (
        CURATION_MIN_QUALITY,
        JACCARD_THRESHOLD,
        PIPE_DECONTAM_K,
        PIPE_DECONTAM_MIN_SHARED,
        SHINGLE_K,
    )

    pfx = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    train = docs.filter(pfx != "f")
    eval_docs = docs.filter(pfx == "f").select("doc_id", "text")
    gated = (
        train.select(
            "doc_id", "text",
            quality_score(F.col("text")).alias("_q"),
            predict_language(F.col("text")).alias("_lang"),
        )
        .filter((F.col("_q") >= CURATION_MIN_QUALITY) & (F.col("_lang") == "en"))
        .select("doc_id", "text")
    )
    cleaned = remove_repeated_windows(
        gated, "doc_id", "text",
        window_tokens=REPEAT_WINDOW_TOKENS, min_docs=REPEAT_MIN_DOCS,
    ).select("doc_id", F.col("clean_text").alias("text")).persist()
    surv = near_dedup_survivors(
        cleaned, "doc_id", "text", k=SHINGLE_K, threshold=JACCARD_THRESHOLD
    ).persist()
    contaminated = decontaminate(
        surv.select("doc_id", "text"), eval_docs, "doc_id", "text",
        k=PIPE_DECONTAM_K, min_shared=PIPE_DECONTAM_MIN_SHARED,
    ).select(F.col("train_id").alias("doc_id"))
    final = surv.join(contaminated, "doc_id", "left_anti").select(
        "doc_id", "group_size",
        F.size(F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"))
        .cast("long").alias("n_tokens"),
    )
    packed = pack_sequences(
        final, "doc_id", "n_tokens", budget=PACK_BUDGET, n_groups=PACK_GROUPS
    )
    return packed.join(final, "doc_id").select(
        "doc_id", "grp", "pack_id", "off", "n_tokens", "group_size"
    )


def _title_hamming_probe(docs):
    from big_data_player_analysis_spark.operators.dedup import (
        title_hamming_pairs,
    )

    return title_hamming_pairs(docs, "doc_id", "text")


def _phash_probe(docs):
    from big_data_player_analysis_spark.multimodal import (
        attach_synth_payload,
        dhash_signatures,
        synth_textured_bmp_payload,
    )
    from big_data_player_analysis_spark.operators.dedup import hamming_sig_pairs

    media = attach_synth_payload(docs.select("doc_id"), "doc_id", synth_textured_bmp_payload)
    return hamming_sig_pairs(
        dhash_signatures(media), "doc_id", "sig", max_dist=6
    )


def _jpeg_probe(docs):
    from big_data_player_analysis_spark.multimodal import (
        attach_synth_payload,
        decode_jpeg_features,
        synth_jpeg_payload,
    )

    return decode_jpeg_features(
        attach_synth_payload(docs.select("doc_id"), "doc_id", synth_jpeg_payload)
    )


def _mjpeg_probe(docs):
    from big_data_player_analysis_spark.multimodal import (
        attach_synth_payload,
        decode_mjpeg_frames,
        synth_mjpeg_avi_payload,
    )

    return decode_mjpeg_frames(
        attach_synth_payload(docs.select("doc_id"), "doc_id", synth_mjpeg_avi_payload)
    )


def _ipframe_probe(docs):
    from big_data_player_analysis_spark.multimodal import (
        attach_synth_payload,
        decode_ipframe_frames,
        synth_ipframe_avi_payload,
    )

    return decode_ipframe_frames(
        attach_synth_payload(docs.select("doc_id"), "doc_id", synth_ipframe_avi_payload)
    )


def _mcframe_probe(docs):
    from big_data_player_analysis_spark.multimodal import (
        attach_synth_payload,
        decode_mcframe_frames,
        synth_mcframe_avi_payload,
    )

    return decode_mcframe_frames(
        attach_synth_payload(docs.select("doc_id"), "doc_id", synth_mcframe_avi_payload)
    )


def _bpe_probe(docs):
    from big_data_player_analysis_spark.plans.bpe import bpe_merges_df

    return bpe_merges_df(docs, "text", n_merges=8)


def _ks_drift_probe(docs):
    """Binned-ECDF KS drift per source (registry olap_ks_drift). The
    scaled docs lack n_chars, so bin on length(text): the only
    corpus-sized exchange is the (source, bin) partial count — the row
    should be scan-bound."""
    from pyspark.sql import Window as W

    b = docs.select(
        "source",
        F.floor(F.length(F.coalesce("text", F.lit(""))) / 8)
        .cast("long")
        .alias("bin"),
    )
    sb = b.groupBy("source", "bin").agg(F.count(F.lit(1)).alias("c"))
    tot = sb.groupBy("source").agg(F.sum("c").alias("n"))
    corpus = sb.groupBy("bin").agg(F.sum("c").alias("cc"))
    grand = corpus.agg(F.sum("cc").alias("g"))
    grid = (
        tot.crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(grand))
        .join(sb, ["source", "bin"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
    )
    w = W.partitionBy("source").orderBy("bin")
    cdf = grid.select(
        "source",
        (F.sum("c").over(w) / F.col("n").cast("double")).alias("f_src"),
        (
            (F.sum("cc").over(w) - F.sum("c").over(w))
            / (F.col("g") - F.col("n")).cast("double")
        ).alias("f_rest"),
    )
    return (
        cdf.groupBy("source")
        .agg(F.round(F.max(F.abs(F.col("f_src") - F.col("f_rest"))), 6).alias("ks"))
        .orderBy(F.desc("ks"), F.asc("source"))
        .limit(5)
    )


def _heavy_ngrams_probe(docs):
    """Exact phi-heavy bigrams via per-partition Misra-Gries candidates +
    exact verify (registry llm_heavy_ngrams_sketch). The row should be
    scan-bound: the only exchanges carry P*k summary rows and the
    verify counts."""
    from big_data_player_analysis_spark.functions.text import word_ngrams
    from big_data_player_analysis_spark.operators.profiling import (
        heavy_hitters_mg,
    )

    grams = docs.select(F.explode(word_ngrams(F.col("text"), 2)).alias("gram"))
    return heavy_hitters_mg(grams, "gram", phi=0.001, k=4000)


def _zorder_probe(docs):
    from big_data_player_analysis_spark.operators.layout import zorder_key

    q = docs.select(
        "doc_id",
        F.pmod(F.xxhash64("doc_id"), F.lit(256)).alias("x"),
        F.pmod(F.length("text").cast("long"), F.lit(256)).alias("y"),
    )
    return q.select("doc_id", zorder_key(["x", "y"], 8).alias("zvalue"))


def _cdc_probe(docs):
    """MERGE-shaped upsert over a docs-derived snapshot: the snapshot is
    the corpus (scales with the probe), the change batch a fixed-rate
    derived subset — the production ratio. Near-linear growth = the
    broadcast-left-join decomposition holds (a full-outer formulation
    would re-shuffle the snapshot every batch)."""
    from big_data_player_analysis_spark.operators.cdc import cdc_upsert

    snap = docs.select("doc_id", "source", F.length("text").cast("double").alias("score"))
    changes = (
        docs.filter(F.pmod("doc_id", F.lit(50)) < 3)
        .select(
            "doc_id",
            F.when(F.pmod("doc_id", F.lit(50)) == 0, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            (F.length("text") * 2).cast("double").alias("score"),
        )
    )
    return cdc_upsert(snap, changes, "doc_id", ["score"])


def url_dedup(docs):
    """Registry-shaped URL canonical dedup: synthesize a crawl URL per doc
    and exact-dedup on the canonical form."""
    url = F.concat(
        F.lit("HTTP://WWW.Example.com:80/p/"),
        F.pmod("doc_id", F.lit(50)).cast("string"),
        F.lit("?utm_campaign=x&b=2&a=1#f"),
    )
    return (
        docs.select(canonicalize_url(url).alias("canonical_url"), "doc_id")
        .groupBy("canonical_url")
        .agg(F.min("doc_id").alias("keep_doc"), F.count(F.lit(1)).alias("n_copies"))
    )


def probe_set(docs, emb, events=None, factor=1, events_path=None, docs_path=None):
    """name -> zero-arg builder; timed() constructs the plan per run so
    operator-internal persist marks survive the preceding clearCache.
    ``events`` is optional so older two-table call sites (warmup) still
    work; when present the events-derived probes are included. ``factor``
    lets occupancy-knob operators grow their granularity with the corpus
    (semantic dedup widens its bucket count with n — the SemDeDup
    contract holds k/n roughly constant, and the probe measures THAT
    operating curve, not a fixed-k quadratic). ``events_path`` (a parquet
    dir of the scaled events) enables the streaming probe: a REAL
    availableNow micro-batch run per timing, checkpoint + watermark +
    windowed-state cost included."""

    from big_data_player_analysis_spark.operators.dedup import (
        dedup_embedding_cosine,
        dedup_embedding_cosine_auto,
        near_dedup_survivors,
        semantic_dedup,
    )
    from big_data_player_analysis_spark.operators.similarity import ann_lsh_buckets
    from big_data_player_analysis_spark.multimodal import (
        attach_synth_payload,
        decode_png_features,
        synth_png_payload,
    )

    extra = {}
    if events is not None:
        extra["q00_duel_edges"] = lambda: duels_probe(events)
        extra["q16_heroic_iterative"] = lambda: heroic_probe(events)

        def scd2_probe():
            from pyspark.sql import Window as W

            w = W.partitionBy("user_id").orderBy("ts", "event_id")
            return events.select(
                "user_id",
                F.col("value").alias("val"),
                F.col("ts").alias("valid_from"),
                F.lead("ts").over(w).alias("valid_to"),
                F.lead("ts").over(w).isNull().alias("is_current"),
            )

        extra["olap_scd2_history"] = scd2_probe

        def transitions_probe():
            from pyspark.sql import Window as W

            w = W.partitionBy("user_id").orderBy("ts", "event_id")
            pairs = events.select(
                F.col("event_type").alias("from_type"),
                F.lead("event_type").over(w).alias("to_type"),
            ).filter(F.col("to_type").isNotNull())
            counts = pairs.groupBy("from_type", "to_type").agg(
                F.count(F.lit(1)).alias("n")
            )
            return counts.select(
                "from_type",
                "to_type",
                "n",
                (
                    F.col("n").cast("double")
                    / F.sum("n").over(W.partitionBy("from_type"))
                ).alias("p"),
            )

        # one user_id exchange + a |types|^2 aggregate: the row should be
        # window-sort-bound (n log n within partitions), never agg-bound
        extra["olap_event_transitions"] = transitions_probe

        def skew_probe():
            from big_data_player_analysis_spark.operators.profiling import (
                key_skew_profile,
            )

            return key_skew_profile(events, "user_id")

        # exact percentiles from the count-of-counts histogram: the row
        # should stay scan-bound (near-linear) because the quantile stage
        # is O(histogram), not O(distinct keys)
        extra["olap_key_skew_profile"] = skew_probe

        def hll_probe():
            from big_data_player_analysis_spark.operators.profiling import (
                hll_distinct_shard_merge,
            )

            return hll_distinct_shard_merge(events, "user_id", "event_id")

        # sketch exchange is O(shards * 1.5KB) at every scale — the row
        # should grow only with the scan
        extra["olap_hll_shard_merge"] = hll_probe

        def triangle_probe():
            from pyspark.sql import Window as W

            from big_data_player_analysis_spark.operators.graph import (
                triangle_count,
            )

            w = W.partitionBy("event_type").orderBy("ts", "event_id")
            duels = events.select(
                F.col("user_id").alias("a"),
                F.lead("user_id").over(w).alias("b"),
            ).filter(F.col("b").isNotNull())
            return triangle_count(duels, "a", "b")

        # degree-oriented wedge join: growth should track wedge volume
        # (bounded O(E^1.5)), never the naive O(E * d_max^2)
        extra["olap_triangle_count"] = triangle_probe

        def gap_fill_probe():
            from big_data_player_analysis_spark.operators.timeseries import (
                gap_fill_daily,
            )

            return gap_fill_daily(events, "user_id", "ts", "value")

        # two shuffles (daily agg + lead window) + output-sized explode:
        # the row should stay scan/output-bound
        extra["olap_gap_fill"] = gap_fill_probe

        def rolling_probe():
            from big_data_player_analysis_spark.operators.timeseries import (
                rolling_average_daily,
            )

            return rolling_average_daily(events, "user_id", "ts", "value")

        # gap fill + one extra frame pass on the SAME partitioning: the
        # row should track olap_gap_fill, no new exchange
        extra["olap_rolling_average"] = rolling_probe

        def anomaly_probe():
            from big_data_player_analysis_spark.operators.timeseries import (
                anomaly_zscore_daily,
            )

            return anomaly_zscore_daily(events, "user_id", "ts", "value")

        # two window aggregates on one shared frame spec: same contract
        extra["olap_anomaly_zscore"] = anomaly_probe

        def binning_probe():
            from big_data_player_analysis_spark.operators.profiling import (
                quantile_binning,
            )

            return quantile_binning(
                events.select("event_id", "value"), "event_id", "value"
            )

        # bounded sample aggregate + broadcast boundary compare: the row
        # should stay scan-bound (the naive ntile form is a global sort)
        extra["olap_quantile_binning"] = binning_probe

        def bigram_probe():
            from big_data_player_analysis_spark.operators.lm import (
                bigram_surprisal,
            )

            return bigram_surprisal(docs, "doc_id", "text")

        # corpus-count shuffles move (w1, w2, count) rows, never token
        # instances: growth should track distinct-bigram volume
        extra["llm_bigram_surprisal"] = bigram_probe
    if docs_path is not None:

        def ingest_probe():
            from big_data_player_analysis_spark.streaming.ingest import (
                stream_near_dedup_ingest,
            )
            from big_data_player_analysis_spark.workspace import scratch_dir

            with scratch_dir("ingest-probe") as scratch:
                return stream_near_dedup_ingest(
                    docs.sparkSession, docs_path, f"{scratch}/corpus", f"{scratch}/ckpt"
                ).localCheckpoint(eager=True)

        extra["stream_near_dedup_ingest"] = ingest_probe

        def curation_ingest_probe():
            from big_data_player_analysis_spark.streaming.curation import (
                stream_curation_ingest,
            )
            from big_data_player_analysis_spark.workspace import scratch_dir

            with scratch_dir("curate-probe") as scratch:
                return stream_curation_ingest(
                    docs.sparkSession, docs_path, f"{scratch}/corpus", f"{scratch}/ckpt"
                ).localCheckpoint(eager=True)

        # per-batch gate + line-dedup + survivor closure + incremental
        # anti-join: should track stream_near_dedup_ingest's row plus the
        # gate/window costs, all near-linear
        extra["stream_curation_ingest"] = curation_ingest_probe
    if events_path is not None:
        from big_data_player_analysis_spark.streaming.events import (
            events_stream,
            run_stream_to_table,
        )
        from big_data_player_analysis_spark.streaming.windows import (
            tumbling_event_stats,
        )

        def stream_probe():
            spark = docs.sparkSession
            return run_stream_to_table(
                tumbling_event_stats(events_stream(spark, events_path)),
                "complete",
            )

        extra["stream_tumbling_counts"] = stream_probe

        def outer_join_probe():
            from big_data_player_analysis_spark.streaming.joins import (
                interval_join,
            )

            spark = docs.sparkSession
            src = events_stream(spark, events_path)
            p = src.filter(F.col("event_type") == "purchase").select(
                "event_id", "user_id", "ts"
            )
            c = src.filter(F.col("event_type") == "click").select(
                "event_id", "user_id", "ts"
            )
            return run_stream_to_table(
                interval_join(
                    p, c, on="user_id", lookback="30 minutes", how="leftOuter"
                ),
                "append",
            )

        # join state is bounded by watermark + interval: growth should
        # track the event volume (per-batch work), never state size
        extra["stream_outer_interval_join"] = outer_join_probe

        def mv_probe():
            from big_data_player_analysis_spark.streaming.mv import (
                stream_incremental_mv,
            )
            from big_data_player_analysis_spark.workspace import scratch_dir

            spark = docs.sparkSession
            with scratch_dir("mv-probe") as scratch:
                return stream_incremental_mv(
                    spark, events_path, f"{scratch}/mv", f"{scratch}/ckpt"
                ).localCheckpoint(eager=True)

        # foreachBatch merge: batch scan + O(keys) snapshot per batch
        extra["stream_incremental_mv"] = mv_probe
    return {
        # documented-quadratic exact product (blocked GEMM): the SCALE row
        # exists to show the 16x cell grows ~256x in flops but stays
        # BLAS-bound and partition-parallel, not to claim linearity
        "dedup_embedding_cosine": lambda: dedup_embedding_cosine(
            emb, "vec_id", "embedding", 0.45
        ),
        # the REGISTERED entry's path (round-9): count-derived dispatch —
        # exact blocked GEMM <= 32k rows (the 1x/4x cells), ann_lsh_buckets
        # above (16x/64x); the row should read at/below linear past the
        # dispatch point because the quadratic never runs there
        "dedup_embedding_cosine_auto": lambda: dedup_embedding_cosine_auto(
            emb, "vec_id", "embedding", 0.45
        ),
        "llm_near_dedup_survivors": lambda: near_dedup_survivors(
            docs, "doc_id", "text"
        ),
        "multimodal_png_decode": lambda: decode_png_features(
            attach_synth_payload(docs, "doc_id", synth_png_payload)
        ),
        # baseline JFIF huffman+IDCT decode: narrow per-doc Arrow map like
        # the PNG row (payload bytes never leave the scan split), so the
        # row should read linear — per-doc cost is blocks * (entropy
        # decode + one 8x8 float IDCT)
        "multimodal_jpeg_decode": lambda: _jpeg_probe(docs),
        # MJPEG-AVI: container walk + per-frame JPEG decode — same
        # narrow-map shape as the still-image row, ~2.5 frames/doc
        "multimodal_mjpeg_decode": lambda: _mjpeg_probe(docs),
        # I/P inter-frame codec: same narrow-map shape, plus the
        # per-document SEQUENTIAL residual reconstruction — parallelism
        # is the document axis, so the row should still read linear
        "multimodal_ipframe_decode": lambda: _ipframe_probe(docs),
        # motion-compensated codec (round-9): per-block MV parse +
        # pixel-window prediction on top of the ipframe fold; same
        # document-axis parallelism, row should read linear
        "multimodal_mcframe_decode": lambda: _mcframe_probe(docs),
        # banded hyperplane-LSH, signature width AUTO-SIZED from a corpus
        # count (round-8): per-band candidates ~ occupancy * n / 2 by
        # construction, so this row should now read ~linear where the
        # fixed 16-bit demo width measured 120x on the 10x step
        "ann_lsh_pairs": lambda: ann_lsh_buckets(emb, "vec_id", "embedding", 0.45),
        **extra,
        "dedup_exact": lambda: dedup_exact(docs, "doc_id", "text"),
        # segment-pigeonhole blocking: candidate volume is sum of
        # C(bucket,2) over (seg_idx, seg) buckets; rotated-alphabet copies
        # put every rotation class in disjoint buckets, so density stays
        # constant and the row should read near-linear
        "llm_title_hamming_dedup": lambda: _title_hamming_probe(docs),
        "llm_curation_pipeline": lambda: _curation_pipeline_probe(docs),
        # within-doc Gopher repetition (round-9 optimization): pure
        # per-document projection, ZERO exchanges (sorted-run-length scan
        # per gram order) — the row should read linear at every step
        "llm_repetition_profile": lambda: _repetition_profile_probe(docs),
        "dedup_ngram_jaccard": lambda: dedup_ngram_jaccard(
            docs, "doc_id", "text", 8, 0.6, 20
        ),
        # the REGISTERED entry's path (round-9): exact rare-shingle
        # candidates <= 32k rows, minhash bands above — past the dispatch
        # point this row should track dedup_minhash_lsh's
        "dedup_ngram_jaccard_auto": lambda: dedup_ngram_jaccard_auto(
            docs, "doc_id", "text", 8, 0.6, 20
        ),
        "dedup_minhash_lsh": lambda: dedup_minhash_lsh(docs, "doc_id", "text", 8, 0.6),
        "dedup_simhash": lambda: dedup_simhash(docs, "doc_id", "text", 8),
        # web-scale operating point: 16-bit buckets keep candidate volume
        # ~ n^2/2^16 per band vs the strict contract's n^2/2^7
        "dedup_simhash_web": lambda: dedup_simhash(
            docs, "doc_id", "text", 8, max_hamming=3, n_bands=4
        ),
        "knn_join_vectorized": lambda: knn_join_vectorized(
            emb, emb.filter(F.col("vec_id") < 5), k=3
        ),
        # the operator's own adaptive occupancy rule (bits from |df|, ~32
        # vectors/bucket — identical widths to the old explicit
        # 6 + log2(factor) at every probed scale), so the row measures the
        # DEFAULT operating curve; within-bucket work per vector is
        # constant and the row should read near-linear
        "llm_semantic_dedup": lambda: semantic_dedup(emb, "vec_id", "embedding", 0.4),
        "llm_chunk_fixed": lambda: chunk_fixed(docs, "doc_id", "text"),
        "llm_cdc_chunks": lambda: cdc_chunks(docs, "doc_id", "text"),
        "llm_line_dedup": lambda: remove_repeated_windows(docs, "doc_id", "text"),
        "llm_substring_dup_spans": lambda: duplicate_span_profile(
            docs, "doc_id", "text"
        ),
        # the rewrite half: same span machinery + one keyed span join and
        # a codegen'd token filter — should track the profile row
        "llm_substring_dedup": lambda: remove_duplicate_spans(
            docs, "doc_id", "text"
        ),
        "llm_heavy_ngrams_sketch": lambda: _heavy_ngrams_probe(docs),
        "olap_ks_drift": lambda: _ks_drift_probe(docs),
        "llm_shard_assign": lambda: shard_assign(docs, "doc_id", 16).select(
            "doc_id", "shard", "pos"
        ),
        "llm_pack_sequences": lambda: pack_sequences(
            docs.select(
                "doc_id",
                F.size(
                    F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
                ).cast("long").alias("nt"),
            ),
            "doc_id",
            "nt",
        ),
        "llm_apply_mix": lambda: apply_mix(docs, "doc_id", "source", "text"),
        "llm_top_ngrams": lambda: docs.select(
            F.explode(word_ngrams(F.col("text"), 2)).alias("gram")
        )
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("gram"))
        .limit(20),
        "llm_url_canonical_dedup": lambda: url_dedup(docs),
        # iterative tokenizer training: histogram is the corpus-sized job;
        # the 8 merge iterations run over the vocab table, which grows
        # with the rotated-alphabet corpus (every copy's words are new)
        "llm_bpe_train": lambda: _bpe_probe(docs),
        "olap_zorder_key": lambda: _zorder_probe(docs),
        "olap_cdc_upsert": lambda: _cdc_probe(docs),
        "multimodal_audio_decode": lambda: decode_audio_features(
            attach_synth_payload(docs, "doc_id", synth_wav_payload)
        ),
        # dHash decode is a narrow per-doc map (payload bytes never leave
        # the scan); pair volume is planted-density-constant (one planted
        # pair per PHASH_PLANT_MOD ids at every scale, ids stay distinct
        # across copies), so candidates from the 9-way bit-segment
        # pigeonhole join grow linearly with the corpus
        "multimodal_phash_dedup": lambda: _phash_probe(docs),
    }


def main():
    scales = [1, 4, 16]
    only: set[str] | None = None
    reset_only = False
    argv = sys.argv[1:]
    while argv:
        if argv[0] == "--scales" and len(argv) > 1:
            scales = [int(x) for x in argv[1].split(",")]
            argv = argv[2:]
        elif argv[0] == "--only" and len(argv) > 1:
            # fill/refresh a subset of probe rows without re-running the
            # whole battery (the sidecar merge keeps every other cell).
            # CAUTION: the merge takes min(new, prior) per cell — right
            # for re-measuring UNCHANGED code under load noise, wrong for
            # a changed implementation (a faster prior run of the OLD
            # code silently survives — round-8 found q16's whole row
            # stale this way). For changed entries pass --reset too.
            only = set(argv[1].split(","))
            argv = argv[2:]
        elif argv[0] == "--reset":
            # drop the named entries' prior sidecar cells before merging,
            # so every reported cell is measured on the CURRENT code
            reset_only = True
            argv = argv[1:]
        elif argv[0] == "--render-only":
            # re-render SCALE.md from the committed sidecar (template or
            # note edits) without burning a measurement run
            sidecar = os.path.join(os.path.dirname(__file__), "scale_results.json")
            with open(sidecar) as f:
                prior = json.load(f)
            render_scale_md(
                {n: {int(s): v for s, v in per.items()}
                 for n, per in prior["results"].items()},
                {int(s): n for s, n in prior.get("rows", {}).items()},
                prior.get("n_invocations", 1),
            )
            print("re-rendered SCALE.md from", sidecar)
            return
        else:
            raise SystemExit(f"unknown arg {argv[0]!r}")
    from big_data_player_analysis_spark.workspace import clean_scratch

    clean_scratch()  # reclaim any dead-run leftovers before spinning up
    spark = get_spark("bdpa-scale-probe")
    base_docs = load_table(spark, SF_DIR, "documents")
    base_emb = load_table(spark, SF_DIR, "embeddings")
    base_events = load_table(spark, SF_DIR, "events")
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    def probes(docs, emb, events, factor=1, events_path=None, docs_path=None):
        full = probe_set(
            docs, emb, events, factor=factor,
            events_path=events_path, docs_path=docs_path,
        )
        return {n: b for n, b in full.items() if only is None or n in only}

    from big_data_player_analysis_spark.workspace import cache_root

    def _write_cached(df, kind: str, factor: int) -> str:
        """Materialize a scaled probe table ONCE per (kind, factor) in the
        reused cache tier — the composition is deterministic, so a prior
        run's copy is byte-identical and re-materializing it just burns
        disk and time (round-4 left 200 MB of these in bare /tmp)."""
        path = os.path.join(cache_root(), f"scale_probe_{kind}", f"{factor}x")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            df.write.mode("overwrite").parquet(path)
        return path

    def write_events(events, factor: int) -> str:
        return _write_cached(events, "events", factor)

    def write_docs(docs, factor: int) -> str:
        return _write_cached(docs, "docs", factor)

    # Warmup: run every probe once untimed at 1x so the first timed scale
    # doesn't absorb codegen/JIT/broadcast initialization.
    wdocs = scaled_docs(spark, base_docs, 1).persist()
    wemb = scaled_embeddings(spark, base_emb, 1).persist()
    wev = scaled_events(spark, base_events, 1).persist()
    for build in probes(
        wdocs, wemb, wev,
        events_path=write_events(wev, 1), docs_path=write_docs(wdocs, 1),
    ).values():
        timed(build)
    wdocs.unpersist()
    wemb.unpersist()
    wev.unpersist()
    # The dedup operators persist internal intermediates (signatures,
    # candidates); the factor-1 plans are identical to the warmup plans, so
    # without a cache flush the 1x timings would be cache hits, not work.
    spark.catalog.clearCache()

    results: dict[str, dict[int, float]] = {}
    rows: dict[int, int] = {}
    for s in scales:
        docs = scaled_docs(spark, base_docs, s).persist()
        emb = scaled_embeddings(spark, base_emb, s).persist()
        events = scaled_events(spark, base_events, s).persist()
        rows[s] = docs.count()
        emb.count()
        events.count()
        ev_path = write_events(events, s)
        d_path = write_docs(docs, s)
        for name, build in probes(
            docs, emb, events, factor=s, events_path=ev_path, docs_path=d_path
        ).items():
            results.setdefault(name, {})[s] = timed(build)
            # drop THIS probe's operator-internal persists (shingle tables,
            # signatures, candidates) before timing the next one — retained
            # caches from a prior operator otherwise cost the next one
            # eviction/GC time it never asked for; re-persist the inputs the
            # loop still needs
            spark.catalog.clearCache()
            docs.persist().count()
            emb.persist().count()
            events.persist().count()
        docs.unpersist()
        emb.unpersist()
        events.unpersist()

    # Merge with prior invocations: this host's external load bursts
    # (sustained loadavg 20-30 with zero in-container consumers) inflate
    # whole probe runs; the min per cell across repeated invocations is
    # the best available estimator of the uncontended cost. The sidecar
    # is reset whenever an operator implementation changes (git history
    # ties each sidecar update to the code it measured).
    sidecar = os.path.join(os.path.dirname(__file__), "scale_results.json")
    n_invocations = 1
    if os.path.exists(sidecar):
        with open(sidecar) as f:
            prior = json.load(f)
        n_invocations = prior.get("n_invocations", 1) + 1
        if reset_only and only:
            for name in only:
                prior.get("results", {}).pop(name, None)
        for name, per in prior.get("results", {}).items():
            for s, v in per.items():
                s = int(s)
                if s in results.get(name, {}):
                    results[name][s] = min(results[name][s], v)
                else:
                    results.setdefault(name, {})[s] = v
        # measured row counts persist alongside timings (round-3 ADVICE:
        # the 5000*s fallback silently mislabels columns if the base
        # corpus ever changes size)
        for s, n in prior.get("rows", {}).items():
            rows.setdefault(int(s), n)
    with open(sidecar, "w") as f:
        json.dump(
            {
                "n_invocations": n_invocations,
                "rows": {str(s): n for s, n in rows.items()},
                "results": {
                    n: {str(s): v for s, v in per.items()}
                    for n, per in results.items()
                },
            },
            f,
            indent=1,
        )

    render_scale_md(results, rows, n_invocations)
    print(json.dumps({"rows": rows, "results": results}))


def render_scale_md(results, rows, n_invocations) -> None:
    # The table always shows EVERY scale present in the merged results,
    # not just this invocation's --scales: a partial invocation (run to
    # fill one new operator or one scale while the host is contended)
    # must never drop the other columns from the committed record.
    all_scales = sorted({int(s) for per in results.values() for s in per})
    base_rows = rows.get(all_scales[0], "?")

    def cell(per: dict, s: int) -> str:
        return f"{per[s]}s" if s in per else "—"

    def label(s: int) -> str:
        # measured row counts only (persisted across invocations); a scale
        # never measured in any invocation is labeled honestly as unknown
        return f"{s}x ({rows[s]} rows)" if s in rows else f"{s}x (? rows)"

    loadavg = open("/proc/loadavg").read().split()[:3]
    lines = [
        "# SCALE — wall seconds per operator at synthetic corpus scales",
        "",
        f"Base: sf0.1 documents ({base_rows} rows at 1x), local[32].",
        "Composed-text copies: no planted near-dups (workload size grows,",
        "semantics do not). Near-linear growth across the row = the",
        "candidate-generation design holds; quadratic would explode at 16x",
        "(dedup_embedding_cosine is documented-quadratic in flops: its row",
        "shows the blocked GEMM staying BLAS-bound, not linearity — block",
        "count auto-sizes from |df| so the per-task matrix stays ~0.5 GB at",
        "any scale (a fixed B=8 measured 333 s at 64x building 13 GB",
        "matrices; auto-B runs the same cell in 19 s);",
        "q16_heroic rows scale disjoint duel subgraphs so iteration count",
        "stays constant while edges grow; dedup_ngram_jaccard's exact",
        "any-shared-rare-shingle contract admits ~59 candidates/doc on",
        "this corpus, so its verify dominates — dedup_minhash_lsh, whose",
        "bands admit ~4 orders of magnitude fewer candidates for the same",
        "verified output, is the designed scale path, and dedup_simhash_web",
        "is the simhash web-scale operating point vs the strict <=8 row).",
        f"Each cell is the min over {n_invocations} probe invocation(s) x 2",
        "runs each (this host has sustained external load bursts that",
        "inflate wall times up to 6x; the min across repeats estimates the",
        f"uncontended cost; load average at last probe: {' '.join(loadavg)}).",
        "MEASUREMENT SEMANTICS (round 6, same change as bench.py): each",
        "run now releases its tracked persists/checkpoints, so every cell",
        "measures the COLD end-to-end cost. Pre-r6 cells for persist-based",
        "operators were cache-warmed minima (the second run read the first",
        "run's cached fragments via CacheManager plan matching) — e.g.",
        "dedup_minhash_lsh's 64x cell read 4.7 s warm where the true cold",
        "cost is ~42 s, ~30 s of which is the signature pandas_udf pass",
        "over 320k docs (linear, scan-proportional, embarrassingly",
        "parallel — the pre-shuffle narrow pass a 1000-executor run",
        "spreads with the scan). Compare r6+ cells to earlier rounds'",
        "only with this in mind; within-round growth ratios are the",
        "design signal either way.",
        "The one flagged 'cold regression' of round 6 is the same",
        "semantics change, not code: dedup_simhash_web's pre-r6 bench",
        "number (0.61 s sf0.1) was warm-by-sharing — dedup_simhash ran",
        "earlier in the suite and its tracked-persisted signature table",
        "(an IDENTICAL subplan: both entries share simhash_signatures)",
        "stayed cached, so simhash_web's 'first run' skipped the whole",
        "signature pass. Measured directly (r7): web cold 1.9 s; web run",
        "immediately after strict WITHOUT releasing caches 0.73 s ~= the",
        "old number. The 126-bit segmented-signature commit (68616b7)",
        "touched only the image pHash, not simhash; nothing to re-tune —",
        "the cold cost IS the signature pandas_udf pass, linear and",
        "scan-proportional.",
        "ann_lsh_pairs: round 8 closed the old super-linear row — the",
        "signature width now AUTO-SIZES from a corpus count",
        "(lsh_band_bits_for: 2^bits >= n/4 per band, 5 equal bands), so",
        "per-band candidate volume is ~2n by construction and the row",
        "should read ~linear where the fixed 16-bit demo width measured",
        "3.9 -> 243 s across 64x (the r7 cells). Recall tightens as",
        "width grows (hamming<=4 over more planes is a stricter angular",
        "test) — the published tradeoff of count-sized LSH; at required",
        "recall near brute-force density, dedup_embedding_cosine's",
        "blocked GEMM / llm_semantic_dedup's adaptive sign-buckets stay",
        "the designed alternatives.",
        "dedup_ngram_jaccard_auto / dedup_embedding_cosine_auto (round 9)",
        "are the REGISTERED entries' paths: a count-derived dispatch",
        "keeps the exact documented-quadratic path below 32k rows (the",
        "1x/4x cells and every driver gate SF) and routes to",
        "dedup_minhash_lsh resp. ann_lsh_buckets above it (16x/64x",
        "cells), so those rows should read at/below linear past the",
        "dispatch point — the quadratic constant never runs there. The",
        "raw exact rows stay recorded above for the flops story; the",
        "recall contracts of the routed paths are in the operator",
        "docstrings (minhash band collision >= 1-(1-t^4)^16; LSH",
        "hamming <= 4 pigeonhole).",
        "q00_duel_edges is the events->duels derivation itself (round-7",
        "wrong #1): ts-range-bucketed lead() windows — the corpus moves",
        "through ONE (event_type, bucket) exchange whose bucket count is",
        "load-adaptive (rows/256k clamped to [1, 65536]; 25 buckets at",
        "the 64x probe) instead of the old 5-task corpus sort; its row",
        "should read linear with small constants.",
        "olap_triangle_count (persist points re-tightened r9: the",
        "ORIENTED edge list — what the two wedge sides and the closing",
        "probe actually read — is now persisted alongside the canonical",
        "list, and the n_nodes/n_edges scalars fold into one pass over",
        "the degree table; sf0.1 4.7 -> 3.0 s, the round-8 flagged",
        "regression recovered). The trade surfaces at the 64x cell",
        "(~55 s vs the r8 code's ~46): caching 6M oriented structs",
        "costs ~20% there where recomputing the orientation joins over",
        "the cached inputs was cheaper — growth stays right at linear",
        "(13 -> 55 on the last 4x step), as the disjoint-copy",
        "composition predicts (oriented wedge volume is per-copy-constant",
        "x factor and the composed graph cannot develop hubs), consistent",
        "with SHUFFLE.md's exchange bytes; a deploy at petabyte edge",
        "counts would gate the oriented persist on available executor",
        "storage, the same knob every persist in this repo documents.",
        "llm_curation_pipeline is the end-to-end composition (quality gate",
        "-> line dedup -> near-dedup survivors -> decontaminate -> pack);",
        "its row should track the max of its stages' rows — a super-linear",
        "cell would mean a fan-out stage lost its persist and re-runs",
        "upstream stages.",
        "Round-6 re-measure: the six 64x cells round 5 recorded as",
        "super-linear on the final 4x step (olap_gap_fill 5.81s,",
        "llm_title_hamming_dedup 7.69s, multimodal_audio_decode 2.72s,",
        "llm_line_dedup 7.66s, olap_cdc_upsert 4.10s,",
        "llm_url_canonical_dedup 1.77s) were re-run under loadavg ~1 and",
        "all landed at/below ~4.5x per 4x step (1.65 / 2.71 / 1.49 / 4.38 /",
        "3.19 / 1.02 s) — the same host-load-burst failure mode the",
        "triangle-count re-measure established, consistent with their",
        "linear SHUFFLE.md exchange growth.",
        "",
        "| operator | "
        + " | ".join(label(s) for s in all_scales)
        + " |",
        "|---|" + "---|" * len(all_scales),
    ]
    for name, per in results.items():
        per = {int(s): v for s, v in per.items()}
        lines.append(
            f"| {name} | " + " | ".join(cell(per, s) for s in all_scales) + " |"
        )
    lines.extend(sf1_section())
    lines.extend(CORRECTNESS_AT_SCALE)
    text = "\n".join(lines) + "\n"
    with open("/root/repo/SCALE.md", "w") as f:
        f.write(text)


# Correctness evidence ABOVE the driver's sf0.01 hash gate (round-4 scale
# audit; re-run with `python tools/oracle_check.py <sf_dir> <filters>`).
CORRECTNESS_AT_SCALE = [
    "",
    "## Correctness at scale (DuckDB oracle above the sf0.01 driver gate)",
    "",
    "Hash-matched (rowcount + schema + order-insensitive value hash):",
    "",
    "- **sf0.1 (10x the gate)**: FULL SWEEP (round 5) — **131 ok + 8",
    "  rows-only + 0 FAIL: every oracle-paired entry hash-matches, no",
    "  exemptions** (plus the round-5 llm_curation_pipeline, green in a",
    "  separate sf0.1 run -> 132 oracle-paired total). The 5",
    "  recursive-closure entries that round 4 gated at sf0.01 (the",
    "  recursive CTE materializes full reachability — O(sum",
    "  |component|^2) rows) now verify through oracle_scale: an",
    "  iterative union-by-min union-find replay of the SAME",
    "  exact-Jaccard pair graph feeding the identical SQL tail, pinned",
    "  equal to the recursive form at the gate by",
    "  tests/test_closure_oracle.py.",
    "- **composed sf1 (100x)**: COMPLETE — every oracle-paired entry now",
    "  hash-matches at 100x the gate across recorded runs. The round-4",
    "  full sweep covered 123 of 131 (dedup_minhash_lsh verified",
    "  separately — 2,560 pairs; its exact-oracle join is 5.6G candidate",
    "  rows, DuckDB 396 s vs Spark's ~3 s); round 5 closed the residue:",
    "  the 5 closure entries via the union-find oracle_scale path",
    "  (dedup_components 4,770, llm_corpus_curation 20,462,",
    "  llm_near_dedup_survivors / best_quality 47,560 each,",
    "  stream_near_dedup_ingest 47,560), the two heavy exact-oracle",
    "  entries (dedup_ngram_jaccard 2,530, llm_dedup_incremental 890),",
    "  every operator whose round-5 change touched semantics",
    "  (llm_semantic_dedup, llm_substring_dup_spans,",
    "  olap_quantile_shard_merge), and the new round-5 entries",
    "  (llm_curation_pipeline 19,056, olap_variant_metrics).",
    "  Round 6 extended the record to its additions and reworks: the new",
    "  multimodal_phash_dedup hash-matches at sf1 via the blocked scale",
    "  oracle (brute-force pinned equal at the gate),",
    "  stream_curation_ingest matches at sf1 (20,517 curated survivors,",
    "  union-find oracle_scale), and dedup_components re-verifies at sf1",
    "  (4,770 rows) AFTER the one-job-per-sweep closure rework — plus",
    "  the full 441-test suite and the complete sf0.01 gate (136",
    "  oracle-paired ok, 0 FAIL) on the reworked code.",
    "  Round 7 extended the record to its oracle upgrades and reworks:",
    "  the four entries promoted from rows-only to hash-matched oracles",
    "  (dedup_simhash / dedup_simhash_web via the exact splitmix64",
    "  signature replay, ann_lsh_pairs via the hyperplane-sign replay,",
    "  q16_heroic_iterative via the 3-iteration unrolled damped update —",
    "  1,500 rows at sf0.1) all hash-match at sf0.1 alongside the NEW",
    "  multimodal_jpeg_decode (5,000 rows, DC-exact closed form through",
    "  a real huffman+IDCT decode) and the reworked",
    "  llm_curation_pipeline (scattered gate inputs, output unchanged):",
    "  6 ok, 0 FAIL at 10x the gate, plus the full 446-test suite and",
    "  the complete sf0.01 gate (140 oracle-paired ok + 5 rows-only,",
    "  0 FAIL) on the round-7 tree. At composed sf1,",
    "  multimodal_jpeg_decode, ann_lsh_pairs and dedup_simhash_web",
    "  hash-match (3 ok); q16's unrolled-3 oracle intentionally does",
    "  NOT apply there — the consistent-key composition interleaves",
    "  copies inside each event_type stream, and that graph CONVERGES",
    "  after 2 damped updates (msd 4.38 -> 0.044 <= tol) where the gate",
    "  data diverges-and-aborts after 3; the oracle is scoped to the",
    "  driver SFs by construction (registry/reference_surface.py note).",
    "",
    "This audit caught six round-4 defects the sf0.01 gate could not:",
    "the df-bounded jaccard oracle missing true pairs (minhash 2,560 vs",
    "2,530 at sf1 — Spark was right; fixed: SQL_SHINGLES_CTE_EXACT),",
    "double money sums drifting past the 1e-6 compare at scale",
    "(olap_scalar_correlated at sf0.1, q10_join_chain at sf1 -> DECIMAL",
    "in both engines), DuckDB's ln(0) erroring where numpy's geometric",
    "mean is 0 (olap_udaf_geometric_mean oracle guard), engine round()",
    "tie-flips on quality scores landing exactly on a 7th-digit half",
    "(now the portable floor(x*1e6+0.5)/1e6 in both engines), and Python",
    "workers failing to import the package from a non-repo cwd",
    "(get_spark now exports PYTHONPATH before the JVM launches).",
    "The former oracle-side limit — recursive-CTE closure oracles",
    "exceeding DuckDB's temp-disk at sf0.1+ — is closed by the",
    "union-find oracle_scale path (round 5); the recursive form remains",
    "the driver-gate oracle at sf0.01.",
]


def sf1_section() -> list[str]:
    """Render the composed-sf1 headline-bench sidecar (written by
    tools/record_sf1_bench.py after a
    `SPARK_GRAFT_SF_DIR=/tmp/bdpa_composed/sf1 python bench.py` run over
    tools/make_scaled_sf.py output) so SCALE.md keeps the order-of-
    magnitude evidence across probe rewrites."""
    side = os.path.join(os.path.dirname(__file__), "bench_sf1.json")
    if not os.path.exists(side):
        return []
    with open(side) as f:
        d = json.load(f)
    base = d.get("baseline_sf01", {})
    lines = [
        "",
        "## Headline suite at composed sf1 (10x sf0.1, consistent-key fact",
        "composition via tools/make_scaled_sf.py; shared region/nation dims;",
        "rotated-alphabet docs so duplicate density is constant)",
        "",
        f"Suite total: {d['value']}s at sf1 vs {base.get('value', '?')}s at "
        "sf0.1 (min of two interleaved passes each).",
        "",
        "| query | sf0.1 | sf1 (10x) | ratio |",
        "|---|---|---|---|",
    ]
    for name, v in d["queries"].items():
        b = base.get("queries", {}).get(name)
        ratio = f"{v / b:.1f}x" if b else "—"
        bcell = f"{b}s" if b is not None else "—"
        lines.append(f"| {name} | {bcell} | {v}s | {ratio} |")
    return lines


if __name__ == "__main__":
    main()
