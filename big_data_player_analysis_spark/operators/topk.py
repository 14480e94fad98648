"""Top-k operators (reference op Q17 + per-group generalization).

The reference forces all rows into ONE reduce group with a constant
comparator and takes the first 10 sorted values (reference
exercise_4.py:238-265) — a single-reducer bottleneck. The Spark plan is
TakeOrderedAndProject: each partition keeps a k-element heap, the driver
merges P*k candidates — O(rows) scan, O(P*k) merge, no bottleneck at any
scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_player_analysis_spark import gates


def top_k(df: DataFrame, order_by: list[Column], k: int = 10) -> DataFrame:
    """Global top-k. Pass fully deterministic order columns (include a
    tie-break key) so results are stable across partitionings."""
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    k: int,
    rank_alias: str = "rn",
) -> DataFrame:
    """Top-k within each group via row_number over a window — the general
    OLAP form the reference lacks (SURVEY.md §2.4). The window sort is
    per-group within the shuffle partition; no global sort. Low-cardinality
    groups stay safe because the rank<=k filter triggers the optimizer's
    WindowGroupLimit: each map task keeps only k rows per group BEFORE the
    exchange (pinned in tests/test_plans.py), so no reducer ever sorts a
    whole group."""
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn(rank_alias, F.row_number().over(w))
        .filter(F.col(rank_alias) <= F.lit(k))
    )


def distribution_ranks(
    df: DataFrame,
    part_col: str,
    value_col: str,
    tiebreak_col: str,
    n_tiles: int = 4,
    n_buckets: int | None = None,
) -> DataFrame:
    """ntile / percent_rank / cume_dist per partition WITHOUT a per-group
    global sort: the direct window —
    ``ntile(4) OVER (PARTITION BY part ORDER BY value, tiebreak)`` — sorts
    every group on one task, which is the duels-derivation scale-killer
    all over again when the partition key is low-cardinality (25 nations
    at any corpus size). Identical output, shuffle-parallel:

    1. range-bucket ``value`` (bounds from a memo-free 3-scalar driver
       agg; bucket count auto-sizes like the duels derivation's). Bucket
       is monotone in the FIRST order key, and value-ties land in one
       bucket, so within-bucket (value, tiebreak) order concatenates to
       the exact per-partition total order.
    2. row_number within (part, bucket) — many small local sorts.
    3. per-(part, bucket) counts form a TINY table; a running offset per
       part (window over the tiny table only) turns local row numbers
       into exact global ranks: rank = offset + rn.
    4. the rank statistics are closed-form in (rank, n): with a total
       order (the tiebreak makes peers impossible) percent_rank =
       (rank-1)/(n-1), cume_dist = rank/n, and ntile's uneven buckets
       (first n%t tiles get the extra row) are the documented SQL
       formula: rank <= r*(q+1) ? ceil(rank/(q+1)) : r + ceil((rank-r*(q+1))/q)
       for q, r = divmod(n, t).

    Column contract: returns df's columns plus quartile/pct_rank/cum_dist
    (names fixed to match olap_window_distribution's oracle).
    """
    _v = F.col(value_col).cast("double")
    # bounds over FINITE values only: Spark's max() ranks NaN above every
    # double, so one NaN row would otherwise make hi (and the bucket
    # arithmetic) NaN; NaN/null rows get explicit edge buckets below
    row = df.agg(
        F.min(F.when(~F.isnan(_v), _v)).alias("lo"),
        F.max(F.when(~F.isnan(_v), _v)).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    lo, hi, n_rows = row["lo"], row["hi"], row["n"]
    if n_buckets is None:
        n_buckets = gates.bucket_count(
            n_rows, gates.RANK_BUCKET_TARGET_ROWS, gates.RANK_BUCKET_MAX
        )
    if lo is None or hi is None or lo == hi or n_buckets <= 1:
        bkt = F.lit(0)
    else:
        span = float(hi) - float(lo)
        v = F.col(value_col).cast("double")
        # monotone in value (scaling by a positive constant preserves
        # IEEE order); clamp covers value == hi. NULL and NaN need
        # explicit buckets or the offsets join silently DROPS their rows:
        # ASC window order puts nulls FIRST (bucket 0) and NaN LAST
        # (bucket n-1, above every finite value — Spark sort semantics);
        # min/max aggregates ignore both, so lo/hi stay finite.
        bkt = (
            F.when(v.isNull(), F.lit(0))
            .when(F.isnan(v), F.lit(n_buckets - 1))
            .otherwise(
                F.least(
                    F.lit(n_buckets - 1),
                    F.floor((v - F.lit(float(lo))) / F.lit(span) * F.lit(n_buckets)),
                )
            )
            .cast("int")
        )
    with_b = df.withColumn("_bkt", bkt)
    w_in = Window.partitionBy(part_col, "_bkt").orderBy(value_col, tiebreak_col)
    ranked = with_b.withColumn("_rn", F.row_number().over(w_in))
    # tiny: n_parts x n_buckets rows, map-side combined
    counts = with_b.groupBy(part_col, "_bkt").agg(F.count(F.lit(1)).alias("_c"))
    w_off = (
        Window.partitionBy(part_col)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        part_col,
        "_bkt",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_c").over(Window.partitionBy(part_col)).alias("_n"),
    )
    # null-SAFE on the partition key (round-8 advice): groupBy and the
    # direct window both treat a NULL partition as its own group, but a
    # plain equi-join would silently drop its rows (NULL != NULL)
    off_r = offsets.select(
        F.col(part_col).alias("_pc"), F.col("_bkt").alias("_ob"), "_off", "_n"
    )
    out = ranked.join(
        F.broadcast(off_r),
        F.col(part_col).eqNullSafe(F.col("_pc")) & (F.col("_bkt") == F.col("_ob")),
    ).drop("_pc", "_ob")
    rank = F.col("_off") + F.col("_rn")
    n = F.col("_n")
    q = F.floor(n / n_tiles)
    r = n % n_tiles
    # when n < n_tiles, q == 0 and the first branch always fires (every
    # rank <= r); greatest(q, 1) keeps the dead otherwise-branch from
    # dividing by zero under ANSI mode
    tile = F.when(
        rank <= r * (q + 1), F.ceil(rank / (q + 1))
    ).otherwise(r + F.ceil((rank - r * (q + 1)) / F.greatest(q, F.lit(1))))
    return (
        out.withColumn("quartile", tile.cast("long"))
        .withColumn(
            "pct_rank",
            F.when(n == 1, F.lit(0.0)).otherwise(
                (rank - 1).cast("double") / (n - 1)
            ),
        )
        .withColumn("cum_dist", rank.cast("double") / n)
        .drop("_bkt", "_rn", "_off", "_n")
    )
