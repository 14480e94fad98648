"""Join operators (reference ops Q5, Q9-Q11, Q14, SURVEY.md §2.2).

The reference implements every join as a reduce-side merge with key tagging
and custom sort comparators (reference exercise_4.py:64-165) — a MapReduce
artifact. Here joins are declarative: Catalyst chooses broadcast-hash for a
small build side (dimension tables) and sort-merge otherwise, and AQE can
switch strategy / split skewed partitions at runtime, which is the behavior
wanted at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_player_analysis_spark import gates
from big_data_player_analysis_spark.caching import tracked_persist


def enrich(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str] | Column,
    how: str = "inner",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Equi-join a fact table with a dimension (reference Q9/Q10 tagged
    reduce-side joins, exercise_4.py:64-123). broadcast_dim=True hints the
    planner when the caller knows the dim is small — at cluster scale this
    avoids shuffling the fact table entirely."""
    d = F.broadcast(dim) if broadcast_dim else dim
    return fact.join(d, on=on, how=how)


def broadcast_if_small(df: DataFrame) -> DataFrame:
    """Persist ``df``, count it, and hint a broadcast only when it holds at
    most gates.BROADCAST_MAX_ROWS rows. For sets whose size only the data
    decides (rare shingles, frequent windows, a new batch's bands): an
    unconditional hint OOMs when the set is corpus-sized, and without one
    Catalyst cannot broadcast a derived frame that has no size statistics.
    The count and the join read the same persisted blocks."""
    df = tracked_persist(df)
    return F.broadcast(df) if df.count() <= gates.BROADCAST_MAX_ROWS else df


def left_join_default(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    defaults: dict[str, float | int | str],
) -> DataFrame:
    """Left join, filling missing right-side columns with defaults
    (reference Q11: join against heroic scores, missing score => 1.0,
    exercise_4.py:126-165 with the default at :152)."""
    out = left.join(right, on=on, how="left")
    for col_name, default in defaults.items():
        out = out.withColumn(col_name, F.coalesce(F.col(col_name), F.lit(default)))
    return out


def domain_completion(
    df: DataFrame,
    universe: DataFrame,
    key: str,
    defaults: dict[str, float | int | str],
) -> DataFrame:
    """Complete a keyed table against a key universe, defaulting missing rows
    (reference Q5: players who never challenge still get a smoothed avg of
    1.0 via emitting zero-rows, exercise_4.py:14). Spark form: right join the
    universe + coalesce, so the universe drives the output domain."""
    out = universe.select(key).distinct().join(df, on=key, how="left")
    for col_name, default in defaults.items():
        out = out.withColumn(col_name, F.coalesce(F.col(col_name), F.lit(default)))
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_tiebreak: list[str] | None = None,
    tolerance_sec: float | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """Backward as-of join (absent in both the reference and stock Spark,
    SURVEY.md §2.4): for each left row, attach the right row with the
    greatest right_ts <= left_ts in the same `on` group; unmatched left
    rows keep nulls (left-join semantics).

    Implementation is the union + last-carry trick, the scalable form: tag
    both sides, sort within the key group by (ts, side) with right rows
    first on ties, and carry the latest right payload forward with
    last(ignorenulls) — ONE shuffle on the group key, no range cross
    product, no per-key driver loop. A naive non-equi join would be a
    BroadcastNestedLoopJoin (quadratic); this is O(n log n) per key.

    right_tiebreak orders right rows that share (key, right_ts) so the
    carried match is deterministic. tolerance_sec nulls out matches older
    than left_ts - tolerance.
    """
    keys = [on] if isinstance(on, str) else list(on)
    rcols = [c for c in right.columns if c not in keys]
    l = left.withColumn("_asof_t", F.col(left_ts)).withColumn("_asof_side", F.lit(1))
    r = right.select(
        *keys,
        F.col(right_ts).alias("_asof_t"),
        F.lit(0).alias("_asof_side"),
        F.struct(*rcols).alias("_asof_pay"),
    )
    u = l.unionByName(r, allowMissingColumns=True)
    order = [F.col("_asof_t"), F.col("_asof_side")] + [
        F.col(f"_asof_pay.{c}") for c in (right_tiebreak or [])
    ]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("_asof_m", F.last("_asof_pay", ignorenulls=True).over(w))
    out = matched.filter(F.col("_asof_side") == 1)
    if tolerance_sec is not None:
        too_old = (
            F.unix_micros(F.col("_asof_t"))
            - F.unix_micros(F.col(f"_asof_m.{right_ts}"))
        ) > int(tolerance_sec * 1_000_000)
        out = out.withColumn(
            "_asof_m", F.when(too_old, F.lit(None)).otherwise(F.col("_asof_m"))
        )
    picks = [
        F.col(f"_asof_m.{c}").alias(c + suffix if c in left.columns else c)
        for c in rcols
    ]
    return out.select(*left.columns, *picks)


def range_join(
    fact: DataFrame,
    intervals: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    bucket_width: float = 1.0,
) -> DataFrame:
    """Interval containment join: fact rows matched to every [lo, hi)
    interval containing fact[value_col].

    Scale path: a raw non-equi join is a nested-loop; instead both sides
    get a bucket key (floor(value / width); intervals explode to every
    bucket they overlap), the join becomes an equi hash join on the bucket,
    and the exact containment predicate filters within the bucket. Each
    fact row carries exactly one bucket, so no dedup is needed. Choose
    bucket_width ~ typical interval length: candidate volume is then
    O(matches), independent of the value domain."""
    fb = fact.withColumn(
        "_rj_bucket", F.floor(F.col(value_col) / F.lit(bucket_width)).cast("long")
    )
    ib = intervals.withColumn(
        "_rj_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bucket_width)).cast("long"),
                F.floor(F.col(hi_col) / F.lit(bucket_width)).cast("long"),
            )
        ),
    )
    return (
        fb.join(ib, "_rj_bucket")
        .filter((F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col)))
        .drop("_rj_bucket")
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str | list[str],
    num_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join: the skewed side gets a deterministic salt
    (row-content hash mod num_salts) appended to the join key; the other
    side replicates each row across all salt values. A hot key's rows then
    spread over num_salts shuffle partitions instead of one straggler task.

    AQE's skew-join split handles most cases at runtime; explicit salting
    remains for the cases AQE cannot fix — skew in a broadcast-ineligible
    build side, or aggregation-after-join pipelines where the salt also
    pre-spreads the groupBy. Result is identical to a plain join for
    inner/left joins (each skewed-side row matches exactly its salt's
    replica)."""
    keys = [on] if isinstance(on, str) else list(on)
    salt_src = [F.col(c) for c in skewed.columns]
    s = skewed.withColumn("_salt", F.pmod(F.xxhash64(*salt_src), F.lit(num_salts)))
    o = other.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(num_salts)]))
    )
    return s.join(o, keys + ["_salt"], how).drop("_salt")


def keyed_squared_difference(
    a: DataFrame,
    b: DataFrame,
    key: str,
    value: str,
    alias: str = "sq_diff",
) -> DataFrame:
    """Per-key squared difference of two score vectors (reference Q14,
    exercise_4.py:194-210 — implemented there by a union + sign-alternation
    trick assuming exactly two values per key; here an inner join, which has
    the same semantics when both sides are keyed uniquely)."""
    av = a.select(F.col(key), F.col(value).alias("_a"))
    bv = b.select(F.col(key), F.col(value).alias("_b"))
    return av.join(bv, on=key).select(
        F.col(key), F.pow(F.col("_a") - F.col("_b"), F.lit(2)).alias(alias)
    )
