"""Dedup / set operators (reference ops Q6, Q7, Q18, SURVEY.md §2.2-2.4).

distinct/dropDuplicates compile to a hash aggregate on the key columns —
partial dedup before the shuffle, so shuffle volume is O(distinct), the
right behavior when 100 TB of rows hold few distinct pairs.

band_rows and pair_join are the candidate step of every near-duplicate
and similarity pair generator (operators/dedup.py, operators/similarity.py):
rows are blocked on exact (band, key) values and paired by an equi-join,
never by an id_a < id_b theta join, which plans as a nested loop over all
n^2 pairs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def distinct_pairs(df: DataFrame, cols: list[str], reverse: bool = False) -> DataFrame:
    """Distinct projection of a column pair, optionally emitted reversed
    (reference Q6+Q7: dedup of (challenger, challenged) re-emitted as
    (challenged, challenger), exercise_3.py:10-22 and exercise_4.py:49-62)."""
    out = df.select(*cols).distinct()
    if reverse:
        out = out.select(*reversed([F.col(c) for c in cols]))
    return out


def key_universe(df: DataFrame, cols: list[str], alias: str = "id") -> DataFrame:
    """Distinct union of several key columns — the entity universe
    (reference Q18 first half: every player id seen on either side,
    exercise_4.py:36-47). ONE pass: a narrow explode of the column array
    instead of a UNION of per-column projections — the union form
    executed the input subtree once PER COLUMN, which doubles the whole
    events->duels derivation when the input is duel_edges (round-8 plan
    audit); explode keeps nulls as elements, so the output is identical
    to the union (both keep a null key if any column holds one)."""
    return df.select(
        F.explode(F.array(*[F.col(c) for c in cols])).alias(alias)
    ).distinct()


def rank_vector_init(
    df: DataFrame, cols: list[str], alias: str = "id", value: float = 1.0,
    value_alias: str = "score",
) -> DataFrame:
    """Initialize a rank vector to a constant over the key universe
    (reference Q18, exercise_4.py:36-47: every player starts at hs=1)."""
    return key_universe(df, cols, alias).withColumn(value_alias, F.lit(value))


def band_rows(df: DataFrame, keep: list[str], keys: list[Column]) -> DataFrame:
    """(*keep, band, key): one row per input row and band expression, band
    i carrying ``keys[i]`` as its key. The band index is part of the join
    key, so equal values in different bands never pair. One generator over
    an array of structs: every key is computed once per input row, and the
    exploded rows never leave their scan split."""
    bands = F.array(
        *[F.struct(F.lit(i).alias("band"), k.alias("key")) for i, k in enumerate(keys)]
    )
    return df.select(*keep, F.explode(bands).alias("_b")).select(
        *keep, "_b.band", "_b.key"
    )


def pair_join(rows: DataFrame, on: list[str], carry: Sequence[str] = ()) -> DataFrame:
    """(id_a, id_b, *c_a, *c_b): each distinct pair of ``rows`` ids that
    agree on every ``on`` column, ordered id_a < id_b, with each ``carry``
    column of both rows (suffixed _a/_b) for the caller's verification.

    Candidate volume is sum over the ``on`` groups of C(group size, 2):
    selectivity is the blocking key's job. A pair sharing several groups
    (bands) is emitted once, by a hash aggregate that combines map-side."""

    def side(s: str) -> DataFrame:
        carried = [F.col(c).alias(f"{c}_{s}") for c in carry]
        return rows.select(F.col("id").alias(f"id_{s}"), *carried, *on)

    return (
        side("a")
        .join(side("b"), on)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *[f"{c}_{s}" for s in "ab" for c in carry])
        .distinct()
    )
