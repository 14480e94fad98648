"""Iterative heroic-score engine (reference exercise_4.py, ops Q4-Q18).

Semantics (reference exercise_4.py:267-283):
  1. smoothed avg score per challenger, domain-completed over every player
     seen on either side (missing players default to 1.0 = (0+1)/(0+1));
     reference exercise_4.py:10-34 with completion at :14.
  2. distinct duel edges (challenger, challenged); exercise_4.py:49-62.
  3. enrich edges with avg_challenger and avg_challenged; exercise_4.py:64-123.
  4. iterate:  hs'(c) = alpha * SUM over edges c->d of
                       [ hs(d) * avg(c) / avg(d) ]  + (1 - alpha)
     with hs(d) defaulting to 1.0 when d has no score yet
     (exercise_4.py:126-192, default at :152, damping at :180-184);
     stop when mean((hs - hs')^2) <= tol (exercise_4.py:194-236, 277).
  5. top-10 by final score (exercise_4.py:238-265).

Spark design for scale:
  * The edge table (the 100-TB side) is computed ONCE from one
    challenger-hashed aggregate, persisted, and stays hash-partitioned on
    challenger_id, the key of each iteration's groupBy; an iteration
    broadcasts the small score vector onto it and runs no exchange.
  * The score vector is localCheckpoint()ed every iteration to truncate
    lineage — without this the plan doubles per iteration and the driver
    dies long before convergence.
  * The convergence scalar is observed (pyspark.sql.Observation) while
    that checkpoint runs: the iteration's plan emits each player's
    (old - new)^2 next to the new score, so no separate probe job runs —
    and nothing is written and read back as in the reference
    (exercise_4.py:234-236).
  * Iteration 1 sees every score at 1.0, so it needs no join and no init
    vector.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from big_data_player_analysis_spark.caching import tracked_local_checkpoint
from big_data_player_analysis_spark.operators.aggregates import smoothed_avg
from big_data_player_analysis_spark.operators.joins import domain_completion
from big_data_player_analysis_spark.operators.setops import key_universe


@dataclass
class HeroicResult:
    scores: DataFrame          # (player_id, hs) — converged vector
    msd_history: list = field(default_factory=list)
    iterations: int = 0
    converged: bool = False
    diverged: bool = False     # aborted on monotonically growing msd


def smoothed_avg_completed(duels: DataFrame) -> DataFrame:
    """(player_id, avg_score): add-one smoothed avg per challenger, completed
    over the full player universe with the smoothing prior 1.0
    (reference Q4+Q5, exercise_4.py:10-34)."""
    avg = smoothed_avg(duels, "challenger_id", "score", alias="avg_score").withColumnRenamed(
        "challenger_id", "player_id"
    )
    universe = key_universe(duels, ["challenger_id", "challenged_id"], alias="player_id")
    return domain_completion(avg, universe, "player_id", {"avg_score": 1.0})


def edges_with_avgs(duels: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Distinct edges enriched with both endpoints' smoothed averages
    (reference Q6+Q9+Q10, exercise_4.py:49-123), hash-partitioned on
    challenger_id — the key of the per-iteration groupBy — so iterations
    over the persisted table never re-shuffle the big side.

    One challenger-hashed aggregate builds it. Duels are repartitioned on
    challenger_id, then (challenger, challenged) pairs take sum(score) and
    count(*), and each challenger's smoothed average is a window sum over
    its pairs; neither needs another exchange. avg_challenged comes from
    those per-challenger averages through a left broadcast join, with the
    smoothing prior 1.0 for players who never challenge (the reference's
    domain completion, exercise_4.py:14) and for challengers whose scores
    are all null. Null keys never form an edge (the reference joins are
    inner); a duel with a null challenged_id still counts towards its
    challenger's average, as in SQL_Q16_HEROIC.

    The pairs feed two consumers (the probe side and the broadcast build)
    with the same payload, so the exchanges below them, the events-sized
    duels window included, are reused rather than run twice. The broadcast
    is a hint, not left to AQE: a planned sort-merge join would
    re-shuffle the probe side on challenged_id and lose the partitioning
    the iterations rely on."""
    keyed = duels.filter(F.col("challenger_id").isNotNull())
    if num_partitions:
        keyed = keyed.repartition(num_partitions, "challenger_id")
    else:
        keyed = keyed.repartition("challenger_id")
    pairs = keyed.groupBy("challenger_id", "challenged_id").agg(
        F.sum("score").alias("_sum"), F.count(F.lit(1)).alias("_n")
    )
    per_challenger = Window.partitionBy("challenger_id")
    with_avg = pairs.select(
        "challenger_id",
        "challenged_id",
        F.coalesce(
            (F.sum("_sum").over(per_challenger) + F.lit(1.0))
            / (F.sum("_n").over(per_challenger) + F.lit(1.0)),
            F.lit(1.0),
        ).alias("avg_challenger"),
    )
    avg_by_challenged = with_avg.select(
        F.col("challenger_id").alias("challenged_id"),
        F.col("avg_challenger").alias("avg_challenged"),
    ).distinct()
    return (
        with_avg.filter(F.col("challenged_id").isNotNull())
        .join(F.broadcast(avg_by_challenged), on="challenged_id", how="left")
        .select(
            "challenger_id",
            "challenged_id",
            "avg_challenger",
            F.coalesce("avg_challenged", F.lit(1.0)).alias("avg_challenged"),
        )
    )


def iteration_step(edges: DataFrame, hs: DataFrame | None, alpha: float) -> DataFrame:
    """One damped update: hs'(c) = alpha * SUM_{c->d} hs(d)*avg(c)/avg(d)
    + (1-alpha), with hs(d) defaulting to 1.0 (reference exercise_4.py:152,
    :180-184). hs=None is the init vector, every score at 1.0: since
    1.0 * x == x exactly, that step needs no join at all. Exposed as a
    named step so tests can pin its physical plan: a BroadcastHashJoin of
    the small score vector onto the persisted edge table (the big side
    never re-shuffles), then a sum grouped on the edges' own partitioning
    key."""
    if hs is None:
        contrib = edges.withColumn(
            "contrib", F.col("avg_challenger") / F.col("avg_challenged")
        )
    else:
        hs_by_challenged = F.broadcast(
            hs.select(
                F.col("player_id").alias("challenged_id"),
                F.col("hs").alias("hs_challenged"),
            )
        )
        contrib = (
            edges.join(hs_by_challenged, on="challenged_id", how="left")
            .withColumn("hs_challenged", F.coalesce("hs_challenged", F.lit(1.0)))
            .withColumn(
                "contrib",
                F.col("hs_challenged") * F.col("avg_challenger") / F.col("avg_challenged"),
            )
        )
    return contrib.groupBy(F.col("challenger_id").alias("player_id")).agg(
        (F.lit(alpha) * F.sum("contrib") + F.lit(1.0 - alpha)).alias("hs")
    )


def with_sq_diff(new_hs: DataFrame, hs: DataFrame | None) -> DataFrame:
    """(player_id, hs, sq_diff): the new vector with each player's
    (old - new)^2 against the previous vector (reference Q14,
    exercise_4.py:194-210), old = 1.0 for hs=None. Both vectors hold
    exactly the challengers, so the left join keeps every new row and
    matches the reference's keyed difference. The old vector is broadcast
    with the same aliased projection iteration_step broadcasts it under,
    so the two joins share one broadcast and the step has no exchange."""
    if hs is None:
        old = F.lit(1.0)
    else:
        prev = F.broadcast(
            hs.select(F.col("player_id").alias("_prev_id"), F.col("hs").alias("_old"))
        )
        new_hs = new_hs.join(prev, F.col("player_id") == F.col("_prev_id"), "left")
        old = F.col("_old")
    return new_hs.select(
        "player_id", "hs", F.pow(old - F.col("hs"), F.lit(2)).alias("sq_diff")
    )


def heroic_score(
    duels: DataFrame,
    alpha: float = 0.1,
    tol: float = 0.1,
    max_iter: int = 50,
    num_partitions: int | None = None,
    divergence_patience: int = 2,
    vector_partitions: int | None = None,
) -> HeroicResult:
    """Run the damped iterative rank to convergence (reference Q11-Q16).

    Matches the reference's *intended* semantics: iteration 1 sees every
    score at the init value 1.0 (the reference reads a stale directory but
    defaults missing scores to 1.0, exercise_4.py:152, which coincides with
    the init — SURVEY.md §3.3).

    Each iteration broadcasts the score vector into the join against the
    persisted edge table, so it is a broadcast-hash join over the cached
    edges with NO shuffle of the big side (the localCheckpoint'd vector
    has no size stats, so Catalyst would otherwise plan a sort-merge
    join).

    vector_partitions coalesces the score vector before each checkpoint:
    the groupBy leaves it at the edge table's partitioning (sized for the
    EDGES), so every per-iteration job otherwise schedules that many
    near-empty tasks. Size it to |players| / target-rows-per-partition;
    None keeps the edge partitioning.
    """
    edges = edges_with_avgs(duels, num_partitions=num_partitions)
    edges.persist(StorageLevel.MEMORY_AND_DISK)

    # hs=None is the init vector: hs = 1.0 for every challenger (only
    # challengers ever get updated scores — reference heroic_score/
    # output.txt holds 100 challenger rows)
    hs = None
    result = HeroicResult(scores=None)
    for it in range(max_iter):
        # join current scores onto the challenged endpoint; players without a
        # score contribute the default 1.0 (reference exercise_4.py:152)
        step = with_sq_diff(iteration_step(edges, hs, alpha), hs)
        # the msd is observed while the checkpoint runs: no separate job
        msd_obs = Observation()
        new_hs = step.observe(msd_obs, F.avg("sq_diff").alias("msd")).select(
            "player_id", "hs"
        )
        if vector_partitions:
            new_hs = new_hs.coalesce(vector_partitions)
        hs = new_hs.transform(tracked_local_checkpoint)  # truncate lineage each iteration
        msd = msd_obs.get["msd"]
        result.msd_history.append(msd)
        result.iterations = it + 1
        if msd <= tol:
            result.converged = True
            break
        # The un-normalized update diverges on graphs where alpha * mean
        # out-degree > 1 (the reference's 518-duel graph converges; dense
        # graphs need not). The reference's `while msd > tol` driver loop
        # (exercise_4.py:277) would spin forever there; abort instead once
        # msd has grown `divergence_patience` consecutive iterations.
        h = result.msd_history
        if len(h) > divergence_patience and all(
            h[-i] > h[-i - 1] for i in range(1, divergence_patience + 1)
        ):
            result.diverged = True
            break

    edges.unpersist()
    if hs is None:  # max_iter=0: the init vector itself
        hs = edges.select(F.col("challenger_id").alias("player_id")).distinct().withColumn(
            "hs", F.lit(1.0)
        )
    result.scores = hs
    return result
