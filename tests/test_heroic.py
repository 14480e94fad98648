"""Correctness of the iterative heroic-score engine against an independent
in-memory simulator (plain dict/loop implementation of the reference
semantics, reference exercise_4.py:126-283), plus convergence invariants.
"""

from __future__ import annotations

import random

import pytest

from big_data_player_analysis_spark.plans.heroic import (
    edges_with_avgs,
    heroic_score,
    smoothed_avg_completed,
)
from tests.conftest import jobs_for


def simulate(duel_rows, alpha=0.1, tol=0.1, max_iter=50):
    """Independent reference simulator: dicts and loops, no Spark.

    duel_rows: list of (challenger, challenged, score).
    Returns (scores: dict, msd_history: list).
    """
    # smoothed avg per challenger, completed over all players (prior 1.0)
    totals, counts, players = {}, {}, set()
    for c, d, s in duel_rows:
        totals[c] = totals.get(c, 0) + s
        counts[c] = counts.get(c, 0) + 1
        players.update((c, d))
    avg = {p: (totals.get(p, 0) + 1) / (counts.get(p, 0) + 1) for p in players}

    edges = sorted({(c, d) for c, d, _ in duel_rows})
    challengers = sorted({c for c, _ in edges})
    hs = {c: 1.0 for c in challengers}
    history = []
    for _ in range(max_iter):
        new_hs = {}
        for c in challengers:
            contrib = sum(
                hs.get(d, 1.0) * avg[c] / avg[d] for cc, d in edges if cc == c
            )
            new_hs[c] = alpha * contrib + (1 - alpha)
        msd = sum((hs[c] - new_hs[c]) ** 2 for c in challengers) / len(challengers)
        hs = new_hs
        history.append(msd)
        if msd <= tol:
            break
    return hs, history


@pytest.fixture(scope="module")
def small_duels_rows():
    rng = random.Random(7)
    rows = []
    for _ in range(300):
        c = rng.randrange(1, 30)
        d = rng.randrange(1, 40)
        while d == c:
            d = rng.randrange(1, 40)
        rows.append((c, d, rng.randrange(1, 5000)))
    return rows


@pytest.fixture(scope="module")
def small_duels(spark, small_duels_rows):
    return spark.createDataFrame(
        small_duels_rows, "challenger_id long, challenged_id long, score long"
    )


def test_smoothed_avg_completed_matches_simulator(small_duels, small_duels_rows):
    got = {r.player_id: r.avg_score for r in smoothed_avg_completed(small_duels).collect()}
    totals, counts, players = {}, {}, set()
    for c, d, s in small_duels_rows:
        totals[c] = totals.get(c, 0) + s
        counts[c] = counts.get(c, 0) + 1
        players.update((c, d))
    want = {p: (totals.get(p, 0) + 1) / (counts.get(p, 0) + 1) for p in players}
    assert set(got) == set(want)
    for p in want:
        assert got[p] == pytest.approx(want[p], rel=1e-12)


def test_edges_with_avgs_cardinality(small_duels, small_duels_rows):
    n_pairs = len({(c, d) for c, d, _ in small_duels_rows})
    assert edges_with_avgs(small_duels).count() == n_pairs


def test_heroic_matches_independent_simulator(small_duels, small_duels_rows):
    want_hs, want_history = simulate(small_duels_rows, alpha=0.1, tol=0.05, max_iter=40)
    result = heroic_score(small_duels, alpha=0.1, tol=0.05, max_iter=40)
    got_hs = {r.player_id: r.hs for r in result.scores.collect()}

    assert result.iterations == len(want_history)
    assert set(got_hs) == set(want_hs)
    for p, v in want_hs.items():
        assert got_hs[p] == pytest.approx(v, rel=1e-9), f"player {p}"
    for got_msd, want_msd in zip(result.msd_history, want_history):
        assert got_msd == pytest.approx(want_msd, rel=1e-9)


def test_heroic_msd_monotone_and_converges(small_duels):
    result = heroic_score(small_duels, alpha=0.1, tol=0.05, max_iter=40)
    assert result.converged
    # strong damping (alpha=0.1) -> contraction -> monotone decreasing MSD
    for a, b in zip(result.msd_history, result.msd_history[1:]):
        assert b <= a * 1.0000001


def test_heroic_two_player_fixed_point(spark):
    """Hand-computable case: A<->B each with one duel.
    avg(A) = (10+1)/2 = 5.5, avg(B) = (20+1)/2 = 10.5.
    hs'(A) = a*(hs(B)*avg(A)/avg(B)) + (1-a); hs'(B) symmetric.
    Fixed point solves the 2x2 linear system."""
    duels = spark.createDataFrame(
        [(1, 2, 10), (2, 1, 20)], "challenger_id long, challenged_id long, score long"
    )
    a = 0.1
    r = 5.5 / 10.5
    # hs_A = a*r*hs_B + 0.9 ; hs_B = a*(1/r)*hs_A + 0.9
    # => hs_A = (0.9 + a*r*0.9) / (1 - a*a)
    want_a = (0.9 + a * r * 0.9) / (1 - a * a)
    want_b = (0.9 + a * (1 / r) * 0.9) / (1 - a * a)
    result = heroic_score(duels, alpha=a, tol=1e-12, max_iter=100)
    got = {r_.player_id: r_.hs for r_ in result.scores.collect()}
    assert got[1] == pytest.approx(want_a, rel=1e-6)
    assert got[2] == pytest.approx(want_b, rel=1e-6)


def test_heroic_job_budget_and_observed_msd(spark, sf_small):
    """The flagship over sf0.001's events-derived duels: the whole op (edge
    build and every iteration) stays within 9 Spark jobs, each
    iteration adds at most 3, and every msd the checkpoint observes equals
    the explicit keyed squared difference of consecutive score vectors."""
    from pyspark.sql import functions as F

    from big_data_player_analysis_spark.caching import release_tracked
    from big_data_player_analysis_spark.operators.joins import keyed_squared_difference
    from big_data_player_analysis_spark.registry.common import duel_edges

    def run(k):
        return jobs_for(
            spark,
            f"heroic_budget_{k}",
            lambda: heroic_score(duel_edges(spark, sf_small), alpha=0.1, tol=0.1, max_iter=k),
        )

    try:
        runs = [run(k) for k in (1, 2, 3)]
        jobs = [n for _, n in runs]
        full = runs[-1][0]
        assert full.iterations == 3 and full.diverged  # the q16 oracle's unroll
        assert jobs[-1] <= 9, jobs
        assert all(b - a <= 3 for a, b in zip(jobs, jobs[1:])), jobs

        vectors = [r.scores for r, _ in runs]
        init = vectors[0].select("player_id").withColumn("hs", F.lit(1.0))
        for prev, new, msd in zip([init] + vectors, vectors, full.msd_history):
            want = (
                keyed_squared_difference(prev, new, "player_id", "hs")
                .agg(F.avg("sq_diff"))
                .first()[0]
            )
            assert msd == pytest.approx(want, rel=1e-12)
        for r, _ in runs[:-1]:  # each shorter run is a prefix of the full one
            assert r.msd_history == pytest.approx(full.msd_history[: r.iterations], rel=1e-12)
    finally:
        release_tracked()


def test_heroic_null_keys_and_null_scores_match_sql(spark):
    """Edge build null semantics against DuckDB running SQL_Q16_HEROIC's own
    avgs/edges/iteration CTEs over the same duel rows: a null challenger
    never forms an edge, a null challenged still counts towards its
    challenger's average but forms no edge, an all-null-score challenger
    and a challenged-only player both get the 1.0 prior."""
    import duckdb

    from big_data_player_analysis_spark.caching import release_tracked
    from big_data_player_analysis_spark.registry.common import DUELS_CTE
    from big_data_player_analysis_spark.registry.reference_surface import SQL_Q16_HEROIC

    rows = [
        (1, 2, 10.0),
        (1, 2, 4.0),
        (1, 3, 5.0),  # 3 is challenged-only
        (1, None, 3.0),  # null challenged: counts in avg(1), no edge
        (2, 1, 20.0),
        (2, 3, 1.0),
        (None, 1, 7.0),  # null challenger: nothing
        (4, 1, None),  # 4's scores are all null
        (4, 2, None),
        (5, 4, 2.0),
        (5, 1, None),  # one null score among 5's
        (6, None, 1.0),  # 6 only ever meets a null challenged
    ]
    duels = spark.createDataFrame(
        rows, "challenger_id long, challenged_id long, score double"
    )
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE duel_rows (challenger_id BIGINT, challenged_id BIGINT, score DOUBLE)"
        )
        con.executemany("INSERT INTO duel_rows VALUES (?, ?, ?)", rows)
        ctes = SQL_Q16_HEROIC.replace(
            DUELS_CTE.strip(), "duels AS (SELECT * FROM duel_rows)"
        )
        ctes = ctes[: ctes.index("SELECT player_id, round(hs, 6)")]
        want_hs = dict(con.execute(f"{ctes} SELECT player_id, hs FROM it3").fetchall())
        want_msd = [
            con.execute(
                f"{ctes} SELECT avg(power(a.hs - b.hs, 2)) "
                f"FROM it{k - 1} a JOIN it{k} b USING (player_id)"
            ).fetchone()[0]
            for k in (1, 2, 3)
        ]
    finally:
        con.close()

    try:
        result = heroic_score(duels, alpha=0.1, tol=0.0, max_iter=3)
        got_hs = {r.player_id: r.hs for r in result.scores.collect()}
        assert result.iterations == 3
        assert set(got_hs) == set(want_hs) == {1, 2, 4, 5}
        for p, v in want_hs.items():
            assert got_hs[p] == pytest.approx(float(v), rel=1e-12), p
        assert result.msd_history == pytest.approx([float(m) for m in want_msd], rel=1e-12)
    finally:
        release_tracked()
