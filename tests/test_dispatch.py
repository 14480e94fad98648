"""The count-derived exact-vs-banded dispatch (round-8 verdict ask #1):
below the row ceiling the registered entries run the EXACT paths the SQL
oracles mirror; above it they route to the banded scale paths so the
documented-quadratic constants never run at corpus scale. Pinned by plan
markers (the two regimes have structurally different physical plans) and
by output equality between the dispatcher and the path it claims to pick.
"""

from __future__ import annotations

import contextlib
import io

from big_data_player_analysis_spark import gates
from big_data_player_analysis_spark.operators.dedup import (
    dedup_embedding_cosine,
    dedup_embedding_cosine_auto,
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_ngram_jaccard_auto,
)
from big_data_player_analysis_spark.registry.common import t
from tests.conftest import jobs_for

SF = "/root/testdata/sf0.001"


def plan_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def rows(df):
    return sorted(map(tuple, df.collect()))


def test_jaccard_dispatch_exact_below_ceiling(spark):
    docs = t(spark, SF, "documents")
    assert docs.count() <= gates.EXACT_PAIRS_MAX_ROWS
    auto = dedup_ngram_jaccard_auto(docs, "doc_id", "text")
    exact = dedup_ngram_jaccard(docs, "doc_id", "text")
    # the minhash path materializes its signature/candidate tables via
    # lazy checkpoints (ExistingRDD scans); the exact path has none (its
    # shingle hashing is the r10 Arrow rolling-hash pass, so xxhash64 is
    # no longer the exact-path marker)
    p = plan_str(auto)
    assert "array_intersect" in p and "ExistingRDD" not in p
    assert rows(auto) == rows(exact)


def test_jaccard_dispatch_routes_above_ceiling(spark, monkeypatch):
    docs = t(spark, SF, "documents")
    monkeypatch.setattr(gates, "EXACT_PAIRS_MAX_ROWS", 10)
    auto = dedup_ngram_jaccard_auto(docs, "doc_id", "text")
    banded = dedup_minhash_lsh(docs, "doc_id", "text")
    p = plan_str(auto)
    # the minhash path's signature/candidate stages sit behind lazy
    # checkpoints (ExistingRDD scans — absent from the exact path), plus
    # output identity with the banded operator
    assert "ExistingRDD" in p
    assert rows(auto) == rows(banded)


def test_cosine_dispatch_exact_below_ceiling(spark):
    emb = t(spark, SF, "embeddings")
    assert emb.count() <= gates.EXACT_PAIRS_MAX_ROWS
    auto = dedup_embedding_cosine_auto(emb, "vec_id", "embedding")
    exact = dedup_embedding_cosine(emb, "vec_id", "embedding")
    p = plan_str(auto)
    assert "FlatMapGroupsInPandas" in p  # the blocked-GEMM applyInPandas
    assert rows(auto) == rows(exact)


def test_cosine_dispatch_routes_above_ceiling(spark, monkeypatch):
    emb = t(spark, SF, "embeddings")
    monkeypatch.setattr(gates, "EXACT_PAIRS_MAX_ROWS", 10)
    auto = dedup_embedding_cosine_auto(emb, "vec_id", "embedding")
    p = plan_str(auto)
    # the ANN path has no applyInPandas GEMM stage; its signature +
    # verify stages are scalar Arrow pandas_udfs
    assert "FlatMapGroupsInPandas" not in p
    assert "ArrowEvalPython" in p
    # schema contract is identical across the dispatch
    assert [f.name for f in auto.schema.fields] == ["id_a", "id_b", "cosine"]


def test_cosine_dispatch_counts_the_corpus_once(spark, monkeypatch):
    """Building either regime runs the dispatcher's one count and nothing
    else: the chosen path sizes itself (GEMM block count, LSH signature
    width) from the n_rows it is handed instead of counting again."""
    emb = t(spark, SF, "embeddings")
    _, one_count = jobs_for(spark, "dispatch_bare_count", emb.count)
    assert one_count >= 1
    for ceiling in (gates.EXACT_PAIRS_MAX_ROWS, 10):  # GEMM, then the ANN route
        monkeypatch.setattr(gates, "EXACT_PAIRS_MAX_ROWS", ceiling)
        _, jobs = jobs_for(
            spark,
            f"dispatch_build_{ceiling}",
            lambda: dedup_embedding_cosine_auto(emb, "vec_id", "embedding"),
        )
        assert jobs == one_count, (ceiling, jobs, one_count)
