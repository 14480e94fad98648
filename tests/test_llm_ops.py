"""LLM-data-pipeline operator tests: dedup family, similarity search,
text analysis, multimodal plumbing — each checked against an independent
plain-Python/NumPy implementation on the driver's synthetic tables."""

from __future__ import annotations

import itertools
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_data_player_analysis_spark import gates
from big_data_player_analysis_spark.catalog import load_table
from big_data_player_analysis_spark.operators.dedup import (
    dedup_embedding_cosine,
    dedup_exact,
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_simhash,
)
from big_data_player_analysis_spark.operators.similarity import (
    ann_lsh_buckets,
    brute_force_topk,
    ivf_probe_topk,
    knn_join,
)

K = 8
THRESHOLD = 0.6
MAX_DF = 20


def _norm(t: str) -> str:
    t = re.sub(r"[^a-z0-9 ]", "", t.lower())
    return re.sub(r" +", " ", t).strip()


def _shingles(t: str) -> set[str]:
    n = _norm(t)
    return {n[i : i + K] for i in range(max(0, len(n) - K + 1))}


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    return load_table(spark, sf_small, "documents")


@pytest.fixture(scope="module")
def doc_rows(docs):
    return [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()]


@pytest.fixture(scope="module")
def py_jaccard_pairs(doc_rows):
    """Independent full-pairwise exact Jaccard (no candidate pruning)."""
    sh = {d: _shingles(t) for d, t in doc_rows}
    out = {}
    for (a, sa), (b, sb) in itertools.combinations(sorted(sh.items()), 2):
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        if inter:
            j = inter / (len(sa) + len(sb) - inter)
            if round(j, 6) >= THRESHOLD:
                out[(a, b)] = round(j, 6)
    return out


def test_dedup_exact_groups(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello world"), (3, "HELLO  world."), (4, "bye")],
        "doc_id long, text string",
    )
    got = {r.keep_id: r.n_copies for r in dedup_exact(df, "doc_id", "text").collect()}
    assert got == {1: 3, 4: 1}  # punctuation/case/whitespace variants collapse


def test_ngram_jaccard_matches_python(docs, py_jaccard_pairs):
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_ngram_jaccard(docs, "doc_id", "text", K, THRESHOLD, MAX_DF).collect()
    }
    # candidate pruning on rare shingles loses nothing on this corpus:
    # near-dup pairs share hundreds of shingles including rare ones
    assert set(got) == set(py_jaccard_pairs)
    for pair, j in py_jaccard_pairs.items():
        assert got[pair] == pytest.approx(j, abs=2e-6)


def test_minhash_lsh_equals_exact(docs, py_jaccard_pairs):
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_minhash_lsh(docs, "doc_id", "text", K, THRESHOLD).collect()
    }
    # precision 1.0 by construction (exact verification); recall empirically
    # 1.0 here (planted dups have j >= 0.8; band-miss probability < 3e-4)
    assert set(got) == set(py_jaccard_pairs)


def test_simhash_covers_exact_dups(docs, py_jaccard_pairs):
    got = {(r.doc_a, r.doc_b) for r in dedup_simhash(docs, "doc_id", "text", K).collect()}
    # SimHash is approximate: hamming<=7 reliably catches strong dups
    # (j>=0.8) but pairs at the j~0.6 boundary can exceed 7 differing bits.
    high = {p for p, j in py_jaccard_pairs.items() if j >= 0.8}
    assert high <= got
    recall = len(set(py_jaccard_pairs) & got) / max(1, len(py_jaccard_pairs))
    assert recall >= 0.8
    # and it should not degenerate into all-pairs
    assert len(got) < 4 * max(1, len(py_jaccard_pairs))


def test_simhash_band_bounds_partition_property():
    """Bounds must tile the 64 bits exactly (no gap/overlap) for any band
    count — the precondition of the pigeonhole recall guarantee."""
    from big_data_player_analysis_spark.operators.dedup import simhash_band_bounds

    for n in (1, 2, 4, 8, 9, 13, 64):
        bounds = simhash_band_bounds(n)
        assert len(bounds) == n
        off = 0
        for o, w in bounds:
            assert o == off and w >= 1
            off += w
        assert off == 64


def test_simhash_scale_banding_exact_for_small_hamming(docs):
    """The web-scale operating point (4 bands x 16 bits, hamming <= 3)
    must return EXACTLY the strict 9-band run's pairs filtered to
    hamming <= 3 — wider buckets change candidate volume, never the
    verified answer (pigeonhole holds for <= n_bands - 1)."""
    from big_data_player_analysis_spark.operators.dedup import dedup_simhash

    strict = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup_simhash(docs, "doc_id", "text", K, max_hamming=8).collect()
    }
    scale = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup_simhash(
            docs, "doc_id", "text", K, max_hamming=3, n_bands=4
        ).collect()
    }
    assert scale == {p: h for p, h in strict.items() if h <= 3}


def test_simhash_rejects_insufficient_bands():
    from big_data_player_analysis_spark.operators.dedup import dedup_simhash

    with pytest.raises(ValueError, match="bands"):
        dedup_simhash(None, "doc_id", "text", max_hamming=8, n_bands=4)


def test_simhash_signatures_narrow_and_dup_invariant(spark):
    """The vectorized signature path must (a) give byte-identical sigs to
    normalization-equivalent texts, (b) differ across unrelated texts,
    (c) plan as a narrow projection — no Exchange before the signature
    (the explode+64-sums form it replaced shuffled every shingle)."""
    from big_data_player_analysis_spark.operators.dedup import simhash_signatures

    rows = [
        (1, "The quick brown fox jumps over the lazy dog!"),
        (2, "the QUICK brown fox jumps over the lazy dog"),  # normalizes equal
        (3, "completely different content with other words entirely here"),
        (4, "xy"),  # shorter than k -> excluded, like char_shingles
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = simhash_signatures(df, "doc_id", "text", 8)
    got = {r.doc: r.sig for r in sigs.collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]
    assert 4 not in got

    # doc 1's signature recomputed with plain Python ints: normalized
    # text, base-31 polynomial over the distinct 8-gram byte windows,
    # splitmix64 avalanche, and a majority vote per bit. Pins the values,
    # including the bit order, which must not depend on the host's byte
    # order.
    m64 = (1 << 64) - 1
    bb = _norm(rows[0][1]).encode()
    feats = {sum(b * 31**j for j, b in enumerate(bb[i : i + 8])) for i in range(len(bb) - 7)}
    ones = [0] * 64
    for h in feats:
        z = (h + 0x9E3779B97F4A7C15) & m64
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & m64
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & m64
        z ^= z >> 31
        for j in range(64):
            ones[j] += (z >> j) & 1
    want = sum(1 << j for j in range(64) if 2 * ones[j] > len(feats))
    assert got[1] == (want - (1 << 64) if want >> 63 else want)
    # _scatter's deliberate round-robin fan-out is the ONLY allowed
    # exchange; there must be no hash/key shuffle (the old explode +
    # 64-conditional-sums aggregate exchanged every shingle on doc)
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan
    assert "HashAggregate" not in plan


def test_dedup_incremental_planted(spark):
    """Incremental dedup: a new-batch doc near-duplicating a corpus doc is
    reported against that corpus doc; new-vs-new and corpus-vs-corpus
    near-dups are NOT reported (the batch shape checks incoming docs
    against the existing corpus only)."""
    from big_data_player_analysis_spark.operators.dedup import dedup_incremental

    base = (
        "the quick brown fox jumps over the lazy dog while the cat sleeps "
        "quietly near the warm fireplace on a cold winter evening tonight"
    )
    other = (
        "distributed query engines shuffle partitioned data across the "
        "cluster network before aggregating grouped results into files"
    )
    corpus = spark.createDataFrame(
        [(1, base + " alpha"), (2, other), (3, "short unrelated gardening note")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, base + " bravo"),    # near-dup of corpus doc 1
         (101, base + " delta"),    # near-dup of corpus doc 1 AND of 100
         (102, "entirely novel content about medieval naval history here")],
        "doc_id long, text string",
    )
    got = {
        (r.new_id, r.corpus_id)
        for r in dedup_incremental(new, corpus, "doc_id", "text").collect()
    }
    assert got == {(100, 1), (101, 1)}  # no (100, 101), no corpus-corpus


def test_dedup_incremental_matches_full_pairs(docs, py_jaccard_pairs):
    """On the synthetic corpus split 20/80, incremental output must equal
    the full exact-pairs answer restricted to cross-side pairs."""
    from big_data_player_analysis_spark.operators.dedup import dedup_incremental

    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    got = {
        (r.new_id, r.corpus_id)
        for r in dedup_incremental(new, corpus, "doc_id", "text", K, THRESHOLD).collect()
    }
    want = set()
    for a, b in py_jaccard_pairs:
        if (a % 5 == 0) != (b % 5 == 0):
            n, c = (a, b) if a % 5 == 0 else (b, a)
            want.add((n, c))
    assert got == want


def test_near_dedup_survivors_planted_groups(spark):
    """End-to-end fuzzy dedup: planted near-dup groups must collapse to
    exactly one survivor each (the min id), with group_size = cluster
    size; unique docs survive with group_size 1."""
    from big_data_player_analysis_spark.operators.dedup import near_dedup_survivors

    base_a = (
        "the quick brown fox jumps over the lazy dog while the cat sleeps "
        "quietly near the warm fireplace on a cold winter evening tonight"
    )
    base_b = (
        "distributed query engines shuffle partitioned data across the "
        "cluster network before aggregating grouped results into columnar "
        "output files for downstream consumers"
    )
    rows = [
        (10, base_a + " alpha"),
        (11, base_a + " bravo"),
        (12, base_a + " delta"),
        (20, base_b + " one"),
        (21, base_b + " two"),
        (30, "a completely unrelated short document about gardening tips"),
        (31, "another standalone text concerning medieval naval history"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.group_size
        for r in near_dedup_survivors(df, "doc_id", "text").collect()
    }
    assert out == {10: 3, 20: 2, 30: 1, 31: 1}


def test_near_dedup_survivors_best_quality_policy(spark):
    """quality_col survivor policy: the highest-quality cluster member
    wins (not the min id); ties break to the lower id; quality of unique
    docs is irrelevant."""
    from big_data_player_analysis_spark.operators.dedup import near_dedup_survivors

    base_a = (
        "the quick brown fox jumps over the lazy dog while the cat sleeps "
        "quietly near the warm fireplace on a cold winter evening tonight"
    )
    base_b = (
        "distributed query engines shuffle partitioned data across the "
        "cluster network before aggregating grouped results into columnar "
        "output files for downstream consumers"
    )
    rows = [
        # group A: id 12 has the highest quality -> survivor despite max id
        (10, base_a + " alpha", 5),
        (11, base_a + " bravo", 7),
        (12, base_a + " delta", 9),
        # group B: quality tie -> lower id 20 survives
        (20, base_b + " one", 4),
        (21, base_b + " two", 4),
        (30, "a completely unrelated short document about gardening tips", 1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, q long")
    out = {
        r.doc_id: r.group_size
        for r in near_dedup_survivors(
            df, "doc_id", "text", quality_col="q"
        ).collect()
    }
    assert out == {12: 3, 20: 2, 30: 1}


def test_near_dedup_survivors_no_dups_is_identity(spark):
    """A corpus with no near-duplicates must come back complete, every doc
    with group_size 1 (the empty-pairs path through components/anti-join)."""
    from big_data_player_analysis_spark.operators.dedup import near_dedup_survivors

    rows = [
        (1, "a completely unrelated short document about gardening tips"),
        (2, "another standalone text concerning medieval naval history"),
        (3, "distributed query engines shuffle partitioned data across nodes"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.group_size
        for r in near_dedup_survivors(df, "doc_id", "text").collect()
    }
    assert out == {1: 1, 2: 1, 3: 1}


# ------------------------------------------------------------- embeddings


@pytest.fixture(scope="module")
def emb(spark, sf_small):
    return load_table(spark, sf_small, "embeddings")


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.select("vec_id", "embedding", "label").collect()
    ids = np.array([r.vec_id for r in rows])
    E = np.array([r.embedding for r in rows], dtype=np.float64)
    labels = np.array([r.label for r in rows])
    order = np.argsort(ids)
    return ids[order], E[order], labels[order]


def _cosine_matrix(E):
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    return En @ En.T


def test_embedding_cosine_vs_numpy(emb, emb_np):
    ids, E, _ = emb_np
    S = _cosine_matrix(E)
    want = {
        (int(ids[i]), int(ids[j])): round(S[i, j], 6)
        for i, j in zip(*np.triu_indices(len(ids), 1))
        if round(S[i, j], 6) >= 0.45
    }
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup_embedding_cosine(emb, "vec_id", "embedding", 0.45).collect()
    }
    assert set(got) == set(want)
    for p, c in want.items():
        assert got[p] == pytest.approx(c, abs=2e-6)


def _lsh_reference(ids, E, threshold=0.45, max_hamming=4, n_planes=16):
    """Numpy twin of ann_lsh_buckets: deterministic signatures from the
    fixed hyperplanes -> band buckets -> candidates -> hamming + cosine
    verify. Returns (expected pair set, band bucket maps, signature ints).
    n_planes=16 replays the pinned demo config (4+3+3+3+3 bands); other
    widths use the 5-equal-band tiling of the auto-sizing path."""
    from big_data_player_analysis_spark.operators.similarity import (
        ANN_LSH_BAND_BOUNDS,
        LSH_ALL_HYPERPLANES,
    )

    H = np.array(LSH_ALL_HYPERPLANES[:n_planes], dtype=np.float64)
    bits = (E @ H.T) > 0  # n x n_planes
    sigs = (bits.astype(np.int64) << np.arange(n_planes)).sum(axis=1)
    if n_planes == 16:
        bounds = ANN_LSH_BAND_BOUNDS
    else:
        bb = n_planes // 5
        bounds = [(i * bb, bb) for i in range(5)]
    buckets = []
    cand = set()
    for off, width in bounds:
        vals = (sigs >> off) & ((1 << width) - 1)
        bucket: dict[int, list[int]] = {}
        for i, v in enumerate(vals):
            bucket.setdefault(int(v), []).append(i)
        buckets.append(bucket)
        for members in bucket.values():
            for a in range(len(members)):
                for b in range(a + 1, len(members)):
                    i, j = members[a], members[b]
                    cand.add((min(i, j), max(i, j)))
    S = _cosine_matrix(E)
    expected = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
        for i, j in cand
        if bin(int(sigs[i]) ^ int(sigs[j])).count("1") <= max_hamming
        and round(S[i, j], 6) >= threshold
    }
    return expected, buckets, sigs


def test_embedding_cosine_blocked_equals_bruteforce(emb):
    """The blocked-GEMM product path must match the theta-join baseline
    bit-for-bit (same ids, same rounded cosines), across block counts that
    exercise empty and diagonal-only groups."""
    from big_data_player_analysis_spark.operators.dedup import (
        dedup_embedding_cosine,
        dedup_embedding_cosine_bruteforce,
    )

    want = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup_embedding_cosine_bruteforce(
            emb, "vec_id", "embedding", 0.45
        ).collect()
    }
    for n_blocks in (1, 3, 8):
        got = {
            (r.id_a, r.id_b): r.cosine
            for r in dedup_embedding_cosine(
                emb, "vec_id", "embedding", 0.45, n_blocks=n_blocks
            ).collect()
        }
        assert got == want, f"n_blocks={n_blocks}"


def test_ann_lsh_matches_reference(emb, emb_np):
    """The operator's output equals the deterministic numpy twin exactly —
    pins precision AND recall of the banded path (a banding regression that
    drops or floods candidates fails here, unlike the old subset-only
    check; round-1 ADVICE findings #1/#4)."""
    ids, E, _ = emb_np
    expected, buckets, sigs = _lsh_reference(ids, E)
    got = {
        (r.id_a, r.id_b)
        for r in ann_lsh_buckets(
            emb, "vec_id", "embedding", 0.45, n_planes=16
        ).collect()
    }
    assert got == expected
    # precision direction is implied but keep the cheap explicit guard too
    S = _cosine_matrix(E)
    exact = {
        (int(ids[i]), int(ids[j]))
        for i, j in zip(*np.triu_indices(len(ids), 1))
        if round(S[i, j], 6) >= 0.45
    }
    assert got <= exact


def test_ann_lsh_null_embedding_tolerated(spark, emb, emb_np):
    """A NULL embedding row must get a NULL signature and drop out of the
    band join (equi-join on NULL bits never matches) without crashing the
    GEMM batch — round-7 ADVICE #3: np.asarray over a batch containing a
    null collapses to a ragged object array and einsum raises."""
    from big_data_player_analysis_spark.operators.similarity import (
        lsh_bucket_signature,
    )

    ids, E, _ = emb_np
    with_null = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(
            [(999_999, None)], "vec_id long, embedding array<float>"
        )
    )
    sigs = {
        r.vec_id: r.sig
        for r in with_null.select(
            "vec_id", lsh_bucket_signature(F.col("embedding")).alias("sig")
        ).collect()
    }
    assert sigs[999_999] is None
    assert all(sigs[int(i)] is not None for i in ids)
    expected, _, _ = _lsh_reference(ids, E)
    got = {
        (r.id_a, r.id_b)
        for r in ann_lsh_buckets(
            with_null, "vec_id", "embedding", 0.45, n_planes=16
        ).collect()
    }
    assert got == expected  # identical pairs, null row silently absent


def test_ann_lsh_auto_width_matches_reference(emb, emb_np):
    """With no explicit n_planes the operator sizes the signature from a
    corpus count (round-7 ask #5); its output must equal the numpy twin
    run at that exact width, and the width must be what lsh_band_bits_for
    says (500 vectors -> 7-bit bands -> 35 planes)."""
    from big_data_player_analysis_spark.operators.similarity import (
        LSH_BANDS,
        lsh_band_bits_for,
    )

    ids, E, _ = emb_np
    width = LSH_BANDS * lsh_band_bits_for(len(ids))
    assert width == 35  # 500 vectors / occupancy 4 -> 7-bit bands
    expected, _, _ = _lsh_reference(ids, E, n_planes=width)
    got = {
        (r.id_a, r.id_b)
        for r in ann_lsh_buckets(emb, "vec_id", "embedding", 0.45).collect()
    }
    assert got == expected


def test_lsh_band_bits_thresholds():
    """Pure-integer sizing: smallest b in [3,12] with n <= 4*2^b — the
    SAME thresholds the DuckDB oracle's CASE ladder replays, so Spark and
    the oracle can never disagree on the width."""
    from big_data_player_analysis_spark.operators.similarity import (
        lsh_band_bits_for,
    )

    assert lsh_band_bits_for(1) == 3
    assert lsh_band_bits_for(32) == 3
    assert lsh_band_bits_for(33) == 4
    assert lsh_band_bits_for(500) == 7
    assert lsh_band_bits_for(512) == 7
    assert lsh_band_bits_for(513) == 8
    assert lsh_band_bits_for(2000) == 9
    assert lsh_band_bits_for(20000) == 12
    assert lsh_band_bits_for(10**9) == 12  # clamp


def test_lsh_plane_prefix_stable():
    """The 60-plane table is one continuous seeded gauss stream whose
    first 16 rows ARE the historical 16-plane constant — every committed
    oracle/signature replay stays valid."""
    import random

    from big_data_player_analysis_spark.operators.similarity import (
        LSH_ALL_HYPERPLANES,
        LSH_DIM,
        LSH_HYPERPLANES,
    )

    assert LSH_HYPERPLANES == LSH_ALL_HYPERPLANES[:16]
    rng = random.Random(987654321)
    first = [[rng.gauss(0.0, 1.0) for _ in range(LSH_DIM)] for _ in range(16)]
    assert LSH_ALL_HYPERPLANES[:16] == first


def test_ann_lsh_sign_margin_guarantees_oracle_determinism():
    """The ann_lsh_pairs oracle replays hyperplane signs with DuckDB's
    left-fold list_dot_product while Spark uses a BLAS GEMM; the two can
    differ by ~1e-13 in accumulation, so a dot product that close to zero
    would flip a signature bit and spuriously redden the gate (round-7
    ADVICE #4). Pin that the margin is structural at every driver SF: the
    smallest |v.h| over the whole corpus x ALL 60 planes of the
    auto-width pool is >= 1e-6 — orders of magnitude above the
    accumulation difference."""
    import duckdb

    from big_data_player_analysis_spark.operators.similarity import (
        LSH_ALL_HYPERPLANES,
    )

    H = np.array(LSH_ALL_HYPERPLANES, dtype=np.float64)
    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        E = con.execute(
            f"SELECT embedding FROM '/root/testdata/{sf}/embeddings.parquet'"
        ).df()
        V = np.array(E["embedding"].tolist(), dtype=np.float64)
        assert np.abs(V @ H.T).min() >= 1e-6, sf


def test_ann_lsh_bands_not_degenerate(emb_np):
    """No band may be constant across the corpus (the round-1 bug: band 4
    read bits 16-19 of a 16-bit signature, so every row collided in one
    bucket and the equi-join degenerated to n^2/2). Every band must split
    the corpus, and no bucket may hold more than half of it."""
    ids, E, _ = emb_np
    _, buckets, _ = _lsh_reference(ids, E)
    n = len(ids)
    for band_no, bucket in enumerate(buckets):
        assert len(bucket) > 1, f"band {band_no} is constant"
        assert max(len(m) for m in bucket.values()) <= n / 2, (
            f"band {band_no} has a degenerate bucket"
        )


def test_ann_lsh_pigeonhole_complete(emb, emb_np):
    """Every qualifying pair with signature hamming <= 4 MUST be found
    (pigeonhole over the 5 exact-tiling bands) — the deterministic recall
    contract of the operator."""
    ids, E, _ = emb_np
    _, _, sigs = _lsh_reference(ids, E)
    S = _cosine_matrix(E)
    must_find = {
        (int(ids[i]), int(ids[j]))
        for i, j in zip(*np.triu_indices(len(ids), 1))
        if round(S[i, j], 6) >= 0.45
        and bin(int(sigs[i]) ^ int(sigs[j])).count("1") <= 4
    }
    assert must_find, "fixture lost its low-hamming qualifying pairs"
    got = {
        (r.id_a, r.id_b)
        for r in ann_lsh_buckets(
            emb, "vec_id", "embedding", 0.45, n_planes=16
        ).collect()
    }
    assert must_find <= got


def test_ann_lsh_returns_planted_near_duplicates(spark):
    """Near-duplicates planted among random vectors, at cosine >= 0.95,
    are all returned by the auto-width path at the registry threshold, and
    every returned pair is a true pair by a numpy brute-force cosine. The
    test data gives the banded path real pairs to find (the registry
    entry's own tables yield none or one at the oracle scales)."""
    from big_data_player_analysis_spark.operators.similarity import LSH_DIM
    from big_data_player_analysis_spark.registry.llm_ops import COSINE_DUP_THRESHOLD

    rng = np.random.default_rng(20261019)
    E = rng.standard_normal((600, LSH_DIM)).astype(np.float32)
    src = rng.choice(len(E), 20, replace=False)
    dups = (E[src] + 0.03 * rng.standard_normal((20, LSH_DIM))).astype(np.float32)
    E = np.concatenate([E, dups])
    ids = np.arange(len(E)) * 7 + 3
    En = E.astype(np.float64) / np.linalg.norm(E.astype(np.float64), axis=1, keepdims=True)
    S = En @ En.T
    planted = {(int(ids[i]), int(ids[600 + k])) for k, i in enumerate(src)}
    assert all(S[i, 600 + k] >= 0.95 for k, i in enumerate(src))

    df = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in zip(ids, E)], "vec_id long, embedding array<float>"
    )
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in ann_lsh_buckets(df, "vec_id", "embedding", COSINE_DUP_THRESHOLD).collect()
    }
    assert planted <= set(got)
    pos = {int(v): n for n, v in enumerate(ids)}
    for (a, b), cos in got.items():
        assert a < b
        assert round(S[pos[a], pos[b]], 6) >= COSINE_DUP_THRESHOLD
        assert cos == pytest.approx(S[pos[a], pos[b]], abs=2e-6)


def test_bruteforce_topk_vs_numpy(emb, emb_np):
    ids, E, _ = emb_np
    S = _cosine_matrix(E)
    q = int(np.where(ids == 0)[0][0])
    sims = [
        (round(S[q, i], 6), int(ids[i])) for i in range(len(ids)) if ids[i] != 0
    ]
    want = [vid for s, vid in sorted(sims, key=lambda x: (-x[0], x[1]))[:10]]
    got = [
        r.vec_id
        for r in brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=10).collect()
    ]
    assert got == want


def test_ivf_probe_restricts_to_best_cells(emb, emb_np):
    ids, E, labels = emb_np
    S = _cosine_matrix(E)
    q = int(np.where(ids == 0)[0][0])
    qv = E[q]
    # centroids per label cell, rank by cosine to query
    cells = sorted(set(labels.tolist()))
    cents = {c: E[labels == c].mean(axis=0) for c in cells}
    ccos = {
        c: float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))
        for c, v in cents.items()
    }
    best = sorted(cells, key=lambda c: (-ccos[c], c))[:2]
    in_best = np.isin(labels, best) & (ids != 0)
    sims = [(round(S[q, i], 6), int(ids[i])) for i in np.where(in_best)[0]]
    want = [vid for s, vid in sorted(sims, key=lambda x: (-x[0], x[1]))[:10]]
    got = [
        r.vec_id
        for r in ivf_probe_topk(
            emb, emb.filter(F.col("vec_id") == 0), n_probe=2, k=10
        ).collect()
    ]
    assert got == want


def test_knn_join_vs_numpy(emb, emb_np):
    ids, E, _ = emb_np
    S = _cosine_matrix(E)
    want = {}
    for qi in range(len(ids)):
        if ids[qi] >= 5:
            continue
        sims = [
            (round(S[qi, i], 6), int(ids[i])) for i in range(len(ids)) if i != qi
        ]
        want[int(ids[qi])] = [
            vid for s, vid in sorted(sims, key=lambda x: (-x[0], x[1]))[:3]
        ]
    rows = knn_join(emb, emb.filter(F.col("vec_id") < 5), k=3).collect()
    got = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rn)):
        got.setdefault(r.query_id, []).append(r.neighbor_id)
    assert got == want


# ------------------------------------------------------------- multimodal


def test_multimodal_features_formulas(spark, sf_small):
    from big_data_player_analysis_spark.multimodal import attach_payload, decode_features

    docs = load_table(spark, sf_small, "documents")
    media = attach_payload(docs, "doc_id", "text")
    feats = {r.doc_id: r for r in decode_features(media).collect()}
    for r in docs.select("doc_id", "text").limit(50).collect():
        n = len(r.text.encode("utf-8"))
        f = feats[r.doc_id]
        assert (f.n_bytes, f.fake_width, f.fake_height, f.fake_n_frames) == (
            n, n % 640, (n * 7) % 480, n % 30 + 1,
        )


def test_multimodal_metadata_struct(spark, sf_small):
    from big_data_player_analysis_spark.multimodal import attach_payload

    docs = load_table(spark, sf_small, "documents")
    media = attach_payload(docs, "doc_id", "text")
    row = media.filter(F.col("doc_id") == 0).first()
    assert isinstance(row.payload, (bytes, bytearray))
    assert row.meta.n_chars == len(
        docs.filter(F.col("doc_id") == 0).first().text
    )


def test_decode_video_is_declared_stub():
    from big_data_player_analysis_spark.multimodal import decode_video

    with pytest.raises(NotImplementedError):
        decode_video(b"\x00\x00\x00\x18ftypmp42")


def test_bmp_decode_roundtrip(spark):
    """Real BMP parse: decoded geometry + channel means must equal the
    closed forms, including non-multiple-of-4 strides (w=5 -> padding)."""
    from big_data_player_analysis_spark.multimodal import (
        _bmp_params,
        attach_synth_payload,
        decode_bmp_features,
        synth_bmp_payload,
    )

    df = spark.createDataFrame([(i,) for i in (0, 1, 9, 14, 300)], "doc_id long")
    out = {r.doc_id: r for r in decode_bmp_features(
        attach_synth_payload(df, "doc_id", synth_bmp_payload)
    ).collect()}
    for i in (0, 1, 9, 14, 300):
        w, h, red = _bmp_params(i)
        r = out[i]
        assert (r.width, r.height) == (w, h)
        assert r.mean_b == (w - 1) / 2
        assert r.mean_g == (h - 1) / 2
        assert r.mean_r == float(red)


def test_bmp_decode_rejects_non_bmp(spark):
    from big_data_player_analysis_spark.multimodal import decode_bmp_features

    df = spark.createDataFrame([(1, b"\x89PNG garbage")], "doc_id long, payload binary")
    with pytest.raises(Exception, match="not a BMP"):
        decode_bmp_features(df).collect()


def test_bmp_resize_nearest_neighbor(spark):
    """Real resize: decoded+downscaled geometry and channel means must
    equal an independent numpy replay of the (dst*src)//dst_len mapping,
    including odd dimensions (w=5 -> w2=2) and the h=2 -> h2=1 floor."""
    import numpy as np

    from big_data_player_analysis_spark.multimodal import (
        _bmp_params,
        attach_synth_payload,
        resize_bmp_features,
        synth_bmp_payload,
    )

    ids = (0, 1, 9, 14, 300)
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = {r.doc_id: r for r in resize_bmp_features(
        attach_synth_payload(df, "doc_id", synth_bmp_payload)
    ).collect()}
    for i in ids:
        w, h, red = _bmp_params(i)
        w2, h2 = max(1, w // 2), max(1, h // 2)
        r = out[i]
        assert (r.width, r.height) == (w2, h2)
        assert r.mean_b == pytest.approx(
            np.mean((np.arange(w2) * w) // w2), abs=1e-6
        )
        assert r.mean_g == pytest.approx(
            np.mean((np.arange(h2) * h) // h2), abs=1e-6
        )
        assert r.mean_r == float(red)


def _top_down_bmp(bmp: bytes) -> bytes:
    """The same image stored top-down: rows reversed, biHeight negated."""
    import struct

    (offset,) = struct.unpack_from("<I", bmp, 10)
    w, h = struct.unpack_from("<ii", bmp, 18)
    stride = (3 * w + 3) // 4 * 4
    rows = [bmp[offset + r * stride : offset + (r + 1) * stride] for r in range(h)]
    out = bytearray(bmp[:offset] + b"".join(reversed(rows)))
    struct.pack_into("<i", out, 22, -h)
    return bytes(out)


def test_bmp_top_down_decodes_like_bottom_up(spark):
    """A negative biHeight is legal and means rows are stored top-down.
    Resize and dHash depend on row order, so each must return the same
    output for the same image in either orientation."""
    from big_data_player_analysis_spark.multimodal import (
        decode_bmp_features,
        dhash_signatures,
        resize_bmp_features,
        synth_textured_bmp_payload,
    )

    schema = "doc_id long, payload binary"
    ids = (2, 7, 51)
    bottom_up = spark.createDataFrame(
        [(i, synth_textured_bmp_payload(i)) for i in ids], schema
    )
    top_down = spark.createDataFrame(
        [(i, _top_down_bmp(synth_textured_bmp_payload(i))) for i in ids], schema
    )
    for op in (decode_bmp_features, resize_bmp_features, dhash_signatures):
        assert sorted(op(top_down).collect()) == sorted(op(bottom_up).collect()), op


def test_png_decode_roundtrip(spark):
    """Real PNG decode: decoded geometry + channel means must equal the
    closed forms. The synth cycles filter types y % 5, so ids with h >= 5
    (e.g. 3 -> h=5, 300 -> h=6) force the decoder through ALL five RFC
    2083 filters including Average and Paeth."""
    from big_data_player_analysis_spark.multimodal import (
        _bmp_params,
        attach_synth_payload,
        decode_png_features,
        synth_png_payload,
    )

    ids = (0, 1, 3, 9, 14, 300)
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = {r.doc_id: r for r in decode_png_features(
        attach_synth_payload(df, "doc_id", synth_png_payload)
    ).collect()}
    assert any(_bmp_params(i)[1] >= 5 for i in ids)  # Paeth really exercised
    for i in ids:
        w, h, red = _bmp_params(i)
        r = out[i]
        assert (r.width, r.height) == (w, h)
        assert r.mean_r == float(red)
        assert r.mean_g == (h - 1) / 2
        assert r.mean_b == (w - 1) / 2


def test_png_decode_verifies_crc(spark):
    """A flipped payload byte must surface as a CRC error, not silent
    mis-decoded pixels."""
    from big_data_player_analysis_spark.multimodal import (
        decode_png_features,
        synth_png_payload,
    )

    good = synth_png_payload(7)
    bad = bytearray(good)
    bad[40] ^= 0xFF  # inside IHDR/IDAT data, after the signature
    df = spark.createDataFrame(
        [(1, bytes(bad))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="CRC mismatch"):
        decode_png_features(df).collect()


def test_png_decode_rejects_non_png(spark):
    from big_data_player_analysis_spark.multimodal import decode_png_features

    df = spark.createDataFrame([(1, b"BM not a png")], "doc_id long, payload binary")
    with pytest.raises(Exception, match="not a PNG"):
        decode_png_features(df).collect()


@pytest.mark.parametrize("synth, decode, did, cut", [
    ("synth_wav_payload", "decode_audio_features", 5, 8),
    ("synth_bmp_payload", "decode_bmp_features", 5, 7),
    ("synth_png_payload", "decode_png_features", 5, 7),
    ("synth_jpeg_payload", "decode_jpeg_features", 9, 40),
    ("synth_jpeg_payload", "decode_jpeg_features", 5, 1),
])
def test_truncated_payload_raises_naming_the_doc(spark, synth, decode, did, cut):
    """A payload cut short must raise an error naming the doc, never decode
    the samples or pixels that are left, and never surface a bare numpy,
    struct or IndexError from the parser."""
    from big_data_player_analysis_spark import multimodal

    bad = getattr(multimodal, synth)(did)[:-cut]
    df = spark.createDataFrame([(did, bad)], "doc_id long, payload binary")
    with pytest.raises(Exception, match=f"ValueError: doc {did}: "):
        getattr(multimodal, decode)(df).collect()


#: sha256 over the concatenated synth_*_payload(i) bytes for i in
#: (0, 1, 5, 51, 300). The decode oracles check features, not bytes, so
#: these digests are what catches a writer change that alters the
#: container but still decodes to the same features.
SYNTH_PAYLOAD_SHA256 = {
    "synth_wav_payload": "99be224720b52a0f7561a5c1107fb01852e476a2d6be4026122cf10a970dff3b",
    "synth_bmp_payload": "5f198f36413e4e1e123b14e38ab0f946b58f352f8b93298700b68aa440a48bd0",
    "synth_textured_bmp_payload": "023834ed2ba6240e124772063fe3ed995ec8914b7986f33bb0e3e51e8a5d36f4",
    "synth_png_payload": "80414109ed9fda7c5d7ecb153bb8753259ec66b346c97fc3289be1cac9692120",
    "synth_avi_payload": "4a325e859002aab430f5a3b2d8518a3a484637dc92bcf912b61875ad2f4457c3",
    "synth_jpeg_payload": "3b4d1b79fd251288bacebb5202136c66e9c5eb7e0a1b9399f8f5c68e1ccd6308",
    "synth_mjpeg_avi_payload": "24eb92196b95dda0ce95e1f0e6dc7ec671addfd14c85520b90dd1a767b22b81e",
    "synth_ipframe_avi_payload": "57b1c763102e40e6bddffc4b9fd5032fc1f31a2450a87682676e0bfad6f14e41",
    "synth_mcframe_avi_payload": "0ab7a249f8b3abea45a6de6d4525a715f85c1d2e56615090d81836b450882087",
}


def test_synth_payload_bytes_pinned():
    import hashlib

    from big_data_player_analysis_spark import multimodal

    for name, want in SYNTH_PAYLOAD_SHA256.items():
        digest = hashlib.sha256()
        for i in (0, 1, 5, 51, 300):
            digest.update(getattr(multimodal, name)(i))
        assert digest.hexdigest() == want, name


def test_video_decode_roundtrip(spark):
    """Real AVI decode: one row per frame, geometry + channel means equal
    the closed forms (B = x, G = y, R = red0 + frame index)."""
    from big_data_player_analysis_spark.multimodal import (
        _avi_params,
        attach_synth_payload,
        decode_video_frames,
        synth_avi_payload,
    )

    ids = (0, 1, 5, 12, 255, 9999)
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = decode_video_frames(attach_synth_payload(df, "doc_id", synth_avi_payload)).collect()
    assert len(out) == sum(_avi_params(i)[2] for i in ids)  # explode fan-out
    for r in out:
        w, h, nf, red0 = _avi_params(r.doc_id)
        assert (r.width, r.height) == (w, h) and 0 <= r.frame_no < nf
        assert r.mean_b == (w - 1) / 2
        assert r.mean_g == (h - 1) / 2
        assert r.mean_r == float(red0 + r.frame_no)


def _movi_chunks(payload: bytes) -> tuple[int, list[int]]:
    """(offset of LIST movi, offsets of the chunks inside it)."""
    import struct

    movi = payload.find(b"movi") - 8
    (mlen,) = struct.unpack_from("<I", payload, movi + 4)
    pos, chunks = movi + 12, []
    while pos < movi + 8 + mlen:
        chunks.append(pos)
        (clen,) = struct.unpack_from("<I", payload, pos + 4)
        pos += 8 + clen + clen % 2
    return movi, chunks


def _drop_last_frame(payload: bytes) -> bytes:
    """Cut the last chunk out of an AVI's movi list and fix up the RIFF
    and movi LIST sizes: structurally valid, one frame short of avih."""
    import struct

    movi, chunks = _movi_chunks(payload)
    last = chunks[-1]
    (clen,) = struct.unpack_from("<I", payload, last + 4)
    cut = 8 + clen + clen % 2
    out = bytearray(payload[:last] + payload[last + cut :])
    struct.pack_into("<I", out, 4, len(out) - 8)
    (mlen,) = struct.unpack_from("<I", out, movi + 4)
    struct.pack_into("<I", out, movi + 4, mlen - cut)
    return bytes(out)


def test_video_decode_checks_frame_count(spark):
    """A movi list missing a declared frame must raise (avih dwTotalFrames
    cross-check), not silently emit fewer rows — in the DIB, MJPEG, IPDC
    and MCDC decoders alike."""
    from big_data_player_analysis_spark.multimodal import (
        decode_ipframe_frames,
        decode_mcframe_frames,
        decode_mjpeg_frames,
        decode_video_frames,
        synth_avi_payload,
        synth_ipframe_avi_payload,
        synth_mcframe_avi_payload,
        synth_mjpeg_avi_payload,
    )

    cases = (  # doc 5 declares 6, 2, 4 and 4 frames
        (synth_avi_payload, decode_video_frames, 6),
        (synth_mjpeg_avi_payload, decode_mjpeg_frames, 2),
        (synth_ipframe_avi_payload, decode_ipframe_frames, 4),
        (synth_mcframe_avi_payload, decode_mcframe_frames, 4),
    )
    for synth, decode, nf in cases:
        bad = _drop_last_frame(synth(5))
        df = spark.createDataFrame([(5, bad)], "doc_id long, payload binary")
        with pytest.raises(Exception, match=f"doc 5: avih declares {nf} frames"):
            decode(df).collect()


def test_avi_chunk_overrun_names_doc(spark):
    """A chunk whose declared length runs past its enclosing RIFF/LIST
    must raise an error naming the doc, not whatever numpy or struct
    raises on a short buffer."""
    import struct

    from big_data_player_analysis_spark.multimodal import (
        decode_mjpeg_frames,
        decode_video_frames,
        synth_avi_payload,
        synth_mjpeg_avi_payload,
    )

    schema = "doc_id long, payload binary"
    for synth, decode in (
        (synth_avi_payload, decode_video_frames),
        (synth_mjpeg_avi_payload, decode_mjpeg_frames),
    ):
        df = spark.createDataFrame([(5, synth(5)[:-7])], schema)
        with pytest.raises(Exception, match=r"doc 5: chunk b'RIFF' overruns"):
            decode(df).collect()
    # a frame chunk that claims more bytes than its LIST movi holds
    bad = bytearray(synth_mjpeg_avi_payload(5))
    last = _movi_chunks(bytes(bad))[1][-1]
    (clen,) = struct.unpack_from("<I", bad, last + 4)
    struct.pack_into("<I", bad, last + 4, clen + 16)
    df = spark.createDataFrame([(5, bytes(bad))], schema)
    with pytest.raises(Exception, match=r"doc 5: chunk b'00dc' at byte \d+ overruns its parent"):
        decode_mjpeg_frames(df).collect()


def test_video_decode_rejects_compressed_and_non_avi(spark):
    import struct

    from big_data_player_analysis_spark.multimodal import (
        decode_video_frames,
        synth_avi_payload,
    )

    df = spark.createDataFrame([(1, b"RIFFxxxxWAVE")], "doc_id long, payload binary")
    with pytest.raises(Exception, match="not an AVI"):
        decode_video_frames(df).collect()
    # flip the strf biCompression field to a codec fourcc: must route to
    # the decode_video hook, never mis-decode
    comp = bytearray(synth_avi_payload(3))
    strf = comp.find(b"strf")
    struct.pack_into("<I", comp, strf + 8 + 16, 0x34363248)  # 'H264'
    df2 = spark.createDataFrame([(1, bytes(comp))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="compressed/non-24bpp"):
        decode_video_frames(df2).collect()


# ---------------------------------------------------------- text functions


def test_token_counts_inline(spark):
    from big_data_player_analysis_spark.functions.text import bpe_token_count, ws_token_count

    df = spark.createDataFrame([("the cat, sat!",), ("a  b   c",)], "text string")
    got = df.select(
        ws_token_count(F.col("text")).alias("ws"),
        bpe_token_count(F.col("text")).alias("bpe"),
    ).collect()
    assert (got[0].ws, got[0].bpe) == (3, 5)  # the|cat|,|sat|!
    assert (got[1].ws, got[1].bpe) == (3, 3)


def test_language_id_inline(spark):
    from big_data_player_analysis_spark.functions.text import predict_language

    df = spark.createDataFrame(
        [
            ("the cat and the dog of to in",),
            ("der hund und die katze das nicht",),
            ("le chat et la les des",),
            ("xyzzy",),  # all-zero scores -> priority order -> en
        ],
        "text string",
    )
    got = [r.p for r in df.select(predict_language(F.col("text")).alias("p")).collect()]
    assert got == ["en", "de", "fr", "en"]


def test_quality_score_formula(spark):
    from big_data_player_analysis_spark.functions.text import quality_score

    text = "the cat sat on the mat"
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(quality_score(F.col("text")).alias("q")).first().q
    n_tokens = 6
    stop_hits = 2  # 'the' twice; other en stopwords absent
    alpha = sum(c.isalpha() for c in text)
    want = round(
        0.4 * stop_hits / n_tokens + 0.3 * alpha / len(text) + 0.3 * min(1.0, n_tokens / 100),
        6,
    )
    assert got == pytest.approx(want, abs=1e-9)


def test_knn_join_vectorized_matches_expression_path(emb):
    from big_data_player_analysis_spark.operators.similarity import knn_join_vectorized

    got = sorted(
        tuple(r)
        for r in knn_join_vectorized(emb, emb.filter(F.col("vec_id") < 5), k=3).collect()
    )
    want = sorted(
        tuple(r) for r in knn_join(emb, emb.filter(F.col("vec_id") < 5), k=3).collect()
    )
    assert got == want


# -------------------------------------------------------------- clustering


def test_kmeans_partitions_and_converges(emb, emb_np):
    from big_data_player_analysis_spark.operators.clustering import kmeans_fit

    ids, E, labels = emb_np
    fit = kmeans_fit(emb, k=8, max_iter=10)
    assign = {r.id: r.cluster for r in fit.assignments.collect()}
    assert set(assign) == set(int(i) for i in ids)  # every vector assigned
    assert 1 <= len(set(assign.values())) <= 8
    assert fit.iterations >= 1
    # determinism: a second fit gives the identical assignment
    fit2 = kmeans_fit(emb, k=8, max_iter=10)
    assert {r.id: r.cluster for r in fit2.assignments.collect()} == assign


def test_ivf_kmeans_all_probes_equals_bruteforce(emb, emb_np):
    """Probing every cell degenerates to the exact answer."""
    from big_data_player_analysis_spark.operators.clustering import ivf_kmeans_topk

    got = [
        (r.vec_id, r.cosine)
        for r in ivf_kmeans_topk(
            emb, emb.filter(F.col("vec_id") == 0),
            k_clusters=8, n_probe=8, k=10, max_iter=5,
        ).collect()
    ]
    want = [
        (r.vec_id, r.cosine)
        for r in brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=10).collect()
    ]
    assert got == want


def test_dedup_components_chain_and_cliques(spark):
    from big_data_player_analysis_spark.operators.dedup import dedup_components

    # a chain (diameter > 1 forces multiple sweeps), a triangle, an isolated pair
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {r.node: r.component for r in dedup_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_dedup_components_nonconvergence_raises(spark, monkeypatch):
    """A chain whose diameter exceeds the sweep budget must raise rather
    than silently return split components (round-1 ADVICE finding); with
    strict=False the partial labeling is returned instead."""
    from big_data_player_analysis_spark.operators.dedup import dedup_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "doc_a long, doc_b long"
    )
    # a closed union-find gate forces the distributed sweep path (a pair
    # set this small otherwise routes to the single-task union-find,
    # which has no sweep budget to exceed)
    monkeypatch.setattr(gates, "UNIONFIND_MAX_PAIRS", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_components(chain, max_iter=2)
    partial = {
        r.node: r.component
        for r in dedup_components(chain, max_iter=2, strict=False).collect()
    }
    assert len(set(partial.values())) > 1  # genuinely un-converged
    full = {r.node: r.component for r in dedup_components(chain, max_iter=8).collect()}
    assert set(full.values()) == {1}


def test_dedup_components_unionfind_matches_sweeps(spark, monkeypatch):
    """The size-gated single-task union-find (round-9) must produce the
    identical (node, min-reachable-id) labeling as the distributed
    min-label sweeps on chains, cliques, merged components, and a random
    graph."""
    import random as _random

    from big_data_player_analysis_spark.operators.dedup import dedup_components

    rng = _random.Random(9)
    edges = [(i, i + 1) for i in range(100, 108)]            # chain
    edges += [(a, b) for a in range(200, 205) for b in range(a + 1, 205)]  # clique
    edges += [(300, 301), (302, 303), (301, 302)]            # merge
    edges += [(rng.randrange(400, 460), rng.randrange(400, 460)) for _ in range(80)]
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "doc_a long, doc_b long"
    )
    uf = {r.node: r.component for r in dedup_components(pairs).collect()}
    monkeypatch.setattr(gates, "UNIONFIND_MAX_PAIRS", 0)
    sweeps = {r.node: r.component for r in dedup_components(pairs).collect()}
    assert uf == sweeps and len(uf) > 0


def test_dedup_components_on_jaccard_pairs(spark, docs, py_jaccard_pairs):
    from big_data_player_analysis_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(a, b) for a, b in py_jaccard_pairs], "doc_a long, doc_b long"
    )
    got = {r.node: r.component for r in dedup_components(pairs).collect()}

    # independent union-find
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in py_jaccard_pairs:
        union(a, b)
    want = {x: find(x) for x in parent}
    assert got == want


class TestDecontaminate:
    def test_matches_python_ngram_overlap(self, spark, sf_small, docs, doc_rows):
        import hashlib

        from big_data_player_analysis_spark.operators.dedup import decontaminate

        def pfx(doc_id):
            return hashlib.md5(str(doc_id).encode()).hexdigest()[0]

        ev_sh = set()
        for d, t in doc_rows:
            if pfx(d) == "f":
                ev_sh |= _shingles(t)
        expected = {}
        for d, t in doc_rows:
            if pfx(d) != "f":
                n = len(_shingles(t) & ev_sh)
                if n >= 3:
                    expected[d] = n
        assert ev_sh and expected, "fixture must exercise both sides"

        col = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        out = decontaminate(
            docs.filter(col != "f"),
            docs.filter(col == "f"),
            "doc_id",
            "text",
            k=K,
            min_shared=3,
        ).collect()
        got = {r.train_id: r.n_shared for r in out}
        assert got == expected

    def test_eval_side_is_broadcast(self, spark, sf_small, docs):
        from big_data_player_analysis_spark.operators.dedup import decontaminate

        col = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        plan = decontaminate(
            docs.filter(col != "f"), docs.filter(col == "f"), "doc_id", "text"
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


# ------------------------------------------------------ chunking + URLs


class TestChunkFixed:
    def _chunks(self, spark, texts, size=10, stride=7):
        from big_data_player_analysis_spark.operators.chunking import chunk_fixed

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        return chunk_fixed(df, "doc_id", "text", size=size, stride=stride)

    def test_short_text_single_chunk(self, spark):
        out = self._chunks(spark, ["abc"]).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.chunk_id, r.n_chunks, r.chunk_text, r.chunk_len) == (0, 1, "abc", 3)

    def test_exact_fit_single_chunk(self, spark):
        out = self._chunks(spark, ["x" * 10]).collect()
        assert len(out) == 1 and out[0].n_chunks == 1

    def test_exact_multiple_of_stride(self, spark):
        # len 17 = size + stride: windows [0,10) and [7,17) exactly
        out = sorted(self._chunks(spark, ["abcdefghijklmnopq"]).collect(),
                     key=lambda r: r.chunk_id)
        assert [r.chunk_text for r in out] == ["abcdefghij", "hijklmnopq"]
        assert all(r.n_chunks == 2 for r in out)

    def test_stride_overlap_and_tail(self, spark):
        # len 20: windows start at 0,7,14 -> last is a 6-char tail
        out = sorted(self._chunks(spark, ["a" * 20]).collect(),
                     key=lambda r: r.chunk_id)
        assert [r.chunk_len for r in out] == [10, 10, 6]
        # overlap: consecutive windows share size - stride = 3 chars
        assert all(r.n_chunks == 3 for r in out)

    def test_null_and_empty_text_preserved(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, "")], "doc_id long, text string"
        )
        from big_data_player_analysis_spark.operators.chunking import chunk_fixed

        out = chunk_fixed(df, "doc_id", "text", size=10, stride=7).collect()
        assert sorted(r.doc_id for r in out) == [1, 2]
        assert all(r.chunk_text == "" and r.n_chunks == 1 for r in out)

    def test_coverage_no_gaps(self, spark):
        # every char position is covered by at least one window
        text = "".join(chr(97 + i % 26) for i in range(53))
        out = sorted(self._chunks(spark, [text]).collect(), key=lambda r: r.chunk_id)
        covered = set()
        for r in out:
            start = r.chunk_id * 7
            covered.update(range(start, start + r.chunk_len))
        assert covered == set(range(53))

    def test_invalid_params_raise(self, spark):
        import pytest as _pytest

        with _pytest.raises(ValueError):
            self._chunks(spark, ["abc"], size=5, stride=6)
        with _pytest.raises(ValueError):
            self._chunks(spark, ["abc"], size=0, stride=0)


class TestCanonicalizeUrl:
    def _canon(self, spark, urls):
        from pyspark.sql import functions as F

        from big_data_player_analysis_spark.functions.urls import canonicalize_url

        df = spark.createDataFrame([(u,) for u in urls], "url string")
        return [r.c for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()]

    def test_fragment_dropped(self, spark):
        assert self._canon(spark, ["http://a.com/x#frag"]) == ["http://a.com/x"]

    def test_scheme_host_lowercased_path_untouched(self, spark):
        assert self._canon(spark, ["HTTP://WWW.A.COM/CaseSensitive/Path"]) == [
            "http://www.a.com/CaseSensitive/Path"
        ]

    def test_default_port_scheme_aware(self, spark):
        got = self._canon(
            spark,
            [
                "http://a.com:80/x",    # default -> stripped
                "https://a.com:443/x",  # default -> stripped
                "http://a.com:443/x",   # NOT default for http -> kept
                "https://a.com:80/x",   # NOT default for https -> kept
                "http://a.com:8080/x",  # non-default -> kept
            ],
        )
        assert got == [
            "http://a.com/x",
            "https://a.com/x",
            "http://a.com:443/x",
            "https://a.com:80/x",
            "http://a.com:8080/x",
        ]

    def test_tracking_params_dropped_valued_and_valueless(self, spark):
        got = self._canon(
            spark,
            [
                "http://a.com/x?utm_source=t&b=2&a=1",
                "http://a.com/x?a=1&ref&b=2",
                "http://a.com/x?fbclid=abc&a=1&b=2",
                "http://a.com/x?utm_campaign&b=2&a=1",
                # 'refresh=1' must NOT be dropped (anchored ref needs = or end)
                "http://a.com/x?refresh=1&a=1",
            ],
        )
        assert got[:4] == ["http://a.com/x?a=1&b=2"] * 4
        assert got[4] == "http://a.com/x?a=1&refresh=1"

    def test_param_order_canonicalized(self, spark):
        assert self._canon(
            spark, ["http://a.com/x?b=2&a=1", "http://a.com/x?a=1&b=2"]
        ) == ["http://a.com/x?a=1&b=2"] * 2

    def test_all_params_tracking_drops_query(self, spark):
        assert self._canon(spark, ["http://a.com/x?utm_a=1&ref"]) == ["http://a.com/x"]


class TestBlockRoutes:
    """Routing-table invariant for the blocked-GEMM embedding dedup
    (round-2 verdict #6): every unordered block pair covered exactly once,
    under several B."""

    @pytest.mark.parametrize("n_blocks", [1, 2, 3, 4, 8, 16])
    def test_every_unordered_pair_exactly_once(self, n_blocks):
        from big_data_player_analysis_spark.operators.dedup import _block_routes

        routes = _block_routes(n_blocks)
        # group -> roles contributed, with source block
        a_src = {}  # (bi, bj) -> list of source blocks with role 'a'
        b_src = {}
        for block, bi, bj, role in routes:
            assert 0 <= bi <= bj < n_blocks
            (a_src if role == "a" else b_src).setdefault((bi, bj), []).append(block)
        pairs = {(i, j) for i in range(n_blocks) for j in range(i, n_blocks)}
        # every unordered pair present with exactly one 'a' (from block i)
        # and one 'b' (from block j)
        assert set(a_src) == pairs and set(b_src) == pairs
        for (i, j) in pairs:
            assert a_src[(i, j)] == [i]
            assert b_src[(i, j)] == [j]

    @pytest.mark.parametrize("n_blocks", [1, 2, 8])
    def test_replication_factor_is_b_plus_one(self, n_blocks):
        from big_data_player_analysis_spark.operators.dedup import _block_routes

        routes = _block_routes(n_blocks)
        per_block = {}
        for block, *_ in routes:
            per_block[block] = per_block.get(block, 0) + 1
        # shuffle volume O(n * (B+1)): each block emitted B+1 times
        assert all(c == n_blocks + 1 for c in per_block.values())


class TestAudioDecode:
    """Real-codec multimodal path: WAV payloads are genuine RIFF/WAVE
    containers and the decode goes through the stdlib wave parser."""

    def test_payload_is_real_riff_wave(self):
        from big_data_player_analysis_spark.multimodal import synth_wav_payload

        b = synth_wav_payload(7)
        assert b[:4] == b"RIFF" and b[8:12] == b"WAVE"

    def test_roundtrip_known_signal(self, spark):
        from big_data_player_analysis_spark.multimodal import (
            attach_synth_payload,
            decode_audio_features,
            synth_wav_payload,
        )

        df = spark.createDataFrame([(i,) for i in range(16)], "doc_id long")
        out = {
            r.doc_id: r
            for r in decode_audio_features(
                attach_synth_payload(df, "doc_id", synth_wav_payload)
            ).collect()
        }
        for i in range(16):
            r = out[i]
            assert r.sample_rate == 16000 and r.n_channels == 1
            assert r.n_samples == 100 + i % 400
            # square wave of amplitude A has RMS exactly A
            assert r.rms == float(1000 + (i % 8) * 1000)

    def test_decode_rejects_non_wav_bytes(self, spark):
        import pytest as _pytest

        from big_data_player_analysis_spark.multimodal import decode_audio_features

        df = spark.createDataFrame(
            [(1, bytearray(b"not a wav file"))], "doc_id long, payload binary"
        )
        with _pytest.raises(Exception):
            decode_audio_features(df).collect()


class TestPiiRedaction:
    def _redact(self, spark, texts):
        from pyspark.sql import functions as F

        from big_data_player_analysis_spark.functions.pii import pii_counts, redact_pii

        df = spark.createDataFrame([(t,) for t in texts], "t string")
        c = pii_counts(F.col("t"))
        return df.select(
            redact_pii(F.col("t")).alias("red"),
            c["n_emails"].alias("ne"), c["n_ipv4"].alias("ni"), c["n_phones"].alias("np"),
        ).collect()

    def test_email_redacted_and_counted(self, spark):
        [r] = self._redact(spark, ["mail me at jane.doe+x@sub.example.co.uk now"])
        assert r.red == "mail me at <EMAIL> now"
        assert (r.ne, r.ni, r.np) == (1, 0, 0)

    def test_ipv4_redacted(self, spark):
        [r] = self._redact(spark, ["server 192.168.0.1 and 10.2.3.4."])
        assert r.red == "server <IP> and <IP>."
        assert r.ni == 2

    def test_phone_redacted(self, spark):
        [r] = self._redact(spark, ["call +44 20 7946 0958 or +1 555 0042 123"])
        assert r.red == "call <PHONE> or <PHONE>"
        assert r.np == 2

    def test_plain_text_untouched(self, spark):
        text = "no pii here, just 42 words and 7 numbers v1.2"
        [r] = self._redact(spark, [text])
        assert r.red == text
        assert (r.ne, r.ni, r.np) == (0, 0, 0)

    def test_mixed_all_three(self, spark):
        [r] = self._redact(spark, ["a@b.io at 1.2.3.4 call +33 61 12 34 56"])
        assert r.red == "<EMAIL> at <IP> call <PHONE>"
        assert (r.ne, r.ni, r.np) == (1, 1, 1)

    def test_single_digit_group_not_a_phone(self, spark):
        # groups must be 2-4 digits: '+33 6 ...' is not matched (and the
        # SQL twin agrees — RE2 and Java evaluate this subset identically)
        [r] = self._redact(spark, ["call +33 6 12 34 56"])
        assert r.np == 0 and r.red == "call +33 6 12 34 56"


class TestChunkTokens:
    def _chunks(self, spark, texts, size=5, stride=3):
        from big_data_player_analysis_spark.operators.chunking import chunk_tokens

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        return chunk_tokens(df, "doc_id", "text", size=size, stride=stride)

    def test_short_doc_single_chunk(self, spark):
        out = self._chunks(spark, ["a b c"]).collect()
        assert len(out) == 1
        assert out[0].chunk_text == "a b c" and out[0].n_tokens == 3

    def test_windows_and_overlap(self, spark):
        text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
        out = sorted(self._chunks(spark, [text]).collect(), key=lambda r: r.chunk_id)
        # windows start at tokens 0, 3, 6 (last covers through token 9)
        assert [r.chunk_text.split()[0] for r in out] == ["t0", "t3", "t6"]
        assert [r.n_tokens for r in out] == [5, 5, 4]
        # consecutive windows overlap by size - stride = 2 tokens
        assert out[0].chunk_text.split()[-2:] == out[1].chunk_text.split()[:2]

    def test_every_token_covered(self, spark):
        text = " ".join(f"t{i}" for i in range(23))
        out = self._chunks(spark, [text]).collect()
        seen = set()
        for r in out:
            seen.update(r.chunk_text.split())
        assert seen == {f"t{i}" for i in range(23)}

    def test_null_text_one_empty_chunk(self, spark):
        from big_data_player_analysis_spark.operators.chunking import chunk_tokens

        df = spark.createDataFrame([(1, None)], "doc_id long, text string")
        out = chunk_tokens(df, "doc_id", "text", size=5, stride=3).collect()
        assert len(out) == 1 and out[0].chunk_text == ""


def test_unigram_logprob_hand_computed(spark):
    """Tiny corpus with a hand-derivable distribution: 'a a b' + 'a c'.
    Corpus counts: a=3, b=1, c=1, total=5."""
    import math

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0, "a a b"), (1, "a c")], "doc_id long, text string"
    )
    # same expression pipeline as registry llm_unigram_logprob, applied to
    # the in-memory frame (the registry fn loads from a table dir)
    toks = df.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.regexp_replace(F.lower("text"), "[^a-z]", " ")), " +")
        ).alias("term"),
    ).filter(F.length("term") >= 1)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    cf = tf.groupBy("term").agg(F.sum("tf").alias("cf"))
    total = cf.agg(F.sum("cf").alias("total"))
    out = {
        r.doc_id: (r.n_tokens, r.avg_surprisal)
        for r in tf.join(cf, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                -F.sum(F.col("tf") * F.log(F.col("cf") / F.col("total"))) / F.sum("tf"), 6
            ).alias("avg_surprisal"),
        )
        .collect()
    }
    pa, pb, pc = 3 / 5, 1 / 5, 1 / 5
    want0 = -(2 * math.log(pa) + math.log(pb)) / 3
    want1 = -(math.log(pa) + math.log(pc)) / 2
    assert out[0][0] == 3 and out[1][0] == 2
    assert out[0][1] == round(want0, 6)
    assert out[1][1] == round(want1, 6)
    # doc 1 (with rarer mix) is more surprising than doc 0? a-heavy doc 0
    # has lower surprisal iff its token mix is more typical
    assert out[1][1] > out[0][1]


def test_embed_quantize_int8_roundtrip_error_bound(spark, emb):
    """Dequantized values reconstruct within scale/2 per coordinate and
    quantized codes stay in [-127, 127]."""
    from big_data_player_analysis_spark.registry.llm_ops import embed_quantize_q  # noqa: F401
    from pyspark.sql import functions as F

    v = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    ).withColumn("scale", F.array_max(F.transform("e", lambda x: F.abs(x))) / 127.0)
    rows = v.select("vec_id", "e", "scale").limit(50).collect()
    for r in rows:
        scale = r.scale
        assert scale > 0
        for x in r.e:
            q = round(x / scale)
            assert -127 <= q <= 127
            assert abs(x - q * scale) <= scale / 2 + 1e-12


# ------------------------------------------------------------ semantic dedup


class TestSemanticDedup:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id long, embedding array<float>",
        )

    def test_in_bucket_near_dup_collapses_to_senior(self, spark):
        from big_data_player_analysis_spark.operators.dedup import semantic_dedup

        # ids 1 and 5: identical direction (cosine 1.0), same sign bucket
        # -> the lower id survives; id 9 is orthogonal-ish in the same
        # bucket and survives.
        rows = [
            (1, [1.0, 1.0, 1.0, 0.5, 0.5, 0.5, 0.1, 0.2]),
            (5, [2.0, 2.0, 2.0, 1.0, 1.0, 1.0, 0.2, 0.4]),
            (9, [1.0, -1.0, 1.0, -0.5, 0.5, -0.5, 0.3, 0.1]),
        ]
        out = semantic_dedup(self._df(spark, rows), "vec_id", "embedding", 0.9, 3)
        got = {(r.vec_id, r.bucket) for r in out.collect()}
        # buckets: id1/id5 signs (+,+,+) -> 0b111 = 7; id9 (+,-,+) -> 0b101 = 5
        assert got == {(1, 7), (9, 5)}

    def test_cross_bucket_near_dups_not_compared(self, spark):
        from big_data_player_analysis_spark.operators.dedup import semantic_dedup

        # identical magnitudes but opposite first-dim sign -> different
        # buckets, so both survive: the documented SemDeDup recall
        # tradeoff (the exact path is dedup_embedding_cosine).
        rows = [
            (1, [0.01, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
            (2, [-0.01, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
        ]
        out = semantic_dedup(self._df(spark, rows), "vec_id", "embedding", 0.9, 3)
        assert {r.vec_id for r in out.collect()} == {1, 2}

    def test_matches_numpy_twin_on_corpus(self, spark, sf_small):
        from big_data_player_analysis_spark.operators.dedup import semantic_dedup

        emb = load_table(spark, sf_small, "embeddings")
        out = semantic_dedup(emb, "vec_id", "embedding", 0.4, 6)
        got = {(r.vec_id, r.bucket) for r in out.collect()}

        pdf = emb.select("vec_id", "embedding").toPandas()
        ids = pdf["vec_id"].to_numpy()
        V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        buckets = (V[:, :6] > 0).astype(np.int64) @ (1 << np.arange(6))
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        dropped = set()
        for bkt in np.unique(buckets):
            sel = np.nonzero(buckets == bkt)[0]
            order = sel[np.argsort(ids[sel])]
            S = np.round(Vn[order] @ Vn[order].T, 6)
            for j in range(1, len(order)):
                if (S[:j, j] >= 0.4).any():
                    dropped.add(ids[order[j]])
        want = {
            (int(i), int(b)) for i, b in zip(ids, buckets) if int(i) not in dropped
        }
        assert got == want

    def test_plan_equi_joins_only(self, spark, sf_small):
        from big_data_player_analysis_spark.operators.dedup import semantic_dedup

        emb = load_table(spark, sf_small, "embeddings")
        plan = (
            semantic_dedup(emb, "vec_id", "embedding", 0.4, 6)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the within-bucket pairwise prune must ride an equi-join on the
        # bucket key, never a nested-loop/cartesian all-pairs
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_quality_rounding_portable_on_tie_values(spark):
    """The round-4 sf1 sweep found quality scores landing exactly on a
    7th-digit half (0.2504375) and just below one in binary
    (0.30393749999999997): Spark round() (exact-decimal HALF_UP) and
    DuckDB round() (float-product) disagreed in BOTH directions. Pin that
    the shipped floor(x*1e6 + 0.5)/1e6 form gives the identical result in
    Spark, DuckDB and plain Python IEEE arithmetic on exactly those
    values."""
    import duckdb
    import math

    from pyspark.sql import functions as F

    ties = [0.2504375, 0.30393749999999997, 0.9999995, 0.1234565]
    sdf = spark.createDataFrame([(v,) for v in ties], "x double").select(
        (F.floor(F.col("x") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("r")
    )
    got_spark = [r.r for r in sdf.collect()]
    con = duckdb.connect()
    got_duck = [
        con.execute(
            "SELECT floor(CAST(? AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0", [v]
        ).fetchone()[0]
        for v in ties
    ]
    got_py = [math.floor(v * 1e6 + 0.5) / 1e6 for v in ties]
    assert got_spark == got_duck == got_py


def test_phash_dhash_matches_pure_python(spark):
    """dhash_signatures (real BMP parse + grid sample + neighbor bits)
    must equal an independent pure-Python replay of the closed forms, for
    planted and non-planted docs across the (w, h) parameter lattice."""
    from big_data_player_analysis_spark.multimodal import (
        DHASH_GH,
        DHASH_GW,
        _texture_params,
        _texture_value,
        attach_synth_payload,
        dhash_signatures,
        synth_textured_bmp_payload,
    )

    from big_data_player_analysis_spark.multimodal import (
        DHASH_N_SEG,
        DHASH_SEG_BITS,
    )

    ids = (0, 1, 7, 50, 51, 52, 101, 449, 450, 451)
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r.doc_id: list(r.sig)
        for r in dhash_signatures(
            attach_synth_payload(df, "doc_id", synth_textured_bmp_payload)
        ).collect()
    }
    for i in ids:
        _cid, w, h, seed, planted = _texture_params(i)
        px, py = (3 * w) // 10, (2 * h) // 7
        segs = [0] * DHASH_N_SEG
        for gy in range(DHASH_GH):
            ys = (gy * h) // DHASH_GH
            for gx in range(DHASH_GW):
                def g(xcol):
                    xs = (xcol * w) // (DHASH_GW + 1)
                    v = _texture_value(seed, xs, ys)
                    if planted and xs == px and ys == py:
                        v = (v + 128) % 256
                    return v
                if g(gx + 1) > g(gx):
                    idx = gy * DHASH_GW + gx
                    segs[idx // DHASH_SEG_BITS] |= 1 << (idx % DHASH_SEG_BITS)
        assert got[i] == segs, f"doc {i}"


def test_phash_pairs_find_all_planted(spark, sf_small):
    """Every planted (doc_id-1, doc_id) image pair must come out of the
    pigeonhole-blocked join (completeness), and the exact distances must
    equal a brute-force O(n^2) verify over the same Spark signatures —
    proving the blocking loses nothing at any distance <= max_dist."""
    from pyspark.sql import functions as F

    from big_data_player_analysis_spark.catalog import load_table
    from big_data_player_analysis_spark.multimodal import (
        PHASH_PLANT_MOD,
        attach_synth_payload,
        dhash_signatures,
        synth_textured_bmp_payload,
    )
    from big_data_player_analysis_spark.operators.dedup import hamming_sig_pairs

    docs = load_table(spark, sf_small, "documents").select("doc_id")
    sigs = dhash_signatures(attach_synth_payload(docs, "doc_id", synth_textured_bmp_payload))
    pairs = hamming_sig_pairs(sigs, "doc_id", "sig", max_dist=6)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}

    n_docs = docs.count()
    planted = [
        (d - 1, d) for d in range(1, n_docs) if d % PHASH_PLANT_MOD == 1
    ]
    assert planted, "test corpus too small to plant pairs"
    for p in planted:
        assert p in got, f"planted pair {p} missed by the blocking"

    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming",
            F.expr(
                "aggregate(zip_with(sa, sb, (x, y) -> bit_count(x ^ y)), 0, "
                "(acc, v) -> acc + v)"
            ).cast("long"),
        )
        .filter(F.col("hamming") <= 6)
    )
    want = {(r.id_a, r.id_b): r.hamming for r in brute.collect()}
    assert got == want


def test_dedup_components_empty_pairs(spark):
    """An empty pair set (e.g. a micro-batch with no intra-batch dups)
    must return an empty labeling immediately — the round-6 sum-probe
    rework initially spun to max_iter here because sum(empty) is NULL on
    every sweep and the None sentinel masked the fixed point."""
    from big_data_player_analysis_spark.operators.dedup import dedup_components

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    out = dedup_components(empty).collect()
    assert out == []


def test_jpeg_decode_roundtrip(spark):
    """Real baseline-JPEG decode: geometry + means must equal the closed
    form replayed in pure Python from the same block-level/pattern rules —
    exercising differential DC across MCUs, the planted AC(0,1)
    coefficient, and the standard-table huffman paths."""
    from big_data_player_analysis_spark.multimodal import (
        _jpeg_block_level,
        _jpeg_has_pattern,
        _jpeg_params,
        attach_synth_payload,
        decode_jpeg_features,
        jpeg_pattern_constants,
        synth_jpeg_payload,
    )

    k_mean, k_col0 = jpeg_pattern_constants()
    ids = (0, 1, 2, 3, 17, 300)
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = {r.doc_id: r for r in decode_jpeg_features(
        attach_synth_payload(df, "doc_id", synth_jpeg_payload)
    ).collect()}
    for i in ids:
        w, h, seed = _jpeg_params(i)
        levels, pats = [], []
        for by in range(h // 8):
            for bx in range(w // 8):
                levels.append(_jpeg_block_level(seed, bx, by))
                pats.append(1.0 if _jpeg_has_pattern(bx, by) else 0.0)
        r = out[i]
        assert (r.width, r.height) == (w, h)
        assert r.mean_gray == pytest.approx(
            np.mean(levels) + k_mean * np.mean(pats), abs=1e-6
        )
        assert r.mean_col0 == pytest.approx(
            np.mean(levels) + k_col0 * np.mean(pats), abs=1e-6
        )
        # the AC coefficient must be visible in col0 but not the image mean
        assert k_mean == 0.0 and k_col0 == 2.0


def test_jpeg_decode_rejects_non_baseline(spark):
    """A progressive SOF2 marker must raise, not mis-decode."""
    from big_data_player_analysis_spark.multimodal import (
        decode_jpeg_features,
        synth_jpeg_payload,
    )

    good = bytearray(synth_jpeg_payload(5))
    idx = bytes(good).find(b"\xff\xc0")
    good[idx + 1] = 0xC2  # SOF0 -> SOF2 (progressive)
    df = spark.createDataFrame(
        [(1, bytes(good))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="non-baseline"):
        decode_jpeg_features(df).collect()


def test_jpeg_decode_rejects_non_jpeg(spark):
    from big_data_player_analysis_spark.multimodal import decode_jpeg_features

    df = spark.createDataFrame(
        [(1, b"\x89PNG not a jpeg")], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="not a JPEG"):
        decode_jpeg_features(df).collect()


def test_mjpeg_decode_roundtrip(spark):
    """Real MJPEG-AVI decode: one row per frame, per-frame means equal the
    closed form — per-(block, frame) DC levels through the full container
    walk + JPEG entropy/IDCT pipeline."""
    from big_data_player_analysis_spark.multimodal import (
        _jpeg_has_pattern,
        _mjpeg_block_level,
        _mjpeg_params,
        attach_synth_payload,
        decode_mjpeg_frames,
        jpeg_pattern_constants,
        synth_mjpeg_avi_payload,
    )

    k_mean, k_col0 = jpeg_pattern_constants()
    ids = (0, 1, 2, 5, 17, 300)
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = {}
    for r in decode_mjpeg_frames(
        attach_synth_payload(df, "doc_id", synth_mjpeg_avi_payload)
    ).collect():
        out[(r.doc_id, r.frame_no)] = r
    for i in ids:
        w, h, nf, seed = _mjpeg_params(i)
        for f in range(nf):
            r = out[(i, f)]
            assert (r.width, r.height) == (w, h)
            levels, pats = [], []
            for by in range(h // 8):
                for bx in range(w // 8):
                    levels.append(_mjpeg_block_level(seed, bx, by, f))
                    pats.append(1.0 if _jpeg_has_pattern(bx, by) else 0.0)
            assert r.mean_gray == pytest.approx(
                np.mean(levels) + k_mean * np.mean(pats), abs=1e-6
            )
            assert r.mean_col0 == pytest.approx(
                np.mean(levels) + k_col0 * np.mean(pats), abs=1e-6
            )
    # frame explode: every (doc, frame) accounted for, nothing extra
    assert len(out) == sum(_mjpeg_params(i)[2] for i in ids)


def test_mjpeg_decode_rejects_uncompressed_avi(spark):
    """A DIB (uncompressed) AVI must raise — that's decode_video_frames'
    path, not the MJPEG decoder's."""
    from big_data_player_analysis_spark.multimodal import (
        decode_mjpeg_frames,
        synth_avi_payload,
    )

    df = spark.createDataFrame(
        [(1, synth_avi_payload(3))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="not an MJPEG stream"):
        decode_mjpeg_frames(df).collect()


def _splice_audio_strl(payload: bytes, before_video: bool) -> bytes:
    """Insert an audio stream (strh fccType='auds' + 16-byte WAVEFORMATEX
    strf) into an AVI's hdrl list, before or after the video strl, patching
    the hdrl LIST and RIFF sizes."""
    import struct

    def chunk(tag: bytes, data: bytes) -> bytes:
        return tag + struct.pack("<I", len(data)) + data + (b"\x00" * (len(data) % 2))

    strh_a = b"auds" + b"\x00" * 52
    strf_a = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)  # WAVEFORMATEX
    strl_a = chunk(b"strh", strh_a) + chunk(b"strf", strf_a)
    audio = b"LIST" + struct.pack("<I", len(strl_a) + 4) + b"strl" + strl_a

    buf = bytearray(payload)
    hdrl_type = buf.find(b"hdrl")
    assert hdrl_type > 0
    (hdrl_len,) = struct.unpack_from("<I", buf, hdrl_type - 4)
    if before_video:
        at = buf.find(b"LIST", hdrl_type, hdrl_type + hdrl_len)  # video strl
    else:
        at = hdrl_type + hdrl_len  # end of hdrl data
    out = bytearray(buf[:at] + audio + buf[at:])
    struct.pack_into("<I", out, hdrl_type - 4, hdrl_len + len(audio))
    struct.pack_into("<I", out, 4, len(out) - 8)
    return bytes(out)


def test_multistream_avi_reads_video_strf_only(spark):
    """A second (audio) stream in the container must not confuse either
    decoder: biCompression/geometry come from the 'vids' stream's strf
    only, wherever the audio strl sits (round-7 ADVICE #2 — the old walk
    took the LAST strf seen, so a trailing audio WAVEFORMATEX, which has
    no biCompression at offset 16, made it reject valid video)."""
    from big_data_player_analysis_spark.multimodal import (
        decode_mjpeg_frames,
        decode_video_frames,
        synth_avi_payload,
        synth_mjpeg_avi_payload,
        _avi_params,
        _mjpeg_params,
    )

    for before in (False, True):
        mj = _splice_audio_strl(synth_mjpeg_avi_payload(5), before)
        df = spark.createDataFrame([(5, mj)], "doc_id long, payload binary")
        got = decode_mjpeg_frames(df).collect()
        assert len(got) == _mjpeg_params(5)[2]

        dib = _splice_audio_strl(synth_avi_payload(5), before)
        df2 = spark.createDataFrame([(5, dib)], "doc_id long, payload binary")
        got2 = decode_video_frames(df2).collect()
        w, h, nf, _ = _avi_params(5)
        assert len(got2) == nf
        assert (got2[0].width, got2[0].height) == (w, h)


def test_ipframe_decode_roundtrip(spark):
    """Real inter-frame decode: frame f's means equal the closed-form
    levels of frame f PLUS the frame-0 pattern carried forward by
    prediction — reachable only by sequentially reconstructing every
    residual (a per-frame intra decode of a P-frame chunk yields the
    residual's means, nowhere near these values)."""
    from big_data_player_analysis_spark.multimodal import (
        _ipframe_block_level,
        _ipframe_params,
        _jpeg_has_pattern,
        attach_synth_payload,
        decode_ipframe_frames,
        jpeg_pattern_constants,
        synth_ipframe_avi_payload,
    )

    k_mean, k_col0 = jpeg_pattern_constants()
    ids = (0, 1, 2, 5, 17, 300)
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = {}
    for r in decode_ipframe_frames(
        attach_synth_payload(df, "doc_id", synth_ipframe_avi_payload)
    ).collect():
        out[(r.doc_id, r.frame_no)] = r
    for i in ids:
        w, h, nf, seed = _ipframe_params(i)
        assert nf >= 2  # every payload really has P-frames
        for f in range(nf):
            r = out[(i, f)]
            assert (r.width, r.height) == (w, h)
            levels, pats = [], []
            for by in range(h // 8):
                for bx in range(w // 8):
                    levels.append(_ipframe_block_level(seed, bx, by, f))
                    pats.append(1.0 if _jpeg_has_pattern(bx, by) else 0.0)
            assert r.mean_gray == pytest.approx(
                np.mean(levels) + k_mean * np.mean(pats), abs=1e-6
            )
            assert r.mean_col0 == pytest.approx(
                np.mean(levels) + k_col0 * np.mean(pats), abs=1e-6
            )
    assert len(out) == sum(_ipframe_params(i)[2] for i in ids)


def test_ipframe_decode_rejects_mjpeg_and_fails_closed_on_drift(spark):
    from big_data_player_analysis_spark.multimodal import (
        _encode_dc_frame,
        decode_ipframe_frames,
        synth_ipframe_avi_payload,
        synth_mjpeg_avi_payload,
    )

    # an MJPG stream must route to decode_mjpeg_frames, never mis-decode
    df = spark.createDataFrame(
        [(1, synth_mjpeg_avi_payload(3))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="not an I/P-coded stream"):
        decode_ipframe_frames(df).collect()

    # replace the first P-frame's residual with a max-bias frame: the
    # reconstruction leaves [0, 255] and must raise, not clip into
    # silently wrong pixels
    import struct

    from big_data_player_analysis_spark.multimodal import _ipframe_params

    w, h, nf, _seed = _ipframe_params(2)  # 32x16, 4 frames
    good = bytearray(synth_ipframe_avi_payload(2))
    drift = _encode_dc_frame(w, h, lambda bx, by: 254, with_pattern=False)
    pos = good.find(b"00dc")  # I-frame chunk
    (ilen,) = struct.unpack_from("<I", good, pos + 4)
    p1 = pos + 8 + ilen + (ilen % 2)  # first P-frame chunk header
    assert good[p1 : p1 + 4] == b"00dc"
    (plen,) = struct.unpack_from("<I", good, p1 + 4)
    cut = 8 + plen + (plen % 2)
    pad = b"\x00" if len(drift) % 2 else b""
    repl = b"00dc" + struct.pack("<I", len(drift)) + drift + pad
    bad = bytearray(good[:p1] + repl + good[p1 + cut :])
    delta = len(repl) - cut
    struct.pack_into("<I", bad, 4, len(bad) - 8)  # RIFF size
    movi = bad.find(b"movi") - 8
    (mlen,) = struct.unpack_from("<I", bad, movi + 4)
    struct.pack_into("<I", bad, movi + 4, mlen + delta)
    df2 = spark.createDataFrame([(2, bytes(bad))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="prediction drift"):
        decode_ipframe_frames(df2).collect()


def test_jpeg_decode_fails_closed_on_truncated_scan(spark):
    """A payload cut mid-scan must raise (bit reader runs off the stream),
    never return partially-decoded pixels."""
    from big_data_player_analysis_spark.multimodal import (
        decode_jpeg_features,
        synth_jpeg_payload,
    )

    good = synth_jpeg_payload(9)
    truncated = good[: len(good) - 40]  # drop most of the entropy data + EOI
    df = spark.createDataFrame(
        [(1, truncated)], "doc_id long, payload binary"
    )
    with pytest.raises(Exception):
        decode_jpeg_features(df).collect()


def test_mcframe_decode_roundtrip(spark):
    """Motion-compensated decode: the reconstruction fixed point is the
    planted level field (motion-displaced prediction and residual cancel
    exactly), and the emitted mean motion vector must equal the planted
    clamped field parsed back out of the MV01 table."""
    from big_data_player_analysis_spark.multimodal import (
        _ipframe_block_level,
        _mc_motion,
        _mcframe_params,
        attach_synth_payload,
        decode_mcframe_frames,
        synth_mcframe_avi_payload,
    )

    ids = (0, 1, 2, 5, 17, 300)
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = {}
    for r in decode_mcframe_frames(
        attach_synth_payload(df, "doc_id", synth_mcframe_avi_payload)
    ).collect():
        out[(r.doc_id, r.frame_no)] = r
    for i in ids:
        w, h, nf, seed = _mcframe_params(i)
        nbx, nby = w // 8, h // 8
        assert nf >= 2
        for f in range(nf):
            r = out[(i, f)]
            assert (r.width, r.height) == (w, h)
            levels, dxs, dys = [], [], []
            for by in range(nby):
                for bx in range(nbx):
                    levels.append(_ipframe_block_level(seed, bx, by, f))
                    mx, my = (0, 0) if f == 0 else _mc_motion(seed, bx, by, f, nbx, nby)
                    dxs.append(8 * mx)
                    dys.append(8 * my)
            assert r.mean_gray == pytest.approx(np.mean(levels), abs=1e-6)
            assert r.mv_dx_mean == pytest.approx(np.mean(dxs), abs=1e-6)
            assert r.mv_dy_mean == pytest.approx(np.mean(dys), abs=1e-6)
    assert len(out) == sum(_mcframe_params(i)[2] for i in ids)
    # the planted fields really exercise motion: at least one nonzero MV
    assert any(
        out[(i, f)].mv_dx_mean != 0.0 or out[(i, f)].mv_dy_mean != 0.0
        for i in ids for f in range(1, _mcframe_params(i)[2])
    )


def _replace_second_00dc(payload: bytes, new_data: bytes) -> bytes:
    """Swap the SECOND '00dc' chunk (the first P-frame) of an AVI payload
    for new_data, fixing the RIFF and movi list sizes."""
    import struct

    buf = bytearray(payload)
    pos = buf.find(b"00dc")
    (ilen,) = struct.unpack_from("<I", buf, pos + 4)
    p1 = pos + 8 + ilen + (ilen % 2)
    assert buf[p1 : p1 + 4] == b"00dc"
    (plen,) = struct.unpack_from("<I", buf, p1 + 4)
    cut = 8 + plen + (plen % 2)
    pad = b"\x00" if len(new_data) % 2 else b""
    repl = b"00dc" + struct.pack("<I", len(new_data)) + new_data + pad
    out = bytearray(buf[:p1] + repl + buf[p1 + cut :])
    delta = len(repl) - cut
    struct.pack_into("<I", out, 4, len(out) - 8)
    movi = out.find(b"movi") - 8
    (mlen,) = struct.unpack_from("<I", out, movi + 4)
    struct.pack_into("<I", out, movi + 4, mlen + delta)
    return bytes(out)


def test_mcframe_decode_nonaligned_motion(spark):
    """The decoder must handle motion vectors that are NOT block-aligned:
    a dx=4 vector makes the prediction window straddle two I-frame blocks
    of different levels, and the reconstructed block is the pixel-exact
    half-and-half mix (the synthetic corpus only plants aligned vectors,
    so this pins the general pixel-window path)."""
    import struct

    from big_data_player_analysis_spark.multimodal import (
        _encode_dc_frame,
        _ipframe_block_level,
        _mcframe_params,
        decode_mcframe_frames,
        synth_mcframe_avi_payload,
    )

    did = 3  # w=16, h=24, nf=2: exactly one P-frame to replace
    w, h, nf, seed = _mcframe_params(did)
    assert (w, h, nf) == (16, 24, 2)
    nbx, nby = w // 8, h // 8
    mv = bytearray(b"MV01")
    for by in range(nby):
        for bx in range(nbx):
            dx = 4 if (bx, by) == (0, 0) else 0
            mv += struct.pack("bb", dx, 0)
    residual = _encode_dc_frame(w, h, lambda bx, by: 128, with_pattern=False)
    payload = _replace_second_00dc(
        synth_mcframe_avi_payload(did), bytes(mv) + residual
    )
    df = spark.createDataFrame([(did, payload)], "doc_id long, payload binary")
    rows = {r.frame_no: r for r in decode_mcframe_frames(df).collect()}
    # expected frame-1 raster: every block keeps its I-frame level except
    # block (0,0), which mixes cols 4..11 of the I-frame's top row
    frame0 = np.zeros((h, w))
    for by in range(nby):
        for bx in range(nbx):
            frame0[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = _ipframe_block_level(
                seed, bx, by, 0
            )
    expect = frame0.copy()
    expect[0:8, 0:8] = frame0[0:8, 4:12]
    assert rows[1].mean_gray == pytest.approx(round(float(expect.mean()), 6), abs=1e-6)
    assert rows[1].mv_dx_mean == pytest.approx(4 / (nbx * nby), abs=1e-6)
    # the mix is genuinely non-flat: the two straddled levels differ
    assert _ipframe_block_level(seed, 0, 0, 0) != _ipframe_block_level(seed, 1, 0, 0)


def test_mcframe_decode_rejects_ipdc_and_fails_closed(spark):
    import struct

    from big_data_player_analysis_spark.multimodal import (
        _encode_dc_frame,
        _mcframe_params,
        decode_mcframe_frames,
        synth_ipframe_avi_payload,
        synth_mcframe_avi_payload,
    )

    # an IPDC stream must route to decode_ipframe_frames, never mis-decode
    df = spark.createDataFrame(
        [(1, synth_ipframe_avi_payload(3))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="not a motion-compensated stream"):
        decode_mcframe_frames(df).collect()

    # a motion vector whose source window leaves the reference frame must
    # raise, not read garbage
    did = 3
    w, h, nf, _seed = _mcframe_params(did)
    nbx, nby = w // 8, h // 8
    mv = bytearray(b"MV01")
    for by in range(nby):
        for bx in range(nbx):
            mv += struct.pack("bb", -4 if (bx, by) == (0, 0) else 0, 0)
    residual = _encode_dc_frame(w, h, lambda bx, by: 128, with_pattern=False)
    bad = _replace_second_00dc(synth_mcframe_avi_payload(did), bytes(mv) + residual)
    df2 = spark.createDataFrame([(did, bad)], "doc_id long, payload binary")
    with pytest.raises(Exception, match="reads outside the reference frame"):
        decode_mcframe_frames(df2).collect()

    # a missing MV01 table must raise
    naked = _replace_second_00dc(synth_mcframe_avi_payload(did), residual)
    df3 = spark.createDataFrame([(did, naked)], "doc_id long, payload binary")
    with pytest.raises(Exception, match="missing MV01"):
        decode_mcframe_frames(df3).collect()


def test_scatter_partition_aware_for_nonfile_inputs(spark):
    """_scatter's round-9 contract for NON-FILE inputs (checkpointed
    stage boundaries, in-memory frames), where the file-list heuristic is
    blind: a frame already at-or-above the session parallelism passes
    through WITHOUT a new exchange (at corpus scale a checkpointed stage
    arrives thousands of partitions wide — re-exchanging it would move
    the full text for nothing), while a narrow frame (AQE-coalesced
    stages collapse to one partition at small SF) is still spread so
    CPU-bound shingle passes are not pinned to one core."""
    from big_data_player_analysis_spark.operators.dedup import _scatter

    par = spark.sparkContext.defaultParallelism
    rows = [(i, f"doc {i}") for i in range(64)]
    base = spark.createDataFrame(rows, "doc_id long, text string")

    wide = base.repartition(par).localCheckpoint()
    assert wide.rdd.getNumPartitions() >= par
    assert _scatter(wide) is wide  # pass-through: no new exchange

    narrow = base.coalesce(1).localCheckpoint()
    assert narrow.rdd.getNumPartitions() == 1
    scattered = _scatter(narrow)
    assert scattered is not narrow
    assert scattered.rdd.getNumPartitions() == par
    # output rows are the same frame either way
    assert sorted(r.doc_id for r in scattered.collect()) == list(range(64))


def test_repetition_profile_matches_python(spark):
    """Exact parity of the distributed repetition profile against a
    direct per-document Python computation of the Gopher signals
    (top-n-gram position share, duplicated-n-gram position fraction)."""
    import math
    import re
    from collections import Counter

    from big_data_player_analysis_spark.operators.repetition import (
        repetition_profile,
    )

    texts = {
        1: "Spam spam SPAM spam spam spam spam spam spam!",
        2: "the quick brown fox jumps over the lazy dog tonight",
        3: "ab cd ab cd ab cd ab cd ab cd ab cd",
        4: "one two three four five six one two three four five six extra",
        5: "xy",
        6: "",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_profile(df, "doc_id", "text").collect()}

    def norm_tokens(t):
        t = re.sub(" +", " ", re.sub(r"[^a-z0-9 ]", "", t.lower())).strip()
        return t.split(" ")

    def p6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    for doc_id, text in texts.items():
        toks = norm_tokens(text)
        row = got[doc_id]
        assert row.n_tokens == len(toks)
        for n, col in ((3, "top3_share"), (4, "top4_share")):
            grams = [tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            want = p6(max(Counter(grams).values()) / len(grams)) if grams else 0.0
            assert getattr(row, col) == want, (doc_id, col)
        grams = [tuple(toks[i : i + 6]) for i in range(len(toks) - 5)]
        c = Counter(grams)
        want = p6(sum(v for v in c.values() if v >= 2) / len(grams)) if grams else 0.0
        assert row.dup6_frac == want, doc_id


def test_repetition_profile_zero_exchange(spark):
    """Round-9 optimization: the profile is pure per-document math, so the
    physical plan must contain NO Exchange (the pre-r9 grouped form moved
    the corpus' gram stream through three exchanges plus a join) and no
    Python boundary — one narrow JVM projection over the scan."""
    from big_data_player_analysis_spark.operators.repetition import (
        repetition_profile,
    )

    df = spark.createDataFrame(
        [(i, "w%d a b c d e f g" % i) for i in range(10)],
        "doc_id long, text string",
    )
    plan = (
        repetition_profile(df, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
