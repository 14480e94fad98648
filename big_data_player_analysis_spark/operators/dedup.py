"""Deduplication operators for the LLM-data-pipeline tier (SURVEY.md §2.4):
exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.

Scale design (the whole point at 100 TB):
  * Exact dedup is a hash aggregate on a fingerprint — shuffle O(distinct).
  * N-gram Jaccard NEVER does an all-pairs comparison: candidate pairs come
    from an inverted shingle index restricted to shingles with document
    frequency <= max_df (a frequent shingle carries no discriminative
    signal but would contribute df^2 candidate pairs); exact Jaccard is
    then computed only for candidates. Both stages are joins/aggregates —
    no driver-side loops.
  * MinHash+LSH replaces the inverted index with banded signatures:
    candidate volume is controlled by band collisions, independent of
    shingle frequency skew. Candidates are verified with exact Jaccard, so
    precision is 1 and recall is the LSH recall (~1 - (1-j^r)^b).
  * SimHash uses bit-banding (pigeonhole: hamming <= bands-1 guarantees a
    shared band) + popcount verification.

The reference's only dedup is the exact composite-key distinct
(reference exercise_3.py:10-22 / exercise_4.py:49-62) = dedup_exact here.
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import Column, DataFrame

from big_data_player_analysis_spark import gates
from big_data_player_analysis_spark.caching import (
    tracked_local_checkpoint,
    tracked_persist,
)
from pyspark.sql import functions as F

from big_data_player_analysis_spark.functions.vectors import cosine_similarity
from big_data_player_analysis_spark.operators.joins import broadcast_if_small
from big_data_player_analysis_spark.operators.setops import band_rows, pair_join
from big_data_player_analysis_spark.operators.similarity import ann_lsh_buckets


def _materialize(df: DataFrame) -> DataFrame:
    """Stage-boundary materialization for frames read by several downstream
    branches: a LAZY tracked localCheckpoint rather than a persist. Both
    cache the blocks; the checkpoint additionally TRUNCATES lineage, which
    is what composed callers (survivors -> components -> curation pipeline)
    need — with a plain persist every downstream branch re-ANALYZES the
    full accumulated logical plan, measured as multi-second driver-only
    gaps in the mega-pipeline's job timeline (sf0.1 cold pass 12.4 ->
    8.3 s from this change alone). Tradeoff: checkpoint blocks are not
    recomputable after executor loss — the same tradeoff plans/heroic.py
    documents; a run that must survive executor churn should swap this for
    a reliable checkpoint directory."""
    return tracked_local_checkpoint(df, eager=False)

# MinHash parameters: 64 hashes = 16 bands x 4 rows. Universal-hash
# coefficients are fixed (seeded) so signatures are deterministic.
# 4-row bands are deliberate: on this corpus every document shares a small
# vocabulary, so background pair similarity is non-trivial everywhere —
# 2-row bands (collision prob 1-(1-s^2)^16) were measured to admit 247k
# candidate pairs at sf0.1 where 4-row bands (1-(1-s^4)^16) admit 500, a
# 500x verification blow-up that dwarfs any signature-width saving.
MINHASH_PRIME = 2147483647  # 2^31 - 1
MINHASH_SHINGLE_BASE = 31  # polynomial rolling-hash base for k-gram bytes
N_HASHES = 64
N_BANDS = 16
ROWS_PER_BAND = N_HASHES // N_BANDS
_rng = random.Random(20240813)
MINHASH_A = [_rng.randrange(1, MINHASH_PRIME) for _ in range(N_HASHES)]
MINHASH_B = [_rng.randrange(0, MINHASH_PRIME) for _ in range(N_HASHES)]

SIMHASH_BITS = 64
# Pigeonhole: detecting hamming <= h needs h+1 bands. Nine bands over 64
# bits guarantee a shared band for hamming <= 8 — on short documents a
# single differing shingle flips several bits, so near-dup pairs (j ~ 0.9)
# land at hamming 7-8, past an 8-band cutoff. THE BAND WIDTH IS THE SCALE
# KNOB: expected bucket occupancy is n / 2^width, so candidate volume per
# band grows ~ n^2 / 2^width — 7-bit buckets (the hamming<=8 contract's 9
# bands) go quadratic once n >> 2^7 (measured: 50 s at 320k docs), while
# 4 bands x 16 bits (hamming <= 3, the web-scale operating point per
# Manku et al., WWW'07) keep buckets sparse to n ~ millions per partition.
# dedup_simhash exposes n_bands so deployments pick the contract/scale
# point; it asserts max_hamming <= n_bands - 1 (the exactness condition).
SIMHASH_MAX_HAMMING = 8
SIMHASH_N_BANDS = 9


def simhash_band_bounds(n_bands: int, bits: int = SIMHASH_BITS) -> list[tuple[int, int]]:
    """Split ``bits`` into n_bands contiguous (offset, width) bands with
    widths differing by at most 1. Pigeonhole: any two signatures with
    hamming <= n_bands - 1 agree on at least one whole band."""
    if not 1 <= n_bands <= bits:
        raise ValueError("need 1 <= n_bands <= bits")
    base, extra = divmod(bits, n_bands)
    bounds, off = [], 0
    for i in range(n_bands):
        w = base + (1 if i < extra else 0)
        bounds.append((off, w))
        off += w
    return bounds


def _scatter(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism.
    Shingling is CPU-bound; a compact input (one small parquet file -> one
    partition) would otherwise pin the whole corpus to a single task. The
    heuristic reads the scan's file list driver-side (cheap catalog
    metadata — no `.rdd` conversion of the analyzed plan): a 100 TB input
    already has thousands of splits and skips the shuffle; a small or
    non-file input (in-memory test frames report zero files) is scattered."""
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= par:
        return df
    if n_files == 0:
        # Non-file input (a checkpointed stage boundary, an in-memory test
        # frame): the file heuristic is blind here, so read the ACTUAL
        # partition count off the physical RDD — driver-side metadata, no
        # job; for a checkpointed frame the RDD already exists. A 100 TB
        # upstream stage arrives thousands of partitions wide and skips
        # the exchange entirely; a small AQE-coalesced frame (measured: a
        # whole sf0.1 survivor stage collapses to ONE partition after its
        # anti-join) reports its real width and still scatters, keeping
        # the CPU-bound shingle passes off a single core.
        try:
            n_parts = df._jdf.rdd().getNumPartitions()
        except Exception:
            n_parts = 0
        if n_parts >= par:
            return df
    return df.repartition(par)


def _np_norm_bytes(lowered):
    """uint8 byte array of ``normalize_text(text)``'s UTF-8 bytes, computed
    from the JVM-LOWERCASED text inside the Python worker — an EXACT
    byte-level twin of the two regexp_replace passes + trim (round-10:
    the two Java-regex passes over the full corpus text were measured as
    the single largest stage of every signature pass at sf1; byte ops
    vectorize ~10x cheaper and drop the regex entirely).

    Exactness argument (any input, not just this corpus): lowercasing
    stays JVM-side, so Java/Python unicode-lowering differences never
    arise. After lower(), `regexp_replace('[^a-z0-9 ]', '')` deletes every
    char outside [a-z0-9 ] — all of which are single ASCII bytes, while
    every non-ASCII char consists solely of bytes >= 0x80 — so keeping
    exactly the bytes {32, 48-57, 97-122} is the same deletion.
    `regexp_replace(' +', ' ')` keeps the first space of each run (byte
    scan: drop a space whose predecessor is a space), and trim() strips
    leading/trailing ASCII spaces (seed the scan as space-preceded, then
    drop the at-most-one trailing space)."""
    import numpy as np

    raw = np.frombuffer((lowered or "").encode("utf-8"), dtype=np.uint8)
    keep = raw[
        (raw == 32) | ((raw >= 48) & (raw <= 57)) | ((raw >= 97) & (raw <= 122))
    ]
    if keep.size == 0:
        return keep
    is_sp = keep == 32
    prev_sp = np.concatenate(([True], is_sp[:-1]))
    keep = keep[~(is_sp & prev_sp)]
    if keep.size and keep[-1] == 32:
        keep = keep[:-1]
    return keep


def _np_mod_mersenne31(x):
    """Exact ``x % (2^31 - 1)`` for int64 ``0 <= x < 2^62`` without integer
    division (round-10: numpy's ``%`` is division-based, ~10x the cost of
    two shift-folds; the signature pass spends most of its arithmetic
    here). Since 2^31 = 1 (mod p), folding high bits onto low bits
    preserves the value mod p: after two folds x <= p + 1, so one
    conditional subtract lands in [0, p)."""
    import numpy as np

    p = np.int64(MINHASH_PRIME)
    x = (x & p) + (x >> np.int64(31))
    x = (x & p) + (x >> np.int64(31))
    return np.where(x >= p, x - p, x)


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by md5 fingerprint of normalized text: one
    surviving id per group + the duplicate count. Hash-groupBy: shuffle is
    O(distinct fingerprints).

    Round-10: the fingerprint is hashlib.md5 over _np_norm_bytes inside
    one Arrow pass — the byte-identical twin of
    md5(encode(normalize_text(text), 'UTF-8')) (same hex digest over the
    same bytes; NULL text stays NULL), dropping the two corpus-wide Java
    regex passes the JVM expression paid. The SQL oracle still computes
    md5 over its own normalization, so the twin is cross-checked on every
    gate run."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _fp(lt: pd.Series) -> pd.Series:
        import hashlib

        return lt.map(
            lambda s: None
            if s is None
            else hashlib.md5(_np_norm_bytes(s).tobytes()).hexdigest()
        )

    return (
        df.select(F.col(id_col), F.lower(F.col(text_col)).alias("_lt"))
        .select(id_col, _fp("_lt").alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _span_hashes(raw, a, b):
    """int64 hash of each byte span ``raw[a:b]`` (uint8 bytes, span bound
    arrays ``a`` < ``b``): the odd-base polynomial sum(raw[i] * B^(b-1-i))
    mod 2^64, from one prefix sum for the whole buffer. With B odd, hence
    invertible mod 2^64, and S the cumsum of raw[j] * B^(-j),
    hash([a, b)) = B^(b-1) * (S[b-1] - S[a-1]): O(len) per buffer however
    many spans, and no per-span allocation. uint64 overflow IS the
    mod-2^64 ring, so the power tables are plain wrapping cumprods. The
    one rolling hash behind _shingle_hash_udf's character shingles and
    repetition.py's token windows."""
    import numpy as np

    B = np.uint64(0x9E3779B97F4A7C15)
    BINV = np.uint64(pow(int(B), -1, 1 << 64))
    m = raw.size
    binv_pow = np.concatenate(
        ([np.uint64(1)], np.cumprod(np.full(m - 1, BINV, dtype=np.uint64)))
    )
    b_pow = np.concatenate(
        ([np.uint64(1)], np.cumprod(np.full(m - 1, B, dtype=np.uint64)))
    )
    S = np.cumsum(raw.astype(np.uint64) * binv_pow, dtype=np.uint64)
    s_lo = np.where(a > 0, S[np.maximum(a, 1) - 1], np.uint64(0))
    return (b_pow[b - 1] * (S[b - 1] - s_lo)).astype(np.int64)


def _shingle_hash_udf(k: int):
    """pandas_udf: lower(text) -> sorted DISTINCT 64-bit rolling-hash
    values of the normalized text's character k-shingles (empty array when
    the normalized text is shorter than k — the same doc-level semantics
    as char_shingles' empty array).

    Round-10 replacement for `transform(char_shingles(text, k), xxhash64)`
    (guide §4.2): the expression form pays one UTF8String.substr PER
    POSITION (each an O(position) byte walk — quadratic per document) plus
    a per-shingle string allocation and an interpreted xxhash64 call;
    measured as the bulk of the exact-verify stage at sf1 (6.9 s of a
    13 s minhash run). This pass is O(len) per document: normalization is
    the byte-level exact twin (_np_norm_bytes), window identity is
    _span_hashes, the rolling hash the substring-dup operators also use
    (repetition.py:_window_hashes), and distinctness is one np.unique.

    IDENTITY CONTRACT: the hash is internal to each operator — both sides
    of every intersection/count use this same function, so outputs change
    only under a 64-bit collision between distinct shingles
    (P ~ n^2/2^65, the module-docstring equivalence argument that already
    covers xxhash64 window/shingle identity; the SQL oracles join shingle
    TEXT, which is exactly the cross-check that would surface one).
    Marked non-deterministic at the call sites that explode or filter it
    (guide §4.4) so the optimizer cannot clone the pass."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def _sh(lt: pd.Series) -> pd.Series:
        import numpy as np

        empty = np.array([], dtype=np.int64)
        out = []
        for s in lt:
            bb = _np_norm_bytes(s)
            if bb.size < k:
                out.append(empty)
                continue
            a = np.arange(bb.size - k + 1)
            out.append(np.unique(_span_hashes(bb, a, a + k)))
        return pd.Series(out)

    return _sh.asNondeterministic()


def _verify_jaccard(
    cand: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard for candidate (doc_a, doc_b) pairs.

    Scale shape (each step measured at sf0.1 with a 295k-pair candidate
    set; the original string-array form took 165 s, this form ~11 s):
      1. shingle sets are (re)computed ONLY for docs in at least one pair
         and reduced to int64 hash values — 8 bytes/shingle instead of
         a k-char UTF8String (~6x smaller shuffle payload), and
         array_intersect over primitive longs skips per-element UTF8String
         hashing/equality (measured 119 s -> 4.5 s on the same pairs).
         Round-10: the hash pass itself moved from the
         transform(char_shingles)+xxhash64 expression (one O(position)
         UTF8String.substr byte-walk PER POSITION — quadratic per doc,
         measured as the bulk of this stage at sf1) to the O(len)
         vectorized rolling-hash Arrow pass (_shingle_hash_udf; identity
         contract documented there);
      2. a SIZE PRUNE runs before any array moves: jaccard(a,b) can never
         exceed min(|a|,|b|)/max(|a|,|b|), so pairs whose size ratio is
         below the threshold are dropped with two cheap (doc, n) long
         joins — the bound is exact, never discards a qualifying pair
         (dropped 34% of candidate pairs at sf0.1).
    Exactness: distinct shingles map to distinct hashes barring 64-bit
    collisions (P < 1e-10 at 1e4 distinct shingles/corpus partition scale);
    the final jaccard uses true distinct-set sizes, so output matches the
    string-set oracle. ``cand`` is expected to be persisted by the caller
    (it is consumed twice: needed-ids + final join)."""
    needed = (
        cand.select(F.col("doc_a").alias("doc"))
        .union(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    docs = (
        df.select(F.col(id_col).alias("doc"), F.lower(F.col(text_col)).alias("_lt"))
        .join(needed, "doc")
        .select("doc", _shingle_hash_udf(k)("_lt").alias("h"))
        .withColumn("n", F.size("h"))
        .transform(tracked_persist)
    )
    sizes = docs.select("doc", "n")
    sized = (
        cand.join(sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("n_b")), "doc_b")
        .filter(
            F.least("n_a", "n_b")
            >= F.lit(threshold) * F.greatest("n_a", "n_b")
        )
    )

    a = docs.select(F.col("doc").alias("doc_a"), F.col("h").alias("h_a"))
    b = docs.select(F.col("doc").alias("doc_b"), F.col("h").alias("h_b"))
    return (
        sized.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("h_a", "h_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_ngram_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    threshold: float = 0.6,
    max_df: int = 20,
) -> DataFrame:
    """Near-duplicate pairs by exact character-k-gram Jaccard >= threshold.

    Candidates come from co-occurrence on *rare* shingles only
    (df <= max_df); the Jaccard itself is exact over ALL shingles. A true
    near-dup pair (j >= 0.6) shares hundreds of shingles, so requiring one
    shared rare shingle loses nothing in practice while keeping candidate
    generation linear-ish instead of df^2 on hot shingles.

    KNOW THE LIMIT: any-shared-rare-shingle is a loose predicate — on a
    shared-vocabulary corpus it admits tens of candidates per document
    (measured ~59/doc on the synthetic corpus), and the exact verify then
    moves |pairs| x 2 shingle arrays through its joins. That constant, not
    the candidate count's growth (linear), is what dominates at scale;
    when the corpus is large, dedup_minhash_lsh is the designed scale path
    (band collisions admit ~0.006 candidates/doc here, 4 orders of
    magnitude fewer, with the same verified output at these thresholds).

    Scale shape (reworked TWICE after per-stage profiling):
      1. shingles are reduced to int64 xxhash64 values INSIDE the shingle
         array before the explode, so only 8-byte longs ever shuffle (the
         exact-verify stage recomputes true shingle sets itself, so
         candidate generation needs only determinism; a hash collision can
         only merge two shingles — inflating df slightly or adding a
         candidate that exact verification discards, P ~ 1e-9 at 1e5
         distinct shingles);
      2. document frequency comes from a partial-aggregated groupBy on the
         hash — a HASH aggregate, no sort. (The round-3 count-over-window
         form shuffle+SORTED the whole exploded table; at 320k docs / 86M
         occurrence rows the per-partition sorts spilled and that one
         stage went 9.5x slower for 4x data. A collect_set inverted index
         would be worse still: the hottest shingle's full posting list on
         one executor OOMs at web scale.)
      3. the df in [2, max_df] filter leaves a SMALL distinct-hash set
         (singletons — the vast majority — and boilerplate both drop), so
         it is broadcast back onto the occurrence stream
         (broadcast_if_small): the corpus-sized exploded table never
         exchanges at all. Above the gate the filter join falls back to a
         shuffle (AQE still broadcasts genuinely small sets). df <= max_df
         bounds the pair join's fan-out at max_df per shingle, so the
         self-join touches only the rare-occurrence slice."""
    occ = _lowered(df, id_col, text_col).select(
        "doc",
        F.explode(_shingle_hash_udf(k)("lt")).alias("h"),
    )
    rare_h = broadcast_if_small(
        occ.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= F.lit(max_df)))
        .select("h")
    )
    # Persisted: the filtered slice is tiny relative to occ, and both
    # sides of the pair self-join read it — without the persist each side
    # would re-shingle the whole corpus through the broadcast filter.
    rare = (
        occ.join(rare_h, "h")
        .select(F.col("doc").alias("id"), "h")
        .transform(tracked_persist)
    )
    cand = _doc_pairs(pair_join(rare, ["h"])).transform(tracked_persist)
    return _verify_jaccard(cand, df, id_col, text_col, k, threshold)


def _doc_pairs(pairs: DataFrame) -> DataFrame:
    """pair_join's (id_a, id_b) named as the dedup tier's (doc_a, doc_b)."""
    return pairs.select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))


def dedup_ngram_jaccard_auto(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    threshold: float = 0.6,
    max_df: int = 20,
    n_rows: int | None = None,
) -> DataFrame:
    """Count-derived dispatch over the two Jaccard near-dup paths (round-8
    verdict ask #1): same (doc_a, doc_b, jaccard) output contract either
    way, both ending in the same exact-Jaccard verification.

      * n <= gates.EXACT_PAIRS_MAX_ROWS: dedup_ngram_jaccard — candidates
        from rare-shingle co-occurrence (a loose predicate, ~59
        candidates/doc on a shared-vocabulary corpus; the verify constant
        is the quadratic-ish cost being bounded here).
      * n > gates.EXACT_PAIRS_MAX_ROWS: dedup_minhash_lsh — banded MinHash
        candidates, ~4 orders of magnitude fewer candidates on this corpus
        for the same verified output. RECALL CONTRACT: a true pair at Jaccard t
        collides in >= 1 of the 16 bands with probability
        1 - (1 - t^4)^16 (>= 0.9998 at t = 0.8, ~0.974 at the 0.6
        threshold edge); precision stays 1.0 because every candidate is
        exact-verified. Pairs the bands miss are the dispatch's documented
        loss — callers needing exactness above the ceiling must raise
        gates.EXACT_PAIRS_MAX_ROWS and pay the verify constant.

    The count is one metadata-cheap job (same contract as the GEMM block
    sizer and the LSH width sizer); a caller that knows the row count, such
    as a raw table's footer total, passes n_rows and runs none."""
    n = df.count() if n_rows is None else n_rows
    if n <= gates.EXACT_PAIRS_MAX_ROWS:
        return dedup_ngram_jaccard(
            df, id_col, text_col, k=k, threshold=threshold, max_df=max_df
        )
    return dedup_minhash_lsh(df, id_col, text_col, k=k, threshold=threshold)


def _lowered(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, lt): scatter + JVM lowercase — the shared input projection of
    the signature operators. Normalization beyond lower() happens INSIDE
    the Arrow pass (_np_norm_bytes): the two Java-regex replace passes it
    replaces were measured as the largest single stage of every minhash/
    simhash entry at sf1 (7.2 s of an 11 s end-to-end run, plans/r10)."""
    return _scatter(df).select(
        F.col(id_col).alias("doc"), F.lower(F.col(text_col)).alias("lt")
    )


def minhash_signatures(with_lower: DataFrame, k: int = 8) -> DataFrame:
    """(doc, sig array<long>) from (doc, lt = lower(text)): slot_j = min
    over k-shingle hashes h of (a_j * h + b_j) mod p. Documents whose
    NORMALIZED text is shorter than k get a NULL signature and are
    filtered out — the same doc set the old `length(norm) >= k` prefilter
    kept.

    The whole normalize -> shingle -> hash -> min pipeline runs inside ONE
    Arrow pandas_udf per row (round 1 measured the explode +
    64-min-aggregate form as the bench's dominant cost; round 10 moved the
    normalization in here too — see _np_norm_bytes): sliding_window_view
    over the normalized bytes gives the k-gram matrix with zero copies, a
    base-31 polynomial dot product hashes every position vectorized, the
    positions reduce to their DISTINCT hash set (min over duplicates is
    the min over the set, and on a shared-vocabulary corpus the distinct
    set is markedly smaller than the position multiset), and a single
    (N_HASHES, u) broadcast computes every slot. Both mod-p reductions use
    the Mersenne shift-fold (_np_mod_mersenne31 — exact, no division).
    The plan is a pure narrow projection: no explode, no groupBy, NO
    shuffle — each scan split signs its documents independently. int64 is
    safe throughout: poly hash <= 122 * (31^8-1)/30 ~ 3.5e12 < 2^62, then
    reduced mod p < 2^31 before the (a*h+b) step, whose products stay
    < 2^62. Signature VALUES are bit-identical to the round-9 form (same
    arithmetic, division-free), so band candidates — and therefore the
    verified output — are unchanged.

    Exact verification downstream hashes shingles independently, so the
    signature hash needs no cross-engine twin — only determinism."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def _sigs(lt: pd.Series) -> pd.Series:
        import numpy as np

        A = np.asarray(MINHASH_A, dtype=np.int64)[:, None]
        B = np.asarray(MINHASH_B, dtype=np.int64)[:, None]
        powers = MINHASH_SHINGLE_BASE ** np.arange(k, dtype=np.int64)
        out = []
        for s in lt:
            bb = _np_norm_bytes(s)
            if bb.size < k:
                out.append(None)
                continue
            win = np.lib.stride_tricks.sliding_window_view(bb, k).astype(np.int64)
            h = np.unique(_np_mod_mersenne31(win @ powers))
            out.append(_np_mod_mersenne31(A * h[None, :] + B).min(axis=1))
        return pd.Series(out)

    # asNondeterministic (guide §4.4, the llm_substring_dup_spans lesson):
    # the isNotNull filter below references the UDF column, and the
    # optimizer would otherwise clone the whole signature evaluation below
    # a pushed-down filter — the value is deterministic; the mark only
    # forbids duplicating it.
    sigs_nd = _sigs.asNondeterministic()
    return with_lower.select("doc", sigs_nd("lt").alias("sig")).filter(
        F.col("sig").isNotNull()
    )


def dedup_minhash_lsh(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    threshold: float = 0.6,
) -> DataFrame:
    """Near-duplicate pairs via MinHash signatures + banded LSH + exact
    verification. Same output contract as dedup_ngram_jaccard; recall is
    the LSH band-collision probability (>= 1 - (1-t^4)^16, ~0.9998 at
    t=0.8), precision 1.0 because candidates are verified exactly."""
    # Materialized: the signature table (one 64-long array per doc, ~0.5
    # KB) is read by both sides of the band self-join, and recomputing it
    # would re-shingle + re-hash the whole corpus twice.
    sig = minhash_signatures(_lowered(df, id_col, text_col), k).transform(
        _materialize
    )
    cand = _doc_pairs(pair_join(_minhash_bands(sig), ["band", "key"])).transform(
        _materialize
    )
    return _verify_jaccard(cand, df, id_col, text_col, k, threshold)


def _minhash_bands(sig: DataFrame) -> DataFrame:
    """(id, band, key) banded MinHash signatures from minhash_signatures'
    (doc, sig): key = hash of the band's ROWS_PER_BAND slots. The shared
    candidate index of dedup_minhash_lsh and dedup_incremental."""
    return band_rows(
        sig.select(F.col("doc").alias("id"), "sig"),
        ["id"],
        [
            F.hash(F.slice("sig", i * ROWS_PER_BAND + 1, ROWS_PER_BAND))
            for i in range(N_BANDS)
        ],
    )


def dedup_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    threshold: float = 0.6,
) -> DataFrame:
    """Incremental near-dedup: (new_id, corpus_id, jaccard) for each
    incoming document that is a near-duplicate (exact Jaccard >= threshold)
    of an EXISTING corpus document — the production shape of fuzzy dedup on
    a growing crawl, where re-running all-pairs over the whole corpus per
    ingest batch would be O(corpus) wasted work per batch.

    Scale shape: both sides get banded MinHash signatures in one narrow
    Arrow pass each; the candidate join broadcasts the NEW batch's band
    table (broadcast_if_small: a shuffle above the gate) against the
    corpus band stream, so the 100 TB corpus side is never exchanged on
    the band key — it stays on its scan splits and streams through a
    broadcast hash join. Exact verification (shared _verify_jaccard) then
    touches only docs in at least one candidate pair. Ids must be distinct
    across the two inputs (they identify which side a doc came from).
    """
    def bands(d: DataFrame) -> DataFrame:
        return _minhash_bands(minhash_signatures(_lowered(d, id_col, text_col), k))

    probe = broadcast_if_small(bands(new_df))
    cand = (
        bands(corpus_df)
        .join(probe.select(F.col("id").alias("doc_a"), "band", "key"), ["band", "key"])
        .select("doc_a", F.col("id").alias("doc_b"))
        .distinct()
        .transform(tracked_persist)
    )
    both = new_df.select(F.col(id_col), F.col(text_col)).unionByName(
        corpus_df.select(F.col(id_col), F.col(text_col))
    )
    return _verify_jaccard(cand, both, id_col, text_col, k, threshold).select(
        F.col("doc_a").alias("new_id"),
        F.col("doc_b").alias("corpus_id"),
        "jaccard",
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """(doc, sig): 64-bit SimHash over the document's DISTINCT character
    k-shingles — bit i of the signature is 1 iff more distinct features
    have bit i set than unset.

    Computed per row inside ONE Arrow pandas_udf (the same design as
    minhash_signatures, which replaced its explode form for the same
    reason): the original explode + 64-conditional-sums aggregate shuffled
    every (doc, shingle-hash) pair and evaluated 64 CASE branches per
    exploded row — measured as the whole operator's dominant cost (~5 s of
    the sf0.1 suite; this form ~1 s). Here the shingle matrix comes from a
    zero-copy sliding window over the normalized text's bytes, a base-31
    polynomial dot product hashes every position, np.unique reproduces the
    DISTINCT-shingle semantics of char_shingles, a splitmix64 avalanche
    spreads the ~42-bit polynomial values over all 64 bits, and one
    broadcasted shift-and-mask builds the ±1 bit counters. The plan is a
    pure narrow projection: no explode, no groupBy, NO shuffle.

    Feature identity is hash-seeded either way (xxhash64 before, avalanched
    polynomial now) — the registry entry is rows-only for exactly that
    reason; exact duplicates still collide on all 64 bits, which is the
    property the parity tests pin."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _sig(lt: pd.Series) -> pd.Series:
        import numpy as np

        powers = MINHASH_SHINGLE_BASE ** np.arange(k, dtype=np.int64)
        bit_idx = np.arange(SIMHASH_BITS, dtype=np.uint64)
        c1 = np.uint64(0x9E3779B97F4A7C15)
        c2 = np.uint64(0xBF58476D1CE4E5B9)
        c3 = np.uint64(0x94D049BB133111EB)
        out = []
        for s in lt:
            bb = _np_norm_bytes(s)
            if bb.size < k:  # same docs as the old length(norm) >= k gate
                out.append(None)
                continue
            win = np.lib.stride_tricks.sliding_window_view(bb, k).astype(np.int64)
            h = np.unique(win @ powers)  # distinct shingles, like char_shingles
            z = h.astype(np.uint64) + c1  # splitmix64 avalanche
            z = (z ^ (z >> np.uint64(30))) * c2
            z = (z ^ (z >> np.uint64(27))) * c3
            z ^= z >> np.uint64(31)
            # per-bit set counts via one C-level unpackbits over the
            # little-endian byte view, pinned as "<u8" so bit j of the
            # unpacked row is bit j of the value on any host (round-10:
            # the (u, 64) shift-and-mask broadcast this replaces was the
            # signature pass's hottest allocation; counters and therefore
            # sig values are unchanged integer math: counters_j =
            # 2 * count_set_j - u)
            bits = np.unpackbits(
                z.astype("<u8", copy=False).view(np.uint8), bitorder="little"
            ).reshape(-1, SIMHASH_BITS)
            counters = 2 * bits.sum(axis=0, dtype=np.int64) - np.int64(h.size)
            sig = ((counters > 0).astype(np.uint64) << bit_idx).sum(dtype=np.uint64)
            out.append(int(sig.astype(np.int64)))
        return pd.Series(out, dtype="object")

    # asNondeterministic: the isNotNull filter below references the UDF
    # column; the mark forbids the optimizer cloning the pass (guide §4.4)
    sig_nd = _sig.asNondeterministic()
    return (
        _lowered(df, id_col, text_col)
        .select("doc", sig_nd("lt").alias("sig"))
        .filter(F.col("sig").isNotNull())
    )


def dedup_simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    n_bands: int = SIMHASH_N_BANDS,
) -> DataFrame:
    """Near-duplicate pairs with SimHash hamming distance <= max_hamming.
    Candidates via n_bands band buckets (pigeonhole exact for hamming <=
    n_bands - 1), verified with bit_count(xor).

    Band width 64/n_bands is the scale knob: candidate volume per band is
    ~ n^2 / 2^width, so the default strict hamming<=8 contract (9 bands,
    7-bit buckets) is for modest corpora; at web scale run the Manku-style
    operating point max_hamming=3, n_bands=4 (16-bit buckets) — same
    exact-verification semantics, sparse buckets to millions of docs per
    partition of the corpus."""
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs at least {max_hamming + 1} "
            f"bands for exact pigeonhole recall (got n_bands={n_bands})"
        )
    # Persisted: one (doc, long) row per doc, read by both self-join sides.
    sigs = simhash_signatures(df, id_col, text_col, k).transform(tracked_persist)
    bands = band_rows(
        sigs.select(F.col("doc").alias("id"), "sig"),
        ["id", "sig"],
        [
            F.shiftright("sig", off).bitwiseAND(F.lit((1 << width) - 1))
            for off, width in simhash_band_bounds(n_bands)
        ],
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long")
    return (
        pair_join(bands, ["band", "key"], carry=["sig"])
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= F.lit(max_hamming))
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming")
    )


def _components_unionfind(und: DataFrame) -> DataFrame:
    """Exact connected components over a (a, b) long pair table as ONE
    task: ids are compressed to dense indices (np.unique), then
    array-based union-find with path halving + union by root index,
    and each node's component is the MIN id of its component — the same
    labeling contract the distributed sweeps produce."""

    def _uf(batches):
        import numpy as np

        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            yield pd.DataFrame({"node": pd.Series(dtype="int64"),
                                "component": pd.Series(dtype="int64")})
            return
        a = np.concatenate([c["a"].to_numpy(np.int64) for c in chunks])
        b = np.concatenate([c["b"].to_numpy(np.int64) for c in chunks])
        ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
        ia, ib = inv[: len(a)], inv[len(a):]
        parent = np.arange(len(ids), dtype=np.int64)

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for x, y in zip(ia, ib):
            rx, ry = find(x), find(y)
            if rx != ry:
                parent[ry] = rx
        roots = np.array([find(i) for i in range(len(ids))])
        comp_min = np.full(len(ids), np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(comp_min, roots, ids)
        yield pd.DataFrame({"node": ids, "component": comp_min[roots]})

    return und.repartition(1).mapInPandas(_uf, "node long, component long")


def dedup_components(
    pairs: DataFrame,
    col_a: str = "doc_a",
    col_b: str = "doc_b",
    max_iter: int = 20,
    strict: bool = True,
) -> DataFrame:
    """(node, component): connected components over near-duplicate pairs —
    the step that turns pairwise dedup output into canonical groups (keep
    min-id per component, drop the rest).

    TWO PHYSICAL PATHS, one output contract (parity pinned in
    tests/test_llm_ops.py::test_dedup_components_unionfind_matches_sweeps):
    below ``gates.UNIONFIND_MAX_PAIRS`` the closure runs as one exact
    union-find task; above it, the distributed min-label sweeps below.

    Iterative min-label propagation: every node starts labeled with itself;
    each sweep takes the min label over direct neighbors AND itself (the
    edge table carries self-loops so one join + one min-aggregate covers
    both); converges in O(graph diameter) sweeps — near-dup components are
    small quasi-cliques, so typically 2-3. Each sweep is ONE Spark job:
    the label table localCheckpoints LAZILY and the convergence probe —
    sum(label), which strictly decreases until the fixed point because
    per-node labels are monotonically non-increasing — materializes it in
    the same action (an earlier shape ran three jobs per sweep: an eager
    checkpoint, a re-join against the previous labels, and a changed-row
    count; the label-sum probe needs none of them). Driver sees only the
    one-row sum scalar.

    A chain with diameter > max_iter would exit the loop un-converged and
    silently return SPLIT components (round-1 ADVICE finding) — with
    strict=True (default) that raises instead; callers on pathological
    graphs can raise max_iter (label propagation moves a min label one hop
    per sweep) or pass strict=False to accept the partial labeling.

    The symmetrized edge table is localCheckpoint'd before the loop: each
    sweep runs TWO actions (the min-label aggregate and the changed-count),
    and ``pairs`` is typically the output of a whole candidate-generation +
    exact-verification pipeline — without materialization every sweep
    re-executed that pipeline end-to-end (measured: the composed survivors
    operator went super-linear at 64x, 51 s, purely from re-verification;
    with the checkpoint the sweeps read materialized edge blocks)."""
    # checkpoint the RAW pair set: `pairs` is typically the output of a
    # whole candidate-generation + exact-verification pipeline, and every
    # derivation below (symmetrize, node set, self-loops, label init)
    # would otherwise re-execute it once per read. Lazy — the label-sum
    # init action below materializes it (labels <- nodes <- und), so the
    # whole setup costs ONE job.
    und = pairs.select(F.col(col_a).alias("a"), F.col(col_b).alias("b")).transform(
        _materialize
    )
    # SIZE-GATED SINGLE-TASK CLOSURE (round-9, the curation-pipeline
    # shave): the verified pair set is tiny relative to the corpus —
    # ~2.5k pairs per 5k docs here, and even a 1%-dup 10^10-doc corpus
    # yields pairs that fit one worker. Below the gate, run exact
    # union-find in ONE mapInPandas task over the materialized pair
    # blocks: same (node, min-reachable-id) output, zero sweep jobs,
    # no symmetrized edge table. Above the gate the distributed
    # min-label sweeps below take over unchanged. The count is one
    # cheap action over already-checkpointed blocks.
    if und.count() <= gates.UNIONFIND_MAX_PAIRS:
        return _components_unionfind(und)
    nodes = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .distinct()
    )
    # symmetrized + self-loops: min over a node's edge group = min over
    # neighbors AND itself, so each sweep needs no second join back to
    # the node's own label. Lazy checkpoint — the first sweep's action
    # materializes it from the cached `und` blocks.
    edges = (
        und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .union(nodes.select(F.col("node").alias("a"), F.col("node").alias("b")))
        .distinct()
        .transform(_materialize)
    )
    # sum(label) is a strictly decreasing convergence measure (labels are
    # per-node monotonically non-increasing); DECIMAL so a 1e9-node corpus
    # with 1e9-sized ids cannot overflow the probe. Each sweep's agg
    # action also materializes that sweep's lazy checkpoint, so a sweep
    # is exactly one job. Sweep 1 is the identity case — every label IS
    # its node — so its neighbor join folds away into a bare
    # min-aggregate over the edge table (which the self-loops seed with
    # each node's own id); prev_sum starts as a None sentinel because a
    # first sweep over a non-empty id-ordered pair set always changes at
    # least one label.
    labels = None
    _unset = object()  # None is a REAL sum value (empty graph) — sum(empty) is NULL
    prev_sum, new_sum = _unset, _unset
    converged = False
    for _ in range(max_iter):
        if labels is None:
            swept = edges.groupBy("a").agg(F.min("b").alias("label"))
        else:
            swept = (
                edges.join(
                    labels.select(
                        F.col("node").alias("b"), F.col("label").alias("nl")
                    ),
                    "b",
                )
                .groupBy("a")
                .agg(F.min("nl").alias("label"))
            )
        new_labels = swept.select(F.col("a").alias("node"), "label").transform(
            _materialize
        )
        new_sum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()["s"]
        labels = new_labels
        # converged when the sum stops decreasing — or immediately on an
        # EMPTY pair set (sum NULL = zero nodes; nothing to propagate)
        if new_sum is None or (prev_sum is not _unset and new_sum == prev_sum):
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        if strict:
            raise RuntimeError(
                f"dedup_components did not converge within max_iter={max_iter} "
                "sweeps (graph diameter exceeds the sweep budget); raise "
                "max_iter or pass strict=False to accept the partial labeling"
            )
    return labels.select("node", F.col("label").alias("component"))


def near_dedup_survivors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    threshold: float = 0.6,
    quality_col: str | None = None,
) -> DataFrame:
    """End-to-end fuzzy dedup: MinHash+LSH verified pairs -> connected
    components -> keep exactly one document per component, drop the rest —
    the operation a curation run actually executes, lifted from exact
    composite keys (reference exercise_3.py:10-22) to near-duplicate
    clusters. Returns every surviving row of ``df`` plus ``group_size``
    (how many near-dup documents the survivor represents; 1 for documents
    with no near-duplicate).

    Survivor policy: the min id per component by default; when
    ``quality_col`` is given, the highest-quality member instead (ties
    broken by lower id) — what a production curation run keeps, since the
    canonical-id member is rarely the best-written copy.

    Scale shape: the cluster tables (components, group sizes, winners,
    loser ids) hold only documents that appear in at least one verified
    pair — a small fraction of the corpus — and the removal is a keyed
    LEFT ANTI join on the id, so the corpus never joins against anything
    larger than the duplicate set; no forced broadcast (AQE converts the
    anti-join when the dup set is small, a skew-safe shuffle handles a
    pathological one). The quality policy adds one keyed join of the
    cluster table against the corpus's (id, quality) projection — narrow
    columns, duplicate-set-sized output — and a per-component max_by.
    """
    pairs = dedup_minhash_lsh(df, id_col, text_col, k=k, threshold=threshold)
    # no _materialize here: dedup_components returns a trivial projection
    # over its per-sweep-checkpointed label table, so downstream branches
    # re-read already-cached blocks — a second checkpoint would store a
    # duplicate copy of the component labels for no re-analysis savings
    comp = dedup_components(pairs)
    if quality_col is not None:
        scored = comp.join(
            df.select(F.col(id_col).alias("node"), F.col(quality_col).alias("_q")),
            "node",
        )
        winners = scored.groupBy("component").agg(
            F.max_by(
                "node", F.struct(F.col("_q"), (-F.col("node")).alias("_neg"))
            ).alias("_winner"),
            F.count(F.lit(1)).alias("group_size"),
        )
        losers = (
            comp.join(winners.select("component", "_winner"), "component")
            .filter(F.col("node") != F.col("_winner"))
            .select(F.col("node").alias(id_col))
        )
        return (
            df.join(losers, id_col, "left_anti")
            .join(
                winners.select(F.col("_winner").alias(id_col), "group_size"),
                id_col,
                "left",
            )
            .withColumn("group_size", F.coalesce("group_size", F.lit(1)))
        )
    group_sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    noncanon = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return (
        df.join(noncanon, id_col, "left_anti")
        .join(
            group_sizes.select(
                F.col("component").alias(id_col), "group_size"
            ),
            id_col,
            "left",
        )
        .withColumn("group_size", F.coalesce("group_size", F.lit(1)))
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: training documents that share at least
    ``min_shared`` distinct character k-shingles with ANY eval-set
    document, with the shared-shingle count — the standard n-gram-overlap
    contamination check run before training on a scraped corpus.

    Scale shape: the eval side (benchmark suites) is tiny and fixed while
    the train side is the 100 TB corpus, so the eval shingle set is the
    broadcast build side of a hash join — the corpus-side shingle stream
    never shuffles on the shingle key; the only wide exchange is the final
    per-doc count, which is partial-aggregated map-side first. No
    reference analog (the reference has no text ops); mandated extension
    tier.

    Returns (train_id, n_shared) for contaminated docs only.
    """
    # Shingles are reduced to int64 hash values BEFORE the exchange /
    # broadcast: a k=32 char shingle is a ~36-byte UTF8String, its hash 8
    # bytes — the broadcast table shrinks ~4x and the corpus-side stream,
    # per-doc hash-aggregate and join keys all move fixed-width longs
    # (same measured technique as _verify_jaccard step 1). Round-10: the
    # hashes come from the O(len) vectorized rolling-hash Arrow pass
    # (_shingle_hash_udf — the char_shingles expression walked the string
    # once per position, quadratic per document, measured as most of this
    # operator's wall at sf1). Both sides use the same function, so the
    # shared-count output changes only under a 64-bit collision between
    # distinct shingles (P ~ n^2/2^65, module equivalence argument); the
    # SQL oracle joins the shingle text itself, which is exactly the
    # cross-check that would surface one.
    sh = _shingle_hash_udf(k)
    tr = _scatter(train).select(
        F.col(id_col).alias("doc"), F.lower(F.col(text_col)).alias("lt")
    ).select("doc", F.explode(sh("lt")).alias("sh"))
    ev = (
        eval_df.select(F.lower(F.col(text_col)).alias("lt"))
        .select(F.explode(sh("lt")).alias("sh"))
        .distinct()
    )
    return (
        tr.join(F.broadcast(ev), "sh")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= F.lit(min_shared))
        .select(F.col("doc").alias("train_id"), "n_shared")
    )


def dedup_embedding_cosine_bruteforce(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold via a literal
    all-pairs theta join. TEST-ONLY recall oracle: the theta join plans as
    a nested-loop/cartesian product — a scale-killer (round-1 verdict).
    The product path is dedup_embedding_cosine (blocked GEMM, same exact
    output)."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_similarity(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
    )


# Candidate margin for the blocked-GEMM pass: numpy float64 and the JVM
# expression fold differ by ulps; candidates are taken at threshold-margin
# and re-verified with the exact JVM expression, so the final answer is
# bit-identical to the brute-force baseline (and the SQL oracle).
_GEMM_MARGIN = 1e-4


def _block_routes(n_blocks: int) -> list[tuple[int, int, int, str]]:
    """(block -> block-pair, role) routing table for the blocked all-pairs
    GEMM: each source block b is replicated to every unordered block pair
    it participates in — as role 'a' of pairs (b, j), j >= b, and role 'b'
    of pairs (i, b), i <= b. Invariant (pinned in tests/test_llm_ops.py):
    every unordered pair (i, j), i <= j, receives role 'a' from block i
    and role 'b' from block j EXACTLY once — so each of the B(B+1)/2
    applyInPandas groups sees each cross-block pair once and the diagonal
    group (i == i) sees both roles of every row, filtered by id order.
    Each block is emitted B+1 times total => shuffle volume O(n * (B+1)).

    Sizing rule for B: one applyInPandas group materializes two blocks of
    ~ (n/B) * dim * 8 bytes plus their (n/B)^2 cosine matrix in a Python
    worker; pick the smallest B for which that working set sits well
    inside an executor's per-task memory (e.g. n=1e7, dim=768: B=64 ->
    ~1 GB matrices + 2*1 GB blocks per task; B also sets task count
    B(B+1)/2, so oversizing B only adds scheduling overhead, never
    correctness risk)."""
    routes = []
    for b in range(n_blocks):
        for j in range(b, n_blocks):
            routes.append((b, b, j, "a"))
        for i in range(b + 1):
            routes.append((b, i, b, "b"))
    return routes


def dedup_embedding_cosine(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
    n_blocks: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold — EXACT, via
    blocked all-pairs GEMM instead of a theta join.

    Why not LSH: at a loose threshold like 0.45 (a 63 degree angle) the
    corpus has qualifying pairs arbitrarily close to the cut with signature
    hammings far past any band bound, so no bucketed scheme reproduces the
    exact answer (measured on this corpus: qualifying pairs at cosine
    0.452 vs rejected at 0.449, hamming up to 10/16). When approximate
    recall is acceptable, use operators/similarity.py:ann_lsh_buckets;
    when the exact threshold product is required, the honest scale shape
    for the inherently O(n^2)-flop problem is block decomposition:

      * each row is assigned a block via pmod(xxhash64(id), B) and
        replicated to every block-pair (i, j), i <= j, it belongs to —
        shuffle volume O(n * (B+1)) rows, never n^2;
      * each of the B(B+1)/2 block-pair groups computes its cosine matrix
        as ONE numpy/BLAS matmul (applyInPandas, Arrow-batched);
      * groups detect candidates at threshold - margin on the normalized
        GEMM, then compute each candidate's EXACT cosine in-place with a
        left-to-right double fold replicating the JVM expression op for op
        (round-10: the former id-join re-verification moved 4.1 M
        candidate pairs at sf1 through two joins and an interpreted
        64-dim fold — 25.8 s of the operator's 32 s; see the in-function
        exactness note), so results match the brute-force baseline
        bit-for-bit.

    B tunes task granularity: one block is n/B vectors * dim * 8 bytes and
    one task's cosine matrix is (n/B)^2 * 8 bytes; flops per task are
    (n/B)^2 * dim at BLAS speed. By default B is SIZED FROM THE DATA
    (ceil(n / gates.GEMM_BLOCK_ROWS), one count job) so the per-task matrix
    stays ~0.5 GB regardless of corpus size — a fixed B is a scale trap:
    the 64x probe measured the default-8 blocks at 320k rows building
    13 GB matrices per task (333 s of allocation/GC for ~30 s of BLAS).
    A caller that already counted the corpus passes n_rows to skip that
    job; pass n_blocks explicitly to pin task count instead. The plan
    contains no BroadcastNestedLoopJoin/CartesianProduct (pinned in
    tests/test_plans.py)."""
    import math

    import pandas as pd

    spark = df.sparkSession
    if n_blocks is None:
        # the one driver-side scalar: |df| -> block count (same contract
        # as semantic_dedup's occupancy knob; metadata-cheap on parquet).
        # Floor: enough block pairs (B(B+1)/2) to occupy every core even
        # on a small corpus — the probe measured B=3 at 20k rows leaving
        # 26 of 32 cores idle (5.8 s) while B=10 at 80k rows ran 3.9 s.
        par = df.sparkSession.sparkContext.defaultParallelism
        min_b = math.ceil((math.sqrt(8 * par + 1) - 1) / 2)
        n_blocks = max(
            min_b,
            math.ceil(
                (df.count() if n_rows is None else n_rows) / gates.GEMM_BLOCK_ROWS
            ),
        )
    route_df = F.broadcast(
        spark.createDataFrame(
            _block_routes(n_blocks), "block int, bi int, bj int, role string"
        )
    )

    rows = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("block"),
    )
    routed = rows.join(route_df, "block").select("bi", "bj", "role", "id", "v")

    margin = threshold - _GEMM_MARGIN

    # ROUND-10 (guide §4.2 / §1.2 step 2 — measured at sf1: the candidate
    # re-verification join was 25.8 s of the operator's 32 s wall, 4.1 M
    # candidate pairs each paying two id joins plus an INTERPRETED 64-dim
    # zip_with/aggregate fold): each block-pair group already holds BOTH
    # candidate vectors, so the group computes the exact cosine itself and
    # the join-back disappears. Bit-exactness is preserved by replicating
    # the JVM expression's float semantics operation for operation —
    # functions/vectors.py builds cosine as
    #   fold(acc + double(a_d)*double(b_d)) / (sqrt(fold(a)) * sqrt(fold(b)))
    # a strictly LEFT-TO-RIGHT double fold; the loop below runs the same
    # per-lane sequence (one fused dim-step at a time, vectorized ACROSS
    # pairs, never pairwise/SIMD re-associated within a pair), float32 ->
    # float64 widening is exact, np.sqrt and '/' are the same
    # correctly-rounded IEEE ops as Math.sqrt and Java '/'. The margin
    # still exists for the DETECTION product only (normalized float64
    # GEMM, ulps away from the fold); the final round(6) + threshold
    # filter stay JVM-side on the returned doubles, so the output is
    # bit-identical to the former join (pinned against the brute-force
    # twin in tests).

    def _fold_dot(X, Y):
        import numpy as np

        acc = np.zeros(len(X), dtype=np.float64)
        for d in range(X.shape[1]):
            acc = acc + X[:, d] * Y[:, d]
        return acc

    def block_pair_candidates(key, pdf):
        import numpy as np

        bi, bj = key
        a = pdf[pdf["role"] == "a"]
        b = pdf[pdf["role"] == "b"]
        if a.empty or b.empty:
            return pd.DataFrame(
                {"id_a": pd.Series(dtype="int64"),
                 "id_b": pd.Series(dtype="int64"),
                 "cosine": pd.Series(dtype="float64")}
            )
        ida = a["id"].to_numpy(dtype=np.int64)
        idb = b["id"].to_numpy(dtype=np.int64)
        RawA = np.array([np.asarray(x, dtype=np.float64) for x in a["v"]])
        RawB = np.array([np.asarray(x, dtype=np.float64) for x in b["v"]])
        with np.errstate(divide="ignore", invalid="ignore"):
            Va = RawA / np.linalg.norm(RawA, axis=1, keepdims=True)
            Vb = RawB / np.linalg.norm(RawB, axis=1, keepdims=True)
            S = Va @ Vb.T
            ii, jj = np.nonzero(S >= margin)
            if bi == bj:
                keep = ida[ii] < idb[jj]  # diagonal holds both roles
                ii, jj = ii[keep], jj[keep]
            # exact JVM-twin cosine for the candidates (fold-order dot and
            # norms over the raw doubles). A zero-norm row never becomes a
            # candidate: its normalized row is NaN and NaN fails the numpy
            # `S >= margin` gate above, so no NaN cosine reaches the JVM
            # filter, where NaN sorts above every double and would pass >=
            na = np.sqrt(_fold_dot(RawA[ii], RawA[ii]))
            nb = np.sqrt(_fold_dot(RawB[jj], RawB[jj]))
            cos = _fold_dot(RawA[ii], RawB[jj]) / (na * nb)
        pa, pb = ida[ii], idb[jj]
        swap = pa > pb
        lo = np.where(swap, pb, pa)
        hi = np.where(swap, pa, pb)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cos})

    cand = routed.groupBy("bi", "bj").applyInPandas(
        block_pair_candidates, "id_a long, id_b long, cosine double"
    )
    return (
        cand.withColumn("cosine", F.round(F.col("cosine"), 6))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
    )


def dedup_embedding_cosine_auto(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
    n_rows: int | None = None,
) -> DataFrame:
    """Count-derived dispatch over the two embedding near-dup paths
    (round-8 verdict ask #1): same (id_a, id_b, cosine) output contract,
    both verified with the same exact JVM cosine expression.

      * n <= gates.EXACT_PAIRS_MAX_ROWS: dedup_embedding_cosine — the EXACT
        blocked GEMM. O(n^2) flops by problem statement; the ceiling bounds
        where that is allowed to run.
      * n > gates.EXACT_PAIRS_MAX_ROWS: ann_lsh_buckets — count-auto-sized
        random-hyperplane signatures, banded candidates, hamming <= 4
        verify then exact cosine. RECALL CONTRACT: only pairs whose
        signatures differ in <= 4 of the 5*lsh_band_bits_for(n) planes
        are candidates (pigeonhole-guaranteed found); a qualifying pair
        at a loose threshold like 0.45 can exceed that hamming and is the
        dispatch's documented loss — this corpus measured qualifying
        pairs at hamming up to 10/16. Precision stays 1.0 (exact cosine
        verify). Callers needing the exact product above the ceiling must
        raise gates.EXACT_PAIRS_MAX_ROWS and budget the GEMM flops.

    The count is one metadata-cheap job, passed down as the chosen path's
    n_rows so its own sizer does not count again; a caller that knows the
    row count passes n_rows and runs none."""
    n = df.count() if n_rows is None else n_rows
    if n <= gates.EXACT_PAIRS_MAX_ROWS:
        return dedup_embedding_cosine(df, id_col, vec_col, threshold, n_rows=n)
    return ann_lsh_buckets(
        df,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        n_rows=n,
    )


SEMANTIC_TARGET_BUCKET_ROWS = 32
SEMANTIC_MAX_BITS = 20


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.4,
    n_bits: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column:
    coarse-cluster the corpus, then within each cluster drop every item
    that has a more-senior (lower-id) neighbor at cosine >= threshold.
    Returns the survivors as (id_col, bucket).

    The coarse quantizer is DETERMINISTIC: bucket = the n_bits sign bits
    of the first n_bits embedding dimensions (axis-aligned hyperplanes
    through the origin). That keeps the whole operator a single SQL-
    replayable expression — the role k-means plays in the SemDeDup paper
    (Abbas et al. 2023), with 2**n_bits standing in for k. The in-cluster
    rule is exactly the paper's: keep one representative per epsilon-ball,
    chosen deterministically (lowest id; swapping in an argmax over a
    quality score is a one-line change).

    Scale shape (100 TB): one exchange of (id, vec) hashed on bucket
    feeds a per-bucket applyInPandas that computes the pairwise cosines as
    one row-blocked numpy/BLAS gram matrix (Arrow-batched; the earlier
    bucket self-join's per-pair expression fold was interpreted and 14.6 s
    on the skewed sf1 top bucket), so total work is
    sum_b |bucket_b|^2 * dim — bounded by the quantizer granularity, the
    same contract SemDeDup runs at web scale. n_bits is the knob: 2**20
    buckets ~= the paper's k=110k at LAION scale. BY DEFAULT it is SIZED
    FROM THE DATA — max(6, ceil(log2(n / SEMANTIC_TARGET_BUCKET_ROWS))),
    capped at SEMANTIC_MAX_BITS, from one count job or the caller's n_rows
    — because a fixed bucket count is a scale trap: occupancy grows
    linearly with the corpus and within-bucket work quadratically (the
    composed-sf1 bench measured fixed-6-bits at 21.9 s for 10x the
    vectors; adaptive bits keep rows/bucket ~constant, the paper's
    k-grows-with-n contract). The dropped-id set is
    output-bounded and flows into an un-forced anti-join (AQE broadcasts
    it only when it measures small). Cross-bucket recall loss is the
    documented SemDeDup tradeoff; the exact-product path is
    dedup_embedding_cosine (blocked GEMM).

    Reference parity: the reference engine has no embedding tier — this
    is extension surface mandated by the curation brief (dedup family).
    """
    if n_bits is None:
        import math

        n = df.count() if n_rows is None else n_rows
        n_bits = min(
            SEMANTIC_MAX_BITS,
            max(6, math.ceil(math.log2(max(1, n) / SEMANTIC_TARGET_BUCKET_ROWS))),
        )
    bucket = F.lit(0)
    for d in range(n_bits):
        bucket = bucket + F.when(
            F.element_at(F.col(vec_col), d + 1) > 0, F.lit(1 << d)
        ).otherwise(F.lit(0))
    b = df.select(
        F.col(id_col), F.col(vec_col), bucket.cast("long").alias("bucket")
    )
    # Within-bucket pruning: one vectorized GEMM per bucket group via
    # applyInPandas (BLAS), replacing the earlier bucket self-join whose
    # per-pair zip_with/aggregate cosine is an interpreted expression —
    # on the composed-sf1 bench the skewed top bucket (594 rows = 350k
    # pairs) made the join form 14.6 s; one 594x594 gram matrix is
    # microseconds. Row-blocked so a pathological giant bucket bounds
    # peak memory at block x bucket, not bucket^2.
    import numpy as np
    import pandas as pd

    thr = float(threshold)

    def prune(key, pdf):
        pdf = pdf.sort_values("_id").reset_index(drop=True)
        m = np.stack(pdf["_vec"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0
        m = m / norms[:, None]
        n = m.shape[0]
        keep = np.ones(n, dtype=bool)
        block = 1024
        for lo in range(1, n, block):
            hi = min(lo + block, n)
            # cosine of rows [lo,hi) against ALL more-senior rows [0,hi);
            # seniors count whether or not they were themselves dropped —
            # the paper's (and the SQL twin's) epsilon-ball rule, same as
            # the earlier join form's EXISTS over every id_a < id_b.
            # PORTABLE 6-decimal rounding (floor(x*1e6+0.5)/1e6), not
            # np.round: numpy rounds half-to-even while DuckDB rounds
            # half-away, so a cosine landing exactly on a 7th-digit tie
            # would flip cross-engine (the quality_score tie class)
            sims = np.floor(m[lo:hi] @ m[:hi].T * 1e6 + 0.5) / 1e6
            for i in range(lo, hi):
                if np.any(sims[i - lo, :i] >= thr):
                    keep[i] = False
        return pdf.assign(_keep=keep)[["_id", "_bucket", "_keep"]]

    b2 = b.select(
        F.col(id_col).alias("_id"),
        F.col("bucket").alias("_bucket"),
        F.col(vec_col).alias("_vec"),
    )
    # output schema carries the CALLER's id type (string ids, ints of any
    # width) — hardcoding 'long' would silently miscast or fail them
    id_type = df.schema[id_col].dataType.simpleString()
    pruned = b2.groupBy("_bucket").applyInPandas(
        prune, schema=f"_id {id_type}, _bucket long, _keep boolean"
    )
    return pruned.filter(F.col("_keep")).select(
        F.col("_id").alias(id_col), F.col("_bucket").alias("bucket")
    )


# --------------------------------------------------------- edit-distance


def title_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 24,
    max_dist: int = 2,
) -> DataFrame:
    """Near-identical document prefixes under substitution (Hamming)
    distance — the string-similarity-join member of the dedup family
    (scraped corpora carry title/boilerplate variants differing in a
    character or two: dates, counters, typo fixes).

    Semantics: normalize each document to a FIXED-WIDTH key (lowercased
    first ``width`` chars, space-padded) and emit every id-ordered pair
    whose keys differ in at most ``max_dist`` positions, with the exact
    distance.

    Scale design — segment-pigeonhole blocking (the PassJoin/Ed-Join
    candidate scheme specialized to fixed-width substitution distance):
    the key is cut into ``max_dist + 1`` equal segments at FIXED
    positions; two keys within Hamming distance ``max_dist`` cannot
    differ in every segment, so they agree EXACTLY on at least one
    (segment_idx, segment_text) — candidate generation is therefore an
    equi-join on that composite key, COMPLETE by pigeonhole (no recall
    loss; the oracle brute-forces all pairs and must agree). Candidate
    volume is sum over buckets of C(bucket_size, 2) — the same
    banded-self-join shape as MinHash LSH, never the O(n^2) cross join.
    Verification is a single JVM higher-order-function expression
    (aggregate over character positions), no Python boundary.
    """
    n_seg = max_dist + 1
    seg_w = width // n_seg
    assert seg_w * n_seg == width, "width must be divisible by max_dist+1"
    keyed = df.select(
        F.col(id_col).alias("id"),
        F.rpad(F.lower(F.substring(text_col, 1, width)), width, " ").alias(
            "hkey"
        ),
    )
    segs = band_rows(
        keyed,
        ["id", "hkey"],
        [F.substring("hkey", i * seg_w + 1, seg_w) for i in range(n_seg)],
    )
    cand = pair_join(segs, ["band", "key"], carry=["hkey"])
    ham = F.expr(
        f"aggregate(sequence(1, {width}), 0, (acc, i) -> "
        "acc + IF(substring(hkey_a, i, 1) = substring(hkey_b, i, 1), 0, 1))"
    )
    return (
        cand.withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_dist)
        .select("id_a", "id_b", "hamming")
    )


def hamming_sig_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    max_dist: int = 6,
) -> DataFrame:
    """All id-ordered pairs of bit signatures within ``max_dist`` Hamming
    distance, with the exact distance — the fixed-width-bitstring
    counterpart of title_hamming_pairs (which blocks fixed-width STRINGS).
    ``sig_col`` is an array<int> of SEGMENT values: the signature's bits
    pre-cut into n_seg equal segments (multimodal.py:dhash_signatures
    packs its 126 bits as 7 x 18-bit ints).

    Scale design — segment pigeonhole: two signatures within ``max_dist``
    (default: n_seg - 1, the largest distance the segment count admits)
    differing bits cannot differ in every segment, so they agree exactly
    on at least one (segment_idx, segment_value) — candidate generation
    is an equi-join on that composite key, COMPLETE by pigeonhole (the
    brute-force oracle must agree). Verification is one
    sum-of-bit_count(xor) fold per candidate (zip_with + aggregate, pure
    JVM). Candidate volume is sum-of-C(bucket,2) over segment buckets,
    ~ n^2 * n_seg / 2^seg_bits — LSH-band shape whose operating point the
    SEGMENT WIDTH sets (a 7-bit-segment first cut measured quadratic at
    64x: 128 buckets/segment; 18-bit segments hold band volume below
    dedup_simhash_web's 16-bit operating point), never the O(n^2) cross
    join."""
    segs = sigs.select(
        F.col(id_col).alias("id"),
        F.col(sig_col).alias("sig"),
        F.posexplode(sig_col).alias("band", "key"),
    )
    cand = pair_join(segs, ["band", "key"], carry=["sig"])
    ham = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> bit_count(x ^ y)), 0, "
        "(acc, v) -> acc + v)"
    ).cast("long")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_dist)
        .select("id_a", "id_b", "hamming")
    )
