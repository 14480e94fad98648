"""Corpus language-model scoring operators: statistical stand-ins for
perplexity-based quality filtering (CCNet-style) that need no trained
model — the corpus scores itself.

Scale design: token/bigram instances are never re-shuffled as instances.
Per-doc term counts partial-agg map-side; the corpus model tables
(bigram counts, context marginals) re-aggregate those COUNTS on their
own keys; scalar corpus totals ride along as 1-row broadcasts. Model
tables exceed broadcast size at 100 TB, so the tf-model joins are left
to AQE (same contract as llm_tfidf_top_terms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _bind(col: F.Column, f) -> F.Column:
    """Let-bind: evaluate ``col`` once and pass it as a lambda variable
    (the char_shingles trick) — ProjectCollapsing would otherwise inline
    an alias into every use site and re-evaluate it."""
    return F.transform(F.array(col), f)[0]


def _token_arrays(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, ts): the lowercase a-z token array per document — the shared
    tokenization convention of the unigram/tf-idf entries."""
    return docs.select(
        id_col,
        F.filter(
            F.split(
                F.trim(F.regexp_replace(F.lower(text_col), "[^a-z]", " ")),
                " +",
            ),
            lambda x: F.length(x) >= 1,
        ).alias("ts"),
    )


def bigram_surprisal(
    docs: DataFrame, id_col: str, text_col: str, k: float = 0.5
) -> DataFrame:
    """Per-document mean -ln p(w2|w1) under the corpus's own bigram
    distribution with add-k smoothing (V = distinct context words): the
    conditional upgrade of unigram surprisal — low = fluent word order,
    high = shuffled/noisy text that unigram statistics cannot
    distinguish.

    Each document's adjacent pairs become structs of two xxhash64 values
    (the gram over both tokens, the context over the first), built by
    indexing the token array at i and i + 1. The structs are sorted, and a
    run-length scan over the sorted array yields the document's
    (gram, context, tf) rows: a NARROW per-row pass, with no window or
    shuffle to line up neighbours.

    Returns ``(id_col, n_bigrams, avg_bigram_surprisal)``; documents
    with fewer than two tokens have no bigrams and are absent.
    """
    # ROUND-10 (guide §2.4 / the llm_repetition_profile lesson): a
    # document's bigram term-frequency table is a pure PER-ROW function of
    # its token array, so it is computed with a sorted run-length scan over
    # per-row gram hashes instead of exploding every bigram INSTANCE into a
    # corpus-wide (doc, w1, w2) hash aggregate — that aggregate exchanged
    # the whole tokenized corpus (the largest of this operator's three
    # exchanges, 124.6 MB total sf1 shuffle-write in SHUFFLE.md). Gram
    # identity is multi-argument xxhash64 over the two tokens and the
    # context identity xxhash64 over the first (the module equivalence
    # argument: distinct grams collide with P ~ n^2/2^65, and the SQL
    # oracle groups gram TEXT — exactly the cross-check that would surface
    # one). The per-doc tf rows explode NARROW (three longs + a count,
    # already unique per doc), the model tables aggregate partial-agged
    # counts as before, and the one remaining big-side exchange is the
    # tf-model join — which AQE converts to a broadcast whenever the
    # model table measures small.
    toks = _token_arrays(docs, id_col, text_col).filter(F.size("ts") >= 2)

    def _tf_runs(ts: F.Column) -> F.Column:
        def with_sorted(srt: F.Column) -> F.Column:
            m = F.size(srt)
            starts = F.filter(
                F.sequence(F.lit(1), m),
                # structural guard (CaseWhen only evaluates the otherwise
                # branch when i > 1) — same form as repetition_profile
                lambda i: F.when(i == F.lit(1), F.lit(True)).otherwise(
                    F.element_at(srt, i)["ph"] != F.element_at(srt, i - 1)["ph"]
                ),
            )

            def with_starts(st: F.Column) -> F.Column:
                return F.zip_with(
                    st,
                    F.concat(F.slice(st, 2, F.size(st) - 1), F.array(m + 1)),
                    lambda s, e: F.struct(
                        F.element_at(srt, s)["ph"].alias("ph"),
                        F.element_at(srt, s)["hc"].alias("hc"),
                        (e - s).cast("long").alias("tf"),
                    ),
                )

            return _bind(starts, with_starts)

        grams = F.transform(
            F.sequence(F.lit(1), F.size(ts) - 1),
            lambda i: F.struct(
                F.xxhash64(F.element_at(ts, i), F.element_at(ts, i + 1)).alias(
                    "ph"
                ),
                F.xxhash64(F.element_at(ts, i)).alias("hc"),
            ),
        )
        return _bind(F.array_sort(grams), with_sorted)

    tf = toks.select(
        id_col, F.explode(_tf_runs(F.col("ts"))).alias("r")
    ).select(
        id_col, F.col("r.ph").alias("ph"), F.col("r.hc").alias("hc"),
        F.col("r.tf").alias("tf"),
    )
    bg = tf.groupBy("ph").agg(
        F.sum("tf").alias("cbg"), F.min("hc").alias("hc")
    )
    ctx = bg.groupBy("hc").agg(F.sum("cbg").alias("cw1"))
    vocab = ctx.agg(F.count(F.lit(1)).alias("v"))
    kl = F.lit(float(k))
    # fold the context marginal into the MODEL-sized bg table first, so
    # the large per-doc tf table exchanges at most once (on ph) —
    # joining ctx onto tf directly would re-shuffle every tf row a
    # second time on the context key
    model = bg.join(ctx, "hc")
    p = (F.col("cbg") + kl) / (F.col("cw1") + kl * F.col("v"))
    return (
        tf.join(model, "ph")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.round(-F.sum(F.col("tf") * F.log(p)) / F.sum("tf"), 6).alias(
                "avg_bigram_surprisal"
            ),
        )
    )
