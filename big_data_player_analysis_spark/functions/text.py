"""Text-analysis functions for the LLM-data-pipeline tier (SURVEY.md §2.4):
token counting, language ID, quality scoring, fingerprinting — all as
built-in-function column expressions (codegen'd, no UDFs), designed so an
ANSI-SQL oracle can reproduce them exactly.

The reference has no text operators (its only string work is whitespace
field splitting, reference exercise_1.py:41 etc.); this module is the
mandated extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol.
# Kept to a regex subset with identical semantics in Java regex and RE2.
BPE_TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

# Stopword lists used for both language ID and quality scoring.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "und", "die", "das", "nicht"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "que", "una", "por"],
}
# Deterministic priority order for argmax ties.
LANG_PRIORITY = ["en", "de", "fr", "es"]

QUALITY_WEIGHTS = {"stop_ratio": 0.4, "alpha_ratio": 0.3, "len_score": 0.3}
QUALITY_LEN_NORM = 100.0  # ws-token count at which len_score saturates
# quality_score cut of the curation gate, batch pipeline and stream alike
CURATION_MIN_QUALITY = 0.36


def ws_token_count(text: Column) -> Column:
    """Whitespace token count: size(split(trim(text), '\\s+'))."""
    return F.size(F.split(F.trim(text), "\\s+"))


def ws_tokens(text: Column) -> Column:
    """Whitespace tokens as an array, NULL text read as empty: one empty
    token, so every document keeps at least one token (unlike
    ws_token_count, whose NULL stays NULL)."""
    return F.split(F.trim(F.coalesce(text, F.lit(""))), r"\s+")


def bpe_token_count(text: Column) -> Column:
    """Token count under the BPE-ish pre-tokenizer regex."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), F.lit(0)))


def stopword_hits(text: Column, word: str) -> Column:
    """Occurrences of ``word`` as a whole whitespace-delimited token, via the
    replace-length trick (portable to any SQL engine):
    (len(padded) - len(replace(padded, ' w ', ''))) / len(' w ')
    where padded = ' ' || lower(text) || ' '.
    Counts non-overlapping matches left-to-right — identical semantics to
    SQL replace()."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    pat = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(pat), F.lit(""))))
        / F.lit(len(pat))
    ).cast("long")


def language_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword-hit totals (n-gram-free heuristic language ID)."""
    return {
        lang: sum((stopword_hits(text, w) for w in words), F.lit(0))
        for lang, words in LANG_STOPWORDS.items()
    }


def predict_language(text: Column) -> Column:
    """Argmax language with deterministic priority-order tie-break: the first
    language in LANG_PRIORITY whose score is >= every later one wins."""
    scores = language_scores(text)
    expr = F.lit(LANG_PRIORITY[-1])
    for lang in reversed(LANG_PRIORITY[:-1]):
        later = LANG_PRIORITY[LANG_PRIORITY.index(lang) + 1 :]
        cond = None
        for other in later:
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def quality_score(text: Column) -> Column:
    """Composite document quality in [0, ~1]:
    0.4 * english-stopword ratio + 0.3 * alphabetic-char ratio
    + 0.3 * min(1, tokens/100), rounded to 6 decimals via the PORTABLE
    floor(x * 1e6 + 0.5) / 1e6 — NOT the engine round(): Spark rounds the
    exact decimal expansion HALF_UP while DuckDB rounds the float product,
    and scores landing exactly on a 7th-digit tie (ratios over power-of-two
    token counts do: 0.2504375) flip between them — 6 of 50k composed-sf1
    docs, both directions (round-4 sweep find). floor over the identical
    IEEE product is bit-deterministic in every engine."""
    n_tokens = ws_token_count(text).cast("double")
    stop_hits = sum(
        (stopword_hits(text, w) for w in LANG_STOPWORDS["en"]), F.lit(0)
    ).cast("double")
    alpha_chars = F.length(F.regexp_replace(text, "[^A-Za-z]", "")).cast("double")
    n_chars = F.length(text).cast("double")
    stop_ratio = stop_hits / n_tokens
    alpha_ratio = alpha_chars / n_chars
    len_score = F.least(F.lit(1.0), n_tokens / F.lit(QUALITY_LEN_NORM))
    w = QUALITY_WEIGHTS
    raw = (
        F.lit(w["stop_ratio"]) * stop_ratio
        + F.lit(w["alpha_ratio"]) * alpha_ratio
        + F.lit(w["len_score"]) * len_score
    )
    return F.floor(raw * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip non-alphanumerics,
    collapse whitespace."""
    t = F.lower(text)
    t = F.regexp_replace(t, "[^a-z0-9 ]", "")
    t = F.regexp_replace(t, " +", " ")
    return F.trim(t)


def md5_fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 hex digest of the normalized text."""
    return F.md5(F.encode(normalize_text(text), "UTF-8"))


# Gopher/C4-style quality-filter ruleset (Rae et al. 2021 §A1.1, Raffel et
# al. 2020 §2.2): repetition ratios + shape bounds. Bounds tuned so the
# filter is actually exercised on the synthetic corpus (docs run 10-99
# tokens with top-unigram shares up to 0.30).
QUALITY_FILTER_RULES = {
    "min_tokens": 20,
    "max_tokens": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_dup_line_frac": 0.3,
    "max_top_unigram_share": 0.12,
    "max_top_bigram_share": 0.08,
    "max_symbol_word_ratio": 0.1,
}


def ws_tokens_norm(text: Column) -> Column:
    """Whitespace tokens of the normalized text as an array."""
    return F.split(normalize_text(text), " ")


def dup_line_fraction(text: Column) -> Column:
    """Fraction of newline-delimited lines that are duplicates of another
    line: 1 - distinct/total. 0.0 for single-line documents."""
    lines = F.split(text, "\n")
    return F.round(
        (F.size(lines) - F.size(F.array_distinct(lines)))
        / F.size(lines).cast("double"),
        6,
    )


def _top_share(arr: Column) -> Column:
    """Share of the array occupied by its most frequent element; 0.0 for
    empty arrays. Evaluated as distinct x filter scans — O(distinct * n)
    per row, fine for document-sized arrays (for book-length texts, the
    explode + groupBy + window form is the right shape instead)."""
    counts = F.transform(
        F.array_distinct(arr), lambda g: F.size(F.filter(arr, lambda x: x == g))
    )
    return F.when(
        F.size(arr) > 0,
        F.round(F.array_max(counts) / F.size(arr).cast("double"), 6),
    ).otherwise(F.lit(0.0))


def top_unigram_share(text: Column) -> Column:
    """Share of tokens taken by the most frequent normalized token."""
    return _top_share(ws_tokens_norm(text))


def top_bigram_share(text: Column) -> Column:
    """Share of word 2-grams taken by the most frequent one — the Gopher
    repetition signal that catches boilerplate loops exact-line dedup
    misses. Sequence is guarded (sequence(1, 0) would count down)."""

    def bigrams_of(toks: Column) -> Column:
        n = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        )
        return F.when(n >= 2, grams).otherwise(F.array().cast("array<string>"))

    # let-bind the token array (same trick as char_shingles: inlining it
    # would re-split the text for every lambda reference)
    return _top_share(F.transform(F.array(ws_tokens_norm(text)), bigrams_of)[0])


def symbol_word_ratio(text: Column) -> Column:
    """Symbol characters (non-alphanumeric, non-whitespace) per whitespace
    token of the raw text."""
    symbols = F.length(F.regexp_replace(text, "[A-Za-z0-9\\s]", ""))
    return F.round(symbols / ws_token_count(text).cast("double"), 6)


def mean_word_length(text: Column) -> Column:
    """Mean normalized-token length, computed from the single-spaced
    normalized form as (chars - separators) / tokens — no per-token pass."""
    norm = normalize_text(text)
    n = F.size(F.split(norm, " ")).cast("double")
    return F.when(
        F.length(norm) > 0, F.round((F.length(norm) - (n - 1)) / n, 6)
    ).otherwise(F.lit(0.0))


def char_shingles(text: Column, k: int) -> Column:
    """Distinct character k-shingles of the normalized text as an array —
    the input to n-gram Jaccard / MinHash dedup. Pure expression:
    transform(sequence(1, len-k+1), i -> substring(norm, i, k)); empty array
    for texts shorter than k (sequence() would count down otherwise).

    The normalized text is let-bound through a single-element array
    transform: referencing `normalize_text(text)` directly inside the
    per-position lambda would re-run its two regex passes for EVERY shingle
    position (O(len^2) per document — measured 10x+ on real corpora);
    binding it to a lambda variable evaluates it exactly once per row."""

    def shingles_of(norm: Column) -> Column:
        n = F.length(norm) - F.lit(k - 1)
        shingles = F.array_distinct(
            F.transform(F.sequence(F.lit(1), n), lambda i: norm.substr(i, F.lit(k)))
        )
        return F.when(n >= 1, shingles).otherwise(F.array().cast("array<string>"))

    return F.transform(F.array(normalize_text(text)), shingles_of)[0]


def word_ngrams(text: Column, n: int) -> Column:
    """Word n-grams of the normalized text as an array of space-joined
    strings (empty array when the document has fewer than n tokens).
    Pure built-in expressions: the token array is let-bound through a
    1-element array + transform (same trick as top_bigram_share) so the
    text is normalized and split exactly once per row."""

    def grams_of(toks: Column) -> Column:
        m = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(1), m - n + 1),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        )
        return F.when(m >= n, grams).otherwise(F.array().cast("array<string>"))

    return F.transform(F.array(ws_tokens_norm(text)), grams_of)[0]
