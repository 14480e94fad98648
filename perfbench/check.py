"""Output checks: every op's result against an independent reference.

Results are compared as a row count plus an order-insensitive digest of
canonical rows (columns sorted by name, floats rounded to 6 decimals,
as ``tools/oracle_check.py`` compares them). References come from:

* the registry's DuckDB twins (``QuerySpec.sql`` / ``oracle_scale``);
* ``SQL_INCREMENTAL_MV``, the plain GROUP BY twin of the streaming MV;
* a pure-Python BPE train + encode for ``llm_bpe_encode``.

All of it runs before the clock starts or after an op's clock stops.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import re
from collections import Counter

import numpy as np
import pandas as pd


def _canon(v):
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, float, np.integer, np.floating, decimal.Decimal)):
        f = float(v)
        return None if math.isnan(f) else round(f, 6) + 0.0
    if isinstance(v, pd.Timestamp):
        return (v.tz_convert(None) if v.tzinfo else v).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def digest(df: pd.DataFrame, columns: tuple[str, ...] | None = None) -> tuple[int, str]:
    """(row count, sha1 of the sorted canonical rows)."""
    df = df.rename(columns=str.lower)
    cols = sorted(columns or df.columns)
    rows = sorted(
        repr(tuple(_canon(v) for v in row)) for row in df[cols].itertuples(index=False)
    )
    return len(rows), hashlib.sha1("\n".join(rows).encode()).hexdigest()


def duckdb_con(inputs: str, tables):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    return con


def registry_expected(con, spec) -> pd.DataFrame:
    """A registry entry's DuckDB twin; the scale-capable form when the
    entry has one (same fixed point, pinned equal by the test suite)."""
    if spec.oracle_scale is not None:
        return spec.oracle_scale(con)
    return con.execute(spec.sql).df()


# ------------------------------------------------------------ BPE reference


def bpe_expected(con, n_merges: int = 12) -> pd.DataFrame:
    """(doc_id, n_words, n_tokens) from a plain-Python BPE: word histogram,
    merge the most frequent adjacent pair (lexicographic tie-break) with a
    greedy left-to-right non-overlapping fold, then encode every word."""
    from big_data_player_analysis_spark.plans.bpe import EOW

    docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
    words = {d: [w for w in re.split(r"[^a-z]+", (t or "").lower()) if w] for d, t in docs}
    vocab = Counter()
    for ws in words.values():
        vocab.update(ws)
    symbols = {w: tuple(w) + (EOW,) for w in vocab}

    def fold(syms, a, b):
        out = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        return tuple(out)

    for _ in range(n_merges):
        pairs = Counter()
        for w, syms in symbols.items():
            for p in zip(syms, syms[1:]):
                pairs[p] += vocab[w]
        if not pairs:
            break
        (a, b), _n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        symbols = {w: fold(syms, a, b) for w, syms in symbols.items()}
    return pd.DataFrame(
        [(d, len(ws), sum(len(symbols[w]) for w in ws)) for d, ws in words.items()],
        columns=["doc_id", "n_words", "n_tokens"],
    )
