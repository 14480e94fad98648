"""Distributed BPE training (plans/bpe.py): exact parity against a pure
Python implementation of the published merge-learning algorithm (Sennrich
et al. 2016), greedy fold semantics, early stop, and plan no-growth."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from big_data_player_analysis_spark import gates
from big_data_player_analysis_spark.plans.bpe import (
    CHECKPOINT_EVERY,
    EOW,
    _merge_pair,
    bpe_merges_df,
    bpe_train,
)

CORPUS = [
    ("the lowest newest widest lower newer low new",),
    ("low low low lower lower newest newest newest newest",),
    ("wider wide widest new newer the the the",),
]


def python_bpe(rows, n_merges):
    """Reference implementation: word histogram, then repeat (count
    adjacent pairs weighted by word freq; merge the argmax pair with
    lexicographic tie-break, greedy left-to-right non-overlapping)."""
    wc = Counter()
    for (txt,) in rows:
        for w in re.split(r"[^a-z]+", txt.lower()):
            if w:
                wc[w] += 1
    vocab = {tuple(list(w) + [EOW]): c for w, c in wc.items()}
    merges = []
    for _ in range(n_merges):
        pc = Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, n))
        new_vocab: dict[tuple, int] = {}
        for syms, c in vocab.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def test_bpe_matches_reference_algorithm(spark):
    """Twelve merges over a corpus engineered for shared subwords (low/
    lower/lowest, new/newer/newest, wide/wider/widest) must reproduce the
    Python reference EXACTLY — order, pairs, and counts — including
    EOW-involving merges and count ties broken lexicographically.
    (Default gate: the driver-local incremental-pair-count path.)"""
    docs = spark.createDataFrame(CORPUS, "text string")
    got = bpe_train(docs, "text", n_merges=12).merges
    assert got == python_bpe(CORPUS, 12)


def test_bpe_distributed_path_matches_local_and_reference(spark, monkeypatch):
    """A closed BPE local gate forces the distributed vocab loop; its merge
    table (order, pairs, counts) and final vocab rows must be identical
    to the driver-local gate path and the pure-Python reference — the
    round-9 size-gated dispatch must be invisible in the output."""
    docs = spark.createDataFrame(CORPUS, "text string")
    local = bpe_train(docs, "text", n_merges=12)
    monkeypatch.setattr(gates, "BPE_LOCAL_MAX_WORDS", 0)
    dist = bpe_train(docs, "text", n_merges=12)
    assert dist.merges == local.merges == python_bpe(CORPUS, 12)
    assert dist.iterations == local.iterations
    dist_vocab = sorted(
        [(r["word"], r["freq"], r["symbols"]) for r in dist.vocab.collect()]
    )
    local_vocab = sorted(
        [(r["word"], r["freq"], r["symbols"]) for r in local.vocab.collect()]
    )
    assert dist_vocab == local_vocab


def test_bpe_merge_fold_is_greedy_non_overlapping(spark):
    """'aaaa' with pair (a, a) must merge to ['aa', 'aa'] — left-to-right
    non-overlapping, and a just-merged token is not reused as the left
    element within the same pass."""
    df = spark.createDataFrame(
        [("aaaa", 1, ["a", "a", "a", "a"])], "word string, freq long, symbols array<string>"
    )
    out = _merge_pair(df, "a", "a").select("symbols").first()[0]
    assert out == ["aa", "aa"]


def test_bpe_stops_when_fully_merged(spark):
    """Single-letter words exhaust their pairs after merging with the EOW
    sentinel; the loop must stop early instead of spinning on an empty
    pair table."""
    docs = spark.createDataFrame([("a a b",)], "text string")
    res = bpe_train(docs, "text", n_merges=10)
    assert res.iterations == 2  # (a, EOW) then (b, EOW)
    assert [m[:2] for m in res.merges] == [("a", EOW), ("b", EOW)]


def test_bpe_plan_does_not_grow(spark, monkeypatch):
    """The merge fold nests one expression layer per iteration;
    localCheckpoint must reset lineage so the vocab after many merges
    plans as a bounded tree over a materialized RDD scan, not a
    12-iteration expression pyramid."""
    docs = spark.createDataFrame(CORPUS, "text string")
    # gate closed: the no-growth contract is a property of the
    # DISTRIBUTED loop (the driver-local gate path has no Spark lineage)
    monkeypatch.setattr(gates, "BPE_LOCAL_MAX_WORDS", 0)
    res = bpe_train(docs, "text", n_merges=12)
    plan = res.vocab._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan
    # at most CHECKPOINT_EVERY merge folds above the checkpoint scan
    assert plan.count("aggregate(") <= CHECKPOINT_EVERY * 2


def test_bpe_encode_matches_reference(spark):
    """Token counts from the distributed encode (distinct-word Arrow pass
    + join-back) must equal applying the merge list per word in Python —
    including words unseen at train time (the encode vocabulary is open)."""
    from big_data_player_analysis_spark.plans.bpe import bpe_encode_tokens

    docs = spark.createDataFrame(
        list(CORPUS) + [("brand unseen lowly words",)], "text string"
    ).withColumn("doc_id", F.monotonically_increasing_id())
    merges = [(a, b) for a, b, _ in python_bpe(CORPUS, 8)]

    def py_encode_len(w):
        syms = list(w) + [EOW]
        for a, b in merges:
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            syms = out
        return len(syms)

    got = {
        r.doc_id: (r.n_words, r.n_tokens)
        for r in bpe_encode_tokens(docs, "doc_id", "text", merges).collect()
    }
    for row in docs.collect():
        ws = [w for w in re.split(r"[^a-z]+", row.text.lower()) if w]
        assert got[row.doc_id] == (len(ws), sum(py_encode_len(w) for w in ws))


def test_bpe_merges_df_schema(spark):
    docs = spark.createDataFrame(CORPUS, "text string")
    df = bpe_merges_df(docs, "text", n_merges=3)
    assert [f.name for f in df.schema.fields] == [
        "merge_rank", "left", "right", "merged", "pair_count",
    ]
    rows = df.orderBy("merge_rank").collect()
    assert [(r.left, r.right, r.pair_count) for r in rows] == python_bpe(CORPUS, 3)
    assert all(r.merged == r.left + r.right for r in rows)


def test_bpe_token_ids_match_reference(spark):
    """The distributed token-ID encode must equal the pure-Python replay
    EXACTLY — id table (base alphabet then merges in rank order), per-word
    encode, and the concatenation in original word order (posexplode +
    array_sort reassembly) — including unseen words and a doc with
    repeated words."""
    from big_data_player_analysis_spark.plans.bpe import (
        _encode_word,
        bpe_token_ids,
        bpe_vocab_ids,
    )

    docs = spark.createDataFrame(
        list(CORPUS) + [("brand unseen lowly words",), ("low low unseen low",)],
        "text string",
    ).withColumn("doc_id", F.monotonically_increasing_id())
    merges = [(a, b) for a, b, _ in python_bpe(CORPUS, 8)]
    tok2id = bpe_vocab_ids(merges)

    got = {
        r.doc_id: (list(r.token_ids), r.n_words, r.n_tokens)
        for r in bpe_token_ids(docs, "doc_id", "text", merges).collect()
    }
    for row in docs.collect():
        ws = [w for w in re.split(r"[^a-z]+", row.text.lower()) if w]
        ids = [tok2id[s] for w in ws for s in _encode_word(w, merges)]
        assert got[row.doc_id] == (ids, len(ws), len(ids)), row.text


def test_bpe_vocab_ids_deterministic_and_dense(spark):
    from big_data_player_analysis_spark.plans.bpe import EOW, bpe_vocab_ids

    merges = [(a, b) for a, b, _ in python_bpe(CORPUS, 6)]
    tok2id = bpe_vocab_ids(merges)
    # base alphabet + EOW occupy 0..26 (sorted), merges take 27.. in rank order
    assert sorted(tok2id.values()) == list(range(len(tok2id)))
    assert tok2id[EOW] == 26  # U+2581 sorts after 'z'
    assert tok2id[merges[0][0] + merges[0][1]] == 27


def test_bpe_tokenize_then_pack_chain(spark):
    """End-to-end tokenize -> pack: pack_sequences consuming the ACTUAL
    per-doc token counts (size(token_ids)) must equal packing the
    pure-Python lengths through the same next-fit walk — the chain a
    training-data writer runs."""
    import hashlib

    from big_data_player_analysis_spark.operators.chunking import pack_sequences
    from big_data_player_analysis_spark.plans.bpe import _encode_word, bpe_token_ids

    def hex_bucket_py(key, n):
        # pure-Python twin of operators/sampling.py:hex_bucket + pmod
        return int(hashlib.md5(str(key).encode()).hexdigest()[:4], 16) % n

    docs = spark.createDataFrame(
        list(CORPUS) + [("brand unseen lowly words",)], "text string"
    ).withColumn("doc_id", F.monotonically_increasing_id())
    merges = [(a, b) for a, b, _ in python_bpe(CORPUS, 8)]
    encoded = bpe_token_ids(docs, "doc_id", "text", merges)

    budget, n_groups = 16, 2
    got = {
        r.doc_id: (r.grp, r.pack_id, r.off)
        for r in pack_sequences(
            encoded, "doc_id", "n_tokens", budget=budget, n_groups=n_groups
        ).collect()
    }

    # pure-Python replay: same hash grouping, id order, next-fit walk
    lens = {}
    for row in docs.collect():
        ws = [w for w in re.split(r"[^a-z]+", row.text.lower()) if w]
        lens[row.doc_id] = sum(len(_encode_word(w, merges)) for w in ws)
    want = {}
    groups: dict[int, list[int]] = {}
    for did in sorted(lens):
        groups.setdefault(hex_bucket_py(did, n_groups), []).append(did)
    for g, dids in groups.items():
        pack, fill = 0, 0
        for did in dids:
            n = lens[did]
            if fill and fill + n > budget:
                pack, fill = pack + 1, 0
            want[did] = (g, pack, fill)
            fill += n
        # documents larger than the budget still occupy their own pack
    assert got == want


def test_bpe_encode_entry_retrains_on_a_rewritten_table(spark, tmp_path):
    """The registered llm_bpe_encode entry trains on the table as it is
    when the entry runs: after documents.parquet is rewritten in place
    with different text, its token ids equal a fresh train + encode of
    the new text, not an encode with the first corpus's merges."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_player_analysis_spark.plans.bpe import _encode_word, bpe_vocab_ids
    from big_data_player_analysis_spark.registry import all_queries

    entry = all_queries()["llm_bpe_encode"].fn
    path = tmp_path / "documents.parquet"

    def reference(texts):
        merges = [(a, b) for a, b, _ in python_bpe([(t,) for t in texts], 12)]
        tok2id = bpe_vocab_ids(merges)
        out = {}
        for doc_id, text in enumerate(texts):
            ws = [w for w in re.split(r"[^a-z]+", text.lower()) if w]
            ids = [tok2id[s] for w in ws for s in _encode_word(w, merges)]
            out[doc_id] = (" ".join(map(str, ids)), len(ws), len(ids))
        return out

    rewritten = [
        "banana bandana cabana banana nab",
        "bandana banana banana cab cabana",
        "nab cab banana bandana bandana",
    ]
    for texts in ([t for (t,) in CORPUS], rewritten):
        pq.write_table(
            pa.table({"doc_id": list(range(len(texts))), "text": texts}), path
        )
        got = {
            r.doc_id: (r.token_ids_str, r.n_words, r.n_tokens)
            for r in entry(spark, str(tmp_path)).collect()
        }
        assert got == reference(texts)
