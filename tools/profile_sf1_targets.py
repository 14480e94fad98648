"""Round-10 measurement pass (guide §1): per-stage wall timing for the
sf1 heavy hitters the round-9 verdict targets — the minhash near-dedup
family, simhash, the exact embedding GEMM, and the curation pipeline's
stage floors. Each stage is forced independently (noop sink / count) with
a job description so the timing maps to operators.

Usage: SPARK_GRAFT_SF_DIR=<dir> python tools/profile_sf1_targets.py [targets...]
Targets: minhash components simhash gemm pipeline (default: all).
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from big_data_player_analysis_spark.caching import release_tracked
from big_data_player_analysis_spark.catalog import load_table
from big_data_player_analysis_spark.operators import dedup as D
from big_data_player_analysis_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def step(spark, label, fn):
    spark.sparkContext.setJobDescription(label)
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    print(f"  {label:<42s} {dt:7.2f}s" + (f"  ({out})" if out is not None else ""))
    spark.sparkContext.setJobDescription(None)
    return out


def profile_minhash(spark, docs):
    print("== dedup_minhash_lsh stages ==")
    k, threshold = 8, 0.6
    t_all = time.time()
    step(spark, "lowered only (no sig)", lambda: noop(D._lowered(docs, "doc_id", "text")))
    sig = D.minhash_signatures(D._lowered(docs, "doc_id", "text"), k).persist()
    n = step(spark, "signatures+persist (count)", lambda: sig.count())
    bands = sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.hash(
                            F.slice("sig", i * D.ROWS_PER_BAND + 1, D.ROWS_PER_BAND)
                        ).alias("bucket"),
                    )
                    for i in range(D.N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")
    ba = bands.select(F.col("doc").alias("doc_a"), "band", "bucket")
    bb = bands.select(F.col("doc").alias("doc_b"), "band", "bucket")
    cand = (
        ba.join(bb, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .persist()
    )
    n_cand = step(spark, "band join + distinct (count)", lambda: cand.count())
    step(
        spark,
        "verify_jaccard (noop)",
        lambda: noop(D._verify_jaccard(cand, docs, "doc_id", "text", k, threshold)),
    )
    print(f"  staged total: {time.time()-t_all:.2f}s  docs={n} cand={n_cand}")
    sig.unpersist()
    cand.unpersist()
    release_tracked()
    t0 = time.time()
    spark.sparkContext.setJobDescription("minhash end-to-end")
    noop(D.dedup_minhash_lsh(docs, "doc_id", "text", k=k, threshold=threshold))
    print(f"  end-to-end clean:        {time.time()-t0:.2f}s")
    release_tracked()


def profile_components(spark, docs):
    print("== dedup_components / survivors extra stages ==")
    k, threshold = 8, 0.6
    pairs = D.dedup_minhash_lsh(docs, "doc_id", "text", k=k, threshold=threshold)
    t0 = time.time()
    spark.sparkContext.setJobDescription("pairs -> components")
    comp = D.dedup_components(pairs)
    noop(comp)
    print(f"  pairs+components end-to-end: {time.time()-t0:.2f}s")
    release_tracked()
    t0 = time.time()
    spark.sparkContext.setJobDescription("near_dedup_survivors")
    noop(D.near_dedup_survivors(docs, "doc_id", "text", k=k, threshold=threshold))
    print(f"  survivors end-to-end:        {time.time()-t0:.2f}s")
    release_tracked()


def profile_simhash(spark, docs):
    print("== dedup_simhash stages ==")
    k = 8
    sigs = D.simhash_signatures(docs, "doc_id", "text", k).persist()
    n = step(spark, "signatures+persist (count)", lambda: sigs.count())
    for n_bands, max_h, tag in ((9, 8, "strict 9x7"), (4, 3, "web 4x16")):
        bands = sigs.select(
            "doc",
            "sig",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.shiftright("sig", off)
                            .bitwiseAND(F.lit((1 << width) - 1))
                            .alias("bucket"),
                        )
                        for i, (off, width) in enumerate(
                            D.simhash_band_bounds(n_bands)
                        )
                    ]
                )
            ).alias("bb"),
        ).select("doc", "sig", "bb.band", "bb.bucket")
        ba = bands.select(
            F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"), "band", "bucket"
        )
        bb = bands.select(
            F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"), "band", "bucket"
        )
        out = (
            ba.join(bb, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "sig_a", "sig_b")
            .distinct()
            .withColumn(
                "hamming",
                F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long"),
            )
            .filter(F.col("hamming") <= F.lit(max_h))
            .select("doc_a", "doc_b", "hamming")
        )
        step(spark, f"band join + verify ({tag}, noop)", lambda: noop(out))
    sigs.unpersist()
    print(f"  (docs={n})")
    for max_h, n_bands, tag in ((8, 9, "strict"), (3, 4, "web")):
        release_tracked()
        t0 = time.time()
        spark.sparkContext.setJobDescription(f"simhash end-to-end {tag}")
        noop(
            D.dedup_simhash(
                docs, "doc_id", "text", k=k, max_hamming=max_h, n_bands=n_bands
            )
        )
        print(f"  end-to-end {tag}: {time.time()-t0:.2f}s")
    release_tracked()


def profile_gemm(spark, sf_dir):
    print("== dedup_embedding_cosine stages ==")
    vecs = load_table(spark, sf_dir, "embeddings")
    step(spark, "scan embeddings (noop)", lambda: noop(vecs))
    import math

    n = vecs.count()
    par = spark.sparkContext.defaultParallelism
    min_b = math.ceil((math.sqrt(8 * par + 1) - 1) / 2)
    n_blocks = max(min_b, math.ceil(n / 8192))
    route_df = F.broadcast(
        spark.createDataFrame(
            D._block_routes(n_blocks), "block int, bi int, bj int, role string"
        )
    )
    rows = vecs.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_blocks)).cast("int").alias("block"),
    )
    routed = rows.join(route_df, "block").select("bi", "bj", "role", "id", "v")
    step(spark, f"route replicate B={n_blocks} (noop)", lambda: noop(routed))
    import pandas as pd

    margin = 0.45 - D._GEMM_MARGIN

    def block_pair_candidates(key, pdf):
        import numpy as np

        bi, bj = key
        a = pdf[pdf["role"] == "a"]
        b = pdf[pdf["role"] == "b"]
        if a.empty or b.empty:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        ida = a["id"].to_numpy(dtype=np.int64)
        idb = b["id"].to_numpy(dtype=np.int64)
        Va = np.array([np.asarray(x, dtype=np.float64) for x in a["v"]])
        Vb = np.array([np.asarray(x, dtype=np.float64) for x in b["v"]])
        Va /= np.linalg.norm(Va, axis=1, keepdims=True)
        Vb /= np.linalg.norm(Vb, axis=1, keepdims=True)
        S = Va @ Vb.T
        ii, jj = np.nonzero(S >= margin)
        pa, pb = ida[ii], idb[jj]
        keep = pa < pb if bi == bj else np.ones(len(pa), dtype=bool)
        lo = np.minimum(pa[keep], pb[keep])
        hi = np.maximum(pa[keep], pb[keep])
        return pd.DataFrame({"id_a": lo, "id_b": hi})

    cand = routed.groupBy("bi", "bj").applyInPandas(
        block_pair_candidates, "id_a long, id_b long"
    ).persist()
    nc = step(spark, "GEMM candidates (count)", lambda: cand.count())
    from big_data_player_analysis_spark.functions.vectors import cosine_similarity

    a_side = vecs.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b_side = vecs.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    ver = (
        cand.join(a_side, "id_a")
        .join(b_side, "id_b")
        .withColumn("cosine", F.round(cosine_similarity(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine") >= F.lit(0.45))
        .select("id_a", "id_b", "cosine")
    )
    step(spark, "exact verify join (noop)", lambda: noop(ver))
    cand.unpersist()
    print(f"  (n={n} B={n_blocks} cand={nc})")
    release_tracked()
    t0 = time.time()
    spark.sparkContext.setJobDescription("gemm end-to-end")
    noop(D.dedup_embedding_cosine(vecs, "vec_id", "embedding", 0.45))
    print(f"  end-to-end clean: {time.time()-t0:.2f}s")
    release_tracked()


def profile_pipeline(spark, sf_dir):
    print("== llm_curation_pipeline stage floors ==")
    from big_data_player_analysis_spark.registry.llm_ops import (
        CURATION_MIN_QUALITY,
        JACCARD_THRESHOLD,
        PACK_BUDGET,
        PACK_GROUPS,
        PIPE_DECONTAM_K,
        PIPE_DECONTAM_MIN_SHARED,
        REPEAT_MIN_DOCS,
        REPEAT_WINDOW_TOKENS,
        SHINGLE_K,
        quality_score,
        predict_language,
    )
    from big_data_player_analysis_spark.operators.chunking import pack_sequences
    from big_data_player_analysis_spark.operators.dedup import (
        _scatter,
        decontaminate,
        near_dedup_survivors,
    )
    from big_data_player_analysis_spark.operators.repetition import (
        remove_repeated_windows,
    )
    from big_data_player_analysis_spark.caching import tracked_local_checkpoint

    docs = load_table(spark, sf_dir, "documents")
    pfx = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    train = _scatter(docs.filter(pfx != "f"))
    eval_docs = _scatter(docs.filter(pfx == "f").select("doc_id", "text"))
    _stage = lambda df: tracked_local_checkpoint(df, eager=False)  # noqa: E731

    # Stage CONSTRUCTION runs Spark jobs (frequent-set count gates, the
    # components closure) — so each step builds AND consumes its stage
    # inside the timer (the first cut of this profiler timed only the
    # residual count and read near-zero for every stage).
    box = {}

    def s1():
        scored = train.select(
            "doc_id", "text",
            quality_score(F.col("text")).alias("_q"),
            predict_language(F.col("text")).alias("_lang"),
        )
        gated = scored.filter(
            (F.col("_q") >= CURATION_MIN_QUALITY) & (F.col("_lang") == "en")
        ).select("doc_id", "text")
        box["gated"] = _stage(gated)
        return box["gated"].count()

    step(spark, "stage1 gate (build+count)", s1)

    def s2():
        box["cleaned"] = remove_repeated_windows(
            box["gated"], "doc_id", "text",
            window_tokens=REPEAT_WINDOW_TOKENS, min_docs=REPEAT_MIN_DOCS,
            scatter=False,
        ).select("doc_id", F.col("clean_text").alias("text")).transform(_stage)
        return box["cleaned"].count()

    step(spark, "stage2 line dedup (build+count)", s2)

    def s3():
        box["surv"] = near_dedup_survivors(
            box["cleaned"], "doc_id", "text",
            k=SHINGLE_K, threshold=JACCARD_THRESHOLD,
        ).transform(_stage)
        return box["surv"].count()

    step(spark, "stage3 survivors (build+count)", s3)

    def s4():
        surv = box["surv"]
        contaminated = decontaminate(
            surv.select("doc_id", "text"), eval_docs, "doc_id", "text",
            k=PIPE_DECONTAM_K, min_shared=PIPE_DECONTAM_MIN_SHARED,
        ).select(F.col("train_id").alias("doc_id"))
        box["final"] = surv.join(contaminated, "doc_id", "left_anti").select(
            "doc_id",
            "group_size",
            F.size(
                F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
            ).cast("long").alias("n_tokens"),
        ).transform(_stage)
        return box["final"].count()

    step(spark, "stage4 decontaminate+final (build+count)", s4)

    def s5():
        packed = pack_sequences(
            box["final"], "doc_id", "n_tokens",
            budget=PACK_BUDGET, n_groups=PACK_GROUPS,
        )
        out = packed.join(box["final"], "doc_id").select(
            "doc_id", "grp", "pack_id", "off", "n_tokens", "group_size"
        )
        noop(out)

    step(spark, "stage5 pack+join (build+noop)", s5)
    release_tracked()
    from big_data_player_analysis_spark.registry import all_queries

    spec = all_queries()["llm_curation_pipeline"]
    t0 = time.time()
    spark.sparkContext.setJobDescription("pipeline end-to-end")
    noop(spec.fn(spark, sf_dir))
    print(f"  end-to-end clean: {time.time()-t0:.2f}s")
    release_tracked()


def profile_q16(spark, sf_dir):
    print("== q16_heroic_iterative per-iteration ==")
    from big_data_player_analysis_spark.plans.heroic import (
        edges_with_avgs,
        heroic_score,
        iteration_step,
    )
    from big_data_player_analysis_spark.registry.common import duel_edges
    from pyspark.storagelevel import StorageLevel
    from big_data_player_analysis_spark.caching import tracked_local_checkpoint

    duels = duel_edges(spark, sf_dir)
    t0 = time.time()
    edges = edges_with_avgs(duels, num_partitions=4)
    edges.persist(StorageLevel.MEMORY_AND_DISK)
    hs = (
        edges.select(F.col("challenger_id").alias("player_id"))
        .distinct()
        .withColumn("hs", F.lit(1.0))
        .transform(tracked_local_checkpoint)
    )
    n0 = hs.count()
    print(f"  setup edges+init: {time.time()-t0:.2f}s  (players={n0})")
    from big_data_player_analysis_spark.operators.joins import (
        keyed_squared_difference,
    )

    for it in range(6):
        t0 = time.time()
        new_hs = iteration_step(edges, hs, 0.1, True).transform(
            lambda d: tracked_local_checkpoint(d, eager=False)
        )
        msd = (
            keyed_squared_difference(hs, new_hs, "player_id", "hs")
            .agg(F.avg("sq_diff"))
            .first()[0]
        )
        print(f"  iteration {it}: {time.time()-t0:.2f}s  msd={msd:.4f}")
        hs = new_hs
    edges.unpersist()
    release_tracked()
    t0 = time.time()
    res = heroic_score(
        duels, alpha=0.1, tol=0.1, max_iter=8,
        num_partitions=4, vector_partitions=2,
    )
    res.scores.write.format("noop").mode("overwrite").save()
    print(
        f"  heroic_score end-to-end: {time.time()-t0:.2f}s "
        f"({res.iterations} iterations, converged={res.converged})"
    )
    release_tracked()


def main():
    targets = sys.argv[1:] or ["minhash", "components", "simhash", "gemm", "pipeline"]
    spark = get_spark(
        "r10-profile", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    docs = load_table(spark, SF_DIR, "documents")
    docs.count()
    print(f"SF_DIR={SF_DIR}")
    if "minhash" in targets:
        profile_minhash(spark, docs)
    if "components" in targets:
        profile_components(spark, docs)
    if "simhash" in targets:
        profile_simhash(spark, docs)
    if "gemm" in targets:
        profile_gemm(spark, SF_DIR)
    if "pipeline" in targets:
        profile_pipeline(spark, SF_DIR)
    if "q16" in targets:
        profile_q16(spark, SF_DIR)


if __name__ == "__main__":
    main()
