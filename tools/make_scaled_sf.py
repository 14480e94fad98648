"""Materialize a composed larger-scale copy of a testdata directory so the
full headline bench (bench.py) can run at ~sf1 instead of sf0.1 (round-3
verdict item 3: design-for-scale arguments above sf0.1 were plan-level
only — an order-of-magnitude run surfaces AQE/skew/memory behavior the
small factors cannot).

Composition rules keep JOIN SEMANTICS and workload shape constant while
facts grow by ``factor``:
  * fact/bridge tables (lineitem, orders, customer, supplier, part,
    events, documents, embeddings) get ``factor`` copies with every
    primary/foreign key shifted by copy_index * (max_key + 1) CONSISTENTLY
    across tables, so each copy joins exactly as the base data does;
  * tiny dimensions (region, nation) are SHARED — dims grow slower than
    facts in a real lake, and the copies' *_nationkey columns stay valid;
  * document text is rewritten through a rotated-alphabet substitution per
    copy, so the composed corpus does NOT plant near-duplicates —
    duplicate density, not just size, stays constant;
  * embeddings get a small per-copy additive nudge, preserving the
    pairwise-cosine distribution shape without exact duplicates.

Usage:
    python tools/make_scaled_sf.py [--factor 10] [--base /root/testdata/sf0.1]
                                   [--out DIR] [--fresh]
    SPARK_GRAFT_SF_DIR=$BDPA_WORKSPACE/cache/composed/sf1 python bench.py

Output defaults to the workspace cache tier and is REUSED across runs
(content-deterministic composition); --fresh forces re-materialization.

The output directory name encodes base_sf * factor so bench.py's sf-label
parse works unchanged.
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from pyspark.sql import functions as F

from big_data_player_analysis_spark.catalog import load_table
from big_data_player_analysis_spark.session import get_spark

ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"

# table -> columns holding each shiftable key family
KEY_FAMILIES = {
    "custkey": {"customer": ["c_custkey"], "orders": ["o_custkey"]},
    "orderkey": {"orders": ["o_orderkey"], "lineitem": ["l_orderkey"]},
    "suppkey": {"supplier": ["s_suppkey"], "lineitem": ["l_suppkey"]},
    "partkey": {"part": ["p_partkey"], "lineitem": ["l_partkey"]},
    "event_id": {"events": ["event_id"]},
    "user_id": {"events": ["user_id"]},
    "doc_id": {"documents": ["doc_id"]},
    "vec_id": {"embeddings": ["vec_id"]},
}
SCALED_TABLES = [
    "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]
SHARED_DIMS = ["region", "nation"]


def key_spans(spark, base_dir: str) -> dict[str, int]:
    """family -> max_key + 1 over every column in the family."""
    spans: dict[str, int] = {}
    for fam, cols_by_table in KEY_FAMILIES.items():
        mx = 0
        for table, cols in cols_by_table.items():
            df = load_table(spark, base_dir, table)
            for c in cols:
                v = df.agg(F.max(c)).first()[0] or 0
                mx = max(mx, int(v))
        spans[fam] = mx + 1
    return spans


def compose_table(spark, base_dir: str, table: str, factor: int, spans) -> "F.DataFrame":
    base = load_table(spark, base_dir, table)
    shift_cols = {
        c: spans[fam]
        for fam, cols_by_table in KEY_FAMILIES.items()
        for c in cols_by_table.get(table, [])
    }
    copies = []
    for i in range(factor):
        df = base
        for c, span in shift_cols.items():
            df = df.withColumn(c, F.col(c) + F.lit(i * span))
        if table == "documents":
            r = (7 * i) % len(ALPHABET)
            rotated = ALPHABET[r:] + ALPHABET[:r]
            df = df.withColumn(
                "text", F.translate(F.lower("text"), ALPHABET, rotated)
            )
        if table == "embeddings":
            df = df.withColumn(
                "embedding",
                F.transform("embedding", lambda x: x + F.lit(0.01 * (i + 1))),
            )
        copies.append(df)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def main():
    from big_data_player_analysis_spark.workspace import cache_root, clean_scratch

    factor, base_dir, out_root, fresh = 10, "/root/testdata/sf0.1", None, False
    argv = sys.argv[1:]
    while argv:
        if argv[0] == "--factor":
            factor, argv = int(argv[1]), argv[2:]
        elif argv[0] == "--base":
            base_dir, argv = argv[1], argv[2:]
        elif argv[0] == "--out":
            out_root, argv = argv[1], argv[2:]
        elif argv[0] == "--fresh":
            fresh, argv = True, argv[1:]
        else:
            raise SystemExit(f"unknown arg {argv[0]!r}")
    if out_root is None:
        out_root = os.path.join(cache_root(), "composed")
    clean_scratch()
    base_sf = float(base_dir.rstrip("/").rsplit("sf", 1)[-1])
    out_dir = os.path.join(out_root, f"sf{base_sf * factor:g}")
    os.makedirs(out_dir, exist_ok=True)
    from big_data_player_analysis_spark.sources.formats import _source_fingerprint

    spark = get_spark("bdpa-make-scaled-sf")
    spans = key_spans(spark, base_dir)
    for table in SHARED_DIMS + SCALED_TABLES:
        dest = os.path.join(out_dir, f"{table}.parquet")
        # composition is deterministic in (base content, factor): a prior
        # complete copy whose recorded base fingerprint still matches is
        # byte-equivalent, so reuse instead of burning minutes + disk
        # re-materializing. The fingerprint check means regenerated
        # testdata invalidates stale composed tables instead of being
        # silently served (round-5 ADVICE); --fresh still forces.
        src_key = (
            _source_fingerprint(os.path.join(base_dir, f"{table}.parquet"))
            + f":{factor}"
        )
        fp_file = os.path.join(dest, "_BASE_FINGERPRINT")
        if not fresh and os.path.exists(os.path.join(dest, "_SUCCESS")):
            recorded = None
            if os.path.exists(fp_file):
                with open(fp_file) as f:
                    recorded = f.read().strip()
            if recorded == src_key:
                print(f"reuse {table}")
                continue
        if table in SHARED_DIMS:
            df = load_table(spark, base_dir, table).coalesce(1)
        else:
            df = compose_table(spark, base_dir, table, factor, spans)
        df.write.mode("overwrite").parquet(dest)
        with open(fp_file, "w") as f:
            f.write(src_key)
        print(f"wrote {table}")
    print(out_dir)


if __name__ == "__main__":
    main()
