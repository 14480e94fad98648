"""Round-10 (verdict item #3): per-query core-scaling evidence at sf1 —
the sf0.1 suite stopped discriminating (8 cores ≈ 32 cores there, all
scheduler/JIT constants). Runs the given queries 3 interleaved passes at
the CURRENT $SPARK_GRAFT_CPUS and prints minima; run once per core count.

Usage:
    SPARK_GRAFT_SF_DIR=...sf1 SPARK_GRAFT_CPUS=32 python tools/scale_cpus_sf1.py
    SPARK_GRAFT_SF_DIR=...sf1 SPARK_GRAFT_CPUS=8  python tools/scale_cpus_sf1.py
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_player_analysis_spark.caching import release_tracked
from big_data_player_analysis_spark.registry import all_queries
from big_data_player_analysis_spark.session import get_spark

# the 10 most expensive sf1 entries on the round-10 tree
TOP10 = [
    "dedup_embedding_cosine",
    "llm_curation_pipeline",
    "dedup_minhash_lsh",
    "llm_near_dedup_best_quality",
    "dedup_components",
    "llm_dedup_incremental",
    "llm_bigram_surprisal",
    "q16_heroic_iterative",
    "llm_near_dedup_survivors",
    "olap_triangle_count",
]


def main():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/tmp/bdpa_workspace/cache/composed/sf1"
    )
    spark = get_spark(
        f"scale-cpus-{cpus}", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    from big_data_player_analysis_spark.catalog import TABLES, load_table

    for table in TABLES:  # same warmup contract as bench.py
        load_table(spark, sf_dir, table).write.format("noop").mode(
            "overwrite"
        ).save()
    specs = all_queries()
    runs = {n: [] for n in TOP10}
    for _ in range(3):
        for n in TOP10:
            t0 = time.time()
            specs[n].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs[n].append(round(time.time() - t0, 3))
            release_tracked()
    out = {n: min(v) for n, v in runs.items()}
    print(json.dumps({"cpus": cpus, "sf_dir": sf_dir, "min": out,
                      "runs": runs, "total_min": round(sum(out.values()), 2)}))


if __name__ == "__main__":
    main()
