"""Round-10 A/B (verdict item #8): streaming micro-batch constants under
the default (HDFSBackedStateStoreProvider) vs RocksDB state store. Runs a
set of streaming registry entries 3x each in one session and prints the
per-entry minima — run once per provider (the provider is read at stream
start, but a fresh process keeps the comparison clean).

Usage:
    SPARK_GRAFT_SF_DIR=... python tools/ab_statestore.py [default|rocksdb]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_player_analysis_spark.caching import release_tracked
from big_data_player_analysis_spark.registry import all_queries
from big_data_player_analysis_spark.session import get_spark

NAMES = [
    "stream_tumbling_counts",
    "stream_incremental_mv",
    "stream_stateful_user_stats",
    "stream_sliding_avg",
    "stream_near_dedup_ingest",
    "stream_curation_ingest",
]


def main():
    provider = sys.argv[1] if len(sys.argv) > 1 else "default"
    extra = {"spark.ui.showConsoleProgress": "false"}
    if provider == "rocksdb":
        extra["spark.sql.streaming.stateStore.providerClass"] = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(f"ab-statestore-{provider}", extra_conf=extra)
    specs = all_queries()
    runs = {n: [] for n in NAMES}
    for _ in range(3):
        for n in NAMES:
            t0 = time.time()
            specs[n].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs[n].append(round(time.time() - t0, 3))
            release_tracked()
    print(f"provider={provider}")
    for n in NAMES:
        print(f"  {n:32s} min={min(runs[n]):6.2f}  runs={runs[n]}")
    print(f"  TOTAL(min) {sum(min(v) for v in runs.values()):.2f}")


if __name__ == "__main__":
    main()
