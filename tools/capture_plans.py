"""Capture .explain("formatted") output for named registry queries into
plans/r{N}/<query>_<tag>.txt — the judge-facing plan evidence for
optimization rounds. Optionally times each query via the noop sink.

Usage:
    python tools/capture_plans.py <tag> <name> [name ...]     # e.g. tag=before
    SPARK_GRAFT_SF_DIR overrides the data dir (default sf0.1).
"""

from __future__ import annotations

import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from big_data_player_analysis_spark.registry import all_queries
from big_data_player_analysis_spark.session import get_spark

ROUND = os.environ.get("PLANS_ROUND", "r09")


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO_ROOT, "plans", ROUND)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(
        "plan-capture", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    specs = all_queries()
    from big_data_player_analysis_spark.caching import release_tracked

    for name in names:
        spec = specs[name]
        spark.sparkContext.setJobDescription(f"capture:{name}")
        t0 = time.time()
        df = spec.fn(spark, sf_dir)
        built = time.time() - t0
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        ran = time.time() - t1
        release_tracked()
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(
                f"-- {name} ({tag}) sf_dir={sf_dir}\n"
                f"-- build={built:.3f}s noop_run={ran:.3f}s"
                f" (single cold run, not the bench min)\n\n"
            )
            f.write(plan)
        n_exch = plan.count("Exchange")
        print(
            f"{name}: build={built:.3f}s run={ran:.3f}s exchanges~{n_exch}"
            f" -> {path}",
            flush=True,
        )


if __name__ == "__main__":
    main()
