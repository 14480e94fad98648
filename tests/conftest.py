from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout these tests live in, ahead of any installed or other copy
REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

from big_data_player_analysis_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("bdpa-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_small() -> str:
    return "/root/testdata/sf0.001"


def rows_set(df, ndigits: int = 6):
    """Order-insensitive row multiset with rounded floats."""
    out = []
    for r in df.collect():
        vals = []
        for v in r:
            vals.append(round(v, ndigits) if isinstance(v, float) else v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def jobs_for(spark, tag, fn):
    """Run fn() under job group `tag`; return (fn's result, jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts reach the tracker
    return out, len(sc.statusTracker().getJobIdsForGroup(tag))
