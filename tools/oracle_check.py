"""Local stand-in for the driver's correctness gate: run every registry
query on Spark AND its DuckDB oracle, compare row count, column names, and
values (sorted order-insensitively, floats rounded to 6 significant-ish
decimals). Usage:

    python tools/oracle_check.py [sf_dir] [name_filter ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from big_data_player_analysis_spark.catalog import TABLES
from big_data_player_analysis_spark.registry import all_queries
from big_data_player_analysis_spark.session import get_spark


def normalize(df, float_round=6):
    """pandas DataFrame -> sorted list of row tuples with rounded floats."""
    import pandas as pd

    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        out = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                out.append(None)
            elif isinstance(v, float):
                out.append(round(v, float_round) + 0.0)
            elif isinstance(v, pd.Timestamp):
                out.append(v.tz_localize(None) if v.tzinfo else v)
            else:
                out.append(v)
        rows.append(tuple(out))
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filters = sys.argv[2:]

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    # bound DuckDB under the co-resident 48g Spark JVM and give it a spill
    # target: the default (80% of RAM, limited spilling) OOM'd the
    # composed-sf1 pipeline oracle instead of spilling
    from big_data_player_analysis_spark.workspace import scratch_root

    con.execute("SET memory_limit='32GB'")
    # pid-tagged so a concurrent clean_scratch() leaves a live run's
    # spill alone (same liveness contract as scratch_dir)
    con.execute(
        f"SET temp_directory='{scratch_root()}/duckdb-pid{os.getpid()}-spill'"
    )
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written table dir (composed scales)
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    # Above the sf0.01 driver gate, prefer an entry's scale-capable oracle
    # (iterative union-find closure replay) over its recursive-CTE SQL —
    # same fixed point (pinned equal at the gate by
    # tests/test_closure_oracle.py), but the recursive form materializes
    # full reachability and blows DuckDB's disk on bigger components.
    at_gate = os.path.realpath(sf_dir) == os.path.realpath("/root/testdata/sf0.01")

    specs = all_queries()
    n_pass = n_fail = n_rowsonly = 0
    for name, spec in sorted(specs.items()):
        if name_filters and not any(f in name for f in name_filters):
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        finally:
            # result is collected -> the entry's persisted intermediates
            # are dead; a 142-entry sweep must not accumulate them
            from big_data_player_analysis_spark.caching import release_tracked

            release_tracked()
        if spec.sql is None:
            print(f"rows-only {name}: {len(sdf)} rows  ({time.time()-t0:.1f}s)")
            n_rowsonly += 1
            continue
        try:
            if spec.oracle_scale is not None and not at_gate:
                odf = spec.oracle_scale(con)
            else:
                odf = con.execute(spec.sql).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount spark={len(sdf)} duckdb={len(odf)}")
        if sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, odf.columns)):
            problems.append(f"columns spark={sorted(sdf.columns)} duckdb={sorted(odf.columns)}")
        if not problems:
            s_rows, o_rows = normalize(sdf), normalize(odf)
            if s_rows != o_rows:
                diff = [
                    (a, b) for a, b in zip(s_rows, o_rows) if a != b
                ][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"ok   {name}: {len(sdf)} rows  ({time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} ok, {n_rowsonly} rows-only, {n_fail} FAIL")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
