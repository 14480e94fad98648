"""Query registry: every implemented operator exposed as a named
(spark_fn, oracle_sql) pair for the driver contract (__spark_entry__.py).

Each entry's Spark side is built from the operator/function library; the
oracle side is ANSI SQL runnable by DuckDB on the same parquet views.
Column names are aliased identically on both sides (the driver's compare
sorts columns by name before hashing). Entries without SQL (sql=None) are
genuinely non-SQL-expressible (iterative convergence, hash-seeded LSH) and
get the driver's rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None
    tags: tuple[str, ...] = field(default=())
    # Optional scale-capable oracle: fn(duckdb_con) -> pandas.DataFrame,
    # semantically identical to ``sql`` but implementable where a single
    # SQL statement cannot run above the sf0.01 gate (the recursive-CTE
    # transitive closures materialize O(sum |component|^2) rows; the
    # replacement replays the same fixed point iteratively). The DRIVER
    # contract still ships ``sql``; local sweeps (tools/oracle_check.py)
    # use this above sf0.01, and tests pin both paths equal at the gate.
    oracle_scale: Callable | None = field(default=None, compare=False)


_REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    sql: str | None = None,
    tags: tuple[str, ...] = (),
    oracle_scale: Callable | None = None,
):
    """Decorator: register fn(spark, sf_dir) -> DataFrame under ``name``."""

    def deco(fn):
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, sql=sql, tags=tags, oracle_scale=oracle_scale
        )
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    # import for side effects: each module registers its queries, in
    # import order — the reference surface (q00-q18) first
    from big_data_player_analysis_spark.registry import (  # noqa: F401
        reference_surface,
        llm_ops,
        olap,
        streaming_ops,
    )

    return dict(_REGISTRY)
