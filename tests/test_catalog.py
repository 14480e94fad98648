"""The catalog reads each table's schema and row count from its parquet
footers on the driver: loading a table runs no Spark job, and the declared
schema is the one Spark's reader would infer."""

from __future__ import annotations

import pytest

from big_data_player_analysis_spark.catalog import (
    TABLES,
    footer_rows,
    footer_schema,
    load_table,
    table_path,
)
from tests.conftest import jobs_for


@pytest.mark.parametrize("name", TABLES)
def test_load_table_runs_no_job(spark, sf_small, name):
    _, n_jobs = jobs_for(spark, f"load_{name}", lambda: load_table(spark, sf_small, name))
    assert n_jobs == 0


@pytest.mark.parametrize("name", TABLES)
def test_footer_schema_and_rows_match_the_reader(spark, sf_small, name):
    p = table_path(sf_small, name)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    inferred = spark.read.parquet(p)
    assert footer_schema(p) == inferred.schema
    assert footer_rows(p) == inferred.count()


def test_footer_schema_of_a_spark_written_directory(spark, sf_small, tmp_path):
    """A multi-file directory from Spark's own writer (INT96 timestamps,
    `_SUCCESS` and `.crc` side files): typed by its first data file, and
    the footer row count stops once it passes `stop_after`."""
    d = str(tmp_path / "lineitem")
    load_table(spark, sf_small, "lineitem").repartition(3).write.parquet(d)
    inferred = spark.read.parquet(d)
    assert footer_schema(d) == inferred.schema
    n = inferred.count()
    assert footer_rows(d) == n
    assert n // 3 < footer_rows(d, stop_after=n // 3) < n
