"""The benchmark's workloads: fixed op lists over the engine's public
functions, each op paired with the independent reference its output is
checked against (perfbench/check.py).

An op's ``run(spark, inputs, scratch)`` returns ``(DataFrame, info)``:
the registry or plan call itself (driver plan build plus any eager jobs,
timed as ``build_s``), whose result the loop then collects (``exec_s``).
``info`` carries what the op can report beyond its rows, such as the
heroic iteration count or the streaming sink directories.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd

from perfbench import check


@dataclass(frozen=True)
class Op:
    name: str
    layer: str
    run: Callable
    expected: Callable  # (duckdb con, inputs dir) -> pandas.DataFrame
    columns: tuple[str, ...] | None = None  # compared columns; None = all


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    size: dict  # composer size: micro-batch file counts
    tables: tuple[str, ...]  # tables registered (and first-scanned) at set-up
    inputs: tuple[str, ...]  # composed tables and stream dirs the ops read
    ops: tuple[Op, ...]


def _registry_op(entry: str, name: str, layer: str, expected=None, columns=None) -> Op:
    """A registry entry, checked against its DuckDB twin by default."""

    def run(spark, inputs, scratch):
        from big_data_player_analysis_spark.registry import all_queries

        return all_queries()[entry].fn(spark, inputs), {}

    def twin(con, inputs):
        from big_data_player_analysis_spark.registry import all_queries

        return check.registry_expected(con, all_queries()[entry])

    return Op(name, layer, run, expected or twin, columns)


# ------------------------------------------------------------- duel_rank


def _heroic_run(spark, inputs, scratch):
    """The flagship exactly as ``__spark_entry__.entry`` calls it, over the
    whole player vector rather than its top 10."""
    from pyspark.sql import functions as F

    from big_data_player_analysis_spark.plans.heroic import heroic_score
    from big_data_player_analysis_spark.registry.common import duel_edges

    res = heroic_score(duel_edges(spark, inputs), alpha=0.1, tol=0.1, max_iter=10)
    scores = res.scores.select("player_id", F.round("hs", 6).alias("hs"))
    return scores, {"iterations": res.iterations}


def _heroic_expected(con, inputs):
    from big_data_player_analysis_spark.registry.reference_surface import SQL_Q16_HEROIC

    return con.execute(SQL_Q16_HEROIC).df()


DUEL_RANK = Workload(
    name="duel_rank",
    why="JVM-only reference surface plus OLAP: bound by job count and codegen/JIT, no Python workers",
    size={},
    tables=("events", "lineitem", "orders", "customer", "nation"),
    inputs=("events", "lineitem", "orders", "customer", "nation"),
    ops=(
        Op("heroic", "plans.heroic", _heroic_run, _heroic_expected),
        _registry_op("q10_join_chain", "q10", "operators"),
        _registry_op("q17_top_k", "q17", "operators"),
        _registry_op("olap_tpch_q1_pricing_summary", "tpch_q1", "registry"),
        _registry_op("olap_sessionization", "sessionization", "registry"),
    ),
)


# ---------------------------------------------------------- corpus_stream


def _stream_dirs(scratch):
    d = tempfile.mkdtemp(dir=scratch)
    return {"sink_dir": f"{d}/sink", "checkpoint_dir": f"{d}/ckpt", "root": d}


def _mv_run(spark, inputs, scratch):
    from big_data_player_analysis_spark.streaming.mv import stream_incremental_mv

    dirs = _stream_dirs(scratch)
    mv = stream_incremental_mv(
        spark, f"{inputs}/events_stream", dirs["sink_dir"], dirs["checkpoint_dir"],
        max_files_per_trigger=1,
    )
    return mv, dirs


def _mv_expected(con, inputs):
    from big_data_player_analysis_spark.registry.streaming_ops import SQL_INCREMENTAL_MV

    return con.execute(SQL_INCREMENTAL_MV).df()


def _bpe_expected(con, inputs) -> pd.DataFrame:
    return check.bpe_expected(con)


CORPUS_STREAM = Workload(
    name="corpus_stream",
    why="Python/Arrow kernels and micro-batch fixed costs: MV stream, text quality gate, BPE encode, MJPEG decode",
    size={"event_files": 4},
    tables=("documents",),
    inputs=("documents", "events_stream"),
    ops=(
        Op("stream_mv", "streaming", _mv_run, _mv_expected),
        _registry_op("text_quality_score", "quality_score", "functions.text"),
        _registry_op(
            "llm_bpe_encode", "bpe_encode", "plans.bpe",
            expected=_bpe_expected, columns=("doc_id", "n_words", "n_tokens"),
        ),
        _registry_op("multimodal_mjpeg_decode", "mjpeg_decode", "multimodal"),
    ),
)

WORKLOADS = {w.name: w for w in (DUEL_RANK, CORPUS_STREAM)}

