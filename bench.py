"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:  {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Execution is forced with the noop datasource (full pipeline runs, nothing
is collected to the driver), so timings measure the Spark plan, not
toPandas serialization. A warmup query first amortizes JVM/session startup
out of the per-query numbers.

Every run also leaves a per-query layer record in tools/bench_last.json
("layers"): plan-build and execution seconds, and the jobs, stages, tasks,
executor CPU, input, shuffle and spill of the pass that gave the query's
min, read back from the session's Spark event log.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from big_data_player_analysis_spark.registry import all_queries
from big_data_player_analysis_spark.session import get_spark, host_cpus
from perfbench.trace import read_event_log

# Headline set: one per operator family (agg, dedup, join chain, scalar map,
# TPC-H Q1, windows, sessionization, top-k, iterative flagship) plus the
# LLM-pipeline and streaming extension tiers.
# Round 7 broadened the suite 46 -> 63 (verdict item 7): the multimodal
# decode family (now including the new baseline-JPEG and MJPEG compressed-
# video decodes) and the remaining dedup tier (components, embedding-cosine,
# incremental, best-quality, decontaminate, url-canonical, the new
# EXACTSUBSTR rewrite) plus ann_lsh_pairs and llm_bpe_encode are now
# bench-tagged, so the cold wall number covers every expensive tier.
# Compare round-over-round per-query or value/n_queries — the suite GROWS
# as operators ship. Deliberately still excluded:
# dedup_ngram_jaccard — the documented-quadratic EXACT alternate whose
# ~186 cpu-seconds of pure verify compute at sf0.1 is the cost the minhash
# scale path exists to avoid; SCALE.md and SHUFFLE.md keep its r10 growth
# and shuffle record rather than inflating the suite total every round.
HEADLINE = [
    "q01_count_per_key",
    "q04_smoothed_avg",
    "q06_distinct_pairs",
    "q08_having_count_distinct",
    "q10_join_chain",
    "q12_scalar_expression",
    "olap_tpch_q1_pricing_summary",
    "olap_window_running_sum",
    "olap_sessionization",
    "q17_top_k",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_quality_score",
    "sim_bruteforce_topk",
    "stream_tumbling_counts",
    "olap_session_window",
    # last: retiring its per-iteration broadcasts/checkpoints overlaps the
    # next query's first job, which would distort that measurement
    "q16_heroic_iterative",
]


def session_conf(log_dir: str) -> dict[str, str]:
    """The bench session's settings. No console progress bars: their
    carriage-return spam floods captured output and made every early
    round's BENCH_r*.json tail unparseable. One uncompressed event log
    file in log_dir, which `layers` reads back."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def run_one(spark, spec, sf_dir: str) -> dict:
    """One timed end-to-end run, split at the DataFrame: `build_s` is
    spec.fn building it (plan analysis plus any eager sizing jobs the
    entry runs), `exec_s` is the noop write that executes it. Returns the
    run's span: those two, `wall_s`, and its start and end in epoch ms
    (read_event_log gives a job outside any job group, such as a streaming
    micro-batch, to the span that holds its submission time).

    Tracked persists are released AFTER the timing stops: the cached
    intermediates are part of the query's own execution, but their
    blocks must not linger into the next query's measurement (storage
    pressure -> spill churn over a 46-query x 2-pass suite).

    MEASUREMENT-SEMANTICS NOTE (round 6): releasing between runs also
    ends an accidental flattering of earlier records. Rounds 1-5 never
    unpersisted, and Spark's CacheManager substitutes cached
    InMemoryRelations into ANY later plan whose subtree semantically
    matches — so a query's second pass (and any later query sharing a
    subplan, e.g. near_dedup_survivors embedding dedup_minhash_lsh) read
    pass-1's caches instead of executing. Cold-path evidence: r5's
    dedup_minhash_lsh recorded [4.399, 0.929] — the 4.4 s first pass IS
    the true cold cost this bench now reports every pass (~3.4 s
    measured quiet). Compare r6+ numbers to PRIOR rounds' first-pass
    values, not their cache-warmed minima."""
    from big_data_player_analysis_spark.caching import release_tracked

    t0 = time.time()
    try:
        df = spec.fn(spark, sf_dir)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
    finally:
        # release even when the build/write throws, or this run's tracked
        # blocks stay cached and pollute every later query's cold timing
        release_tracked()
    return {
        "start_ms": t0 * 1e3,
        "end_ms": t2 * 1e3,
        "wall_s": round(t2 - t0, 3),
        "build_s": round(t1 - t0, 3),
        "exec_s": round(t2 - t1, 3),
    }


def run_pass(spark, specs, names: list[str], sf_dir: str, p: int) -> dict[str, dict]:
    """Pass `p` over `names`: each run's span, tagged with the job group
    `<name>#<p>` its jobs ran under."""
    sc = spark.sparkContext
    spans = {}
    for name in names:
        tag = f"{name}#{p}"
        sc.setJobGroup(tag, tag)
        spans[name] = {"tag": tag, **run_one(spark, specs[name], sf_dir)}
    sc.setLocalProperty("spark.jobGroup.id", None)
    return spans


def layers(log_dir: str, passes: list[dict[str, dict]]) -> dict[str, dict]:
    """Per query, the layer record of the pass that gave its min wall:
    build_s, exec_s, and that run's jobs, stages, tasks, failed tasks,
    executor CPU/run seconds and input/shuffle/spill MB from the event
    log. Read after the session stopped, so the log is complete."""
    counts = read_event_log(log_dir, [span for spans in passes for span in spans.values()])
    out = {}
    for name in passes[0]:
        p = min(range(len(passes)), key=lambda i: passes[i][name]["wall_s"])
        span = passes[p][name]
        out[name] = {
            "pass": p,
            "wall_s": span["wall_s"],
            "build_s": span["build_s"],
            "exec_s": span["exec_s"],
            **{k: round(v, 3) for k, v in counts[span["tag"]].items()},
        }
    return out


def main() -> None:
    from big_data_player_analysis_spark.workspace import clean_scratch, scratch_dir

    clean_scratch()  # reclaim dead-run scratch/spill before the session starts
    # ambient load BEFORE our own session exists: during the run the 1-min
    # loadavg is dominated by this bench's own executor threads, so the
    # pre-session sample is the only clean external-contention signal
    ambient_load = round(os.getloadavg()[0], 2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    with scratch_dir("eventlog") as log_dir:
        passes, pass_totals, extra_pass = suite(log_dir, sf_dir, ambient_load)
        layer_record = layers(log_dir, passes)
    runs = {name: [spans[name]["wall_s"] for spans in passes] for name in passes[0]}
    timings = {name: min(ts) for name, ts in runs.items()}

    total = round(sum(timings.values()), 3)
    # Full per-query detail (both raw passes) goes to a repo file for
    # audit; the stdout line must stay SMALL. The driver captures only the
    # last ~2 KB of stdout, and rounds 1-5 all recorded `parsed: null`
    # because the full {queries, runs} line was ~3 KB and arrived
    # head-truncated. Detail (3-decimal queries, raw per-pass runs, load,
    # pass totals, semantics) -> tools/bench_last.json; the LAST stdout
    # line carries the driver contract INCLUDING the per-query map.
    detail = {
        "metric": "headline_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "queries": timings,
        "runs": runs,
        "sf": sf,
        "loadavg_ambient": ambient_load,
        "loadavg_end": round(os.getloadavg()[0], 2),
        "pass_totals": pass_totals,
        "extra_pass": extra_pass,
        "layers": layer_record,
        # r1-r5 minima were flattered by cross-run CacheManager plan reuse
        # (persists were never released); r6+ releases tracked persists per
        # run; since r10 every run also recomputes its plan-sizing counts
        # and BPE merge table (the engine keeps no cross-run memos)
        "semantics": "cold per-run (persists released per run; no cross-run memos)",
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tools", "bench_last.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    # RESTORED PER-QUERY CONTRACT (round-10, verdict item #2): the driver's
    # PERF comparator needs {"queries": {...}} in the parsed stdout line —
    # since round 6 the compact summary dropped it and every PERF_r*.json
    # recorded n_common=0 / bench_ok=false. The full map at centisecond
    # precision fits the ~2 KB tail capture only with a MINIMAL envelope
    # (compact separators, no slowest/pass_totals/semantics — those live in
    # tools/bench_last.json); a size guard degrades precision rather than
    # ever emitting a line the tail would head-truncate into unparseability.
    def _line(ndigits: int, extras: dict) -> str:
        return json.dumps(
            {
                "metric": "headline_suite_wall_seconds",
                "value": total,
                "unit": "sec",
                # the suite GROWS as operators ship, so round-over-round
                # compare per-query or value/n_queries — never raw totals
                "n_queries": len(timings),
                "sf": sf,
                **extras,
                "queries": {n: round(v, ndigits) for n, v in timings.items()},
            },
            separators=(",", ":"),
        )

    # ambient = 1-min loadavg before this bench's own session started
    # budget: line + trailing newline must sit inside the last 2000 chars
    # of stdout (measured: every BENCH_r*.json tail capture is exactly
    # 2000), so degrade at 1980 — drop the load field first, then go to
    # decisecond precision (never needed at current suite size: 67
    # queries at 2 decimals measure 1944/1920 bytes), and past that fail
    # with an explicit overflow marker and a non-zero exit
    line = _line(2, {"loadavg_ambient": ambient_load})
    if len(line) > 1980:
        line = _line(2, {})
    if len(line) > 1980:
        line = _line(1, {})
    if len(line) > 1980:
        # no rung left: a head-truncated line would parse as null, so print
        # an explicit marker and fail instead of the map
        sys.stdout.write(
            '\n{"metric":"headline_suite_wall_seconds","error":"stdout_line_overflow"}\n'
        )
        sys.exit(f"bench.py: stdout line is {len(line)} chars, over 1980; see {detail_path}")
    # the one-line contract: flush everything else, then emit the JSON as
    # the LAST stdout line, newline-led so any unterminated log/progress
    # residue can't prefix-garble it for the driver's tail parse
    sys.stderr.flush()
    sys.stdout.flush()
    sys.stdout.write("\n" + line + "\n")
    sys.stdout.flush()


def suite(log_dir: str, sf_dir: str, ambient_load: float):
    """Session, warmup and the interleaved passes; returns (passes,
    pass_totals, extra_pass) with the session stopped."""
    spark = get_spark("bdpa-bench", extra_conf=session_conf(log_dir))

    specs = all_queries()
    names = [n for n in HEADLINE if n in specs] + [
        n for n in sorted(specs) if n not in HEADLINE and "bench" in specs[n].tags
    ]

    # Warmup, three one-time costs amortized out of the per-query numbers:
    #   1. parquet scans — a full noop write per table decodes every column
    #      (count() alone projects zero columns and reads only footers, so
    #      data pages / codec paths stayed cold — round-2 ADVICE);
    #   2. the Python worker pool — one trivial pandas_udf over one task
    #      per core forks the pyspark daemon and imports numpy/pandas in
    #      all workers. Round 2 charged that ~10-20 s pool spin-up to the
    #      first pandas_udf query in the suite (dedup_minhash_lsh, whose
    #      warm time is ~2.7 s); on a real cluster the pool is a fixed
    #      per-executor cost invisible at query granularity;
    #   3. noop-writer + codegen setup (the range query).
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from big_data_player_analysis_spark.catalog import TABLES, load_table

    for table in TABLES:
        load_table(spark, sf_dir, table).write.format("noop").mode("overwrite").save()

    @pandas_udf("double")
    def _warm_py(v):
        import numpy as np  # noqa: F401  (mirror real UDF imports)

        return v * 1.0

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cpus())
    spark.range(0, cpus * 100, 1, cpus).select(
        _warm_py(F.col("id").cast("double"))
    ).write.format("noop").mode("overwrite").save()
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    # Two INTERLEAVED full-suite passes; report the per-query min across
    # passes (both raw numbers stay in "runs" for auditability). Round 2's
    # back-to-back min-of-two wasn't enough: this host's external load
    # bursts last tens of seconds, long enough to cover both consecutive
    # runs of one query and fabricate an 8-10x phantom regression for it
    # (observed twice: dedup_simhash 36.9s r2 record vs 4.1s clean;
    # dedup_minhash_lsh 11.4s vs 1.2s across two clean sessions minutes
    # apart). Interleaving puts the whole suite (~20-60 s) between the two
    # timings of any single query, so a burst lands on different queries
    # in each pass and the min recovers the uncontended cost.
    # Load robustness (round-7 verdict ask #4): BENCH_r07 recorded 106.8 s
    # where the same tree measured 88.3 s quiet — a uniform host-load
    # artifact. The ambient (pre-session) 1-min loadavg is recorded in the
    # JSON so the next reader can see contention instead of inferring it,
    # and the suite runs a THIRD interleaved pass (min across 3) when
    # either signal says the first two were contended: ambient load above
    # LOAD_AMBIENT_MAX (anything already running before our own session
    # counts — this bench expects an otherwise-idle host), or the two pass
    # totals disagreeing by >25% (a burst that started mid-run; under a
    # uniform-load burst both passes inflate together, which the ambient
    # check catches, while a burst covering one pass leaves a total gap).
    # MEASUREMENT FIX (round 9, documented in OPTIMIZATION_r09.md): the
    # suite now ALWAYS runs three interleaved passes. The conditional
    # third pass made the reported min depend on whether passes 1-2
    # happened to disagree by >25%: JVM JIT warmup alone drops the pass
    # total monotonically (measured same tree, same quiet host:
    # 248.9 -> 140.9 -> 106.2 s), so a run that stopped at two passes
    # recorded systematically slower per-query minima than a run that
    # tripped the third — a 1.4-2x phantom regression on every entry
    # when comparing a 2-pass record against a 3-pass one. Min-across-
    # passes semantics and all fields are unchanged; a FOURTH pass still
    # runs under the old contention triggers (high ambient load, or the
    # last two passes still disagreeing >25%).
    LOAD_AMBIENT_MAX = 4.0
    PASS_GAP_MAX = 1.25
    N_PASSES = 3
    passes = [run_pass(spark, specs, names, sf_dir, p) for p in range(N_PASSES)]
    pass_totals = [
        round(sum(span["wall_s"] for span in spans.values()), 3) for spans in passes
    ]
    extra_pass = ambient_load > LOAD_AMBIENT_MAX or (
        max(pass_totals[-2:]) > PASS_GAP_MAX * min(pass_totals[-2:])
    )
    if extra_pass:
        passes.append(run_pass(spark, specs, names, sf_dir, N_PASSES))
        pass_totals.append(
            round(sum(span["wall_s"] for span in passes[-1].values()), 3)
        )
    # stop() drains the listener bus and closes the event log
    spark.stop()
    return passes, pass_totals, extra_pass


if __name__ == "__main__":
    main()
