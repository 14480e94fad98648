"""Benchmark command: one workload, one closed-loop client, one process.

    python3 perfbench/run.py --workload duel_rank --seed 1 --seconds 10 --trace 0

Run from the repository root. It composes the workload's inputs from the
seed (cached, untimed), starts a session on ``local[<nproc>]`` and
registers the workload's tables (``setup_s``), runs the workload's op list
once in the fresh JVM (``cold_s``), then repeats whole passes for at
least ``--seconds`` and at least three passes (``wall_s`` is their
median). Every op's output is checked
against an independent reference; mismatches and errors count as failed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
loop with the event log, job groups, JMX, ``/proc`` and a streaming
listener on, and prints the per-layer metrics. The last stdout line is
the result object; the line before it is the run record (host, inputs,
per-pass and per-op detail).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# least number of warm passes per run, so that the median drops one slow
# pass; a traced run needs four for its bare/instrumented interleave
WARM_PASSES = 3


def _host_env() -> dict:
    """Pin the engine to this host: cores from the affinity mask (the
    session default is 32), driver heap from physical memory (the default
    48g exceeds small hosts). A sixteenth of memory is ample for these
    inputs and keeps the heap, and so peak RSS, from growing differently
    from run to run."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    heap_gb = max(1, min(4, mem_kb // (16 * 1024 * 1024)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_gb}g"
    return {
        "nproc": cpus,
        "mem_total_mb": mem_kb // 1024,
        "driver_memory": f"{heap_gb}g",
        "loadavg_pre": os.getloadavg(),
    }


class Loop:
    """Runs passes over a workload's ops and keeps every op's timings,
    output digest and (traced) layer counters."""

    def __init__(self, spark, workload, inputs, scratch, tracer=None):
        self.spark, self.w, self.inputs, self.scratch = spark, workload, inputs, scratch
        self.tracer = tracer
        self.records: list[dict] = []  # one per op execution
        self.passes: list[dict] = []

    def run_op(self, op, pass_no: int, instrument: bool) -> dict:
        from big_data_player_analysis_spark import caching

        from perfbench import check

        tag = f"{op.name}#{pass_no}"
        rec = {"op": op.name, "layer": op.layer, "pass": pass_no, "ok": False}
        if instrument:
            self.tracer.begin(tag)
        t0 = time.perf_counter()
        try:
            df, info = op.run(self.spark, self.inputs, self.scratch)
            t1 = time.perf_counter()
            table = df.toArrow()
            t2 = time.perf_counter()
        except Exception as e:  # an op error is a failed op, not a crashed run
            rec.update(error=f"{type(e).__name__}: {str(e)[:300]}", wall_s=time.perf_counter() - t0)
            info, table = {}, None
        else:
            rec.update(build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0)
        if instrument:
            rec.update(self.tracer.end(tag))
        # untimed from here: release the op's cached blocks, digest its rows
        rec["caching.released"] = caching.release_tracked()
        reset = getattr(caching, "reset_runtime_memos", None)
        if reset is not None:
            reset()
        if table is not None:
            rec["rows"], rec["digest"] = check.digest(table.to_pandas(), op.columns)
        rec["iterations"] = info.get("iterations")
        if "root" in info:
            rec["sink_bytes"] = _dir_bytes(info["sink_dir"])
            rec["checkpoint_bytes"] = _dir_bytes(info["checkpoint_dir"])
            shutil.rmtree(info["root"], ignore_errors=True)
        self.records.append(rec)
        return rec

    def run_pass(self, pass_no: int, instrument: bool) -> float:
        wall = sum(self.run_op(op, pass_no, instrument)["wall_s"] for op in self.w.ops)
        self.passes.append({"pass": pass_no, "wall_s": wall, "instrumented": instrument})
        return wall


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _dirs, files in os.walk(path) for f in files
    )


def _stop(spark) -> None:
    """Stop the session, then the JVM it ran in, and wait for the JVM (and
    with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def setup(workload, inputs, trace_dir: str | None):
    """Session start plus table registration with a first scan each."""
    t0 = time.perf_counter()
    from big_data_player_analysis_spark.catalog import load_table
    from big_data_player_analysis_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(os.environ["BDPA_WORKSPACE"], "warehouse"),
    }
    if trace_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": trace_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    for table in workload.tables:
        load_table(spark, inputs, table).write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return spark, {"session.start_s": t1 - t0, "catalog.load_s": t2 - t1, "setup_s": t2 - t0}


def expected_digests(workload, inputs: str) -> dict[str, tuple[int, str]]:
    """Reference digests per op, computed afresh (well under a second)."""
    from perfbench import check, compose

    con = check.duckdb_con(inputs, compose.TABLES)
    try:
        return {op.name: check.digest(op.expected(con, inputs), op.columns) for op in workload.ops}
    finally:
        con.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "big_data_player_analysis_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import compose, report
    from perfbench.trace import ProcTree, RssSampler, Tracer, read_event_log, steal_s
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    host = _host_env()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    os.environ["BDPA_WORKSPACE"] = os.path.join(run_dir, "ws")
    scratch = os.path.join(run_dir, "streams")
    os.makedirs(scratch)
    trace_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    if trace_dir:
        os.makedirs(trace_dir)
    spark = None
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        inputs, manifest = compose.compose(os.path.join(WORK, "inputs"), args.seed, w.size)

        steal0 = steal_s()
        tree = ProcTree()
        sampler = RssSampler(tree)
        sampler.start()
        spark, setup_m = setup(w, inputs, trace_dir)
        host["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        host["pyspark"] = spark.version
        tracer = Tracer(spark, tree) if args.trace else None
        loop = Loop(spark, w, inputs, scratch, tracer)

        cold_s = loop.run_pass(0, instrument=bool(tracer))
        # a traced run interleaves bare and instrumented warm passes as
        # bare, traced, traced, bare, so the instrumentation's own cost is
        # measured inside one process with the JIT drift cancelling out
        min_passes = 4 if tracer else WARM_PASSES
        t_start, n = time.perf_counter(), 1
        while n <= min_passes or time.perf_counter() - t_start < args.seconds:
            loop.run_pass(n, instrument=bool(tracer) and n % 4 in (2, 3))
            n += 1
        peak_rss = sampler.stop()
        _stop(spark)
        spark = None
        # other guests' CPU time during the run: explains a run slow in every phase
        host["steal_s"] = steal_s() - steal0

        expected = expected_digests(w, inputs)
        spans = [r for r in loop.records if "tag" in r]
        layer_counts = read_event_log(trace_dir, spans) if trace_dir else {}
        result, record = report.build(
            w, args, host, manifest, setup_m, cold_s, peak_rss, loop, expected, layer_counts
        )
        print(json.dumps({"record": record}, default=str))
        print(json.dumps(result))
        return 0
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
