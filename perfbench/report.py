"""Turns a finished loop into the result line and the run record.

End-to-end metrics (``--trace 0``) and per-layer metrics (``--trace 1``)
have fixed names across workloads; ``BENCHMARK.json`` lists the same
names. A per-layer metric that a workload does not exercise (another
workload's op, the streaming phases on a batch workload) reads 0.
"""

from __future__ import annotations

import statistics

from perfbench.workloads import WORKLOADS

STREAM_PHASES = ("addBatch", "getBatch", "queryPlanning", "walCommit", "commitOffsets")
PASS_TOTALS = {  # per-pass sums over the ops of a pass: name -> unit
    "stages": "count",
    "failed_tasks": "count",
    "executor_cpu_s": "s",
    "executor_run_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "input_mb": "MB",
    "python.worker_cpu_s": "s",
    "driver.cpu_s": "s",
    "jvm.cpu_s": "s",
    "jvm.jit_s": "s",
    "jvm.gc_s": "s",
    "caching.released": "count",
}

END_TO_END = {"setup_s": "s", "cold_s": "s", "wall_s": "s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    units = {"session.start_s": "s", "catalog.load_s": "s"}
    for w in WORKLOADS.values():
        for op in w.ops:
            units.update({
                f"{op.name}.build_s": "s", f"{op.name}.exec_s": "s",
                f"{op.name}.jobs": "count", f"{op.name}.tasks": "count",
            })
    units.update(PASS_TOTALS)
    units.update({
        "jvm.cold_jit_s": "s",
        "heroic.iterations": "count",
        "heroic.iter_s": "s",
        "streaming.batches": "count",
        "streaming.batch_s": "s",
        "streaming.batch_max_s": "s",
        **{f"streaming.phase.{p}_s": "s" for p in STREAM_PHASES},
        "streaming.rows_in": "count",
        "streaming.rows_out": "count",
        "workspace.sink_bytes": "bytes",
        "workspace.checkpoint_bytes": "bytes",
        "workspace.write_amp": "ratio",
        "tracing.overhead": "ratio",
        "input.rows": "count",
        "input.mb": "MB",
    })
    return units


def _med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def _per_layer(w, setup_m, manifest, loop, counts) -> dict[str, float]:
    m = dict.fromkeys(per_layer_units(), 0.0)
    m["session.start_s"] = setup_m["session.start_s"]
    m["catalog.load_s"] = setup_m["catalog.load_s"]
    inputs = [manifest["tables"][t] for t in w.inputs]
    m["input.rows"] = sum(t["rows"] for t in inputs)
    m["input.mb"] = sum(t["bytes"] for t in inputs) / 1e6

    traced = [r for r in loop.records if "tag" in r]
    for r in traced:
        r.update(counts.get(r["tag"], {}))
    warm = [r for r in traced if r["pass"] > 0]
    for op in w.ops:
        mine = [r for r in warm if r["op"] == op.name]
        for k in ("build_s", "exec_s", "jobs", "tasks"):
            m[f"{op.name}.{k}"] = _med(r.get(k) for r in mine)
    passes = sorted({r["pass"] for r in warm})
    for k in PASS_TOTALS:
        m[k] = _med(sum(r.get(k, 0) for r in warm if r["pass"] == p) for p in passes)
    m["jvm.cold_jit_s"] = sum(r.get("jvm.jit_s", 0) for r in traced if r["pass"] == 0)

    heroic = [r for r in warm if r["op"] == "heroic" and r.get("iterations")]
    if heroic:
        m["heroic.iterations"] = _med(r["iterations"] for r in heroic)
        m["heroic.iter_s"] = _med(r["build_s"] / r["iterations"] for r in heroic)

    # the MV stream: micro-batch triggers, phases, rows, sink bytes
    mv = [r for r in warm if r["op"] == "stream_mv"]
    tags = {r["tag"] for r in mv}
    events = [e for e in loop.tracer.progress if e["op"] in tags and "addBatch" in e["duration_ms"]]
    if mv and events:
        triggers = [e["duration_ms"]["triggerExecution"] / 1e3 for e in events if e["batch"] > 0]
        m["streaming.batches"] = len(events) / len(mv)
        m["streaming.batch_s"] = _med(triggers)
        m["streaming.batch_max_s"] = max(triggers, default=0.0)
        for p in STREAM_PHASES:
            m[f"streaming.phase.{p}_s"] = sum(e["duration_ms"].get(p, 0) for e in events) / 1e3 / len(mv)
        m["streaming.rows_in"] = sum(e["rows_in"] for e in events) / len(mv)
        m["streaming.rows_out"] = _med(r.get("rows") for r in mv)
        m["workspace.sink_bytes"] = _med(r["sink_bytes"] for r in mv)
        m["workspace.checkpoint_bytes"] = _med(r["checkpoint_bytes"] for r in mv)
        m["workspace.write_amp"] = (
            m["workspace.sink_bytes"] + m["workspace.checkpoint_bytes"]
        ) / manifest["tables"]["events_stream"]["bytes"]

    bare = [p["wall_s"] for p in loop.passes if p["pass"] > 0 and not p["instrumented"]]
    inst = [p["wall_s"] for p in loop.passes if p["pass"] > 0 and p["instrumented"]]
    if bare and inst:
        m["tracing.overhead"] = _med(inst) / _med(bare)
    return m


def build(w, args, host, manifest, setup_m, cold_s, peak_rss, loop, expected, counts):
    failed = 0
    for r in loop.records:
        want = expected.get(r["op"])
        r["ok"] = "error" not in r and want is not None and (r.get("rows"), r.get("digest")) == want
        failed += not r["ok"]
    attempted = len(loop.records)
    warm = [p["wall_s"] for p in loop.passes if p["pass"] > 0 and not p["instrumented"]]
    if args.trace:
        values = _per_layer(w, setup_m, manifest, loop, counts)
        units = per_layer_units()
    else:
        values = {
            "setup_s": setup_m["setup_s"],
            "cold_s": cold_s,
            "wall_s": _med(warm),
            "peak_rss_mb": peak_rss / 1e6,
        }
        units = END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }
    record = {
        "workload": w.name,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        "inputs": manifest["tables"],
        "setup": setup_m,
        "passes": loop.passes,
        "failed_frac": failed / attempted,
        "ops": [{k: v for k, v in r.items() if k != "digest"} for r in loop.records],
        "failures": [r for r in loop.records if not r["ok"]][:5],
    }
    return result, record
