"""The repository's benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload fold --seed 1 --seconds 1 --trace 0

Run from the repository root. The run starts a Spark session the way
``jobs/er_job.py`` does (``get_spark`` with auto-broadcast off) on
``local[4]``, generates the workload's inputs from the seed and runs its
set-up (ending with an untimed warm-up operation unless set-up already
warms the session), then runs operations one at a time (a closed loop, one
client) until ``--seconds`` have passed, checking every output. The last
stdout line is ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``; with ``--trace 1`` the per-layer
metrics of a separate, traced run (see tracing.py). Design and measured
figures: perfbench/DESIGN.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import procmem
from tracing import (STAGE_LAYERS, STAGE_METRICS, NullTracer, Tracer,
                     group_metrics, op_layers, span_counts)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
# The JVM heap is a deployment setting (spark-submit --driver-memory;
# MEL_SPARK_DRIVER_MEM in process). get_spark's in-process default of 8g
# never fills at these input sizes, so the JVM's resident size depends on
# when ParallelGC happens to expand it: peak RSS swung ±12% between runs of
# one seed. A heap that set-up fills makes the peak repeatable.
HEAP = "2g"

# untraced, traced, untraced: the untraced pair brackets the traced op, so
# a steady warm-up drift cancels out of the tracing overhead
TRACE_MIN_OPS = 3

END_TO_END = {  # name -> unit
    "setup_s": "s", "run_s": "s", "rows_per_s": "rows/s", "quality": "ratio",
    "peak_rss_mb": "MB", "storage_bytes_per_input_byte": "ratio",
}


def per_layer_units() -> dict[str, str]:
    unit = {"wall_s": "s", "self_s": "s", "task_s": "s", "gc_s": "s",
            "jobs": "count", "tasks": "count", "task_skew": "ratio",
            "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
            "rows_out": "count"}
    out = {f"{layer}.{m}": unit[m] for layer in STAGE_LAYERS for m in STAGE_METRICS}
    out.update({
        "session.start_s": "s",
        "checkpoint.bytes_written": "bytes", "checkpoint.files_written": "count",
        "checkpoint.bytes_read": "bytes",
        "vectors.distinct_ratio": "ratio", "blocking.keys_per_content": "ratio",
        "blocking.kept_ratio": "ratio", "blocking.hot_keys": "count",
        "pairs.candidates": "count", "pairs.match_ratio": "ratio",
        "cluster.rounds": "count", "cluster.edges_in": "count",
        "ann_index.build_s": "s", "ann_index.topk_s": "s", "ann_index.n_cells": "count",
        "trace.run_s": "s", "trace.untraced_run_s": "s", "trace.overhead_s": "s",
        "trace.unattributed_s": "s",
    })
    return out


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def isolate(work: str, trace: bool) -> None:
    """Keep every file the run writes (Spark scratch, temp files, the event
    log) under ``work``, and fix the session's size."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["MEL_SPARK_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["MEL_SPARK_DRIVER_MEM"] = HEAP
    if trace:
        os.environ["MEL_SPARK_EVLOG"] = os.path.join(work, "evlog")
    else:
        os.environ.pop("MEL_SPARK_EVLOG", None)


def start_session():
    from mel_spark.session import get_spark

    spark = get_spark("er_job", master=f"local[{CPUS}]", extra_conf={
        # as jobs/er_job.py
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # outside spark-submit the workers do not inherit this process's path
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and its Python workers and wait until
    every one of them has exited."""
    gateway = spark.sparkContext._gateway
    tree = procmem.process_tree(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits on end of stdin
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(procmem.alive(pid) for pid in tree):
        if time.monotonic() > deadline:
            raise TimeoutError(f"Spark processes still running: {tree}")
        time.sleep(0.05)


def run_op(spark, wl, op, tracer, jvm_pid: int) -> None:
    """One measured operation in a fresh directory, then its checks. An
    exception fails the operation, not the run."""
    spark.catalog.clearCache()  # no CacheManager reuse across operations
    if not procmem.reset(jvm_pid):
        log("clear_refs refused: peak RSS counts from process start")
    t0 = time.perf_counter()
    try:
        with tracer.patched():
            wl.run(spark, op, tracer)
        op.wall = time.perf_counter() - t0
        op.rss_mb = procmem.peak_mb(jvm_pid)
        wl.check(op)
    except Exception:
        op.wall = op.wall or time.perf_counter() - t0
        op.rss_mb = op.rss_mb or procmem.peak_mb(jvm_pid)
        op.errors.append(traceback.format_exc())


def end_to_end(wl, setup_s: float, ops: list) -> dict[str, float]:
    run_s = statistics.median(op.wall for op in ops)
    return {
        "setup_s": setup_s,
        "run_s": run_s,
        "rows_per_s": wl.rows / run_s,
        "quality": statistics.median(op.quality for op in ops),
        "peak_rss_mb": statistics.median(op.rss_mb for op in ops),
        "storage_bytes_per_input_byte": statistics.median(
            op.storage_ratio for op in ops),
    }


def per_layer(session_s: float, untraced: list, traced: list) -> dict[str, float]:
    groups = group_metrics(os.environ["MEL_SPARK_EVLOG"])
    per_op = []
    for op in traced:
        m = op_layers(op.spans, op.wall, groups)
        m.update(op.counts)
        m["trace.run_s"] = op.wall
        durs = {sp.name: sp.dur for sp in op.spans}
        m["ann_index.build_s"] = durs.get("build_ivf_index", 0.0)
        m["ann_index.topk_s"] = durs.get("ivf_index_topk", 0.0)
        parts = sum(v for k, v in m.items() if k.endswith(".self_s"))
        log(f"traced op: wall {op.wall:.3f} s = layer self times {parts:.3f} s"
            f" + unattributed {m['trace.unattributed_s']:.3f} s")
        per_op.append(m)
    values = {name: statistics.median(m.get(name, 0) for m in per_op)
              for name in per_layer_units()}
    values["session.start_s"] = session_s
    values["trace.untraced_run_s"] = statistics.median(op.wall for op in untraced)
    values["trace.overhead_s"] = values["trace.run_s"] - values["trace.untraced_run_s"]
    return values


def measure(args, work: str) -> dict:
    from workloads import Fold, LinkTopk, Op  # imports mel_spark

    tracer = Tracer() if args.trace else None
    untraced = NullTracer()
    t_setup = time.perf_counter()
    with (tracer or untraced).span("get_spark", "session"):
        spark = start_session()
    session_s = time.perf_counter() - t_setup
    errors: list[str] = []
    ops: list[Op] = []
    try:
        if tracer:
            tracer.sc = spark.sparkContext
        wl = {"fold": Fold, "link_topk": LinkTopk}[args.workload]()
        wl.setup(spark, work, args.seed, errors)
        if wl.warm_up_op or tracer:  # a trace run compares warm operations
            warm = Op(work, 0)
            wl.run(spark, warm, untraced)
            wl.check(warm)
            errors += [f"warm-up: {e}" for e in warm.errors]
            warm.cleanup()
        setup_s = time.perf_counter() - t_setup
        log(f"setup {setup_s:.2f} s (session {session_s:.2f} s)")

        jvm_pid = spark.sparkContext._gateway.proc.pid
        t_loop = time.perf_counter()
        while True:
            op = Op(work, len(ops) + 1)
            # a trace run alternates untraced and traced operations
            op.traced = bool(tracer) and len(ops) % 2 == 1
            first_span = len(tracer.spans) if tracer else 0
            run_op(spark, wl, op, tracer if op.traced else untraced, jvm_pid)
            if op.traced and not op.errors:
                op.spans = tracer.spans[first_span:]
                counts = span_counts(op.spans)
                op.counts.update(wl.layer_counts(op, counts["rows"]))
                op.counts["cluster.rounds"] = counts["rounds"]
            op.cleanup()
            ops.append(op)
            log(f"op {len(ops)}{' traced' if op.traced else ''}: {op.wall:.3f} s, "
                f"peak rss {op.rss_mb:.0f} MB, quality {op.quality:.5f}"
                + (f" FAILED: {op.errors}" if op.errors else ""))
            if (time.perf_counter() - t_loop >= args.seconds
                    and (not tracer or len(ops) >= TRACE_MIN_OPS)):
                break
    finally:
        stop_session(spark)  # also closes the event log

    failed = sum(1 for op in ops if op.errors)
    for e in errors:
        log(f"check FAILED: {e}")
    good = [op for op in ops if not op.errors] or ops
    plain = [op for op in good if not op.traced]
    walls = sorted(op.wall for op in plain)
    # fewer than 11 samples support no percentile above the median
    log(f"run_s: median of {len(walls)} untraced ops {statistics.median(walls):.3f} s,"
        f" max {walls[-1]:.3f} s")
    if tracer:
        values = per_layer(session_s, plain, [op for op in good if op.traced])
        units = per_layer_units()
    else:
        values = end_to_end(wl, setup_s, good)
        units = END_TO_END
    return {
        "correct": not errors and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["fold", "link_topk"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mel_spark", "__init__.py")):
        log(f"no mel_spark package under {ROOT}: run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    isolate(work, bool(args.trace))
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share the parent
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
