"""Benchmark entry point.

    python3 perfbench/run.py --workload ticks_batch --seed 1 --seconds 5 --trace 0

Runs one workload (see ``workloads.json`` and README.md) against the
package in this checkout: one process, one Spark session at
``local[nproc]``. ``--trace 0`` measures the end-to-end metrics with no
tracing; ``--trace 1`` is the separate traced run that records spans,
folds the Spark event log into them and reports the per-layer metrics.
Both print every metric by name, write a JSON report (and, traced, a
spans file) under ``perfbench_out/``, and end stdout with one JSON line
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0
only when every output check passed.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, "perfbench_out")

# end-to-end metrics (generic across workloads) and their per-workload names
E2E = {
    "setup_s": "s", "op_cpu_s": "s", "replay_cpu_s": "s", "driver_peak_rss_mb": "MB",
    "op_p50_s": "s", "items_per_s": "1/s", "replay_s": "s",
}
# gated in BENCHMARK.json; the wall-time op metrics and the replay CPU
# are printed and reported but not gated (see README)
GATED = ("setup_s", "op_cpu_s", "driver_peak_rss_mb")
# the kinds of timed op the op metrics are taken over
MAIN_KINDS = ("day", "batch", "query")
NAMES = {
    "ticks_batch": {
        "op_p50_s": "batch.day_s", "op_ptail_s": "batch.day_ptail_s", "op_cpu_s": "batch.day_cpu_s",
        "items_per_s": "batch.ticks_per_s", "replay_s": "batch.replay_s",
        "replay_cpu_s": "batch.replay_cpu_s",
    },
    "docs_ingest": {
        "op_p50_s": "ingest.batch_p50_s", "op_ptail_s": "ingest.batch_ptail_s",
        "op_cpu_s": "ingest.batch_cpu_s",
        "items_per_s": "ingest.docs_per_s", "replay_s": "ingest.replay_s",
        "replay_cpu_s": "ingest.replay_cpu_s",
    },
    "query_mix": {
        "op_p50_s": "query.latency_p50_s", "op_ptail_s": "query.latency_ptail_s",
        "op_cpu_s": "query.mix_cpu_s", "items_per_s": "query.queries_per_s",
        "replay_s": "query.replay_s", "replay_cpu_s": "query.replay_cpu_s",
    },
}
UNITS = {"ticks_batch": "ticks/s", "docs_ingest": "docs/s", "query_mix": "queries/s"}
PER_LAYER = [
    "session.start_s",
    "sources.load_ticks_s", "sources.scan_rows", "sources.scan_bytes",
    "operators.calendar_gate.self_s", "operators.ohlc.self_s", "operators.gap_fill.self_s",
    "operators.true_range.self_s", "operators.atr.self_s", "operators.ids.self_s",
    "operators.gap_fill.synth_rows", "operators.atr.python_bytes",
    "pipeline.run_batch_s", "pipeline.state_snapshot_s",
    "streaming.sink.append_s", "streaming.sink.dedup_read_rows",
    "streaming.sink.write_ratio", "streaming.sink.files", "streaming.doc_ingest.batch_s",
    "functions.dedupe.cc_s", "functions.dedupe.cc_jobs",
    "ingest.keep_ratio", "ingest.dup_caught_ratio", "ingest.index_rows", "ingest.index_files",
    "registry.construct_s", "catalyst.plan_s", "exec_s", "py4j.calls",
    "registry.indicators.latency_p50_s", "registry.dedup.latency_p50_s",
    "registry.similarity.latency_p50_s", "registry.iterative.latency_p50_s",
    "registry.text.latency_p50_s",
    "engine.jobs", "engine.tasks", "engine.executor_run_s", "engine.executor_cpu_s",
    "engine.shuffle_write_bytes", "engine.spill_bytes", "engine.gc_s",
    "engine.driver_gap_s", "engine.parallel_speedup",
]
# named in the benchmark's design but not measurable from this benchmark
UNMEASURED = {
    "stream.*": "the ticks_stream workload is not run: its chained streaming stages "
    "need minutes of warm triggers per run for a steady emission latency, and a "
    "benchmark run is kept near one minute",
    "stream.candles.late_dropped_rows": "as stream.*",
    "registry.tpch.latency_p50_s and the lineitem graph queries (triangle counts)":
    "query_mix generates only the events, documents and embeddings tables; the "
    "TPC-H tables are not generated from the seed",
    "docs_ingest in BENCHMARK.json": "dedup_ingest_batch is not replay-idempotent "
    "(README, Known failure), so docs_ingest fails its replay check on some seeds; "
    "it stays runnable by name but is not a gated workload",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ptail(xs: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return None
    return {"value": sorted(xs)[n - 11], "pct": round(100.0 * (n - 10) / n, 1), "n": n}


def host_probe(bench, cpus: int) -> dict:
    return {"effective_cores": bench._effective_cores(cpus), "mem_bw_gbps": bench._mem_bw_gbps(cpus)}


def set_env(work: str, cpus: int) -> None:
    """Everything the session and its workers need: the package importable
    from the pandas-UDF workers, cores pinned to nproc, and every scratch
    file inside the run's work dir."""
    for d in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false"
        f" --conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"
        " pyspark-shell"
    )


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM and its Python workers, and
    wait until every one of those processes has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    workers = procs.descendants(gateway.proc.pid) if gateway is not None else set()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    procs.wait_exit(workers, 30)


def wait_listener_bus(spark) -> None:
    """Let the event log catch up with the jobs that just ran."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def run(args, cfg: dict, work: str) -> tuple[dict, int]:
    marks = [("start", time.perf_counter())]
    cpus = nproc()
    set_env(work, cpus)
    sys.path.insert(0, ROOT)
    bench = importlib.import_module("bench")
    host = {"nproc": cpus, "start": host_probe(bench, cpus)}
    marks.append(("probe_start", time.perf_counter()))

    import spans
    from workloads import WORKLOADS

    from options_data_pipeline_spark.session import get_spark

    trace = bool(args.trace)
    log_dir = os.path.join(work, "eventlog")
    t0 = time.perf_counter()
    extra = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        # one plain JSON-lines file
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    } if trace else None
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=extra)
    session_s = time.perf_counter() - t0
    tracer = spans.Tracer(spark, trace)
    wl = WORKLOADS[args.workload](spark, cfg, args.seed, work, tracer)
    for mod, attr, name in wl.WRAPS:
        tracer.wrap(importlib.import_module(mod), attr, name)
    tracer.op_id = -1  # warm-up ops
    wl.warmup()
    setup_s = time.perf_counter() - t0
    marks.append(("setup", time.perf_counter()))

    ops = []
    loop_lo = time.time()
    deadline = time.perf_counter() + args.seconds
    while True:
        op = wl.next_op(deadline - time.perf_counter())
        if op is None:
            break
        tracer.op_id = len(ops)
        ops.append(wl.run_op(op))
    for op in wl.final_ops():
        tracer.op_id = len(ops)
        ops.append(wl.run_op(op))
    loop_hi = time.time()
    marks.append(("loop", time.perf_counter()))
    rss = procs.peak_rss_mb(spark.sparkContext._gateway.proc.pid)

    ratios = wl.check(ops) or {}
    marks.append(("check", time.perf_counter()))
    main_ops = [op for op in ops if op.kind in MAIN_KINDS]
    replays = [op for op in ops if op.kind == "replay"]
    times = [op.seconds for op in main_ops]
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(times) if times else None,
        "op_cpu_s": wl.op_cpu_s(main_ops) if times else None,
        "items_per_s": sum(op.items for op in main_ops) / sum(times) if times else None,
        # the least over the run's replays: later replays of the same input
        # run warmer, and the first one writes when the package's replay
        # defect fires (README, "Known failure")
        "replay_s": min(op.seconds for op in replays) if replays else None,
        "replay_cpu_s": min(op.cpu_s for op in replays) if replays else None,
        "driver_peak_rss_mb": rss["jvm"] + rss["python"],
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": int(trace), "config": cfg, "shape": wl.shape(), "session_start_s": session_s,
        "ops": [
            {k: getattr(op, k) for k in
             ("kind", "key", "items", "written", "seconds", "cpu_s", "vm_busy_s", "steal_s", "problems")}
            for op in wl.warm + ops
        ],
        "op_ptail_s": ptail(times),
        "peak_rss_mb": rss,
        "ingest_ratios": ratios,
    }
    problems = [p for op in wl.warm + ops for p in op.problems]
    attempted = len(wl.warm) + len(ops)
    failed = sum(1 for op in wl.warm + ops if op.problems)

    if trace:
        per_layer, extra_problems, extra_attempted, spark = traced_layers(
            spark, wl, tracer, ops, (loop_lo, loop_hi), session_s, ratios, log_dir
        )
        problems += extra_problems
        attempted += extra_attempted
        failed += len(extra_problems)
        report["per_layer"] = per_layer
        report["unmeasured"] = UNMEASURED
        report["tracing_overhead"] = overhead(args, e2e)
        tracer.write(os.path.join(OUT, f"{args.workload}-s{args.seed}-spans.jsonl"))
        marks.append(("layers", time.perf_counter()))
    stop_jvm(spark)
    marks.append(("stop", time.perf_counter()))
    host["end"] = host_probe(bench, cpus)
    marks.append(("probe_end", time.perf_counter()))
    report["phase_s"] = {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])}
    report.update(e2e=e2e, host=host, problems=problems, attempted=attempted, failed=failed)
    report["failed_ratio"] = failed / attempted
    return report, failed


def traced_layers(spark, wl, tracer, ops, loop, session_s, ratios, log_dir):
    """Per-layer metrics of the traced run; returns (metrics, problems,
    extra operations attempted, the session left running)."""
    import spans

    def jobs():
        wait_listener_bus(spark)
        return spans.fold_event_log(spans.event_log_file(log_dir))

    measured = [op for op in ops if op.kind in MAIN_KINDS]
    eng = spans.engine_totals(jobs(), *loop)
    per_op = max(len(ops), 1)
    out = {name: 0.0 for name in PER_LAYER}
    out["session.start_s"] = session_s
    out.update({f"engine.{k}": v / per_op for k, v in eng.items() if f"engine.{k}" in out})
    appends = tracer.durations("streaming.sink.append")
    out["streaming.sink.append_s"] = statistics.median(appends) if appends else 0.0
    reads = [op.dedup_read for op in ops if op.dedup_read is not None]
    out["streaming.sink.dedup_read_rows"] = statistics.mean(reads) if reads else 0
    out.update(wl.sink_counts(ops))
    out.update({f"ingest.{k}": v for k, v in ratios.items()})
    layer_metrics, problems = wl.layers(ops, jobs)
    out.update(layer_metrics)
    # engine.parallel_speedup: one fresh op at local[1] in a new context
    # of the same JVM, against the local[nproc] median of the same
    # query (query_mix) or of the timed days or batches
    tracer.restore()
    tracer.enabled = False
    spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    from options_data_pipeline_spark.session import get_spark

    solo_spark = get_spark(f"perfbench-{wl.name}-local1")
    wl.rebind(solo_spark)
    solo = wl.run_op(wl.solo_op())
    ref = [op for op in measured if op.key == solo.key] or measured
    if ref:
        out["engine.parallel_speedup"] = solo.seconds / statistics.median(op.seconds for op in ref)
    problems += solo.problems
    return out, problems, wl.extra_attempted + 1, solo_spark


def overhead(args, e2e: dict) -> dict:
    """Traced minus untraced, per end-to-end metric, against the untraced
    report of the same workload and seed if one is in perfbench_out/."""
    path = os.path.join(OUT, f"{args.workload}-s{args.seed}.json")
    if not os.path.exists(path):
        return {"note": f"no untraced report at {os.path.relpath(path, ROOT)}; run --trace 0 first"}
    with open(path) as fh:
        base = json.load(fh)["e2e"]
    return {k: (e2e[k] - base[k]) if None not in (e2e[k], base.get(k)) else None for k in e2e}


def emit(args, report: dict) -> None:
    names = NAMES[args.workload]
    e2e = report["e2e"]
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"ops={len(report['ops'])} host={json.dumps(report['host'])}")
    for k, unit in E2E.items():
        unit = UNITS[args.workload] if k == "items_per_s" else unit
        print(f"  {names.get(k, k)} = {e2e[k]} {unit}")
    tail = report["op_ptail_s"]
    print(f"  {names['op_ptail_s']} = " + (
        f"{tail['value']} s (p{tail['pct']}, n={tail['n']})" if tail
        else f"n/a (needs 11 samples, run has {sum(1 for o in report['ops'] if o['kind'] in MAIN_KINDS)})"
    ))
    timed = [o for o in report["ops"] if o["kind"] in MAIN_KINDS + ("replay",)]
    print(f"  vm_busy_s = {sum(o['vm_busy_s'] for o in timed)} s "
          f"(CPU time the whole VM spent busy during the timed ops)")
    print(f"  steal_s = {sum(o['steal_s'] for o in timed)} s "
          f"(CPU time the hypervisor took during the timed ops)")
    print(f"  failed_ratio = {report['failed_ratio']} ratio")
    for p in report["problems"]:
        print(f"  PROBLEM {p}")
    if args.trace:
        for k, v in report["per_layer"].items():
            print(f"  [layer] {k} = {v}")
        for k, v in report["tracing_overhead"].items():
            print(f"  [overhead] {k} = {v}")
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in report["per_layer"].items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": E2E[k]} for k in GATED}
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }))


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_ratio", "speedup")):
        return "ratio"
    return "count"


def warehouse_entries() -> set[str]:
    """The registry's write-once indexes under ``spark-warehouse/<kind>/``
    of the checkout; a run removes the ones it built."""
    base = os.path.join(ROOT, "spark-warehouse")
    if not os.path.isdir(base):
        return set()
    return {
        os.path.join(base, kind, e)
        for kind in os.listdir(base) if os.path.isdir(os.path.join(base, kind))
        for e in os.listdir(os.path.join(base, kind))
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "options_data_pipeline_spark", "__init__.py")):
        print("perfbench: the options_data_pipeline_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as fh:
        cfgs = json.load(fh)
    if args.workload not in cfgs:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(cfgs)}",
              file=sys.stderr)
        return 2
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-", dir=os.path.join(OUT, "tmp"))
    indexes = warehouse_entries()
    try:
        report, failed = run(args, cfgs[args.workload], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        for path in warehouse_entries() - indexes:
            shutil.rmtree(path, ignore_errors=True)
    suffix = "-trace" if args.trace else ""
    with open(os.path.join(OUT, f"{args.workload}-s{args.seed}{suffix}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    emit(args, report)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
