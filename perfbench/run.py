"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog_push --seed 1 --seconds 12 \
        --trace 0

Run from the root of a source checkout.  It sets the workload up once,
cold, the way a fresh job process starts (JVM launch and Spark session
on ``local[<cpus>/2]``, input generation from ``--seed``, and a warm-up
pass whose outputs are checked), then runs whole rounds of the workload
for about ``--seconds`` seconds.  The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns the
Spark UI on, records spans and job groups, and reports the per-layer
metrics (METRICS.md maps each one to its layer).  Tracing overhead is
``trace.wall_s`` of a traced run minus ``wall_s`` of an untraced run.
The line before the result holds host and input facts.
Everything the run writes stays under ``.bench_work/`` (removed at the
end) and ``.bench_traces/`` (span dumps of traced runs).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DRIVER_MEM = "2g"
#: Spark runs tasks on half the CPUs.  The rest serve the threads that run
#: beside the tasks: the Python driver (collect and envelope packing), the
#: Python worker behind each pandas-UDF task, and the JVM's GC and JIT.
#: On a 4-CPU host, with a task thread per CPU, query_mix wall_s spread
#: 0.26 (IQR/median) over six seeds, against 0.07 with half.
TASK_CPUS = max(1, len(os.sched_getaffinity(0)) // 2)
#: Traced run: the largest share of an operation's latency that may fall
#: outside every named layer (self time of ``UNATTRIBUTED`` spans plus the
#: latency the root span misses).  A breach fails the operation.
UNATTRIBUTED_CEILING = 0.05
UNATTRIBUTED = ("op", "pipeline.run")
#: A span's self time below this is negative beyond clock rounding.
NEGATIVE_SELF_S = -1e-6

#: No p90: a run holds 4 (catalog_push) or 12 (query_mix) operations, too
#: few for ten samples beyond any percentile above the median.
END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s",
              "peak_rss_mb": "MB", "py_peak_rss_mb": "MB"}
_OPS = ("dedup.exact", "dedup.lsh_pairs", "text.quality",
        "similarity.semantic_pairs")
PER_LAYER = {
    "session.start_s": "s",
    "pipeline.extract_build_s": "s", "spark.jobs_per_push": "count",
    "sinks.staging.write_s": "s", "sinks.staging.read_s": "s",
    "sinks.staging.bytes_per_user_byte": "ratio",
    "sinks.sqs.collect_s": "s", "sinks.sqs.send_s": "s",
    "sinks.sqs.messages": "count", "sinks.sqs.batches": "count",
    "sinks.sqs.bytes": "bytes",
    "sinks.envelope.pack_s": "s", "sinks.envelope.fill_ratio": "ratio",
    **{f"{op}.{m}": u for op in _OPS
       for m, u in (("build_s", "s"), ("build_jobs", "count"),
                    ("exec_s", "s"), ("rows_out", "rows"))},
    "dedup.lsh_pairs.planted_recall": "ratio",
    "dedup.lsh_pairs.yield": "ratio",
    "similarity.semantic_pairs.planted_recall": "ratio",
    "similarity.semantic_pairs.tier": "cellpairs",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec_s": "s", "spark.jobs_per_query": "count",
    "spark.stages_per_query": "count",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "sinks.publish_share": "ratio",
    "trace.wall_s": "s", "trace.unattributed_ratio": "ratio",
    "failed_ratio": "ratio",
}


def _start_session(work: str, traced: bool):
    from ab_metadata_pusher_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{TASK_CPUS}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            # A fixed heap size, so G1 never resizes it mid-run.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
                f"-Xms{DRIVER_MEM}",
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.enabled": "true" if traced else "false",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark() -> None:
    """Stop the session and the driver JVM, and wait for the JVM to end
    (it exits when its stdin closes; its Python workers go with it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()   # py4j logs, does not raise, on a closed socket
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _timed(wl, spark, seconds: float, groups) -> tuple[list, list]:
    """Whole rounds back to back; another round starts only if it is
    expected to end within ``seconds``.  Returns (round times, ops)."""
    rounds, ops = [], []
    start = time.perf_counter()
    while True:
        r_ops = wl.round(spark, groups)
        ops += r_ops
        rounds.append(sum(o.latency for o in r_ops))
        if time.perf_counter() - start + rounds[-1] > seconds:
            return rounds, ops


def _layer_metrics(wl, rounds, ops, tracer, groups) -> dict[str, float]:
    metrics = wl.layer_metrics(ops, tracer, groups)
    stage_ids: set[int] = set()
    for o in ops:
        for g in o.groups:
            stage_ids.update(groups.stages(g))
    io = groups.stage_io(stage_ids)
    metrics["spark.shuffle_write_bytes"] = io["shuffle_write_bytes"] / len(ops)
    metrics["spark.spill_bytes"] = io["spill_bytes"] / len(ops)
    metrics["trace.wall_s"] = statistics.median(rounds)
    metrics["trace.unattributed_ratio"] = max(
        check_attribution(o, tracer.self_times(o.root)) for o in ops)
    return metrics


def check_attribution(op, self_times: dict[str, float]) -> float:
    """Append a problem to ``op`` if a span has negative self time or if
    more than ``UNATTRIBUTED_CEILING`` of its latency is outside every
    named layer; return that unattributed share."""
    named = sum(v for k, v in self_times.items() if k not in UNATTRIBUTED)
    share = (op.latency - named) / op.latency
    for name, v in self_times.items():
        if v < NEGATIVE_SELF_S:
            op.problems.append(f"span {name} has self time {v:.6f} s")
    if share > UNATTRIBUTED_CEILING:
        op.problems.append(f"{share:.1%} of the latency is outside every "
                           f"named layer (ceiling "
                           f"{UNATTRIBUTED_CEILING:.0%})")
    return share


def run(args, work: str) -> int:
    t0 = time.perf_counter()
    import spans
    import workloads

    tracer = spans.NullTracer()
    wl = workloads.WORKLOADS[args.workload](args.seed, work, tracer)
    spark = _start_session(work, bool(args.trace))
    session_s = time.perf_counter() - t0
    wl.generate()
    checked = wl.warm_up(spark)
    setup_s = time.perf_counter() - t0
    # peak_rss_mb covers the timed phase only: generation and the checks
    # (DuckDB oracles, collect()) have left their own peaks.
    spans.reset_peak_rss(_jvm_pid())

    groups = None
    if args.trace:
        tracer = spans.Tracer()
        wl.tracer = tracer
        groups = spans.JobGroups(spark)
    rounds, ops = _timed(wl, spark, args.seconds, groups)
    metrics: dict[str, float] = {}
    if args.trace:
        metrics = _layer_metrics(wl, rounds, ops, tracer, groups)
        metrics["session.start_s"] = session_s
        os.makedirs(os.path.join(ROOT, ".bench_traces"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".bench_traces",
                                 f"{args.workload}-seed{args.seed}.jsonl"))

    all_ops = checked + ops
    failed = sum(1 for o in all_ops if o.problems)
    for o in all_ops:
        for p in o.problems[:5]:
            print(f"FAILED {o.name}: {p}", file=sys.stderr)
    lat = [o.latency for o in ops]
    rss = spans.peak_rss_mb(_jvm_pid())
    if args.trace:
        metrics["failed_ratio"] = failed / len(all_ops)
        names = PER_LAYER
    else:
        metrics.update({
            "setup_s": setup_s,
            "wall_s": statistics.median(rounds),
            "op_p50_s": statistics.median(lat),
            "peak_rss_mb": sum(rss.values()),
            "py_peak_rss_mb": rss["python"],
        })
        names = END_TO_END
    from gen import INPUT_FACTS

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": spans.host_facts(spark, DRIVER_MEM),
        "session_start_s": session_s,
        "total_s": time.perf_counter() - t0, "peak_rss_mb": rss,
        "rounds_s": rounds, "ops": len(ops),
        "op_latencies_s": [[o.name, o.latency] for o in ops],
        "inputs": {**INPUT_FACTS, "run": wl.facts()}}))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(all_ops), "failed": failed,
        "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": unit}
                    for n, unit in names.items()}}))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("catalog_push", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ab_metadata_pusher_spark")):
        print("perfbench: no ab_metadata_pusher_spark package next to "
              "perfbench/; run from a source checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers import the package too; temp files stay in the work dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*.
    os.environ["SPARK_LAUNCHER_OPTS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    sys.path[:0] = [HERE, ROOT]
    try:
        return run(args, work)
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))   # only if no other run uses it
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
