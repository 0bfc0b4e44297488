"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_suite --seed 1 --seconds 10 --trace 0

Runs one workload (see workloads.py) from the root of a checkout at
local[nproc] with the session's own defaults, on a corpus generated
from --seed, measures for --seconds and checks the outputs. Human
readable figures, each with its sample count, go to stdout first; the
last line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones:
    rate_per_s  operations completed per second. batch_suite: queries
                per second at the geomean of the per-query medians
                (1000 / query_ms_geomean); replays: input events per
                second of drain time (events_per_s), median over replays
    op_ms_p50   median operation time. batch_suite: one query, built
                and written (query_ms_p50); replays: one data
                micro-batch's triggerExecution (batch_ms_p50), pooled
                over the three sink queries in fanout_replay
    setup_s     session start, registry load, corpus, staging and
                warm-up, without the untimed output checks
With --trace 1 the metrics are the per-layer ones (per_layer_names), a layer
the workload does not use reads 0, and the spans go to
.perfbench_out/spans_<workload>_<seed>.json. The traced run alternates
traced and untraced operations and reports the difference of their
medians as trace.overhead_ms.

Exits 0 when every output check passed, 1 when one failed, 2 when the
engine cannot be imported (nothing but the benchmark in the directory).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def per_layer_names(suite) -> list[tuple[str, str]]:
    names = [
        ("session.start_s", "s"), ("session.rss_mb_peak", "MB"),
        ("plans.registry_load_s", "s"), ("plans.build_ms", "ms"),
        ("plans.build_jobs", "count"),
    ]
    names += [(f"plans.build_ms.{q}", "ms") for q in suite]
    names += [("exec.ms", "ms")] + [(f"exec.ms.{q}", "ms") for q in suite]
    names += [("exec.jobs", "count"), ("exec.stages", "count"),
              ("exec.tasks", "count"),
              ("sources.latestOffset_ms", "ms"), ("sources.getBatch_ms", "ms"),
              ("sources.input_rows", "count"),
              ("pipeline.queryPlanning_ms", "ms"), ("pipeline.addBatch_ms", "ms"),
              ("pipeline.walCommit_ms", "ms"), ("pipeline.commitOffsets_ms", "ms"),
              ("pipeline.overhead_share", "share"), ("pipeline.batches", "count"),
              ("pipeline.output_rows", "count"),
              ("state.rows_total_peak", "count"),
              ("state.memory_bytes_peak", "bytes"),
              ("state.rows_dropped_by_watermark", "count")]
    for s in ("serving", "warehouse", "search"):
        names += [(f"sinks.{s}.addBatch_ms", "ms"), (f"sinks.{s}.batches", "count"),
                  (f"sinks.{s}.overhead_ms", "ms")]
    for s in ("warehouse", "search"):
        names += [(f"sinks.{s}.bytes_written", "bytes"),
                  (f"sinks.{s}.files_written", "count")]
    names += [(f"self_s.{layer}", "s") for layer in
              ("session", "corpus", "plans", "exec", "sources", "pipeline", "sinks")]
    names += [("trace.overhead_ms", "ms"), ("trace.spans", "count")]
    return names


E2E_UNITS = {"rate_per_s": "1/s", "op_ms_p50": "ms", "setup_s": "s"}


def _sandbox(work: str) -> dict[str, str]:
    """Keep every file Spark and Python write inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # HotSpot writes its perf-data file under /tmp whatever
    # java.io.tmpdir says; -UsePerfData turns that file off in every JVM
    # spark-submit starts, its launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        from stream_processing_project_spark.session import get_spark
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import spans
    import stats
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}_{args.seed}_{os.getpid()}")
    extra = _sandbox(work)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    tracer = spans.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}",
                          bool(args.trace))
    tally = stats.Tally()
    t_start = time.perf_counter()
    wall_start = time.time()
    spark = None
    try:
        spark = get_spark("perfbench", extra_conf=extra)
        session_s = time.perf_counter() - t_start
        tracer.add("session.start", wall_start, time.time())
        from pyspark import SparkContext

        jvm = getattr(SparkContext._gateway, "proc", None)
        sampler = spans.RssSampler(jvm.pid if jvm else None) if args.trace else None
        ctx = workloads.Context(spark, os.path.join(work, "data"), work,
                                args.seed, args.seconds, tracer, tally)
        if sampler:
            with sampler:
                res = workloads.WORKLOADS[args.workload](ctx)
        else:
            res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    setup_s = res["setup_end"] - t_start - ctx.untimed_s
    for line in ctx.summary:
        print(line)
    print(f"setup_s {setup_s:.3f} s (session start {session_s:.2f} s, n=1)")
    print(f"operations attempted {tally.attempted}, failed {tally.failed}")
    for f in tally.failures:
        print(f"FAILED {f}")

    if args.trace:
        layer = dict(ctx.layer)
        layer["session.start_s"] = session_s
        layer["session.rss_mb_peak"] = sampler.peak_kb / 1024.0
        for k, v in tracer.self_times().items():
            layer[f"self_s.{k}"] = v
        layer["trace.spans"] = len(tracer.spans)
        tracer.write(os.path.join(
            ROOT, ".perfbench_out", f"spans_{args.workload}_{args.seed}.json"))
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                   for n, u in per_layer_names(workloads.SUITE)}
    else:
        metrics = {n: {"value": float(v), "unit": E2E_UNITS[n]}
                   for n, v in res["e2e"].items()}
        metrics["setup_s"] = {"value": setup_s, "unit": "s"}
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0 if tally.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
