#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload log_ingest_fetch --seed 1 --seconds 20 --trace 0

Every workload is a closed loop with one client: the next operation
starts only after the previous one returned.  The run sets up (session,
fixture, a fixed warm-up), measures for ``--seconds``, checks every
output, and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
engine's public methods in spans, enables a Spark event log and reports
the per-layer metrics instead.  A fuller record of the run (samples,
environment, host noise, span and Spark summaries) is written to
``.perfbench_runs/`` in the checkout.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

from common import (
    HASH_SEED,
    Ctx,
    HostWindow,
    clean,
    fs_type,
    median,
    nproc,
    pin_environment,
    spark_conf,
    stop_spark,
    summary,
)
from spans import NullTracer, Tracer, parse_event_log, span_report, spark_per_op
from workloads.log_ingest_fetch import LogIngestFetch
from workloads.stream_pipeline import StreamPipeline

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "elastic_stream_spark"

# per-layer figures a workload returns from ``finish``; 0 for a workload
# that does not return them
WORKLOAD_METRICS = (
    "log.files_total",
    "log.bytes_per_user_byte",
    "stream.latestOffset_ms",
    "stream.queryPlanning_ms",
    "stream.addBatch_ms",
    "stream.walCommit_ms",
    "stream.commitOffsets_ms",
    "stream.triggerExecution_ms",
    "stream.pickup_wait_ms",
    "stream.microbatches_per_append",
    "state.rows_total",
    "state.memory_bytes",
)

# span summary field behind each span-derived per-layer metric
SPAN_METRICS = {
    "client.append.self_ms_p50": ("client.append", "self_ms_p50"),
    "client.read_payloads.self_ms_p50": ("client.read_payloads", "self_ms_p50"),
    "log.append.self_ms_p50": ("log.append", "self_ms_p50"),
    "log.write_stamped.ms_p50": ("log.write_stamped", "ms_p50"),
    "log.fetch.plan_ms_p50": ("log.fetch", "ms_p50"),
    "log.fetch.exec_ms_p50": ("spark.collect", "ms_p50"),
    "catalog.reserve_offsets.ms_p50": ("catalog.reserve_offsets", "ms_p50"),
    "catalog.confirm_offset.ms_p50": ("catalog.confirm_offset", "ms_p50"),
    "catalog.describe_stream.ms_p50": ("catalog.describe_stream", "ms_p50"),
    "kv.get.ms_p50": ("kv.get", "ms_p50"),
    "kv.cas.ms_p50": ("kv.cas", "ms_p50"),
    "kv.bytes_written_per_op": ("kv.cas", "wchar_mean"),
    "sink.call.self_ms_p50": ("sink.call", "self_ms_p50"),
    "spark.count.ms_p50": ("spark.count", "ms_p50"),
}

SPARK_METRICS = {
    "spark.jobs_per_op": "jobs",
    "spark.stages_per_op": "stages",
    "spark.tasks_per_op": "tasks",
    "spark.executor_run_ms_per_op": "run_ms",
    "spark.offstage_ms_per_op": "offstage_ms",
    "spark.shuffle_bytes_per_op": "shuffle",
    "spark.spill_bytes_per_op": "spill",
}

MIN_STEPS = 3  # a window always holds at least this many timed steps
MAX_CONSECUTIVE_ERRORS = 3


WORKLOADS = {
    "log_ingest_fetch": LogIngestFetch,
    "stream_pipeline": StreamPipeline,
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run(args: argparse.Namespace, t_start: float) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    clean(work)
    try:
        return measure(args, t_start, work)
    finally:
        clean(work)


def measure(args: argparse.Namespace, t_start: float, work: str) -> dict:
    """Set up, run the timed loop, check, and summarise into a result."""
    wl = WORKLOADS[args.workload]()
    env = pin_environment(work)
    sys.path.insert(0, ROOT)
    tracer = Tracer() if args.trace else NullTracer()
    ctx = Ctx(work=work, seed=args.seed, tracer=tracer)
    phases: dict[str, float] = {}
    spark = None
    try:
        t0 = time.perf_counter()
        from elastic_stream_spark.session import get_spark

        spark = ctx.spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf=spark_conf(work, event_log=bool(args.trace)),
        )
        phases["session_s"] = time.perf_counter() - t0
        tracer.install()
        t0 = time.perf_counter()
        wl.setup(ctx)
        phases["fixture_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm_ops = wl.warm(ctx)
        phases["warm_s"] = time.perf_counter() - t0
        setup_s = time.time() - t_start

        ctx.timed = True
        host = HostWindow()
        first_timed_op = len(tracer.ops) if args.trace else 0
        loop0 = time.perf_counter()
        deadline = loop0 + args.seconds
        steps = errors = 0
        while time.perf_counter() < deadline or steps < MIN_STEPS:
            try:
                wl.step(ctx)
                errors = 0
            except Exception:  # a failed operation: counted, never retried
                traceback.print_exc(file=sys.stderr)
                ctx.tally.check(False, f"step {steps} raised")
                errors += 1
                if errors >= MAX_CONSECUTIVE_ERRORS:
                    break
            steps += 1
        wall = time.perf_counter() - loop0
        ctx.timed = False
        host_noise = host.close()
        extras = wl.finish(ctx)
    finally:
        tracer.uninstall()
        wl.close()
        if spark is not None:
            stop_spark(spark)

    tally = ctx.tally
    e2e = {
        "step_ms_p50": median(ctx.samples.get("step_ms", [])),
        "throughput_per_s": wl.work_timed / wall,
        "setup_s": setup_s,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "environment": {
            **env,
            "nproc": nproc(),
            "client_threads": 1,
            "PYTHONHASHSEED": os.environ.get("PYTHONHASHSEED"),
            "expected_hash_seed": HASH_SEED,
            "storage_fs": fs_type(work),
            "python": sys.version.split()[0],
        },
        "host": host_noise,
        "warmup_ops": warm_ops,
        "timed_steps": steps,
        "wall_s": wall,
        "phases": phases,
        "end_to_end": e2e,
        "samples": {k: summary(v) for k, v in ctx.samples.items()},
        "series_ms": ctx.samples,
        "extras": extras,
        "errors": tally.errors,
    }
    metrics = e2e
    if args.trace:
        timed_ops = {o.id for o in tracer.ops[first_timed_op:]}
        report = span_report(tracer, timed_ops)
        events = parse_event_log(os.path.join(work, "eventlog"))
        spark_ops = spark_per_op(events, tracer.ops[first_timed_op:])
        record["spans"] = report
        record["spark_per_op"] = spark_ops
        layer = {
            "setup.session_s": phases["session_s"],
            "setup.fixture_s": phases["fixture_s"],
            "setup.warm_s": phases["warm_s"],
            "trace.layer_coverage": min(report["coverage"].values(), default=0.0),
        }
        for name, (span, field) in SPAN_METRICS.items():
            layer[name] = report["spans"].get(span, {}).get(field, 0.0)
        for name, field in SPARK_METRICS.items():
            layer[name] = spark_ops["mean"].get(field, 0.0)
        for name in WORKLOAD_METRICS:
            layer[name] = extras.get(name, 0.0)
        metrics = layer
    record["per_layer"] = metrics if args.trace else None

    out_dir = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    units = listed("per_layer" if args.trace else "end_to_end")
    return {
        "correct": tally.failed == 0 and steps >= MIN_STEPS,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def listed(kind: str) -> dict[str, str]:
    """Name -> unit of the metrics BENCHMARK.json lists under ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    if os.environ.get("PYTHONHASHSEED") != HASH_SEED:
        # string hashing must be fixed before the interpreter starts
        env = dict(os.environ, PYTHONHASHSEED=HASH_SEED)
        env.setdefault("PERFBENCH_T0", repr(time.time()))
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__), *argv], env)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    t_start = float(os.environ.get("PERFBENCH_T0", time.time()))
    result = run(args, t_start)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
