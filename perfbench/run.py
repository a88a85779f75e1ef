#!/usr/bin/env python3
"""Benchmark of the ETL engine: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads: ``backfill``, ``analytics``
(see perfbench/README.md). The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits non-zero, printing no result, when the
engine sources are not next to this directory or a workload fails to run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("backfill", "analytics")

#: name -> unit; every workload reports every one of these
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
}

LAYERS = ("bench", "pipeline", "sources", "lake", "views", "verify",
          "streaming", "analytics")


def per_layer_units() -> dict[str, str]:
    from analyticsbench import SPECS

    units = {
        "session.start_s": "s",
        "session.peak_rss_mb": "MB",
        "host.calibration_s": "s",
        "host.calibration_mem_s": "s",
        "trace.overhead_ratio": "ratio",
        "op.jobs": "count", "op.stages": "count", "op.tasks": "count",
        "op.executor_run_ms": "ms", "op.executor_cpu_ms": "ms",
        "op.input_bytes": "bytes", "op.output_bytes": "bytes",
        "op.shuffle_write_bytes": "bytes",
        "op.job_busy_share": "ratio",
        **{f"self_share.{layer}": "ratio" for layer in LAYERS},
        "pipeline.chunks": "count",
        "pipeline.prefetch_share": "ratio",
        "pipeline.prefetch_wait_share": "ratio",
        "rpc.throughput_to_backfill_ratio": "ratio",
        "rpc.block_calls_per_block": "ratio",
        "rpc.receipt_calls_per_matched_tx": "ratio",
        "rpc.connections": "count",
        "rpc.node_busy_share": "ratio",
        "lake.write_all_calls": "count",
        "lake.write_all_share": "ratio",
        "lake.files": "count",
        "lake.bytes": "bytes",
        "lake.bytes_per_input_byte": "ratio",
        "lake.reorgs_handled": "count",
        "lake.detect_reorgs_share": "ratio",
        "lake.truncate_share": "ratio",
        "views.jobs_per_query": "count",
        "views.files_read_per_query": "count",
        "views.rows_scanned_per_row_returned": "ratio",
        "views.scan_to_point_ratio": "ratio",
        "tail.freshness_p50_periods": "ratio",
        "tail.freshness_p90_periods": "ratio",
        "tail.batches": "count",
        "tail.jobs_per_batch": "count",
        "tail.trigger_overhead_share": "ratio",
        "tail.write_all_share": "ratio",
        "tail.backlog_max_drops": "count",
        "tail.drain_blocks_per_s": "1/s",
        "tail.offered_to_drain_ratio": "ratio",
        "tail.generator_late_share": "ratio",
    }
    for spec in SPECS:
        short = spec.split("_", 1)[0]
        for k in ("jobs", "stages", "tasks"):
            units[f"analytics.{short}.{k}"] = "count"
        units[f"analytics.{short}.share"] = "ratio"
    return units


def make_workload(name: str, spark, seed: int, tracer, trace: bool):
    if name == "backfill":
        from backfillbench import BackfillWorkload

        return BackfillWorkload(spark, seed, tracer, daemon=trace)
    from analyticsbench import AnalyticsWorkload

    return AnalyticsWorkload(spark, seed, tracer)


def run(name: str, seed: int, seconds: float, trace: bool) -> dict:
    import harness as H

    t0 = time.perf_counter()
    spark, start_s = H.start_session()
    H.log("session started")
    tracer = H.Tracer(name, enabled=False)
    wl = make_workload(name, spark, seed, tracer, trace)
    try:
        wl.setup()
        setup_s = time.perf_counter() - t0
        H.log("set-up done")

        # a traced run reports only per-layer figures; of its untraced
        # window it needs only the throughput, for trace.overhead_ratio
        w = wl.measure(seconds, throughput_only=trace)
        e2e = wl.summarize(w)
        H.log("measured window done")
        if trace:
            tracer.enabled = True
            with tracer.span("bench.window") as root:
                w = wl.measure(seconds)
            traced = wl.summarize(w)
            H.log(f"throughput untraced {e2e['throughput_per_s']:.4g}, "
                  f"traced {traced['throughput_per_s']:.4g} /s")
            jobs = H.spark_jobs(spark)
            [rs] = [s for s in tracer.spans if s["id"] == root.sid]
            window = rs["end"] - rs["start"]
            layer = {f"self_share.{k}": 0.0 for k in LAYERS}
            layer.update(wl.layer_metrics(w, jobs))
            for k, v in tracer.self_seconds().items():
                layer[f"self_share.{k}"] = v / window
            layer["session.start_s"] = start_s
            layer["trace.overhead_ratio"] = (
                e2e["throughput_per_s"] / traced["throughput_per_s"])
            layer.update(H.calibrate(spark))
            tracer.write(os.path.join(H.WORK, "spans.jsonl"))
            H.log("traced window done")
        wl.check(w)
        if trace:
            layer["session.peak_rss_mb"] = H.peak_rss_mb(spark)
        H.log("outputs checked")
    finally:
        wl.close()
        H.stop_session(spark)

    if wl.problems:
        for p in wl.problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
    if trace:
        units = per_layer_units()
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
    else:
        vals = {**e2e, "setup_s": setup_s}
        metrics = {k: {"value": float(vals[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    return {
        "correct": wl.failed == 0 and not wl.problems,
        "attempted": int(wl.attempted),
        "failed": int(wl.failed),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "core_etl_spark", "__init__.py")):
        print("perfbench: core_etl_spark/ not found beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import harness

    harness.pin_environment()
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:  # noqa: BLE001 — report and fail without a result
        traceback.print_exc()
        return 1
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
