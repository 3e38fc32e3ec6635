"""Benchmark entry point.

    python3 perfbench/run.py --workload capture_batch --seed 1 --seconds 10 --trace 0

Prints context lines, then as the LAST line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end set, with --trace 1 the per-layer set (see
perfbench/README.md). Exits non-zero, printing no result, when the
engine is not in the checkout.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

WORKLOADS = ("capture_batch", "live_udp", "query_mix")

E2E = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric (name -> unit); a layer a workload does not
    run reports 0."""
    import query_mix

    names = {
        "setup.session_s": "s", "setup.inputs_s": "s", "setup.warmup_s": "s",
        "parse.busy_s": "s", "parse.rows_in": "count", "parse.pkts": "count",
        "cc.busy_s": "s", "exchange.shuffle_bytes": "bytes", "exchange.skew": "ratio",
        "reassembly.busy_s": "s", "reassembly.sections": "count",
        "psi_decode.busy_s": "s", "join.busy_s": "s", "gc.busy_s": "s",
        "baseline.local1_pass_s": "s", "baseline.speedup": "ratio",
        "state.add_batch_ms": "ms", "state.commit_ms": "ms", "state.rows_total": "count",
        "state.memory_bytes": "bytes", "state.shuffle_partitions": "count",
        "stream.batches": "count",
        "udp.latest_offset_ms": "ms", "udp.sent": "count", "udp.received": "count",
        "udp.backlog_max": "count", "gen.late_p99_ms": "ms",
        "rest.get_p50_ms": "ms", "rest.get_p99_ms": "ms", "rest.gets": "count",
        "rest.failed": "count",
        "trace.traced_s": "s", "trace.untraced_s": "s", "trace.overhead_s": "s",
    }
    for q in query_mix.QUERIES:
        names.update({f"{q}.cold_s": "s", f"{q}.warm_s": "s", f"{q}.jobs": "count",
                      f"{q}.stages": "count", f"{q}.tasks": "count"})
    for q in query_mix.STREAM_QUERIES:
        names.update({f"{q}.runner.batches": "count",
                      f"{q}.runner.shuffle_partitions": "count"})
    return names


class Context:
    def __init__(self, args, work: str) -> None:
        self.t0 = T0
        self.work = work
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tracer = common.Tracer(self.trace, f"{args.workload}-{args.seed}")
        self.conf: dict = {}
        self.trace_errors: list[str] = []


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(common.ENGINE_DIR):
        print(f"engine package not found at {common.ENGINE_DIR}", file=sys.stderr)
        return 2

    work = common.prepare_run(args.workload)
    ctx = Context(args, work)
    try:
        mod = __import__(args.workload)
        res = mod.run(ctx)
    finally:
        common.cleanup(work)

    errors = res["errors"] + ctx.trace_errors
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": common.nproc(),
        "task_slots": common.task_slots(),
        "spark_conf": ctx.conf,
        **res["context"],
    }
    if errors:
        context["errors"] = errors
    print("context " + json.dumps(context, default=str))

    if ctx.trace:
        path = os.path.join(common.WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}.json")
        ctx.tracer.dump(path)
        print(f"spans written to {os.path.relpath(path, common.ROOT)}")
        wanted = per_layer_names()
        values = res["layers"]
    else:
        wanted = E2E
        values = res["e2e"]
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in wanted.items()
    }
    print(
        json.dumps(
            {
                "correct": not errors,
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
