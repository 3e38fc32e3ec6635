"""capture_batch: closed loop, one pass at a time over 8 seeded
64-program segment files.

Pass = read_ts_files -> pid_packet_stats (collected), and
read_ts_files -> reassemble_sections(psi_pids) (cached) -> pat/pmt/sdt
-> programs_summary (collected). The last timed pass's rows are checked
against the generator's spec after the clock stops.
"""

from __future__ import annotations

import os
import time

import tsgen
from common import (
    calibrate,
    effective_conf,
    median,
    pct,
    read_event_log,
    skew,
    spark_session,
)

MIN_PASSES = 2


def write_inputs(work: str, seed: int) -> tuple[str, list[tsgen.Mux], list[int]]:
    muxes = tsgen.capture_muxes(seed)
    d = os.path.join(work, "capture")
    os.makedirs(d)
    for i, m in enumerate(muxes):
        with open(os.path.join(d, f"mux{i}.ts"), "wb") as f:
            f.write(m.packets.tobytes())
    psi_pids = sorted(
        {tsgen.PID_PAT, tsgen.PID_SDT} | {p.pmt_pid for m in muxes for p in m.programs}
    )
    return d, muxes, psi_pids


def one_pass(spark, path: str, psi_pids: list[int]):
    from streamprocessors_spark.operators.demux import (
        pat_programs,
        pid_packet_stats,
        pmt_streams,
        programs_summary,
        reassemble_sections,
        sdt_services,
    )
    from streamprocessors_spark.sources.ts_source import read_ts_files

    packets = read_ts_files(spark, path)
    stats = pid_packet_stats(packets).collect()
    # the PAT/PMT/SDT branches share one reassembly, cached the way the
    # engine's own ts_programs_summary does
    sections = reassemble_sections(packets, psi_pids).cache()
    summary = programs_summary(
        pat_programs(sections), pmt_streams(sections), sdt_services(sections)
    ).collect()
    sections.unpersist()
    return stats, summary


def check(muxes: list[tsgen.Mux], stats, summary) -> list[str]:
    """Mismatches between the engine's rows and the generated spec."""
    errors = []
    by_file = {f"mux{i}.ts": m for i, m in enumerate(muxes)}
    got_counts: dict[str, dict] = {}
    for r in stats:
        got_counts.setdefault(os.path.basename(r.stream_id), {})[r.pid] = (
            r.n_packets, r.cc_errors
        )
    got_summary: dict[str, set] = {}
    for r in summary:
        got_summary.setdefault(os.path.basename(r.stream_id), set()).add(
            (r.program_number, r.reference_pid, r.service_name, r.n_streams, r.pcr_pid)
        )
    for name, m in by_file.items():
        if got_counts.get(name) != m.pid_counts():
            errors.append(f"{name}: per-PID packet/CC-error counts differ")
        if got_summary.get(name) != m.summary_rows():
            errors.append(f"{name}: programs_summary differs")
    extra = set(got_counts) - set(by_file)
    if extra:
        errors.append(f"unexpected streams {sorted(extra)}")
    return errors


def run(ctx) -> dict:
    with spark_session(ctx.work, "perfbench-capture", event_log=ctx.trace) as spark:
        out, path, psi_pids = measure(ctx, spark)
    if ctx.trace:
        warm = out["e2e"]["warm_s"]
        events = read_event_log(os.path.join(ctx.work, "events"))
        out["layers"].update(layer_metrics(events))
        out["layers"]["baseline.local1_pass_s"] = single_thread_pass(ctx, path, psi_pids)
        out["layers"]["baseline.speedup"] = out["layers"]["baseline.local1_pass_s"] / warm
    return out


def measure(ctx, spark):
    t_session = time.perf_counter()
    path, muxes, psi_pids = write_inputs(ctx.work, ctx.seed)
    n_pkts = sum(len(m.pids) for m in muxes)
    t_inputs = time.perf_counter()

    # warm-up: the first pass pays JIT and Python-worker start-up (cold_s)
    t = time.perf_counter()
    one_pass(spark, path, psi_pids)
    t_warm = time.perf_counter()
    cold = t_warm - t
    setup_s = t_warm - ctx.t0

    passes = []
    deadline = t_warm + ctx.seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
        t = time.perf_counter()
        stats, summary = one_pass(spark, path, psi_pids)
        passes.append(time.perf_counter() - t)

    errors = check(muxes, stats, summary)
    warm = median(passes)
    out = {
        "attempted": len(passes),
        "failed": len(passes) if errors else 0,
        "errors": errors,
        "context": {
            "packets_per_pass": n_pkts,
            "bytes_per_pass": n_pkts * tsgen.PKT,
            "pkts_per_s": round(n_pkts / warm, 1),
            "mbit_per_s": round(n_pkts / warm * tsgen.PKT * 8 / 1e6, 3),
            "design_point_mbit_per_s": 12.8,
            "passes": [round(p, 4) for p in passes],
        },
        "e2e": {
            "setup_s": setup_s,
            "cold_s": cold,
            "warm_s": warm,
            "latency_p50_ms": 1000 * warm,
            "latency_p90_ms": 1000 * pct(passes, 90),
        },
        "layers": {
            "setup.session_s": t_session - ctx.t0,
            "setup.inputs_s": t_inputs - t_session,
            "setup.warmup_s": t_warm - t_inputs,
        },
    }
    if ctx.trace:
        out["layers"].update(traced_pass(ctx, spark, path, psi_pids, muxes, warm))
        out["context"]["calibration"] = calibrate(spark)
    ctx.conf = effective_conf(spark)
    return out, path, psi_pids


def traced_pass(ctx, spark, path, psi_pids, muxes, untraced_s: float) -> dict:
    """One pass split at the layer boundaries. Each layer's input is
    materialized first, so a layer's job group holds only its own work."""
    from pyspark import StorageLevel
    from streamprocessors_spark.operators.demux import (
        pat_programs,
        pid_packet_stats,
        pmt_streams,
        programs_summary,
        reassemble_sections,
        sdt_services,
    )
    from streamprocessors_spark.sources.ts_source import read_ts_files

    tr = ctx.tracer
    tr.spark = spark
    mem = StorageLevel.MEMORY_AND_DISK
    t = time.perf_counter()
    with tr.span("capture_pass"):
        with tr.span("parse", group="parse", module="sources.ts_source"):
            packets = read_ts_files(spark, path).persist(mem)
            n = packets.count()
        with tr.span("cc", group="cc", module="operators.demux.pid_packet_stats"):
            stats = pid_packet_stats(packets).collect()
        with tr.span("reassembly", group="reassembly", module="operators.demux"):
            sections = reassemble_sections(packets, psi_pids).persist(mem)
            n_sections = sections.count()
        with tr.span("psi_decode", group="psi_decode", module="codec.psi"):
            pat = pat_programs(sections).persist(mem)
            pmt = pmt_streams(sections).persist(mem)
            sdt = sdt_services(sections).persist(mem)
            for df in (pat, pmt, sdt):
                df.count()
        with tr.span("join", group="join", module="operators.demux.programs_summary"):
            summary = programs_summary(pat, pmt, sdt).collect()
    traced_s = time.perf_counter() - t
    for df in (packets, sections, pat, pmt, sdt):
        df.unpersist()
    ctx.trace_errors = check(muxes, stats, summary)
    return {
        "parse.rows_in": float(len(muxes)),
        "parse.pkts": float(n),
        "reassembly.sections": float(n_sections),
        "trace.traced_s": traced_s,
        "trace.untraced_s": untraced_s,
        "trace.overhead_s": traced_s - untraced_s,
    }


def layer_metrics(events: dict) -> dict:
    def busy(g: str) -> float:
        return events.get(g, {}).get("run_ms", 0) / 1000.0

    cc = events.get("cc", {})
    return {
        "parse.busy_s": busy("parse"),
        "cc.busy_s": busy("cc"),
        "exchange.shuffle_bytes": float(cc.get("shuffle_write", 0)),
        "exchange.skew": skew(cc.get("stage_reads", {})),
        "reassembly.busy_s": busy("reassembly"),
        "psi_decode.busy_s": busy("psi_decode"),
        "join.busy_s": busy("join"),
        "gc.busy_s": sum(e["gc_ms"] for e in events.values()) / 1000.0,
    }


def single_thread_pass(ctx, path: str, psi_pids: list[int]) -> float:
    """The same pass on local[1]: the single-threaded baseline."""
    with spark_session(ctx.work, "perfbench-capture-1t", master="local[1]") as spark:
        one_pass(spark, path, psi_pids)
        t = time.perf_counter()
        one_pass(spark, path, psi_pids)
        return time.perf_counter() - t
