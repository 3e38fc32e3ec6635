"""live_udp: open loop at a fixed rate from a separate generator process.

A PSI-heavy 64-program feed goes out as 7-packet datagrams to two
udp_ts sources; one query runs cc_state_stream, the other
section_reassembly_stream, both at processingTime='1 second' with a
foreachBatch sink that refreshes MonitorStats snapshots served by a
StateRestServer. A closed-loop REST reader polls one stats route
meanwhile.

Latency of datagram k: from its due time at the generator to the commit
of the micro-batch whose source endOffset covers k, taking the later of
the two queries.
"""

from __future__ import annotations

import bisect
import http.client
import json
import os
import socket
import subprocess
import sys
import threading
import time

import tsgen
from common import (
    calibrate,
    effective_conf,
    make_listener,
    median,
    pct,
    progress_dict,
    progress_end_time,
    progress_start_time,
    source_end_seq,
    spark_session,
)

STREAMS = 3  # 200 kbit/s golden-asset streams; why 3 and not 10: README
PKTS_PER_STREAM = 200_000 / (tsgen.PKT * 8)  # ~133 pkt/s
RATE_PPS = STREAMS * PKTS_PER_STREAM
LATENCY_LIMIT_MS = 60_000  # stated in BENCHMARK.json's live_udp "why"
IDLE_TIMEOUT_MS = 30_000
GEN_BEHIND_MS = 1_000  # a send this late invalidates the run
DRAIN_TIMEOUT_S = 100
REST_THINK_S = 0.02
STATS_ROUTE = "/cc_state_stats.json"


def _free_port() -> int:
    s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


class Sinks:
    """foreachBatch sinks: accumulate the queries' output (for the
    correctness check) and refresh the REST snapshots."""

    def __init__(self, spark, monitor) -> None:
        self.spark = spark
        self.monitor = monitor
        self.lock = threading.Lock()
        self.cc: dict[tuple, list[int]] = {}
        self.sections: dict[tuple, int] = {}

    def cc_batch(self, df, epoch_id: int) -> None:
        rows = df.collect()  # bounded: one row per live (stream, pid)
        with self.lock:
            for r in rows:
                acc = self.cc.setdefault((r.stream_id, r.pid), [0, 0])
                acc[0] += r.n_packets
                acc[1] += r.cc_errors
            snap = [(k[0], k[1], v[0], v[1]) for k, v in self.cc.items()]
        self.monitor.refresh(
            "cc_state",
            self.spark.createDataFrame(
                snap, "stream_id string, pid int, n_packets long, cc_errors long"
            ),
        )

    def section_batch(self, df, epoch_id: int) -> None:
        rows = df.select("pid", "table_id", "crc_ok").collect()
        with self.lock:
            for r in rows:
                key = (r.pid, r.table_id, r.crc_ok)
                self.sections[key] = self.sections.get(key, 0) + 1
            snap = [(k[0], k[1], k[2], v) for k, v in self.sections.items()]
        self.monitor.refresh(
            "psi_sections",
            self.spark.createDataFrame(
                snap, "pid int, table_id int, crc_ok boolean, n_sections long"
            ),
        )


class RestReader(threading.Thread):
    """One closed-loop client: GET, wait REST_THINK_S, repeat."""

    def __init__(self, port: int) -> None:
        super().__init__(daemon=True)
        self.port = port
        self.stop_evt = threading.Event()
        self.lat_ms: list[float] = []
        self.failed = 0

    def run(self) -> None:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=10)
        while not self.stop_evt.is_set():
            t = time.perf_counter()
            try:
                conn.request("GET", STATS_ROUTE)
                resp = conn.getresponse()
                body = resp.read()
                ok = resp.status == 200 and json.loads(body)["data"] is not None
            except (OSError, http.client.HTTPException, ValueError):
                ok = False
                conn.close()
            if ok:
                self.lat_ms.append(1000 * (time.perf_counter() - t))
            else:
                self.failed += 1
            self.stop_evt.wait(REST_THINK_S)
        conn.close()


def _start_queries(spark, ports, sinks):
    from streamprocessors_spark.sources import packets_from_binary_column
    from streamprocessors_spark.streaming.stateful import (
        cc_state_stream,
        section_reassembly_stream,
    )

    def packets(port: int):
        stream = spark.readStream.format("udp_ts").option("port", str(port)).load()
        return packets_from_binary_column(
            stream.selectExpr(
                "'live' as stream_id", "data as value", "arrival_seq * 7 as base"
            ),
            index_col="base",
        )

    outs = (
        ("cc_state", cc_state_stream(packets(ports[0])), sinks.cc_batch),
        (
            "psi_sections",
            section_reassembly_stream(packets(ports[1]), idle_timeout_ms=IDLE_TIMEOUT_MS),
            sinks.section_batch,
        ),
    )
    return [
        df.writeStream.queryName(name)
        .foreachBatch(fn)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(os.environ["TMPDIR"], f"ckpt_{name}"))
        .trigger(processingTime="1 second")
        .start()
        for name, df, fn in outs
    ]


def _progress(q, listener) -> list[dict]:
    if listener is not None:
        with listener.lock:
            ps = [p for p in listener.progress if p["id"] == str(q.id)]
    else:
        ps = [progress_dict(p) for p in q.recentProgress]
    return sorted(ps, key=lambda p: p["batchId"])


def _wait(cond, timeout: float, what: str) -> None:
    deadline = time.monotonic() + timeout
    while not cond():
        if time.monotonic() > deadline:
            raise TimeoutError(what)
        time.sleep(0.05)


def run(ctx) -> dict:
    with spark_session(ctx.work, "perfbench-live-udp") as spark:
        return run_live(ctx, spark)


def run_live(ctx, spark) -> dict:
    from streamprocessors_spark.sources.udp import register_udp_source
    from streamprocessors_spark.streaming.rest import MonitorStats, StateRestServer

    t_session = time.perf_counter()
    register_udp_source(spark)
    listener = make_listener() if ctx.trace else None
    if listener is not None:
        spark.streams.addListener(listener)
    monitor = MonitorStats()
    server = StateRestServer()
    monitor.routes(server, "cc_state", "psi_sections")
    http_port = server.start()
    sinks = Sinks(spark, monitor)
    ports = [_free_port(), _free_port()]
    reader = RestReader(http_port)
    gen = None
    queries = []
    tr = ctx.tracer
    try:
        t_start = time.time()
        queries = _start_queries(spark, ports, sinks)
        # batch 0 binds the sockets and pays state-store and Python-worker
        # start-up: it is set-up, reported as cold_s
        _wait(
            lambda: all(_progress(q, listener) for q in queries)
            and monitor.supplier("cc_state")() is not None,
            150,
            "first micro-batch",
        )
        cold = max(progress_end_time(_progress(q, listener)[0]) for q in queries) - t_start
        t_warm = time.perf_counter()
        gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "udpgen.py"),
             "--seed", str(ctx.seed), "--ports", ",".join(map(str, ports)),
             "--pps", repr(RATE_PPS), "--seconds", str(ctx.seconds)],
            stdout=subprocess.PIPE, text=True,
        )
        t0 = float(gen.stdout.readline().split()[1])
        t_inputs = time.perf_counter()  # the generator has built the feed
        setup_s = time.perf_counter() - ctx.t0 + (t0 - time.time())
        with tr.span("live_window", t0=t0):
            reader.start()
            out_text, _ = gen.communicate(timeout=ctx.seconds + 60)
            report = json.loads(out_text.strip().splitlines()[-1])
            sent = report["sent"]
            with tr.span("drain"):
                try:
                    _wait(
                        lambda: all(
                            _progress(q, listener)
                            and source_end_seq(_progress(q, listener)[-1]) >= sent
                            for q in queries
                        ),
                        DRAIN_TIMEOUT_S,
                        "drain",
                    )
                except TimeoutError:
                    pass  # uncovered datagrams count as lost below
            reader.stop_evt.set()
            reader.join(timeout=15)
        progress = [_progress(q, listener) for q in queries]
    finally:
        reader.stop_evt.set()
        for q in queries:
            q.stop()
        server.close()
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait(timeout=10)

    res = measure(ctx.seed, progress, report, sinks, reader, cold, setup_s)
    res["layers"].update(
        {
            "setup.session_s": t_session - ctx.t0,
            "setup.inputs_s": t_inputs - t_warm,
            "setup.warmup_s": t_warm - t_session,
        }
    )
    if ctx.trace:
        res["layers"]["trace.traced_s"] = res["e2e"]["latency_p50_ms"] / 1000
        res["context"]["calibration"] = calibrate(spark)
    ctx.conf = effective_conf(spark)
    return res


def measure(seed, progress, report, sinks, reader, cold: float, setup_s: float) -> dict:
    t0, interval, sent = report["t0"], report["interval_s"], report["sent"]
    ends, seqs = [], []
    for ps in progress:
        ends.append([progress_end_time(p) for p in ps])
        seqs.append([source_end_seq(p) for p in ps])

    lat_ms, lost, covered_at = [], 0, t0
    for k in range(sent):
        done = []
        for e, s in zip(ends, seqs):
            i = bisect.bisect_right(s, k)  # first batch whose endOffset > k
            done.append(e[i] if i < len(s) else None)
        if None in done:
            lost += 1
            continue
        lat_ms.append(1000 * (max(done) - (t0 + k * interval)))
        covered_at = max(done)
    late = sum(1 for v in lat_ms if v > LATENCY_LIMIT_MS)

    # micro-batches after batch 0 that started before the last window
    # datagram was committed, with or without data: the fixed per-batch
    # cost is paid either way
    in_window = [
        p for ps in progress for p in ps
        if p["batchId"] > 0 and progress_start_time(p) < covered_at
    ]
    # datagrams already sent but not yet consumed, at each batch commit
    backlog = []
    for ps in progress:
        for p in ps:
            e = progress_end_time(p)
            if e >= t0:
                sent_by = min(sent, int((e - t0) / interval) + 1)
                backlog.append(sent_by - source_end_seq(p))
    state = [
        sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))
        for p in in_window
    ]
    n_pkts = sent * tsgen.DGRAM_PKTS
    feed = tsgen.live_feed(seed, sent)
    errors = []
    got_cc = {k[1]: tuple(v) for k, v in sinks.cc.items() if k[0] == "live"}
    if got_cc != feed.pid_counts(n_pkts):
        errors.append("cc_state_stream packet/CC-error counts differ from the packets sent")
    n_sections = sum(sinks.sections.values())
    if n_sections != feed.sections_complete(n_pkts) or any(
        not k[2] for k in sinks.sections
    ):
        errors.append(
            f"sections: reassembled {n_sections}, sent {feed.sections_complete(n_pkts)}"
        )
    if report["late_max_ms"] > GEN_BEHIND_MS:
        errors.append(f"generator fell behind by {report['late_max_ms']:.0f} ms: run invalid")

    received = min(s[-1] if s else 0 for s in seqs)
    durations = [p["durationMs"] for p in in_window]
    ops = [op for p in in_window for op in p.get("stateOperators", [])]
    gets = reader.lat_ms
    return {
        "attempted": sent + len(gets) + reader.failed,
        "failed": lost + late + reader.failed,
        "errors": errors,
        "context": {
            "streams": STREAMS,
            "rate_pkts_per_s": round(RATE_PPS, 3),
            "latency_limit_ms": LATENCY_LIMIT_MS,
            "datagrams": sent,
            "latency_samples": len(lat_ms),
            "lost": lost,
            "late": late,
            "backlog": backlog,
            "batches": [
                [(p["batchId"], p["numInputRows"], p["durationMs"].get("triggerExecution"))
                 for p in ps] for ps in progress
            ],
            "generator": report,
        },
        "e2e": {
            "setup_s": setup_s,
            "cold_s": cold,
            "warm_s": median([d["triggerExecution"] for d in durations]) / 1000,
            "latency_p50_ms": median(lat_ms),
            "latency_p90_ms": pct(lat_ms, 90),
        },
        "layers": {
            "state.add_batch_ms": median([d.get("addBatch", 0) for d in durations]),
            "state.commit_ms": median([op.get("commitTimeMs", 0) for op in ops] or [0]),
            "state.rows_total": float(max(state or [0])),
            "state.memory_bytes": float(max(
                (sum(op.get("memoryUsedBytes", 0) for op in p.get("stateOperators", []))
                 for p in in_window), default=0)),
            "state.shuffle_partitions": float(max(
                (op.get("numShufflePartitions", 0) for op in ops), default=0)),
            "stream.batches": float(len(in_window)),
            "udp.latest_offset_ms": median([d.get("latestOffset", 0) for d in durations]),
            "udp.sent": float(sent),
            "udp.received": float(received),
            "udp.backlog_max": float(max(backlog or [0])),
            "gen.late_p99_ms": report["late_p99_ms"],
            "rest.get_p50_ms": median(gets) if gets else 0.0,
            "rest.get_p99_ms": pct(gets, 99) if gets else 0.0,
            "rest.gets": float(len(gets)),
            "rest.failed": float(reader.failed),
        },
    }
