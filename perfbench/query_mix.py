"""query_mix: closed loop, sequential registered queries over a fixed
seeded documents corpus (the --seed does not apply).

One cold pass in a session whose durable-store directory is fresh, then
warm passes until --seconds have elapsed (at least two). The last warm
pass's rows are hash-compared with each query's DuckDB oracle through
tools/compare.py after the clock stops.
"""

from __future__ import annotations

import os
import time

import corpus
from common import (
    calibrate,
    effective_conf,
    median,
    pct,
    read_event_log,
    spark_session,
)

# lang_id_confusion_matrix: a batch plan over the memoized NB model;
# stream_text_entropy runs through streaming.runner (availableNow).
QUERIES = ("lang_id_confusion_matrix", "stream_text_entropy")
STREAM_QUERIES = ("stream_text_entropy",)
N_DOCS = 300
CORPUS_SEED = 20_261_017
MIN_WARM_PASSES = 2


def run_pass(spark, registry, sf_dir: str, tracer, label: str) -> tuple[dict, dict]:
    times, results = {}, {}
    for q in QUERIES:
        with tracer.span(q, group=f"{q}|{label}", pass_=label):
            t = time.perf_counter()
            df = registry[q].fn(spark, sf_dir)
            rows = df.collect()
            times[q] = time.perf_counter() - t
        results[q] = (df.columns, [tuple(r) for r in rows])
    return times, results


def check(registry, sf_dir: str, results: dict) -> list[str]:
    from tools.compare import duckdb_conn, value_hash

    con = duckdb_conn(sf_dir)
    errors = []
    for q, (cols, rows) in results.items():
        res = con.execute(registry[q].oracle)
        o_cols = [d[0] for d in res.description]
        o_rows = res.fetchall()
        if sorted(cols) != sorted(o_cols) or len(rows) != len(o_rows):
            errors.append(f"{q}: schema or row count differs from the oracle")
        elif value_hash(rows, cols) != value_hash(o_rows, o_cols):
            errors.append(f"{q}: row hash differs from the oracle")
    con.close()
    return errors


def run(ctx) -> dict:
    from streamprocessors_spark import plans

    plans.load_all()
    with spark_session(ctx.work, "perfbench-query-mix", event_log=ctx.trace) as spark:
        out, cold, warm, untraced_s = measure(ctx, spark, plans.REGISTRY)
    if ctx.trace:
        events = read_event_log(os.path.join(ctx.work, "events"), ctx.tracer.spans)
        out["layers"].update(layer_metrics(events, cold, warm))
        traced_s = out["e2e"]["warm_s"]
        out["layers"].update({
            "trace.traced_s": traced_s,
            "trace.untraced_s": untraced_s,
            "trace.overhead_s": traced_s - untraced_s,
        })
        out["context"]["counts_repeat"] = counts_repeat(events, len(warm))
    return out


def measure(ctx, spark, registry):
    t_session = time.perf_counter()
    sf_dir = os.path.join(ctx.work, "corpus")
    corpus.write_documents(sf_dir, N_DOCS, CORPUS_SEED)
    t_inputs = time.perf_counter()
    tr = ctx.tracer
    tr.spark = spark
    setup_s = t_inputs - ctx.t0

    with tr.span("cold_pass"):
        cold, _ = run_pass(spark, registry, sf_dir, tr, "cold")
    t_warm = time.perf_counter()
    warm: list[dict] = []
    while len(warm) < MIN_WARM_PASSES or time.perf_counter() - t_inputs < ctx.seconds:
        with tr.span("warm_pass"):
            times, results = run_pass(
                spark, registry, sf_dir, tr, f"warm{len(warm)}"
            )
        warm.append(times)

    untraced_s = None
    if ctx.trace:
        # one more warm pass with no job groups: tracing overhead base
        tr.enabled = False
        t = time.perf_counter()
        run_pass(spark, registry, sf_dir, tr, "untraced")
        untraced_s = time.perf_counter() - t
        tr.enabled = True
    errors = check(registry, sf_dir, results)
    totals = [sum(p.values()) for p in warm]
    calls = [t for p in warm for t in p.values()]
    out = {
        "attempted": len(calls) + len(QUERIES),
        "failed": len(errors),
        "errors": errors,
        "context": {
            "queries": QUERIES,
            "n_docs": N_DOCS,
            "cold_by_query": {q: round(v, 4) for q, v in cold.items()},
            "warm_passes": [{q: round(v, 4) for q, v in p.items()} for p in warm],
            "warm_window_s": round(time.perf_counter() - t_warm, 3),
        },
        "e2e": {
            "setup_s": setup_s,
            "cold_s": sum(cold.values()),
            "warm_s": median(totals),
            "latency_p50_ms": 1000 * median(calls),
            "latency_p90_ms": 1000 * pct(calls, 90),
        },
        "layers": {
            "setup.session_s": t_session - ctx.t0,
            "setup.inputs_s": t_inputs - t_session,
            "setup.warmup_s": 0.0,
        },
    }
    if ctx.trace:
        out["context"]["calibration"] = calibrate(spark)
    ctx.conf = effective_conf(spark)
    return out, cold, warm, untraced_s


def layer_metrics(events: dict, cold: dict, warm: list[dict]) -> dict:
    last = f"warm{len(warm) - 1}"
    out = {}
    for q in QUERIES:
        g = events.get(f"{q}|{last}", {})
        out[f"{q}.cold_s"] = cold[q]
        out[f"{q}.warm_s"] = median([p[q] for p in warm])
        out[f"{q}.jobs"] = float(g.get("jobs", 0))
        out[f"{q}.stages"] = float(g.get("stages", 0))
        out[f"{q}.tasks"] = float(g.get("tasks", 0))
        if q in STREAM_QUERIES:
            out[f"{q}.runner.batches"] = float(len(g.get("stream_batches", ())))
            out[f"{q}.runner.shuffle_partitions"] = float(g.get("stream_partitions", 0))
    return out


def counts_repeat(events: dict, n_warm: int) -> dict:
    """Per query: do jobs/stages/tasks repeat exactly across warm passes?"""
    out = {}
    for q in QUERIES:
        seen = [
            tuple(events.get(f"{q}|warm{i}", {}).get(k, 0) for k in ("jobs", "stages", "tasks"))
            for i in range(n_warm)
        ]
        out[q] = {"per_pass": seen, "repeats": len(set(seen)) == 1}
    return out
