"""Decompose the availableNow micro-batch floor and its sensitivity to the
streaming shuffle-partition count (one state-store instance per partition;
AQE is off in streaming plans, so the count is paid in full at any SF).

Times, warm (min of 3 after one warm-up), under ``get_spark()``:
 - the schema probe a stream_* call pays: spark.read.parquet(path).schema
 - a trivial stream (readStream -> select -> memory sink), with and without
   that probe, and its per-batch phase durations
 - a foreachBatch stream that counts each batch
 - a stateless aggregation (complete mode) and a stateful
   applyInPandasWithState stream at each count in PARTS
 - registered stream_* queries with the session's partition count latched
   at each value in QUERY_PARTS (the runner's ceiling, and the floor of
   the compute-bound state machines)
 - keyed state on a fixed datagram feed (FEED_STREAMS streams of
   FEED_DATAGRAMS 7-packet datagrams of the default fixture mux, one
   micro-batch): the addBatch of cc_state_stream, section_reassembly_stream
   and ``floor`` — the counting applyInPandasWithState above, grouped on
   the same key shards: the framework cost those two operators sit on

Every stream goes through ``streaming.runner`` (``_stage_dir`` and
``run_available_now``), so the probe measures the engine's own path.

Usage: python tools/stream_probe.py <sf_dir>
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PARTS = (32, 8, 4, 2, 1)
QUERY_PARTS = (32, 2)
QUERIES = (
    "stream_text_entropy",
    "stream_dedup_minhash",
    "stream_approx_distinct_hll",
)
FEED_STREAMS = 6
FEED_DATAGRAMS = 200


def _min3(fn) -> float:
    fn()
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return round(min(ts), 3)


def main(sf_dir: str) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from streamprocessors_spark import plans
    from streamprocessors_spark.codec.fixtures import build_ts
    from streamprocessors_spark.session import get_spark
    from streamprocessors_spark.sources import packets_from_binary_column
    from streamprocessors_spark.streaming import runner as R
    from streamprocessors_spark.streaming import stateful as S
    from streamprocessors_spark.streaming.metrics import ProgressCollector

    spark = get_spark(
        app_name="stream-probe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.range(1_000_000).selectExpr("sum(id*2)").collect()
    path = os.path.join(sf_dir, "documents.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema

    def source(probe: bool = False):
        sch = spark.read.parquet(path).schema if probe else schema
        return spark.readStream.schema(sch).parquet(R._stage_dir(path))

    def trivial(probe: bool = False):
        R.run_available_now(source(probe).select("doc_id")).count()

    def feb_count():
        q = (
            source()
            .select("doc_id")
            .writeStream.foreachBatch(lambda bdf, _bid: bdf.count())
            .option("checkpointLocation", tempfile.mkdtemp(prefix="spgraft_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def agg(parts: int):
        R.run_available_now(
            source().groupBy("source").count(),
            output_mode="complete",
            shuffle_partitions=parts,
        ).count()

    def count_rows(key, pdfs, state):
        import pandas as pd

        n = sum(len(pdf) for pdf in pdfs)
        state.update((n,))
        yield pd.DataFrame({"g": [key[0]], "n": [n]})

    def stateful(parts: int):
        g = (
            source()
            .select((F.col("doc_id") % 32).cast("long").alias("g"))
            .groupBy("g")
            .applyInPandasWithState(
                count_rows, "g long, n long", "n long", "append",
                GroupStateTimeout.NoTimeout,
            )
        )
        R.run_available_now(g, shuffle_partitions=parts).count()

    results = {
        "schema_probe": _min3(lambda: spark.read.parquet(path).schema),
        "trivial_stream_with_probe": _min3(lambda: trivial(probe=True)),
        "trivial_stream_no_probe": _min3(trivial),
        "foreachbatch_count_stream": _min3(feb_count),
    }

    # per-batch phases of one trivial run (listener events arrive on the
    # bus thread, so give them a moment after the query ends)
    collector = ProgressCollector()
    spark.streams.addListener(collector)
    trivial()
    time.sleep(1.0)
    spark.streams.removeListener(collector)
    # row[7] is the batch's durationMs phase map (metrics.PROGRESS_SCHEMA)
    results["trivial_batches_duration_ms"] = [row[7] for row in collector.snapshot()]

    for parts in PARTS:
        results[f"agg_p{parts}"] = _min3(lambda: agg(parts))
        results[f"stateful_p{parts}"] = _min3(lambda: stateful(parts))

    # keyed state: one micro-batch of the fixed datagram feed per run
    dgram = 7 * 188
    mux = (build_ts() * 2)[: FEED_DATAGRAMS * dgram]
    feed = os.path.join(tempfile.mkdtemp(prefix="spgraft_feed_"), "feed")
    feed_schema = "stream_id string, value binary, base bigint"
    spark.createDataFrame(
        [(f"s{k}", mux[i : i + dgram], i // 188)
         for k in range(FEED_STREAMS) for i in range(0, len(mux), dgram)],
        feed_schema,
    ).write.parquet(feed)

    def floor(pkts):
        return pkts.withColumn("shard", S.key_shard()).groupBy("shard").applyInPandasWithState(
            count_rows, "g int, n long", "n long", "append", GroupStateTimeout.NoTimeout
        )

    spark.streams.addListener(collector)
    for op in (S.cc_state_stream, S.section_reassembly_stream, floor):
        ms = []
        for _ in range(4):  # a warm-up run, then min of 3
            seen = len(collector.snapshot())
            raw = spark.readStream.schema(feed_schema).parquet(feed)
            R.run_available_now(op(packets_from_binary_column(raw, index_col="base"))).count()
            time.sleep(1.0)  # listener events arrive on the bus thread
            ms.append(max(r[7]["addBatch"] for r in collector.snapshot()[seen:]))
        results[f"{op.__name__}_add_batch_ms"] = min(ms[1:])
    spark.streams.removeListener(collector)

    plans.load_all()
    for parts in QUERY_PARTS:
        for name in QUERIES:
            fn = plans.REGISTRY[name].fn

            def run_query():
                with R._stream_conf(spark, parts):
                    fn(spark, sf_dir).count()

            results[f"{name}_p{parts}"] = _min3(run_query)
    print(results)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
