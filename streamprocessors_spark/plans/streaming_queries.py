"""Structured-Streaming queries in driver-checkable form (SURVEY §7.2 m5).

Each query builds a real streaming pipeline (file-stream source -> keyed
state / windowed aggregation -> memory sink), executes it with an
``availableNow`` trigger, and returns the sink as a plain DataFrame — so
streaming operators pass through the same DuckDB-oracle hash gate as batch
ones. Each oracle is the *batch* semantics of the same computation: the
hash match IS the batch/streaming parity proof (SURVEY §7.3 hard part (d)).

Scale notes: state per key is O(bytes of one partial section) or O(one
counter); the stream shuffles once on the state key (stream_id/pid — the
reference's per-PID fan-out key, J1); window aggregates carry watermarks so
state expires at 100 TB/day ingest rates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamprocessors_spark.functions import money as M
from streamprocessors_spark.plans.registry import register
from streamprocessors_spark.session import read_table
from streamprocessors_spark.streaming.runner import (
    run_available_now,
    run_available_now_many,
    stream_documents,
    stream_events,
)


@register(
    "stream_window_event_rate",
    oracle=f"""
    SELECT date_trunc('minute', ts)        AS window_start,
           event_type,
           count(*)                        AS n_events,
           {M.money_sum("value")}          AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="A1/A3 as Structured Streaming: watermarked 1-minute tumbling "
    "window over the event stream (the reference's 1 s bitrate/stats "
    "windows, stats.c:57-68, scaled to the fixture's time axis). Complete "
    "output mode so the availableNow run emits every window; the oracle is "
    "the batch aggregation — hash equality proves parity.",
    tags=("streaming", "window"),
)
def stream_window_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(M.money_sum("value")).alias("sum_value"),
        )
    )
    sink = run_available_now(agg, output_mode="complete")
    return sink.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


def _event_packet_stream(ev: DataFrame) -> DataFrame:
    """Per-event TS packet (same JVM encode as ts_demux_pid_stats) plus
    header fields extracted back out with pure bit-expressions (P2,
    ts.h:51-74) — no Python before the stateful operator."""
    from streamprocessors_spark.plans.ts_pipeline import _event_packet_expr

    pkt = _event_packet_expr()
    byte = lambda pos: F.conv(F.hex(F.expr(f"substring(pkt, {pos}, 1)")), 16, 10).cast("int")  # noqa: E731
    return (
        ev.select("user_id", "event_id", pkt.alias("pkt"))
        .withColumn("stream_id", F.col("user_id").cast("string"))
        .withColumn("pkt_index", F.col("event_id"))
        .withColumn("pid", ((byte(2) * 256 + byte(3)) % 8192).cast("int"))
        .withColumn("cc", (byte(4) % 16).cast("int"))
        .withColumn("afc", ((byte(4) / 16).cast("int") % 4).cast("int"))
        .withColumn(
            "discontinuity",
            F.when((F.col("afc").bitwiseAND(2) != 0), (byte(6) / 128).cast("int"))
            .otherwise(F.lit(0))
            .cast("int"),
        )
    )


@register(
    "stream_cc_state",
    oracle="""
    WITH seq AS (
      SELECT user_id, CAST(event_id % 16 AS INT) AS cc,
             lag(CAST(event_id % 16 AS INT))
               OVER (PARTITION BY user_id ORDER BY event_id) AS prev
      FROM events
    )
    SELECT user_id,
           32 + user_id % 8000 AS pid,
           count(*)            AS n_packets,
           CAST(sum(CASE WHEN prev IS NOT NULL AND cc != (prev + 1) % 16
                         THEN 1 ELSE 0 END) AS BIGINT) AS cc_errors
    FROM seq GROUP BY 1, 2
    """,
    doc="P6 continuity check as keyed streaming state "
    "(applyInPandasWithState over (stream, pid); last_cc persists across "
    "micro-batches). Emissions are per-batch deltas; the returned result "
    "sums them, and the oracle is the batch lag-window formulation — "
    "identical totals regardless of batch boundaries (T1 semantics: "
    "violations flagged, never reordered).",
    tags=("streaming", "state"),
)
def stream_cc_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.streaming.stateful import cc_state_stream

    pkts = _event_packet_stream(stream_events(spark, sf_dir))
    sink = run_available_now(cc_state_stream(pkts))
    return sink.groupBy("stream_id", "pid").agg(
        F.sum("n_packets").alias("n_packets"),
        F.sum("cc_errors").alias("cc_errors"),
    ).select(
        F.col("stream_id").cast("bigint").alias("user_id"),
        F.col("pid").cast("bigint").alias("pid"),
        "n_packets",
        "cc_errors",
    )


@register(
    "stream_section_reassembly",
    oracle="""
    SELECT doc_id,
           doc_id % 65536 AS table_id_ext,
           CAST(doc_id % 32 AS INT) AS version,
           strlen(coalesce(substr(text, 1, 250), '')) + 9 AS section_length,
           TRUE AS crc_ok,
           md5(coalesce(substr(text, 1, 250), '')) AS payload_md5
    FROM documents
    """,
    doc="R1/R2 PSI section reassembly as keyed streaming state: the partial-"
    "section buffer rides the state store across micro-batches "
    "(streaming/stateful.py; psi_dec.c:238-499 semantics). Same oracle as "
    "the batch ts_section_reassembly — the hash match is the byte-exact "
    "batch/streaming parity proof.",
    tags=("streaming", "state", "ts"),
)
def stream_section_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.operators.encode import document_section_streams
    from streamprocessors_spark.sources import packets_from_binary_column
    from streamprocessors_spark.streaming.stateful import section_reassembly_stream

    docs = stream_documents(spark, sf_dir)
    streams = document_section_streams(docs)
    pkts = packets_from_binary_column(streams)
    sink = run_available_now(section_reassembly_stream(pkts))
    return sink.select(
        F.col("stream_id").cast("bigint").alias("doc_id"),
        F.col("table_id_ext").cast("bigint").alias("table_id_ext"),
        "version",
        F.col("section_length").cast("bigint").alias("section_length"),
        "crc_ok",
        F.md5(F.expr("substring(section_bytes, 9, section_length - 9)")).alias(
            "payload_md5"
        ),
    )


@register(
    "config_upsert_replay",
    oracle="""
    WITH last AS (
      SELECT user_id                    AS sys_id,
             max(event_id)              AS seq,
             max_by(event_type, event_id) AS et,
             max_by(value, event_id)      AS v
      FROM events GROUP BY 1
    )
    SELECT sys_id, seq,
           CASE WHEN seq % 2 = 0
                THEN '{"tag":"' || et || '","cbr":"' || CAST(FLOOR(v) AS INT) || '"}'
                ELSE 'tag=' || et || '&cbr=' || CAST(FLOOR(v) AS INT)
           END                                   AS doc,
           seq % 2 = 0                           AS is_json,
           et                                    AS tag,
           CAST(CAST(FLOOR(v) AS INT) AS VARCHAR) AS cbr
    FROM last
    """,
    doc="Control plane end-to-end (SURVEY §3.2 / milestone 6): a settings "
    "stream (alternating JSON and query-string docs, the reference's dual "
    "PUT formats P9, mpeg2_sp.c:716) is foreachBatch-merged into the "
    "parquet ConfigStore keyed by sys_id with last-writer-wins (S5 "
    "replace+verify, dbdriver_apps_procs_docs.c:104-350); the final store "
    "is then decoded by the dual-format normalizer. Oracle: last doc per "
    "key reconstructed relationally.",
    tags=("streaming", "control"),
)
def config_upsert_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from streamprocessors_spark.streaming.control import (
        ConfigStore,
        normalize_settings,
    )

    ev = stream_events(spark, sf_dir)
    doc = (
        "CASE WHEN event_id % 2 = 0 "
        "THEN '{\"tag\":\"' || event_type || '\",\"cbr\":\"' || CAST(FLOOR(value) AS INT) || '\"}' "
        "ELSE 'tag=' || event_type || '&cbr=' || CAST(FLOOR(value) AS INT) END"
    )
    docs = ev.selectExpr(
        "user_id as sys_id", "event_id as seq", f"{doc} as doc"
    )
    store = ConfigStore(spark)
    q = (
        docs.writeStream.foreachBatch(store.foreach_batch())
        .option("checkpointLocation", tempfile.mkdtemp(prefix="spgraft_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return normalize_settings(store.read()).select(
        "sys_id", "seq", "doc", "is_json", "tag", "cbr"
    )


@register(
    "stream_latest_version",
    oracle="""
    SELECT user_id, event_id, event_type FROM (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="R7 current-table register as a streaming aggregation: max_by over "
    "(ts, event_id) per key in complete output mode — the latest-version "
    "'register' the reference keeps behind a mutex (psi_proc.c:362-390) is "
    "just the running aggregate of the stream. Shares semantics (and hash) "
    "with the batch latest_version_per_key window form.",
    tags=("streaming", "state"),
)
def stream_latest_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    agg = ev.groupBy("user_id").agg(
        F.max_by("event_id", F.struct("ts", "event_id")).alias("event_id"),
        F.max_by("event_type", F.struct("ts", "event_id")).alias("event_type"),
    )
    return run_available_now(agg, output_mode="complete")


@register(
    "stream_sessionize",
    oracle="""
    WITH s AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    t AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    )
    SELECT user_id,
           min(ts)                         AS session_start,
           max(ts) + INTERVAL 30 MINUTE    AS session_end,
           count(*)                        AS n_events
    FROM t GROUP BY user_id, sid
    """,
    doc="Sessionization as Structured Streaming: session_window(ts, 30 min) "
    "merges per-user events into dynamic gap-bounded sessions in the "
    "engine's session-state store — the streaming twin of "
    "sessionize_events. session_window's end is last-event + gap (the "
    "close time), so the batch oracle emits max(ts)+30min; hash equality "
    "proves the gap-merge semantics match the gap-and-island formulation.",
    tags=("streaming", "session"),
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    sink = run_available_now(agg, output_mode="complete")
    return sink.select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n_events",
    )


@register(
    "stream_stream_join_attribution",
    oracle="""
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id  AS user_id,
           c.ts       AS click_ts,
           p.ts       AS purchase_ts
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 10 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
    doc="Stream-stream interval join (purchase attribution): two watermarked "
    "event streams joined on user_id with a 10-minute event-time range — "
    "Structured Streaming buffers both sides in state and expires rows "
    "once the watermark passes the interval bound, so state is O(window), "
    "not O(stream). The oracle is the identical batch join; hash equality "
    "proves no row is dropped or duplicated by state expiry.",
    tags=("streaming", "join"),
)
def stream_stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    purchases = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "30 minutes")
    )
    j = clicks.join(
        purchases,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")
        ),
    )
    sink = run_available_now(j, output_mode="append")
    return sink.select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        "click_ts",
        "purchase_ts",
    )


@register(
    "stream_dedup_exact",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="Streaming exact dedup (T4/R7 family): dropDuplicates over the "
    "event stream keeps the first arrival per (user_id, event_type) in "
    "the state store. Only the key columns are emitted because WHICH row "
    "arrives first depends on file order — the key set itself is "
    "deterministic and equals batch DISTINCT.",
    tags=("streaming", "dedup"),
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    d = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    sink = run_available_now(d, output_mode="append")
    return sink.select("user_id", "event_type")


@register(
    "stream_es_restamp",
    oracle="""
    WITH f AS (
      SELECT event_id,
             ((epoch_us(ts) * 9) // 100) % 8589934592 AS pts_in,
             user_id % 200  AS timeout_in,
             event_id % 720 AS hpos_in,
             user_id % 576  AS vpos_in
      FROM events
    )
    SELECT event_id,
           pts_in,
           (pts_in + 250 * 90) % 8589934592            AS pts_out,
           CAST(least(greatest(timeout_in + 2, 5), 30) AS INT) AS timeout_out,
           CAST(least(greatest(hpos_in - 8, 0), 719) AS INT)   AS hpos_out,
           CAST(least(greatest(vpos_in + 40, 0), 575) AS INT)  AS vpos_out
    FROM f
    """,
    doc="Streaming twin of es_subtitle_restamp (U2 under Structured "
    "Streaming): the same stateless PES build->patch->re-parse projection "
    "over the event stream, availableNow, append mode — per-ES transforms "
    "run inline in the micro-batch with no state and no shuffle, which is "
    "how the per-PID ES processors of the reference map onto a live "
    "stream. Hash-matches the identical batch oracle.",
    tags=("streaming", "ts", "udf"),
)
def stream_es_restamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.plans.ts_pipeline import (
        subtitle_restamp_projection,
    )

    ev = stream_events(spark, sf_dir)
    sink = run_available_now(
        subtitle_restamp_projection(ev), output_mode="append"
    )
    return sink.select(
        "event_id", "pts_in", "pts_out", "timeout_out", "hpos_out", "vpos_out"
    )


@register(
    "stream_quality_filter",
    oracle=None,  # replaced below: shares quality_filter_verdict's oracle
    doc="Streaming twin of quality_filter_verdict: the Gopher-style "
    "keep/drop rule battery as a continuous cleaning pass over the "
    "document stream — stateless projection, availableNow, append mode; "
    "at scale this is the filter stage of a streaming ingest pipeline "
    "(new crawl shards scored as they land). Hash-matches the identical "
    "batch oracle because every rule is an integer cross-product "
    "comparison.",
    tags=("streaming", "text", "llm", "quality"),
)
def stream_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.functions.dialect import SPARK
    from streamprocessors_spark.plans.llm_ops import _verdict_select
    from streamprocessors_spark.functions import dialect as D

    docs = stream_documents(spark, sf_dir)
    scored = (
        docs.selectExpr("doc_id", f"{D.words(SPARK)} as ws")
        .where(F.expr(f"{D.size(SPARK, 'ws')} >= 2"))
        .selectExpr(*[c.replace(" AS ", " as ") for c in _verdict_select(SPARK)])
    )
    sink = run_available_now(scored, output_mode="append")
    return sink


@register(
    "stream_pii_redact",
    oracle=None,  # replaced below: shares text_pii_redact's oracle
    doc="Streaming twin of text_pii_redact: the PII scrubbing pass as a "
    "continuous projection over the document stream — new crawl shards "
    "redacted as they land, availableNow, append mode. Hash-matches the "
    "identical batch oracle (the redacted md5 is byte-exact, so parity "
    "proves the streaming path applies the exact same regex battery).",
    tags=("streaming", "text", "llm", "quality"),
)
def stream_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.functions.dialect import SPARK
    from streamprocessors_spark.plans.llm_ops import _pii_select

    docs = stream_documents(spark, sf_dir)
    scored = docs.selectExpr(
        *[c.replace(" AS ", " as ") for c in _pii_select(SPARK)]
    )
    return run_available_now(scored, output_mode="append")


@register(
    "stream_decontaminate",
    oracle=None,  # replaced below: shares decontaminate_ngram_overlap's oracle
    doc="Streaming twin of decontaminate_ngram_overlap — the production "
    "ingest shape: the benchmark/eval gram set is STATIC (fixed kB-MB "
    "suite) while corpus shards arrive as a stream; each micro-batch's "
    "exploded grams stream-static broadcast-join against the benchmark "
    "frame (append-safe: no state, no watermark — Structured Streaming "
    "re-reads the static side per trigger and AQE keeps it broadcast). "
    "Per-doc hit aggregation runs batch-side on the sink (every doc's "
    "grams arrive within its row's micro-batch, so no cross-batch "
    "aggregation state is needed). Hash-matches the identical batch "
    "oracle.",
    tags=("streaming", "text", "llm", "dedup"),
)
def stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.functions import dialect as D
    from streamprocessors_spark.functions import textprep as TP
    from streamprocessors_spark.functions.dialect import SPARK
    from streamprocessors_spark.plans.llm_ops import _docs

    bench = (
        _docs(spark, sf_dir)
        .where("doc_id % 50 = 0")
        .selectExpr("doc_id", f"{D.words(SPARK)} as ws")
        .selectExpr("doc_id as bench_id", f"{TP.shingles(SPARK, 'ws')} as sh")
        .select("bench_id", F.explode_outer("sh").alias("g"))
    )
    corpus = (
        stream_documents(spark, sf_dir)
        .where("doc_id % 50 != 0")
        .selectExpr("doc_id", f"{D.words(SPARK)} as ws")
        .selectExpr("doc_id", f"{TP.shingles(SPARK, 'ws')} as sh")
        .select(
            "doc_id",
            F.size("sh").alias("n_grams"),
            F.explode_outer("sh").alias("g"),
        )
    )
    # bounded: the eval-suite gram list (same rationale as the batch twin)
    hits = corpus.join(F.broadcast(bench), "g")
    sink = run_available_now(hits, output_mode="append")
    return (
        sink.groupBy("doc_id")
        .agg(
            F.max("n_grams").cast("int").alias("n_grams"),
            F.countDistinct("g").alias("n_hit_grams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


@register(
    "stream_approx_distinct_hll",
    oracle=None,  # replaced below: shares approx_distinct_hll's oracle
    doc="Streaming twin of approx_distinct_hll — the mergeable-sketch "
    "streaming pattern: per-bucket keyed state (exactly m=256 tiny rows "
    "regardless of stream length) holds the max-rho register; each "
    "micro-batch emits only register INCREASES, so a saturated stream "
    "goes quiet. max-by-bucket over the emitted deltas reproduces the "
    "batch registers exactly (max is monotone), and the integer-exact "
    "estimator then hash-matches the shared batch oracle.",
    tags=("streaming", "agg", "approx", "sketch"),
)
def stream_approx_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.functions import dialect as D
    from streamprocessors_spark.functions.dialect import SPARK
    from streamprocessors_spark.plans.relational import (
        hll_estimate,
        hll_rhos,
    )
    from streamprocessors_spark.streaming.stateful import hll_register_stream

    ev = stream_events(spark, sf_dir)
    rhos = hll_rhos(
        ev.selectExpr(f"{D.md5int(SPARK, 'cast(event_id as string)')} as hv")
    )
    sink = run_available_now(hll_register_stream(rhos), output_mode="append")
    regs = sink.groupBy("bucket").agg(F.max("m_reg").alias("m_reg"))
    return hll_estimate(regs)


def minhash_band_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bh) rows from a document stream.

    Stateless projection: a streaming groupBy(doc_id) would be a stateful
    aggregation needing watermarks, so the per-document signature cannot
    use the batch path's explode + codegen-MIN-aggregate shape. Split by
    what each engine side does best: tokenize/shingle/md5 stay JVM
    expressions (the gram md5 is a codegen scalar inside one transform()),
    and the 16 permutation minima + band hashes run as ONE vectorized
    numpy mapInPandas over the pre-hashed gram arrays — the Catalyst
    array-lambda form evaluates interpreted per element and measured ~5 s
    for the sf0.1 corpus vs well under 1 s for the Arrow-batched numpy
    (identical arithmetic: (a*h+b) mod P over int64, exact, then the same
    15-hex-digit md5 band hash as functions/dialect.md5int)."""
    from streamprocessors_spark.functions import minhash as MH
    from streamprocessors_spark.functions import textprep as TP
    from streamprocessors_spark.functions import dialect as D
    from streamprocessors_spark.functions.dialect import SPARK

    import numpy as np

    A = np.array([a for a, _ in MH.PERMS], dtype=np.int64)
    B = np.array([b for _, b in MH.PERMS], dtype=np.int64)
    P = MH.P
    n_bands, rows_per_band = MH.BANDS, MH.ROWS_PER_BAND

    def bands_fn(it):
        import hashlib

        import pandas as pd

        for pdf in it:
            out_doc: list[int] = []
            out_band: list[int] = []
            out_bh: list[int] = []
            for doc_id, hs in zip(pdf["doc_id"], pdf["hs"]):
                if hs is None or len(hs) == 0:
                    continue
                h = np.asarray(hs, dtype=np.int64)
                sig = ((A[:, None] * h[None, :] + B[:, None]) % P).min(axis=1)
                for band in range(n_bands):
                    vals = sig[band * rows_per_band : (band + 1) * rows_per_band]
                    csv = ",".join(str(int(v)) for v in vals)
                    bh = int(
                        hashlib.md5(csv.encode("utf-8")).hexdigest()[:15], 16
                    )
                    out_doc.append(int(doc_id))
                    out_band.append(band)
                    out_bh.append(bh)
            yield pd.DataFrame(
                {"doc_id": out_doc, "band": out_band, "bh": out_bh}
            )

    return (
        docs.selectExpr("doc_id", f"{D.words(SPARK)} as ws")
        .where(F.expr(f"{D.size(SPARK, 'ws')} >= {TP.SHINGLE_N}"))
        .selectExpr("doc_id", f"{TP.shingles(SPARK, 'ws')} as sh")
        .selectExpr("doc_id", f"{MH.hashes_mod_p(SPARK, 'sh')} as hs")
        .mapInPandas(bands_fn, "doc_id long, band int, bh long")
    )


@register(
    "stream_dedup_minhash",
    oracle=None,  # replaced below: shares dedup_minhash_lsh's oracle
    doc="Incremental MinHash-LSH dedup — the production 'new shard "
    "arrives -> dedup against the existing corpus signature store' "
    "shape (VERDICT r4 missing #2; the reference analog is its "
    "continuous stateful PSI register pattern, psi_proc.c:329-397). "
    "Band-bucket membership lives in keyed state "
    "(streaming/stateful.py:lsh_bucket_pairs_stream): each micro-batch "
    "emits only the candidate pairs its NEW documents form, buckets "
    "saturate at LSH_MAX_BUCKET members (state collapses to a counter — "
    "O(1) for boilerplate buckets), and the exact-Jaccard verify runs "
    "batch-side on the emitted candidates. Hash-matches the batch "
    "dedup_minhash_lsh oracle on the same corpus — pair-for-pair parity "
    "wherever no bucket exceeds the cap (over-cap buckets keep their "
    "pre-saturation pairs: append streams cannot retract; documented in "
    "the operator).",
    tags=("streaming", "dedup", "lsh"),
)
def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.functions import dialect as D
    from streamprocessors_spark.functions.dialect import SPARK
    from streamprocessors_spark.plans.llm_ops import (
        LSH_MAX_BUCKET,
        _PAIR_FILTER,
        _shingle_df,
    )
    from streamprocessors_spark.streaming.stateful import (
        lsh_bucket_pairs_stream,
    )

    bands = minhash_band_stream(stream_documents(spark, sf_dir, spread=True))
    # compute-bound Python state op (per-shard LSH state machine): use
    # the session's streaming ceiling (one partition per task slot by
    # default) instead of the input-size-derived count — the stateful
    # stage's cost is per-shard Python work, not bytes. Measured: 2
    # input-sized partitions serialize the shards and cost more than they
    # save in state-store commits, and 32 partitions on 4 slots only
    # queue (sf0.1, 4 cores, warm: 32 -> 4 partitions 7.0 -> 3.6 s)
    sink = run_available_now(
        lsh_bucket_pairs_stream(bands, LSH_MAX_BUCKET),
        output_mode="append",
        shuffle_partitions=int(
            spark.conf.get("spark.sql.shuffle.partitions")
        ),
    )
    cand = sink.distinct()
    s = _shingle_df(spark, sf_dir)
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = s.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            f"{D.intersect_size(SPARK, 'sh_a', 'sh_b')} as n_inter",
            f"{D.union_size(SPARK, 'sh_a', 'sh_b')} as n_union",
        )
        .where(_PAIR_FILTER)
    )


@register(
    "stream_repeated_ngram_spans",
    oracle=None,  # replaced below: shares repeated_ngram_spans's oracle
    doc="Incremental repeated-substring detection — the streaming twin "
    "of repeated_ngram_spans and the second stateful dedup operator "
    "(after stream_dedup_minhash): per-gram state (bucketed by "
    "pmod(gh, B) so group-call overhead amortizes — see "
    "gram_repeat_positions_stream) holds the FIRST "
    "occurrence back until the gram repeats, then releases both, so the "
    "emitted position set is EXACTLY the batch operator's flagged set "
    "(no cap divergence — emission is monotone in arrivals). "
    "Gram positions stay a stateless JVM projection; span merging "
    "(gaps-and-islands) runs batch-side on the sink. Hash-matches the "
    "batch oracle end to end.",
    tags=("streaming", "text", "dedup"),
)
def stream_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from streamprocessors_spark.functions import dialect as D
    from streamprocessors_spark.functions import textprep as TP
    from streamprocessors_spark.functions.dialect import SPARK
    from streamprocessors_spark.streaming.stateful import (
        gram_repeat_positions_stream,
    )

    docs = stream_documents(spark, sf_dir, spread=True)
    grams = (
        docs.selectExpr("doc_id", f"{D.words(SPARK)} as ws")
        .selectExpr("doc_id", f"{TP.kgram_hashes(SPARK, 'ws')} as kh")
        .select("doc_id", F.posexplode_outer("kh").alias("pos0", "gh"))
        .where(F.col("gh").isNotNull())
        .selectExpr("doc_id", "cast(pos0 + 1 as bigint) as pos", "gh")
    )
    # compute-bound Python state op: the session's streaming ceiling,
    # not input-sized (same rationale as stream_dedup_minhash; sf0.1,
    # 4 cores, warm: 32 -> 4 partitions 6.3 -> 2.7 s)
    sink = run_available_now(
        gram_repeat_positions_stream(grams),
        output_mode="append",
        shuffle_partitions=int(
            spark.conf.get("spark.sql.shuffle.partitions")
        ),
    )
    flagged = sink.distinct()
    w = Window.partitionBy("doc_id").orderBy("pos")
    spans = flagged.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        spans.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(TP.WINNOW_K - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select("doc_id", "span_start", "span_end", "n_grams")
    )


@register(
    "stream_bm25_topk",
    oracle=None,  # replaced below: shares bm25_topk's oracle
    doc="Incremental BM25 retrieval — the streaming twin closing the "
    "retrieval family (after the dedup, substring, decontamination and "
    "HLL twins; VERDICT r5 #7). The POSTINGS (per-(doc, term) tf) and "
    "the corpus statistics (n_docs, total length) live as Structured "
    "Streaming aggregation state: each arriving micro-batch of "
    "documents updates them incrementally in the state store, so after "
    "any prefix of the stream the store holds exactly that prefix's "
    "index — the production 'docs keep arriving, index stays "
    "queryable' shape. Candidate docs are pruned with arrays_overlap "
    "BEFORE the explode, exactly like the batch plan, so the stateful "
    "aggregation only ever sees posting rows for matching documents. "
    "Scoring (df, rational-idf, scaled-integer tfc, top-k) runs through "
    "bm25_rank — the SAME code object the batch query uses — over the "
    "final state, so the result hash-matches the batch bm25_topk "
    "oracle on the union of micro-batches (the stream_dedup_minhash "
    "shared-oracle pattern).",
    tags=("streaming", "text", "retrieval"),
)
def stream_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.functions import dialect as D
    from streamprocessors_spark.functions.dialect import SPARK
    from streamprocessors_spark.plans.llm_ops import (
        _BM25_QUERY_TERMS,
        bm25_rank,
    )

    def docs_stream() -> DataFrame:
        return (
            stream_documents(spark, sf_dir)
            .selectExpr("doc_id", f"{D.words(SPARK)} as ws")
            .selectExpr("doc_id", "ws", "cast(size(ws) as bigint) as dl")
        )

    qarr = "array(" + ",".join(f"'{t}'" for t in _BM25_QUERY_TERMS) + ")"
    tf_stream = (
        docs_stream()
        .where(F.expr(f"arrays_overlap(ws, {qarr})"))
        .select("doc_id", "dl", F.explode("ws").alias("word"))
        .where(F.col("word").isin(*_BM25_QUERY_TERMS))
        .groupBy("doc_id", "dl", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    stats_stream = docs_stream().agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("(sum(dl) * 1000) div count(*)").alias("avgdl_x1000"),
    )
    # the postings and corpus-stats indexes are independent standing
    # queries in the deployment — run their availableNow replays
    # concurrently so the fixed micro-batch machinery overlaps (§2.6)
    tf, stats = run_available_now_many(
        [(tf_stream, "complete"), (stats_stream, "complete")]
    )
    return bm25_rank(tf, stats)


def _wire_shared_stream_oracles() -> None:
    """Share the batch oracle texts (same rules, same fixture, so the
    streaming results hash-match the batch SQL). Imports llm_ops for its
    registration side effect first — this module must stay importable
    standalone, not only via load_all()'s happens-to-be-right ordering."""
    import streamprocessors_spark.plans.llm_ops  # noqa: F401
    from streamprocessors_spark.plans.registry import REGISTRY

    for stream_name, batch_name in [
        ("stream_quality_filter", "quality_filter_verdict"),
        ("stream_pii_redact", "text_pii_redact"),
        ("stream_dedup_minhash", "dedup_minhash_lsh"),
        ("stream_repeated_ngram_spans", "repeated_ngram_spans"),
        ("stream_decontaminate", "decontaminate_ngram_overlap"),
        ("stream_approx_distinct_hll", "approx_distinct_hll"),
        ("stream_bm25_topk", "bm25_topk"),
    ]:
        batch = REGISTRY.get(batch_name)
        if batch is not None:
            REGISTRY[stream_name].oracle = batch.oracle


_wire_shared_stream_oracles()


@register(
    "stream_line_dedup",
    oracle=None,  # replaced below: built from llm_ops' line-dedup constants
    doc="Streaming twin of line_dedup_corpus: the keep-first line registry "
    "as a continuous aggregation — each arriving document explodes into "
    "its fixed-width lines and a streaming groupBy per line text keeps "
    "min(packed doc,position) and the occurrence count in the state "
    "store; the emitted registry is every line seen MORE than once (the "
    "rows batch dedup would excise). min/count commute across "
    "micro-batches, so the registry is arrival-order-independent and "
    "hash-matches the batch-derived oracle exactly. State is keyed by "
    "line text (the same no-hash-collision argument as batch); hot "
    "boilerplate lines partial-aggregate inside each micro-batch before "
    "touching state, so a billion-fold repeated line is one state row "
    "updated once per batch, never a hot task.",
    tags=("streaming", "dedup", "text", "llm"),
)
def stream_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.functions import dialect as D
    from streamprocessors_spark.functions.dialect import SPARK
    from streamprocessors_spark.plans.llm_ops import (
        LINE_SEG_SPAN,
        LINE_SEG_W,
    )

    docs = stream_documents(spark, sf_dir)
    segs = (
        docs.selectExpr("doc_id", f"{D.words(SPARK)} as ws")
        .where("size(ws) > 0")
        .selectExpr(
            "doc_id",
            "ws",
            f"explode(sequence(0, cast((size(ws) + {LINE_SEG_W - 1})"
            f" div {LINE_SEG_W} as int) - 1)) as sidx",
        )
        .selectExpr(
            f"array_join(slice(ws, sidx * {LINE_SEG_W} + 1,"
            f" {LINE_SEG_W}), ' ') as seg",
            f"cast(doc_id * {LINE_SEG_SPAN} + sidx as bigint) as pk",
        )
    )
    agg = segs.groupBy("seg").agg(
        F.min("pk").alias("mpk"), F.count(F.lit(1)).alias("n_occ")
    )
    sink = run_available_now(agg, output_mode="complete")
    return (
        sink.where("n_occ >= 2")
        .selectExpr(
            "seg",
            f"cast(mpk div {LINE_SEG_SPAN} as bigint) as first_doc",
            f"cast(mpk % {LINE_SEG_SPAN} as bigint) as first_sidx",
            "cast(n_occ as bigint) as n_occ",
        )
    )


def _wire_line_dedup_oracle() -> None:
    """stream_line_dedup's registry shape (repeated lines only) is its own
    projection, not the batch per-doc rebuild — derive its oracle from the
    same llm_ops constants so batch and stream can never drift apart."""
    from streamprocessors_spark.functions import dialect as D
    from streamprocessors_spark.functions.dialect import DUCK
    from streamprocessors_spark.plans.llm_ops import (
        LINE_SEG_SPAN,
        LINE_SEG_W,
    )
    from streamprocessors_spark.plans.registry import REGISTRY

    REGISTRY["stream_line_dedup"].oracle = f"""
    WITH w AS (SELECT doc_id, {D.words(DUCK)} AS ws FROM documents),
    w2 AS (SELECT doc_id, ws FROM w WHERE len(ws) > 0),
    s AS (SELECT array_to_string(
                   ws[(i*{LINE_SEG_W}+1):(i*{LINE_SEG_W}+{LINE_SEG_W})],
                   ' ') AS seg,
                 doc_id * {LINE_SEG_SPAN} + i AS pk
          FROM w2, unnest(range(0, (len(ws) + {LINE_SEG_W - 1})
                                   // {LINE_SEG_W})) AS t(i)),
    a AS (SELECT seg, min(pk) AS mpk, CAST(count(*) AS BIGINT) AS n_occ
          FROM s GROUP BY seg)
    SELECT seg,
           CAST(mpk // {LINE_SEG_SPAN} AS BIGINT) AS first_doc,
           CAST(mpk % {LINE_SEG_SPAN} AS BIGINT) AS first_sidx,
           n_occ
    FROM a WHERE n_occ >= 2
    """


_wire_line_dedup_oracle()


@register(
    "stream_lm_perplexity",
    oracle=None,  # replaced below: the batch CTEs minus the tercile rank
    doc="Streaming twin of lm_perplexity_bucket's scoring pass: the "
    "bigram LM trained BATCH-side on the clean slice scores arriving "
    "documents through stream-static equi-joins (the deployment shape — "
    "the model is a fixed artifact, the crawl is the stream). Emits "
    "per-doc quantized cross-entropy; the corpus-relative tercile "
    "bucket is inherently a batch decision and stays with the batch "
    "query. Same fixed-point integer log2, so the scores hash-match "
    "the batch derivation exactly.",
    tags=("streaming", "text", "llm", "quality"),
)
def stream_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.functions import dialect as D
    from streamprocessors_spark.functions.dialect import SPARK
    from streamprocessors_spark.plans.llm_ops import (
        LM_TRAIN_MOD,
        _LM_SURPRISAL_SPARK,
        _lm_pairs_spark,
        _lm_trained,
    )

    # train once, stream-score: the model tables come MATERIALIZED from
    # the per-corpus memoized artifact (_lm_trained — shared with the
    # batch query), so the (AQE-less) micro-batch plan joins three
    # checkpointed model frames instead of re-deriving the training-
    # slice tokenize+aggregate per batch.
    big, hist, vs = _lm_trained(spark, sf_dir)
    scp = _lm_pairs_spark(
        stream_documents(spark, sf_dir)
        .where(f"doc_id % {LM_TRAIN_MOD} != 0")
        .selectExpr("doc_id", f"{D.words(SPARK)} as ws")
    )
    pq = (
        # bounded: vs is a single-row aggregate (the vocab size scalar)
        scp.crossJoin(F.broadcast(vs))
        .join(big, ["w1", "w2"], "left")
        .join(hist, ["w1"], "left")
        .selectExpr("doc_id", f"{_LM_SURPRISAL_SPARK} as sq")
    )
    pd = pq.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("sq").alias("sumq"),
    )
    sink = run_available_now(pd, output_mode="complete")
    return sink.selectExpr(
        "doc_id",
        "cast(n_pairs as bigint) as n_pairs",
        "cast(sumq div n_pairs as bigint) as ce_q",
    )


def _wire_stream_lm_oracle() -> None:
    """Derive stream_lm_perplexity's oracle from the batch query's CTE
    builders (scores only, no tercile) so the two can never drift."""
    from streamprocessors_spark.functions import dialect as D
    from streamprocessors_spark.functions.dialect import DUCK
    from streamprocessors_spark.plans.llm_ops import (
        LM_TRAIN_MOD,
        _LM_SURPRISAL_DUCK,
    )
    from streamprocessors_spark.plans.registry import REGISTRY

    REGISTRY["stream_lm_perplexity"].oracle = f"""
    WITH w AS (SELECT doc_id, {D.words(DUCK)} AS ws FROM documents),
    tr AS (SELECT doc_id, ws FROM w
           WHERE doc_id % {LM_TRAIN_MOD} = 0 AND len(ws) >= 2),
    trp AS (SELECT ws[i] AS w1, ws[i+1] AS w2
            FROM tr, unnest(range(1, len(ws))) AS t(i)),
    big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
            FROM trp GROUP BY w1, w2),
    hist AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
             FROM trp GROUP BY w1),
    vs AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS v
           FROM (SELECT unnest(ws) AS u
                 FROM w WHERE doc_id % {LM_TRAIN_MOD} = 0)),
    sc AS (SELECT doc_id, ws FROM w
           WHERE doc_id % {LM_TRAIN_MOD} <> 0 AND len(ws) >= 2),
    scp AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
            FROM sc, unnest(range(1, len(ws))) AS t(i)),
    pq AS (SELECT p.doc_id, {_LM_SURPRISAL_DUCK} AS sq
           FROM scp p CROSS JOIN vs
           LEFT JOIN big b ON b.w1 = p.w1 AND b.w2 = p.w2
           LEFT JOIN hist h ON h.w1 = p.w1)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(CAST(sum(sq) AS BIGINT) // count(*) AS BIGINT) AS ce_q
    FROM pq GROUP BY doc_id
    """


_wire_stream_lm_oracle()


@register(
    "stream_corpus_prep",
    oracle=None,  # wired below: shares corpus_prep_pipeline's batch oracle
    doc="Streaming twin of the COMPOSED corpus_prep_pipeline — the "
    "production deployment of the family: arriving shards flow through "
    "the stateless quality filter (fused into the scan of each "
    "micro-batch), then the exact-dedup registry as a continuous "
    "aggregation (state keyed by md5(text), keeping ONLY the min "
    "(doc_id, lang, token-count) scalar struct — the token count is "
    "computed stateless per arriving doc, so the state never stores "
    "document bodies; min commutes across micro-batches so the "
    "registry is arrival-order-independent), and the deterministic "
    "50%% sample + per-lang "
    "doc/token budget are the batch read-out over the registry "
    "snapshot (the sample keys on the SURVIVING doc_id, which only the "
    "converged registry knows — inherently a post-state decision, like "
    "lm_perplexity's tercile). Fifth shared-oracle twin: hash-matches "
    "corpus_prep_pipeline's oracle on the union of micro-batches.",
    tags=("streaming", "llm", "pipeline"),
)
def stream_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.functions import dialect as D
    from streamprocessors_spark.functions.dialect import SPARK
    from streamprocessors_spark.plans.llm_ops import (
        _BPE_PATTERN,
        _PREP_QUALITY_MIN,
        _doc_hash,
        _quality_select,
    )

    docs = stream_documents(spark, sf_dir)
    d = (
        docs.selectExpr("doc_id", "lang", "text", f"{D.words(SPARK)} as ws")
        .where(F.expr(f"{D.size(SPARK, 'ws')} > 0"))
        .selectExpr(
            "doc_id", "lang", "text",
            _quality_select(SPARK)[5].replace(" AS ", " as "),
        )
        .where(F.col("quality_score") >= _PREP_QUALITY_MIN)
    )
    # token count computed STATELESS per arriving doc: duplicates share
    # the text, hence the count, so the registry state can keep three
    # scalars per distinct text instead of the text itself — at 100 TB
    # the state store holds the distinct-text registry, and ~30
    # bytes/row vs the document body is the difference between a state
    # store and a second corpus
    d = d.selectExpr(
        "doc_id", "lang", "md5(text) as h",
        f"cast({D.regexp_all_count(SPARK, 'lower(text)', _BPE_PATTERN)}"
        " as bigint) as n_tok",
    )
    # min(struct) commutes across micro-batches: the surviving row is
    # the min-doc_id member, whose lang/token count ride along (same
    # values for every member — duplicates are exact)
    agg = d.groupBy("h").agg(
        F.min(F.struct("doc_id", "lang", "n_tok")).alias("m")
    )
    sink = run_available_now(agg, output_mode="complete").selectExpr(
        "m.doc_id as doc_id", "m.lang as lang", "m.n_tok as n_tok"
    )
    sampled = sink.where(F.expr(f"{_doc_hash(SPARK)} % 2 = 0"))
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )


def _wire_corpus_prep_oracle() -> None:
    from streamprocessors_spark.plans.registry import REGISTRY

    batch = REGISTRY.get("corpus_prep_pipeline")
    if batch is not None:
        REGISTRY["stream_corpus_prep"].oracle = batch.oracle


_wire_corpus_prep_oracle()


@register(
    "stream_kneser_ney",
    oracle=None,  # wired below: shares lm_kneser_ney_score's oracle
    doc="Streaming twin of lm_kneser_ney_score (the arriving-crawl-"
    "shard scoring deployment): the Kneser-Ney model tables (bigram "
    "counts, left-token histogram + continuation-fanout, right-token "
    "continuation counts, the (N, V) normalizer scalars) are trained "
    "batch-side on the existing corpus, and every arriving document's "
    "bigrams score by stream-static joins against them — scoring is "
    "stateless given the trained model, so arrival order cannot change "
    "any surprisal. Hash-matches the batch derivation exactly.",
    tags=("streaming", "llm", "quality", "trained"),
)
def stream_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.functions import dialect as D
    from streamprocessors_spark.functions.dialect import SPARK
    from streamprocessors_spark.plans.llm_ops import (
        LM_TRAIN_MOD,
        _kn_surprisal,
        _kn_trained,
        _lm_pairs_spark,
    )

    # TRAIN ONCE, then stream-score (the deployment the doc promises):
    # the model tables come MATERIALIZED from the per-corpus memoized
    # artifact (_kn_trained — shared with the batch twin). Left lazy,
    # they re-planned inside every micro-batch under the streaming
    # planner — which runs with AQE disabled (stateful sink), so the
    # model aggregates hit fixed-width sort-merge plans per batch
    # instead of runtime broadcasts (measured: warm 4.4 -> 3.1 s, cold
    # 11.2 -> 4.6 s at sf0.1 for the per-call pin; the shared memo also
    # removes the per-call re-derivation).
    big, hist, cont, scal = _kn_trained(spark, sf_dir)
    scp = _lm_pairs_spark(
        stream_documents(spark, sf_dir)
        .where(f"doc_id % {LM_TRAIN_MOD} != 0")
        .selectExpr("doc_id", f"{D.words(SPARK)} as ws")
    )
    pq = (
        # bounded: scal is one row (N, V)
        scp.crossJoin(F.broadcast(scal))
        .join(big, ["w1", "w2"], "left")
        .join(hist, ["w1"], "left")
        .join(cont, ["w2"], "left")
        .selectExpr("doc_id", f"{_kn_surprisal(SPARK)} as sq")
    )
    pd = pq.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("sq").alias("sumq"),
    )
    sink = run_available_now(pd, output_mode="complete")
    return sink.selectExpr(
        "doc_id",
        "cast(n_pairs as bigint) as n_pairs",
        "cast(sumq as bigint) as sumq",
        "cast(sumq div n_pairs as bigint) as ce_q",
    )


def _wire_stream_kn_oracle() -> None:
    from streamprocessors_spark.plans.registry import REGISTRY

    batch = REGISTRY.get("lm_kneser_ney_score")
    if batch is not None:
        REGISTRY["stream_kneser_ney"].oracle = batch.oracle


_wire_stream_kn_oracle()


@register(
    "stream_text_entropy",
    oracle=None,  # wired below: shares text_entropy_score's oracle
    doc="Streaming twin of text_entropy_score: the corpus-scale work — "
    "the per-(doc, word) occurrence counts — runs as the streaming "
    "aggregation (state-store keyed by doc and word), and the per-doc "
    "entropy combine (n*log2q(n) - sum c*log2q(c)) runs batch-side on "
    "the sink: Structured Streaming does not allow chained "
    "aggregations, and pushing the combine into a per-row HOF would "
    "make the scan quadratic in document length. Counts are "
    "arrival-order independent, so the twin hash-matches the batch "
    "oracle exactly.",
    tags=("streaming", "llm", "quality"),
)
def stream_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.functions import dialect as D
    from streamprocessors_spark.functions.dialect import SPARK
    from streamprocessors_spark.plans.llm_ops import _log2q

    wc = (
        stream_documents(spark, sf_dir)
        .selectExpr("doc_id", f"explode({D.words(SPARK)}) as word")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sink = run_available_now(wc, output_mode="complete")
    return (
        sink.groupBy("doc_id")
        .agg(
            F.expr("cast(sum(c) as bigint)").alias("n_words"),
            F.expr(
                f"cast(sum(c * {_log2q(SPARK, 'c')}) as bigint)"
            ).alias("sum_clog"),
        )
        .selectExpr(
            "doc_id",
            "n_words",
            f"cast(n_words * {_log2q(SPARK, 'n_words')} - sum_clog"
            " as bigint) as ent_num_q",
        )
    )


def _wire_stream_entropy_oracle() -> None:
    from streamprocessors_spark.plans.registry import REGISTRY

    batch = REGISTRY.get("text_entropy_score")
    if batch is not None:
        REGISTRY["stream_text_entropy"].oracle = batch.oracle


_wire_stream_entropy_oracle()


# ---------------------------------------------------------------------------
# Streaming keep-list maintenance (VERDICT r8 #7): the online "new shard
# arrives -> keep/drop verdicts against the standing index" deliverable.
# ---------------------------------------------------------------------------


def keep_list_start(
    pair_stream: DataFrame,
    shingles: DataFrame,
    state: dict,
    workdir: str,
    fault=None,
    trigger: dict | None = None,
):
    """Start the exactly-once incremental keep-list sink and return the
    StreamingQuery — the cdc_start-style deployment surface (VERDICT r11
    #7). ``trigger`` defaults to availableNow; a continuously-deployed
    keep-list passes ``{"processingTime": "..."}`` and calls
    keep_list_drain at reconciliation (same quiescence contract as
    cdc_drain). ``shingles`` is persisted here and unpersisted by the
    caller after drain; ``state`` must start as
    ``{"labels": None, "last_batch": None}``.

    Per micro-batch: (1) the batch's candidate pairs are exact-Jaccard
    verified against the ingest-time signature store (candidates only
    ever reference already-arrived docs, so the static store stands in
    for the incrementally-filled one — the stream_image_phash device);
    (2) the verified delta edges are unioned with the STANDING labels
    re-encoded as star edges (doc -> its component min: the standard
    inter-batch star contraction — connectivity and component minima
    are preserved exactly), and min-label components run over that
    compressed graph. The standing label frame is localCheckpoint-pinned
    per batch, so batch k never replays batches 1..k-1; per-batch cost
    is CC over (standing clusters + delta), NEVER over the corpus. The
    corpus is touched only by the stateless band projection feeding the
    keyed-state bucket store.

    EXACTLY-ONCE under micro-batch replay (VERDICT r10 #1): the standing
    labels are written per batch to a batch_id=N overwrite directory —
    the frame-valued state snapshot. A replayed batch reloads labels
    N-1 (never its own possibly-half-written N) and recomputes; the
    recomputation is idempotent anyway because re-merging a batch's
    edges into labels that already absorbed them is a connectivity
    no-op and min-labels are deterministic. The bucket-membership keyed
    state upstream recovers through Spark's own state-store checkpoint.
    """
    from streamprocessors_spark.functions import dialect as D
    from streamprocessors_spark.functions.dialect import SPARK
    from streamprocessors_spark.plans.advanced import _min_label_components
    from streamprocessors_spark.plans.llm_ops import _PAIR_FILTER
    from streamprocessors_spark.streaming import exactly_once as XO

    import os

    spark = pair_stream.sparkSession
    labdir = os.path.join(workdir, "labels")
    ckpt = os.path.join(workdir, "ckpt")
    os.makedirs(labdir, exist_ok=True)

    # The signature store is consulted TWICE per micro-batch (doc_a and
    # doc_b legs join on different keys, so the exchanges can't be
    # reused) and once per batch thereafter — persist the tokenize+
    # shingle computation instead of re-deriving it 2k times across k
    # batches (corpus-shingle-sized: the same frame the batch path
    # scans; evicted at drain).
    shingles = shingles.persist()
    state["shingles"] = shingles
    sa = shingles.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    sb = shingles.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    )

    def process(batch_df, batch_id) -> None:
        last = state["last_batch"]
        if last is None or last >= batch_id:
            # driver restart or replay: standing labels come from the
            # newest snapshot STRICTLY BEFORE this batch
            _load_keep_list_labels(spark, state, workdir, batch_id)
        XO.maybe_fault(fault, batch_id)
        verified = (
            batch_df.distinct()
            .join(sa, "doc_a")
            .join(sb, "doc_b")
            .selectExpr(
                "doc_a",
                "doc_b",
                f"{D.intersect_size(SPARK, 'sh_a', 'sh_b')} as n_inter",
                f"{D.union_size(SPARK, 'sh_a', 'sh_b')} as n_union",
            )
            .where(_PAIR_FILTER)
            .select("doc_a", "doc_b")
        )
        edges = verified
        if state["labels"] is not None:
            star = state["labels"].where("canonical <> doc_id").selectExpr(
                "doc_id as doc_a", "canonical as doc_b"
            )
            edges = edges.unionByName(star)
        # pin the batch's edge set ONCE: the emptiness probe and the CC
        # entry otherwise each execute the whole Jaccard-verify subtree
        # (the probe ran it, then _min_label_components' own pin ran it
        # again — one full duplicate verify per micro-batch)
        edges = edges.localCheckpoint()
        if not edges.isEmpty():
            state["labels"] = _min_label_components(edges).localCheckpoint()
            # idempotent frame snapshot: batch_id=N overwrite (measured
            # <1 s/run total at sf0.1 — run variance dominates; at
            # 100 TB this snapshot would be an incremental delta store
            # + periodic compaction, not a full standing-label rewrite)
            XO.write_batch_output(state["labels"], labdir, batch_id)
        XO.mark_done(state, batch_id)

    from streamprocessors_spark.streaming.runner import (
        _resolve_stream_partitions,
        _stream_conf,
    )

    with _stream_conf(spark, _resolve_stream_partitions(spark, None)):
        return (
            pair_stream.writeStream.foreachBatch(process)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(**(trigger or {"availableNow": True}))
            .start()
        )


def _load_keep_list_labels(
    spark: SparkSession, state: dict, workdir: str, before_batch: int
) -> None:
    import os

    from streamprocessors_spark.streaming import exactly_once as XO

    d = XO.latest_batch_dir(os.path.join(workdir, "labels"), before_batch)
    state["labels"] = spark.read.parquet(d).localCheckpoint() if d else None


def keep_list_drain(spark: SparkSession, state: dict, workdir: str):
    """Final (doc_id, canonical) labels after the stream stopped (None
    when no pairs ever survived); releases the persisted signature
    store. Same quiescence contract as cdc_drain."""
    if state["labels"] is None:
        # restart where every batch was already committed: the final
        # labels live in the newest snapshot, not this process
        _load_keep_list_labels(spark, state, workdir, 1 << 62)
    # labels are localCheckpoint-materialized; nothing references the
    # signature store after drain
    sh = state.pop("shingles", None)
    if sh is not None:
        sh.unpersist()
    return state["labels"]


def _incremental_keep_list_labels(
    pair_stream: DataFrame,
    shingles: DataFrame,
    workdir: str | None = None,
    fault=None,
):
    """One-shot availableNow run of the keep-list sink: start, drain the
    stream, return the final labels (see keep_list_start for the engine
    contract)."""
    import shutil
    import tempfile

    spark = pair_stream.sparkSession
    own_dirs = workdir is None
    if workdir is None:
        workdir = tempfile.mkdtemp(prefix="spgraft_klst_")
    state: dict = {"labels": None, "last_batch": None}
    try:
        q = keep_list_start(pair_stream, shingles, state, workdir, fault=fault)
        q.awaitTermination()
        return keep_list_drain(spark, state, workdir)
    finally:
        sh = state.pop("shingles", None)
        if sh is not None:
            sh.unpersist()
        if own_dirs:
            shutil.rmtree(workdir, ignore_errors=True)


@register(
    "stream_dedup_keep_list",
    oracle=None,  # wired below: shares dedup_keep_list's oracle
    doc="Streaming keep-list maintenance — the online twin of "
    "dedup_keep_list and the production cascade's serving shape: as "
    "shards arrive, band-bucket membership lives in keyed state "
    "(lsh_bucket_pairs_stream), each micro-batch's NEW candidate pairs "
    "are exact-Jaccard verified against the ingest-time signature "
    "store, and cluster labels are maintained INCREMENTALLY across "
    "batches — standing labels re-enter each round as star edges "
    "(doc -> component min), so per-batch work is min-label CC over "
    "(standing clusters + delta edges), never a corpus recluster. "
    "Verdicts (doc_id, canonical, kept) are emitted for the whole "
    "corpus at drain. Shares the batch dedup_keep_list oracle "
    "pre-saturation — same divergence contract as stream_dedup_minhash "
    "(pairs emitted before a bucket saturates stand; append streams "
    "cannot retract). Cross-batch state pinned by "
    "tests/test_streaming.py (near-dup pair split across micro-batches "
    "still clusters).",
    tags=("streaming", "dedup", "lsh", "iterative"),
)
def stream_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.plans.llm_ops import (
        LSH_MAX_BUCKET,
        _shingle_df,
    )
    from streamprocessors_spark.streaming.stateful import (
        lsh_bucket_pairs_stream,
    )

    bands = minhash_band_stream(stream_documents(spark, sf_dir, spread=True))
    pair_stream = lsh_bucket_pairs_stream(bands, LSH_MAX_BUCKET)
    labels = _incremental_keep_list_labels(
        pair_stream, _shingle_df(spark, sf_dir)
    )
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    if labels is None:
        return docs.selectExpr(
            "doc_id", "doc_id as canonical", "cast(1 as int) as kept"
        )
    # No broadcast hint: label cardinality is data-dependent (a crawl's
    # near-dup set can be a large corpus fraction); AQE decides at runtime.
    return (
        docs.join(
            labels.withColumnRenamed("doc_id", "ldoc"),
            docs.doc_id == F.col("ldoc"),
            "left",
        )
        .selectExpr(
            "doc_id",
            "coalesce(canonical, doc_id) as canonical",
            "cast(coalesce(canonical, doc_id) = doc_id as int) as kept",
        )
    )


def _wire_stream_keep_list_oracle() -> None:
    import streamprocessors_spark.plans.advanced  # noqa: F401
    from streamprocessors_spark.plans.registry import REGISTRY

    batch = REGISTRY.get("dedup_keep_list")
    if batch is not None:
        REGISTRY["stream_dedup_keep_list"].oracle = batch.oracle


_wire_stream_keep_list_oracle()


@register(
    "stream_html_extract",
    oracle=None,  # wired below: shares html_extract_main_text's oracle
    doc="Streaming twin of html_extract_main_text — extraction at INGEST, "
    "where every production crawl pipeline runs it (the WET stage is "
    "applied per fetched page, not as a batch pass). Pure stateless "
    "projection over the document stream: the same dialect-shared "
    "synthesis + strip/decode/normalize expressions, zero state, zero "
    "exchanges; the memory sink collects per-micro-batch results and "
    "the batch oracle gates the union. The trivial twin is the point: "
    "stage 0 of the cascade composes into a continuous query unchanged.",
    tags=("streaming", "text", "crawl"),
)
def stream_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.plans.llm_ops import (
        _html_raw_expr,
        _html_visible_expr,
    )

    docs = stream_documents(spark, sf_dir)
    ex = (
        docs.selectExpr("doc_id", f"{_html_raw_expr('spark')} as html")
        .selectExpr(
            "doc_id",
            f"{_html_visible_expr('spark', 'html', True)} as main_text",
            f"{_html_visible_expr('spark', 'html', False)} as visible_text",
        )
        .selectExpr(
            "doc_id",
            "main_text",
            "cast(length(main_text) as bigint) as n_main_chars",
            "cast((1000 * (length(visible_text) - length(main_text)))"
            " div greatest(length(visible_text), 1) as bigint)"
            " as boilerplate_permille",
        )
    )
    return run_available_now(ex, output_mode="append")


def _wire_stream_html_oracle() -> None:
    import streamprocessors_spark.plans.llm_ops  # noqa: F401
    from streamprocessors_spark.plans.registry import REGISTRY

    batch = REGISTRY.get("html_extract_main_text")
    if batch is not None:
        REGISTRY["stream_html_extract"].oracle = batch.oracle


_wire_stream_html_oracle()


def _packer_schema(cols: list[str]) -> str:
    return "source string, bin bigint, " + ", ".join(
        f"{c} bigint" for c in cols
    )


def _partial_rows(partials: dict) -> list[tuple]:
    return [
        (s, *[int(v) for v in vals]) for s, vals in sorted(partials.items())
    ]


def _packer_init() -> dict:
    return {"offsets": {}, "partials": {}}


def packer_start(
    stream_df: DataFrame,
    seq: DataFrame,
    state: dict,
    cols: list[str],
    batch_bins,
    merge_exprs,
    workdir: str,
    fault=None,
    trigger: dict | None = None,
):
    """Start the exactly-once ingest-packer sink and return the
    StreamingQuery — the cdc_start-style deployment surface (VERDICT r11
    #7). ``trigger`` defaults to availableNow; a continuously-deployed
    packer passes ``{"processingTime": "..."}`` and calls packer_drain
    at reconciliation time (same quiescence contract as cdc_drain: stop
    the query, or drain between triggers — first-attempt batch commits
    are single atomic renames, so a live drain never sees a torn batch).

    The bounded-state engine (VERDICT r9 #3): ``batch_bins(g)``
    aggregates ONE batch's positioned frame to (source, bin, *cols)
    partials, ``merge_exprs`` re-aggregates partials from different
    batches (legal because every statistic used here is
    batch-accumulable: counts/mins/maxes fold, mod-sum fingerprints add,
    and doc sets of different batches are disjoint so per-bin
    distinct-doc statistics sum). Driver state carries only the
    per-source offset and ONE open-bin partial.

    EXACTLY-ONCE under micro-batch replay (VERDICT r10 #1): closed bins
    ship to a per-``batch_id`` overwrite directory (a replayed batch
    replaces its own output instead of appending a duplicate), and the
    offsets+partials state is snapshotted per batch — when a restarted
    driver replays batch N, the state is rebuilt from snapshot N-1, so
    the replay recomputes exactly what the crashed attempt computed
    (streamprocessors_spark/streaming/exactly_once.py). ``fault`` is a
    test-only hook invoked with each batch_id to plant crashes."""
    import os

    from streamprocessors_spark.plans.llm_ops import (
        _PACK_W,
        packing_positions,
        packing_symbols,
    )
    from streamprocessors_spark.streaming import exactly_once as XO

    spark = stream_df.sparkSession
    sink = os.path.join(workdir, "bins")
    ckpt = os.path.join(workdir, "ckpt")
    os.makedirs(sink, exist_ok=True)
    part_schema = _packer_schema(cols)
    out_cols = ["source", "bin", *cols]
    init = _packer_init()
    # the two vocab tables are functions of the trained seq alone —
    # derive + pin ONCE per run instead of once per micro-batch (the
    # old shape paid an eager wsym localCheckpoint job and a symtab
    # groupBy+window re-plan inside every batch)
    symbols = packing_symbols(seq, pin_symtab=True)
    state.setdefault("offsets", {})
    state.setdefault("partials", {})
    state.setdefault("last_batch", None)

    def process(batch_df, batch_id) -> None:
        # rebuild offsets+partials from the last committed snapshot when
        # this process is not warm from batch_id-1 (driver restart /
        # replayed batch); in-run sequential batches take the warm path
        XO.recover_state(state, batch_id, workdir, init)
        XO.maybe_fault(fault, batch_id)
        if batch_df.isEmpty():
            XO.write_state_snapshot(
                workdir,
                batch_id,
                {"offsets": state["offsets"], "partials": state["partials"]},
            )
            XO.mark_done(state, batch_id)
            return
        g = packing_positions(
            batch_df, seq,
            base_offsets=dict(state["offsets"]),
            symbols=symbols,
        )
        # per-(source, bin) partials of THIS batch; localCheckpoint pins
        # them once for the three consumers below (offset roll, closed
        # write, open collect) and truncates the per-batch lineage
        b = batch_bins(g).localCheckpoint()
        offsets = dict(state["offsets"])
        # bounded collect: one row per source present in the batch —
        # the standing next-offset per source
        for r in b.groupBy("source").agg(
            F.sum("n_tokens").alias("n")
        ).collect():
            offsets[r["source"]] = offsets.get(r["source"], 0) + int(r["n"])
        # fold the carried open partials into this batch's bins
        if state["partials"]:
            prev = spark.createDataFrame(
                _partial_rows(state["partials"]), part_schema
            )
            b = (
                b.unionByName(prev)
                .groupBy("source", "bin")
                .agg(*merge_exprs())
            )
        # a source's open bin is the one its next token lands in; on an
        # exact boundary nothing is open (sentinel -1 never matches)
        open_map = [
            (s, (off // _PACK_W) if off % _PACK_W else -1)
            for s, off in sorted(offsets.items())
        ]
        # bounded: one row per named corpus source (the open-bin map)
        om = F.broadcast(
            spark.createDataFrame(open_map, "source string, open_bin bigint")
        )
        # LAZY pin: the closed-bin write below is the frame's first
        # consumer and a complete pass, so the checkpoint materializes
        # inside the write's job (one job per batch instead of two);
        # the open-bin collect then reads the pinned blocks. Consumers
        # are strictly sequential — no double-compute risk.
        b = b.join(om, "source", "left").localCheckpoint(eager=False)
        closed = b.where("open_bin is null or bin <> open_bin").select(
            *out_cols
        )
        # idempotent: batch_id=N overwrite — a replay replaces, not appends
        XO.write_batch_output(closed, sink, batch_id)
        # bounded collect: at most one open-bin row per source
        partials = {
            r["source"]: [int(r[c]) for c in ["bin", *cols]]
            for r in b.where("bin = open_bin").collect()
        }
        # snapshot AFTER the output write: a crash between the two makes
        # the replay rebuild from N-1 and overwrite both, still exact.
        # In-memory state is assigned only AFTER the snapshot succeeds:
        # if the write raises, a caller re-running the engine with the
        # same state dict still holds batch N-1 (recover_state's warm
        # check would otherwise accept contaminated offsets and
        # double-count the replayed batch).
        XO.write_state_snapshot(
            workdir, batch_id, {"offsets": offsets, "partials": partials}
        )
        state["offsets"] = offsets
        state["partials"] = partials
        XO.mark_done(state, batch_id)

    from streamprocessors_spark.streaming.runner import (
        _resolve_stream_partitions,
        _stream_conf,
    )

    with _stream_conf(spark, _resolve_stream_partitions(spark, None)):
        return (
            stream_df.writeStream.foreachBatch(process)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(**(trigger or {"availableNow": True}))
            .start()
        )


def packer_drain(
    spark: SparkSession, state: dict, workdir: str, cols: list[str]
) -> DataFrame:
    """Reconcile the packer's drained frame from the disk-backed sink:
    closed bins from every committed batch dir plus the carried open-bin
    partials (recovered from the newest snapshot when this process never
    ran a batch — the restart-with-everything-committed case). Same
    quiescence contract as cdc_drain."""
    import os

    from streamprocessors_spark.streaming import exactly_once as XO

    sink = os.path.join(workdir, "bins")
    part_schema = _packer_schema(cols)
    # a restart where every batch was already committed never calls
    # process(): reconcile the final state from the newest snapshot
    XO.recover_state(state, 1 << 62, workdir, _packer_init())
    out = XO.read_sink(spark, sink, part_schema).select(
        "source", "bin", *cols
    )
    if state["partials"]:
        out = out.unionByName(
            spark.createDataFrame(_partial_rows(state["partials"]), part_schema)
        )
    return out


def _ingest_packer_engine(
    stream_df: DataFrame,
    seq: DataFrame,
    state: dict,
    cols: list[str],
    batch_bins,
    merge_exprs,
    workdir: str | None = None,
    fault=None,
) -> DataFrame:
    """One-shot availableNow run of the packer sink: start, drain the
    stream, reconcile the packed-bins frame (see packer_start for the
    engine contract). Passing ``workdir`` makes the run restartable
    (dirs survive a failure and a second call resumes from the
    checkpoint); the default temp workdir is removed after the drained
    frame is materialized."""
    import shutil
    import tempfile

    own_dirs = workdir is None
    if workdir is None:
        workdir = tempfile.mkdtemp(prefix="spgraft_packer_")
    try:
        q = packer_start(
            stream_df, seq, state, cols, batch_bins, merge_exprs,
            workdir, fault=fault,
        )
        q.awaitTermination()
        out = packer_drain(stream_df.sparkSession, state, workdir, cols)
        # bins-sized (corpus_tokens / W rows); materialize so the temp
        # sink can be removed before the caller ever runs an action
        return out.localCheckpoint()
    finally:
        if own_dirs:
            shutil.rmtree(workdir, ignore_errors=True)


def ingest_packed_bins(
    stream_df: DataFrame,
    seq: DataFrame,
    state: dict | None = None,
    workdir: str | None = None,
    fault=None,
) -> DataFrame:
    """Run a document stream through the bounded-state ingest packer and
    return the drained (source, bin, n_tokens, n_docs, n_seps, fp) frame
    — the engine above with the tokenized_context_packing statistics
    (packing_bins is the per-batch accumulable form). ``state`` (optional,
    default internal) lets tests inspect the carried state and pin its
    boundedness."""
    from streamprocessors_spark.plans.llm_ops import _FP_MOD, packing_bins

    def merge():
        return [
            F.expr("cast(sum(n_tokens) as bigint)").alias("n_tokens"),
            F.expr("cast(sum(n_docs) as bigint)").alias("n_docs"),
            F.expr("cast(sum(n_seps) as bigint)").alias("n_seps"),
            F.expr(f"cast(sum(fp) % {_FP_MOD} as bigint)").alias("fp"),
        ]

    return _ingest_packer_engine(
        stream_df,
        seq,
        state if state is not None else {},
        ["n_tokens", "n_docs", "n_seps", "fp"],
        packing_bins,
        merge,
        workdir=workdir,
        fault=fault,
    )


def ingest_packed_lineage_bins(
    stream_df: DataFrame,
    seq: DataFrame,
    state: dict | None = None,
    workdir: str | None = None,
    fault=None,
) -> DataFrame:
    """Lineage twin of ingest_packed_bins: per-batch partials come from
    packed_lineage_bins' aggregate (content fingerprint PLUS the lineage
    columns), and every lineage statistic folds across batches exactly —
    doc-id spans by min/max, the v1-member count by sum (doc sets of
    different batches are disjoint), and the lineage fingerprint by its
    mod-sum construction. This is the design claim the batch query makes
    ("accumulates per batch like the content fingerprint"), exercised."""
    from streamprocessors_spark.plans.llm_ops import (
        _FP_MOD,
        lineage_bins,
    )

    def merge():
        return [
            F.expr("cast(sum(n_tokens) as bigint)").alias("n_tokens"),
            F.expr("cast(sum(n_docs) as bigint)").alias("n_docs"),
            F.expr("cast(sum(n_seps) as bigint)").alias("n_seps"),
            F.expr(f"cast(sum(fp) % {_FP_MOD} as bigint)").alias("fp"),
            F.expr("cast(min(first_doc_id) as bigint)").alias(
                "first_doc_id"
            ),
            F.expr("cast(max(last_doc_id) as bigint)").alias("last_doc_id"),
            F.expr("cast(sum(n_v1_docs) as bigint)").alias("n_v1_docs"),
            F.expr(f"cast(sum(lineage_fp) % {_FP_MOD} as bigint)").alias(
                "lineage_fp"
            ),
        ]

    return _ingest_packer_engine(
        stream_df,
        seq,
        state if state is not None else {},
        [
            "n_tokens", "n_docs", "n_seps", "fp",
            "first_doc_id", "last_doc_id", "n_v1_docs", "lineage_fp",
        ],
        lineage_bins,
        merge,
        workdir=workdir,
        fault=fault,
    )


@register(
    "stream_tokenized_packing",
    oracle=None,  # wired below: shares tokenized_context_packing's oracle
    doc="Streaming twin of tokenized_context_packing — pack AT INGEST, "
    "the final pipeline stage run continuously: the BPE encoding table "
    "is batch-trained on the existing corpus (the memoized trained-"
    "tokenizer artifact every serving path shares), and each arriving "
    "shard's tokens are assigned their GLOBAL per-source stream "
    "positions immediately — a per-source token offset carried across "
    "micro-batches — and every CLOSED bin ships to an append-only sink "
    "the moment its batch completes it, with only each source's OPEN "
    "bin partial (token/doc/sep counts + the accumulable mod-sum "
    "Rabin-Karp partial) carried as driver state, so state stays "
    "source-count-sized and drain-time work is independent of batch "
    "count (VERDICT r9 #3). Per-batch bins come from packing_bins, "
    "shared verbatim with the batch query. Divergence contract: "
    "hash-matches the batch "
    "oracle when shards arrive in doc_id order per source (file order "
    "here); out-of-order arrival packs the tokens at the offsets of "
    "their arrival, as a real ingest-time packer must. Cross-batch "
    "offset continuity pinned by tests/test_streaming.py.",
    tags=("streaming", "pack", "llm", "tokenizer"),
)
def stream_tokenized_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.plans.llm_ops import _bpe_trained

    _merges, seq = _bpe_trained(spark, sf_dir)
    return ingest_packed_bins(stream_documents(spark, sf_dir), seq)


def _wire_stream_packing_oracle() -> None:
    import streamprocessors_spark.plans.llm_ops  # noqa: F401
    from streamprocessors_spark.plans.registry import REGISTRY

    batch = REGISTRY.get("tokenized_context_packing")
    if batch is not None:
        REGISTRY["stream_tokenized_packing"].oracle = batch.oracle


_wire_stream_packing_oracle()


@register(
    "stream_packed_lineage",
    oracle=None,  # wired below: shares packed_lineage_bins' oracle
    doc="Streaming twin of packed_lineage_bins — provenance-threaded "
    "packing AT INGEST: arriving shards pass the scan-local Gopher keep "
    "filter, survivors are tokenized/positioned against the batch-"
    "trained BPE artifact, and every CLOSED context ships with its "
    "lineage columns the moment it fills. The lineage statistics fold "
    "across micro-batches exactly — doc-id spans by min/max, the v1-"
    "member count by sum (doc sets of different batches are disjoint), "
    "and the lineage fingerprint by its mod-sum construction — so the "
    "bounded-state packer engine (per-source offset + ONE open partial) "
    "carries provenance at zero extra state. Divergence contract: "
    "hash-matches the batch oracle when shards arrive in doc_id order "
    "per source (file order here).",
    tags=("streaming", "pack", "llm", "lineage", "quality"),
)
def stream_packed_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.plans.llm_ops import (
        _bpe_trained,
        gopher_kept_docs,
    )

    _merges, seq = _bpe_trained(spark, sf_dir)
    return ingest_packed_lineage_bins(
        gopher_kept_docs(stream_documents(spark, sf_dir)), seq
    )


def _wire_stream_lineage_oracle() -> None:
    import streamprocessors_spark.plans.llm_ops  # noqa: F401
    from streamprocessors_spark.plans.registry import REGISTRY

    batch = REGISTRY.get("packed_lineage_bins")
    if batch is not None:
        REGISTRY["stream_packed_lineage"].oracle = batch.oracle


_wire_stream_lineage_oracle()


@register(
    "stream_snapshot_delta",
    oracle=None,  # wired below: shares snapshot_delta_report's oracle
    doc="CDC at ingest — the streaming twin of snapshot_delta_report: "
    "the NEW snapshot arrives as a stream, each micro-batch classifies "
    "its documents against the PERSISTED previous-snapshot content-hash "
    "store (doc_id -> md5, a point lookup at scale; one broadcast-"
    "probed store scan per batch here) and appends per-document "
    "added/changed/same verdicts to a sink the moment they are known — "
    "a recrawl monitor reads these live. 'removed' cannot be observed "
    "from arrivals (an absent doc never arrives): the drain read-out "
    "anti-joins the store against the SINK's seen ids — disk-backed, "
    "zero driver state — the end-of-snapshot reconciliation pass every "
    "CDC deletion detector needs. The drained per-source delta rollup "
    "hash-matches the batch oracle exactly.",
    tags=("streaming", "dq", "corpus", "pipeline", "llm"),
)
def stream_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.functions.dialect import SPARK
    from streamprocessors_spark.plans.data_quality import _snapshot_v0_cte

    # the persisted snapshot-N artifact: doc_id -> (source, content md5);
    # snapshot-N-corpus-sized BY DESIGN (this IS the store)
    read_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "sp_snapshot_documents_stream"
    )
    store = spark.sql(
        _snapshot_v0_cte(SPARK).replace(
            "FROM documents", "FROM sp_snapshot_documents_stream"
        )
    ).selectExpr(
        "doc_id as id0", "source as src0", "md5(text) as h0"
    ).localCheckpoint()
    v1 = stream_documents(spark, sf_dir).where("doc_id % 11 != 3")
    return cdc_delta_report(store, v1)


def cdc_delta_report(
    store: DataFrame,
    stream_df: DataFrame,
    workdir: str | None = None,
    fault=None,
) -> DataFrame:
    """The CDC classify+reconcile core of stream_snapshot_delta, store
    passed in (shared with tools/scale_smoke.py): per-batch verdicts to
    a per-batch_id overwrite sink, drain-time anti-join for removals.
    ``store`` must carry (id0, src0, h0).

    EXACTLY-ONCE under micro-batch replay (VERDICT r10 #1): verdicts are
    a pure function of the batch, so idempotence needs only the
    overwrite-by-batch_id write — a replayed batch replaces its own
    verdict directory instead of double-counting every doc it carries.
    No driver state. ``workdir`` makes the run restartable; ``fault`` is
    the test crash hook."""
    import os
    import shutil
    import tempfile

    from streamprocessors_spark.streaming import exactly_once as XO

    spark = stream_df.sparkSession
    own_dirs = workdir is None
    if workdir is None:
        workdir = tempfile.mkdtemp(prefix="spgraft_cdc_")
    try:
        q = cdc_start(store, stream_df, workdir, fault=fault)
        q.awaitTermination()
        return cdc_drain(spark, store, workdir)
    finally:
        if own_dirs:
            shutil.rmtree(workdir, ignore_errors=True)


_CDC_SEEN_SCHEMA = "doc_id bigint, source string, delta string"


def cdc_start(
    store: DataFrame,
    stream_df: DataFrame,
    workdir: str,
    fault=None,
    trigger: dict | None = None,
):
    """Start the CDC classify sink (foreachBatch, batch_id-idempotent
    per-batch overwrite dirs) and return the StreamingQuery. ``trigger``
    defaults to availableNow; a continuously-deployed monitor passes
    ``{"processingTime": "..."}`` and calls cdc_drain at end-of-snapshot
    reconciliation time. Restartable: same workdir resumes from the
    checkpoint and replayed batches overwrite their own output."""
    import os

    from streamprocessors_spark.streaming import exactly_once as XO

    sink = os.path.join(workdir, "verdicts")
    ckpt = os.path.join(workdir, "ckpt")
    os.makedirs(sink, exist_ok=True)

    def process(batch_df, batch_id) -> None:
        XO.maybe_fault(fault, batch_id)
        if batch_df.isEmpty():
            return
        b = batch_df.selectExpr(
            "doc_id as id1", "source as src1", "md5(text) as h1"
        )
        verdicts = (
            b.join(store, F.col("id1") == F.col("id0"), "left")
            .selectExpr(
                "id1 as doc_id",
                "src1 as source",
                "case when id0 is null then 'added'"
                " when h1 <> h0 then 'changed'"
                " else 'same' end as delta",
            )
        )
        # idempotent: batch_id=N overwrite — a replay replaces, not appends
        XO.write_batch_output(verdicts, sink, batch_id)

    from streamprocessors_spark.streaming.runner import (
        _resolve_stream_partitions,
        _stream_conf,
    )

    spark = stream_df.sparkSession
    with _stream_conf(spark, _resolve_stream_partitions(spark, None)):
        return (
            stream_df.writeStream.foreachBatch(process)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(**(trigger or {"availableNow": True}))
            .start()
        )


def cdc_drain(spark: SparkSession, store: DataFrame, workdir: str) -> DataFrame:
    """End-of-snapshot reconciliation over the disk-backed verdict sink:
    stored docs never seen arriving were removed (left_anti, zero driver
    state), then the per-(source, delta) rollup.

    Concurrency contract: safe against a LIVE processingTime query —
    write_batch_output commits each first-attempt batch by a single
    atomic rename, so the listing never sees a half-written directory;
    a batch committing after the listing simply lands in the next
    drain. The one unsafe overlap is a crash-recovery REPLAY of an
    already-committed batch (its dir is briefly swapped out), which
    cannot coincide with a drain: recovery means the previous driver is
    gone, and drain is called on the driver."""
    import os

    from streamprocessors_spark.streaming import exactly_once as XO

    sink = os.path.join(workdir, "verdicts")
    # empty stream -> empty union -> every stored doc is 'removed'
    seen = XO.read_sink(spark, sink, _CDC_SEEN_SCHEMA)
    removed = store.join(
        seen.select(F.col("doc_id").alias("id1")),
        F.col("id0") == F.col("id1"),
        "left_anti",
    ).selectExpr("id0 as doc_id", "src0 as source", "'removed' as delta")
    out = (
        seen.unionByName(removed)
        .groupBy("source", "delta")
        .agg(F.expr("cast(count(*) as bigint)").alias("n_docs"))
    )
    # sources x 4 cells; materialize so the temp sink can be removed
    return out.localCheckpoint()


def _wire_stream_snapshot_oracle() -> None:
    import streamprocessors_spark.plans.data_quality  # noqa: F401
    from streamprocessors_spark.plans.registry import REGISTRY

    batch = REGISTRY.get("snapshot_delta_report")
    if batch is not None:
        REGISTRY["stream_snapshot_delta"].oracle = batch.oracle


_wire_stream_snapshot_oracle()


@register(
    "stream_quality_signals",
    oracle=None,  # wired below: shares quality_signals_table's oracle
    doc="Streaming twin of quality_signals_table: the wide per-document "
    "signal battery computed AT INGEST — the RedPajama-V2-style signal "
    "table materialized continuously as crawl shards land, so every "
    "downstream threshold decision reads precomputed signals instead of "
    "re-touching text. Stateless projection, availableNow, append mode; "
    "hash-matches the identical batch oracle because every signal is an "
    "exact integer.",
    tags=("streaming", "text", "quality", "llm"),
)
def stream_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessors_spark.plans.data_quality import signals_docs

    return run_available_now(
        signals_docs(stream_documents(spark, sf_dir)), output_mode="append"
    )


def _wire_stream_signals_oracle() -> None:
    import streamprocessors_spark.plans.data_quality  # noqa: F401
    from streamprocessors_spark.plans.registry import REGISTRY

    batch = REGISTRY.get("quality_signals_table")
    if batch is not None:
        REGISTRY["stream_quality_signals"].oracle = batch.oracle


_wire_stream_signals_oracle()
