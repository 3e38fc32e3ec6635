"""Streaming parity tests (SURVEY §7.2 milestone 5, §7.3 hard part (d)).

The oracle gate already pins availableNow-run streaming outputs to batch
semantics; these tests pin what the oracle can't see: that keyed state
really crosses micro-batch boundaries (a section split across two files
processed one-file-per-trigger reassembles byte-exactly, and the CC
counter survives between batches).
"""

from __future__ import annotations

import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

STREAM_SCHEMA = StructType(
    [
        StructField("stream_id", StringType()),
        StructField("value", BinaryType()),
    ]
)


def _write_segment(path: str, stream_id: str, value: bytes) -> None:
    """Write one (stream_id, value) row as a plain parquet FILE (the
    file-stream source does not recurse into Spark-style output dirs)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {"stream_id": pa.array([stream_id], pa.string()),
         "value": pa.array([value], pa.binary())}
    )
    pq.write_table(table, path)


def _run_one_file_per_trigger(spark, src_dir, build_stream):
    from streamprocessors_spark.streaming.runner import run_available_now

    raw = (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    return run_available_now(build_stream(raw))


@pytest.fixture()
def split_section_dir(spark):
    """Two parquet files: packet 1 of a 300-byte section, then packet 2.

    File order is forced via the file-stream source's modified-time order —
    we write them with distinct names and rely on maxFilesPerTrigger=1 to
    deliver two micro-batches.
    """
    from streamprocessors_spark.codec.psi import encode_section, sectionize

    payload = bytes(range(256)) + b"x" * 44  # 300 B -> spans 2 packets
    sec = encode_section(
        table_id=0x40,
        table_id_ext=7,
        version=3,
        section_number=0,
        last_section_number=0,
        payload=payload,
    )
    pkts = sectionize(sec, pid=100, start_cc=0)
    assert len(pkts) >= 2, "fixture must span packets"

    d = tempfile.mkdtemp(prefix=f"spgraft_split_{uuid.uuid4().hex[:6]}_")
    p0 = os.path.join(d, "part0.parquet")
    p1 = os.path.join(d, "part1.parquet")
    _write_segment(p0, "s", bytes(pkts[0]))
    _write_segment(p1, "s", b"".join(bytes(p) for p in pkts[1:]))
    # The file source orders batches by modification time; both writes can
    # land in the same millisecond, so pin distinct mtimes explicitly.
    now = os.stat(p1).st_mtime
    os.utime(p0, (now - 10, now - 10))
    os.utime(p1, (now + 10, now + 10))
    return d, sec


def test_section_state_crosses_microbatches(spark, split_section_dir):
    src_dir, sec = split_section_dir
    from streamprocessors_spark.sources import packets_from_binary_column
    from streamprocessors_spark.streaming.stateful import section_reassembly_stream

    sink = _run_one_file_per_trigger(
        spark,
        src_dir,
        lambda raw: section_reassembly_stream(packets_from_binary_column(raw)),
    )
    rows = sink.collect()
    assert len(rows) == 1
    r = rows[0]
    assert bytes(r.section_bytes) == sec  # byte-exact across the batch gap
    assert r.crc_ok and r.table_id_ext == 7 and r.version == 3


def test_cc_state_crosses_microbatches(spark):
    """Two single-packet batches with a CC gap: the error is only visible
    if last_cc persisted from batch 1 to batch 2."""
    from streamprocessors_spark.codec.ts import encode_ts_packet
    from streamprocessors_spark.sources import packets_from_binary_column
    from streamprocessors_spark.streaming.stateful import cc_state_stream

    p0 = encode_ts_packet(pid=50, cc=0, payload=b"\x00" * 184)
    p2 = encode_ts_packet(pid=50, cc=2, payload=b"\x00" * 184)  # gap: expect 1

    d = tempfile.mkdtemp(prefix=f"spgraft_cc_{uuid.uuid4().hex[:6]}_")
    paths = []
    for i, pkt in enumerate([p0, p2]):
        path = os.path.join(d, f"part{i}.parquet")
        _write_segment(path, "s", bytes(pkt))
        paths.append(path)
    now = os.stat(paths[-1]).st_mtime
    for i, path in enumerate(paths):
        os.utime(path, (now + 10 * i, now + 10 * i))

    sink = _run_one_file_per_trigger(
        spark, d, lambda raw: cc_state_stream(packets_from_binary_column(raw))
    )
    agg = (
        sink.groupBy("stream_id", "pid")
        .agg(F.sum("n_packets").alias("n"), F.sum("cc_errors").alias("e"))
        .collect()
    )
    assert len(agg) == 1
    assert agg[0].n == 2 and agg[0].e == 1


def test_section_state_idle_timeout_abandons_partial(spark, split_section_dir):
    """T2 time-axis rule: a key idle past idle_timeout_ms loses its partial
    buffer (psi_table_dec.c:160-166 abandonment). One continuously-running
    query (processingTime trigger — an idle timeout NEVER terminates under
    availableNow, because every timeout check schedules a follow-up batch):
    half a section arrives, the key goes idle past the timeout, then the
    continuation arrives — and must NOT complete, because the reassembler
    state was dropped and restarted unsynced."""
    import shutil
    import time

    from streamprocessors_spark.sources import packets_from_binary_column
    from streamprocessors_spark.streaming.stateful import section_reassembly_stream

    src_dir, sec = split_section_dir
    # stage the batches into a fresh dir so we control arrival times
    d = tempfile.mkdtemp(prefix=f"spgraft_tmo_{uuid.uuid4().hex[:6]}_")
    ckpt = tempfile.mkdtemp(prefix=f"spgraft_tmo_ck_{uuid.uuid4().hex[:6]}_")
    parts = sorted(os.listdir(src_dir))
    assert len(parts) == 2

    raw = spark.readStream.schema(STREAM_SCHEMA).parquet(d)
    out = section_reassembly_stream(
        packets_from_binary_column(raw), idle_timeout_ms=500
    )
    name = f"tmo_{uuid.uuid4().hex[:6]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="250 milliseconds")
        .start()
    )

    def batches_done() -> int:
        p = q.lastProgress
        return p["batchId"] if p else -1

    def wait_past(batch: int, deadline_s: float = 120.0) -> None:
        t0 = time.monotonic()
        while batches_done() <= batch:
            assert time.monotonic() - t0 < deadline_s, "query stalled"
            time.sleep(0.1)

    try:
        # phase 1: first half of stream "s"'s section
        shutil.copy(os.path.join(src_dir, parts[0]), os.path.join(d, "b0.parquet"))
        wait_past(0)
        # phase 2: let the key idle past 500 ms; timeout-check batches run
        # automatically (each batch with live timeouts schedules the next)
        b = batches_done()
        time.sleep(1.0)
        wait_past(b + 2)  # >= two more batches -> the timeout has fired
        assert spark.table(name).count() == 0
        # phase 3: the continuation arrives too late to complete
        shutil.copy(os.path.join(src_dir, parts[1]), os.path.join(d, "b2.parquet"))
        b = batches_done()
        wait_past(b + 2)
        rows = spark.table(name).collect()
        assert rows == [], f"abandoned section must not complete, got {rows}"
    finally:
        q.stop()


def test_section_state_survives_query_restart(spark):
    """T7 teardown/recovery: the partial-section buffer must survive a
    FULL query stop + restart through the checkpoint (state-store
    recovery), not just a micro-batch boundary within one run — the
    reference's stop/start lifecycle, Spark-style. Run 1 sees only the
    section's first packet (emits nothing, holds state); the query is
    torn down; run 2 starts from the same checkpoint, reads the second
    packet, and must emit the byte-exact completed section."""
    from streamprocessors_spark.codec.psi import encode_section, sectionize
    from streamprocessors_spark.sources import packets_from_binary_column
    from streamprocessors_spark.streaming.stateful import (
        section_reassembly_stream,
    )

    payload = bytes(range(256)) + b"y" * 44
    sec = encode_section(
        table_id=0x42,
        table_id_ext=9,
        version=5,
        section_number=0,
        last_section_number=0,
        payload=payload,
    )
    pkts = sectionize(sec, pid=200, start_cc=0)
    assert len(pkts) >= 2

    src = tempfile.mkdtemp(prefix=f"spgraft_restart_{uuid.uuid4().hex[:6]}_")
    ckpt = tempfile.mkdtemp(prefix=f"spgraft_rst_ckpt_{uuid.uuid4().hex[:6]}_")
    out = tempfile.mkdtemp(prefix=f"spgraft_rst_out_{uuid.uuid4().hex[:6]}_")

    def run_once():
        # memory sinks cannot recover from a checkpoint; a parquet sink is
        # the durable-restart path (and what production uses)
        raw = (
            spark.readStream.schema(STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            section_reassembly_stream(packets_from_binary_column(raw))
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)  # SAME checkpoint both runs
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out)

    _write_segment(os.path.join(src, "part0.parquet"), "s", bytes(pkts[0]))
    out1 = run_once()
    assert out1.count() == 0  # incomplete section held in state, not lost

    _write_segment(
        os.path.join(src, "part1.parquet"),
        "s",
        b"".join(bytes(p) for p in pkts[1:]),
    )
    out2 = run_once()
    rows = out2.collect()
    assert len(rows) == 1
    r = rows[0]
    assert bytes(r.section_bytes) == sec  # byte-exact across the RESTART
    assert r.crc_ok and r.table_id_ext == 9 and r.version == 5


def test_cc_state_restart_keeps_checkpoint_partitions(spark):
    """A stateful stream restarted after the session's shuffle-partition
    count changed keeps the count recorded in its checkpoint: its state
    store was written under N partitions and is read back under N, so
    the CC counters carry over the restart intact. Run 1 reads two files
    under N partitions; the session then moves to M != N; run 2 reads two
    more files from the same checkpoint. The summed output must equal the
    batch pid_packet_stats over all four files, and the CC gap placed on
    the first packet after the restart is only counted if last_cc
    survived it."""
    from streamprocessors_spark.codec.ts import encode_ts_packet
    from streamprocessors_spark.operators.demux import pid_packet_stats
    from streamprocessors_spark.sources import packets_from_binary_column
    from streamprocessors_spark.streaming.stateful import cc_state_stream

    n_parts, m_parts = 3, 5
    schema = "stream_id STRING, value BINARY, seq BIGINT"
    src = tempfile.mkdtemp(prefix=f"spgraft_ccrst_{uuid.uuid4().hex[:6]}_")
    ckpt = tempfile.mkdtemp(prefix=f"spgraft_ccrst_ckpt_{uuid.uuid4().hex[:6]}_")
    out = tempfile.mkdtemp(prefix=f"spgraft_ccrst_out_{uuid.uuid4().hex[:6]}_")
    pids = (50, 51, 52)
    per_file = 18  # 6 packets per pid, interleaved
    cc = dict.fromkeys(pids, 0)

    def write_file(i: int, skip: tuple[int, ...] = ()) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        pkts = []
        for j in range(per_file):
            pid = pids[j % len(pids)]
            if j < len(pids) and pid in skip:
                cc[pid] = (cc[pid] + 1) % 16  # CC gap on the file's first packet
            pkts.append(bytes(encode_ts_packet(pid=pid, cc=cc[pid], payload=b"\x00" * 184)))
            cc[pid] = (cc[pid] + 1) % 16
        path = os.path.join(src, f"part{i}.parquet")
        pq.write_table(
            pa.table({"stream_id": ["s"], "value": pa.array([b"".join(pkts)], pa.binary()),
                      "seq": pa.array([i * per_file], pa.int64())}),
            path,
        )
        t = 1_000_000 + 10 * i  # the file source orders batches by mtime
        os.utime(path, (t, t))

    def run_once():
        raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        q = (
            cc_state_stream(packets_from_binary_column(raw, index_col="seq"))
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [
            op["numShufflePartitions"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        ]

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        write_file(0)
        write_file(1, skip=(51,))
        spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
        assert set(run_once()) == {n_parts}
        spark.conf.set("spark.sql.shuffle.partitions", str(m_parts))
        write_file(2, skip=(52,))
        write_file(3)
        run2 = run_once()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert run2 and set(run2) == {n_parts}

    got = {
        r.pid: (r.n, r.e)
        for r in spark.read.parquet(out)
        .groupBy("pid")
        .agg(F.sum("n_packets").alias("n"), F.sum("cc_errors").alias("e"))
        .collect()
    }
    batch_raw = spark.read.schema(schema).parquet(src)
    want = {
        r.pid: (r.n_packets, r.cc_errors)
        for r in pid_packet_stats(packets_from_binary_column(batch_raw, index_col="seq"))
        .select("pid", "n_packets", "cc_errors")
        .collect()
    }
    assert got == want
    assert got == {50: (24, 0), 51: (24, 1), 52: (24, 1)}


def test_stream_dedup_minhash_cross_batch_state_parity(spark):
    """Incremental LSH dedup: documents ingested across FOUR micro-batches
    (one file per trigger) must emit exactly the batch candidate pair set
    — bucket membership crosses batch boundaries through the state store,
    and a pair whose two docs arrive in different batches is only
    findable if the earlier doc's membership survived."""
    import uuid as _uuid

    from streamprocessors_spark.plans.llm_ops import (
        LSH_MAX_BUCKET,
        minhash_candidate_pairs,
        shingle_docs,
    )
    from streamprocessors_spark.plans.streaming_queries import (
        minhash_band_stream,
    )
    from streamprocessors_spark.streaming.stateful import (
        lsh_bucket_pairs_stream,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    src = tempfile.mkdtemp(prefix=f"spgraft_lsh_{_uuid.uuid4().hex[:6]}_")
    docs.repartition(4).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"lshsink_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="spgraft_lsh_ckpt_")
    q = (
        lsh_bucket_pairs_stream(minhash_band_stream(stream), LSH_MAX_BUCKET)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 2, "ingest collapsed into one micro-batch"

    streamed = {
        (r.doc_a, r.doc_b) for r in spark.table(name).distinct().collect()
    }
    batch = {
        (r.doc_a, r.doc_b)
        for r in minhash_candidate_pairs(
            shingle_docs(docs, 8)
        ).collect()
    }
    assert streamed == batch, (
        len(streamed), len(batch),
        sorted(streamed ^ batch)[:5],
    )


def test_stream_dedup_minhash_bucket_saturation(spark):
    """Streaming twin of the batch hot-bucket fixture: 300 identical
    boilerplate docs saturate their buckets (state collapses to a
    counter, no member list), so pairs stop at the cap — the emitted
    count is bounded by C(cap, 2) per bucket, never C(300, 2) — while a
    small 4-doc bucket still pairs fully across batches."""
    import uuid as _uuid

    from streamprocessors_spark.plans.llm_ops import LSH_MAX_BUCKET
    from streamprocessors_spark.plans.streaming_queries import (
        minhash_band_stream,
    )
    from streamprocessors_spark.streaming.stateful import (
        lsh_bucket_pairs_stream,
    )

    boiler = "the quick brown fox jumps over the lazy dog " * 5
    other = "completely different text about spark shuffles and lsh caps " * 5
    rows = [(i, "en", boiler) for i in range(300)]
    rows += [(10_000 + i, "en", other) for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    src = tempfile.mkdtemp(prefix=f"spgraft_sat_{_uuid.uuid4().hex[:6]}_")
    docs.repartition(3).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"satsink_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="spgraft_sat_ckpt_")
    q = (
        lsh_bucket_pairs_stream(minhash_band_stream(stream), LSH_MAX_BUCKET)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    pairs = {
        (r.doc_a, r.doc_b) for r in spark.table(name).distinct().collect()
    }
    hot = {p for p in pairs if p[0] < 10_000}
    # pre-saturation pairs stand (documented append-mode contract), but
    # saturation caps them at C(cap, 2) instead of C(300, 2) = 44,850
    assert len(hot) <= LSH_MAX_BUCKET * (LSH_MAX_BUCKET - 1) // 2, len(hot)
    small = {p for p in pairs if p[0] >= 10_000}
    assert small == {
        (10_000 + a, 10_000 + b) for a in range(4) for b in range(4) if a < b
    }


def test_stream_repeated_ngram_cross_batch_first_occurrence_released(spark):
    """The held-back-first-occurrence contract across micro-batches: doc A
    (batch 1) and doc B (batch 3) share a 5-gram; A's position must be
    HELD in state through batch 2 and released only when B arrives — the
    final flagged set equals the batch operator's exactly."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from streamprocessors_spark.functions import dialect as D
    from streamprocessors_spark.functions import textprep as TP
    from streamprocessors_spark.functions.dialect import SPARK
    from streamprocessors_spark.streaming.stateful import (
        gram_repeat_positions_stream,
    )

    shared = "alpha beta gamma delta epsilon"
    batches = [
        [(1, f"intro words {shared} outro")],
        [(2, "totally different filler content here now")],
        [(3, f"{shared} trailing text of doc three")],
    ]
    schema = "doc_id long, text string"
    src = tempfile.mkdtemp(prefix=f"spgraft_rgs_{_uuid.uuid4().hex[:6]}_")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"b{i}.parquet"))
    # flatten: file source reads a directory of directories? stage files flat
    import glob, shutil
    flat = tempfile.mkdtemp(prefix=f"spgraft_rgsf_{_uuid.uuid4().hex[:6]}_")
    for i in range(3):
        part = glob.glob(os.path.join(src, f"b{i}.parquet", "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(flat, f"{i:02d}.parquet"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    grams = (
        stream.selectExpr("doc_id", f"{D.words(SPARK)} as ws")
        .selectExpr("doc_id", f"{TP.kgram_hashes(SPARK, 'ws')} as kh")
        .select("doc_id", F.posexplode_outer("kh").alias("pos0", "gh"))
        .where(F.col("gh").isNotNull())
        .selectExpr("doc_id", "cast(pos0 + 1 as bigint) as pos", "gh")
    )
    name = f"rgsink_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="spgraft_rgs_ckpt_")
    q = (
        gram_repeat_positions_stream(grams)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 3

    got = {(r.doc_id, r.pos) for r in spark.table(name).collect()}
    # doc 1: "intro words alpha beta gamma delta epsilon outro" -> the
    # shared 5-gram starts at word 3; doc 3: at word 1. Only that one
    # gram repeats.
    assert got == {(1, 3), (3, 1)}, got


def test_stream_hll_emits_only_register_increases(spark):
    """The delta-compression contract: across micro-batches a bucket
    emits only when its register RISES, and max-by-bucket over emissions
    equals the batch registers over the union of all batches."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from streamprocessors_spark.plans.relational import hll_registers, hll_rhos
    from streamprocessors_spark.streaming.stateful import hll_register_stream

    # batch 2 repeats batch 1's values exactly -> zero emissions for it
    batches = [
        [(i,) for i in range(100)],
        [(i,) for i in range(100)],
        [(i,) for i in range(100, 300)],
    ]
    import glob, shutil
    flat = tempfile.mkdtemp(prefix=f"spgraft_hll_{_uuid.uuid4().hex[:6]}_")
    for bi, rows in enumerate(batches):
        d = tempfile.mkdtemp(prefix="spgraft_hllb_")
        spark.createDataFrame(rows, "v long").coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(flat, f"{bi:02d}.parquet"))

    hv = "cast(conv(substr(md5(cast(v as string)),1,15),16,10) as bigint)"
    stream = (
        spark.readStream.schema("v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    name = f"hllsink_{_uuid.uuid4().hex[:8]}"
    q = (
        hll_register_stream(hll_rhos(stream.selectExpr(f"{hv} as hv")))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="spgraft_hllc_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 3

    emitted = spark.table(name)
    # per-bucket emissions must be strictly increasing (no duplicates,
    # no repeats from the no-new-data batch)
    rows = [(r.bucket, r.m_reg) for r in emitted.collect()]
    assert len(rows) == len(set(rows))

    batch_regs = {
        (r.bucket, r.m_reg)
        for r in hll_registers(
            spark.createDataFrame(
                [(v,) for b in batches for (v,) in b], "v long"
            ).selectExpr(f"{hv} as hv")
        ).collect()
    }
    stream_regs = {
        (r.bucket, r.m_reg)
        for r in emitted.groupBy("bucket")
        .agg(F.max("m_reg").alias("m_reg"))
        .collect()
    }
    assert stream_regs == batch_regs


def test_stream_ann_topk_cross_batch_state_parity(spark):
    """Incremental ANN: vectors ingested across FOUR micro-batches must
    reproduce the batch brute-force top-k exactly — a query's running
    top-k crosses batch boundaries through the state store, and the
    emitted candidate set must contain every final top-k member even
    when a later batch delivers a better vector that evicts an earlier
    one."""
    import uuid as _uuid

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from streamprocessors_spark.functions import dialect as D
    from streamprocessors_spark.functions.dialect import SPARK
    from streamprocessors_spark.plans import REGISTRY
    from streamprocessors_spark.plans.llm_ops import ANN_N_QUERIES, ANN_TOPK
    from streamprocessors_spark.streaming.stateful import ann_topk_stream

    sf_dir = os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    embs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    src = tempfile.mkdtemp(prefix=f"spgraft_ann_{_uuid.uuid4().hex[:6]}_")
    embs.repartition(4).write.mode("overwrite").parquet(src)

    nrm = f"{D.dot_double(SPARK, 'embedding', 'embedding')}"
    e = embs.selectExpr("vec_id", "embedding", f"{nrm} as nrm")
    q_side = e.where(F.col("vec_id") < ANN_N_QUERIES).selectExpr(
        "vec_id as va", "embedding as ea", "nrm as na"
    )
    stream = (
        spark.readStream.schema(embs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .selectExpr("vec_id as vb", "embedding as eb", f"{nrm} as nb")
    )
    scored = stream.join(F.broadcast(q_side), F.expr("va != vb")).selectExpr(
        "va", "vb", f"{D.cosine_pre(SPARK, 'ea', 'eb', 'na', 'nb')} as cos"
    )
    name = f"annsink_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="spgraft_ann_ckpt_")
    q = (
        ann_topk_stream(scored, ANN_TOPK)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 2, "ingest collapsed into one micro-batch"

    cand = spark.table(name).distinct()
    a = e.selectExpr("vec_id as va", "embedding as ea", "nrm as na")
    b = e.selectExpr("vec_id as vb", "embedding as eb", "nrm as nb")
    j = (
        cand.join(a, "va")
        .join(b, "vb")
        .selectExpr(
            "va", "vb", f"{D.cosine_pre(SPARK, 'ea', 'eb', 'na', 'nb')} as cos"
        )
    )
    w = Window.partitionBy("va").orderBy(F.col("cos").desc(), F.col("vb"))
    streamed = {
        (r.va, r.vb, r.rank)
        for r in j.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANN_TOPK)
        .collect()
    }
    batch = {
        (r.va, r.vb, r.rank)
        for r in REGISTRY["ann_bruteforce_topk"].fn(spark, sf_dir).collect()
    }
    assert streamed == batch, (len(streamed), len(batch))
    # superset economy: emitted candidates stay O(k log n)-ish per query,
    # far below the corpus size
    assert cand.count() < embs.count()


def test_stream_weighted_reservoir_cross_batch_parity(spark):
    """Streaming A-ES reservoir over a 4-shard ingest must equal the
    batch sample exactly: a group's running reservoir crosses batch
    boundaries through the state store, and a later batch's better
    (smaller-key) doc must evict an earlier entry without losing any
    true member of the final sample."""
    import uuid as _uuid

    from streamprocessors_spark.plans import REGISTRY
    from streamprocessors_spark.plans.llm_ops import (
        RES_K,
        RES_STREAM_SALTS,
        _aes_key_sql,
    )
    from streamprocessors_spark.functions.dialect import SPARK
    from streamprocessors_spark.streaming.stateful import ann_topk_stream

    sf_dir = os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    src = tempfile.mkdtemp(prefix=f"spgraft_res_{_uuid.uuid4().hex[:6]}_")
    docs.repartition(4).write.mode("overwrite").parquet(src)

    w, key = _aes_key_sql(SPARK)
    scored = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .selectExpr(
            f"doc_id % {RES_STREAM_SALTS} as va",
            "doc_id as vb",
            f"cast({w} as bigint) as ww",
            f"cast(-({key}) as double) as cos",
        )
        .where("ww > 0")
        .select("va", "vb", "cos")
    )
    name = f"ressink_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="spgraft_res_ckpt_")
    q = (
        ann_topk_stream(scored, RES_K)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 2, "ingest collapsed into one micro-batch"

    cand = spark.table(name).selectExpr("vb as doc_id").distinct()
    streamed = (
        docs.join(cand, "doc_id")
        .selectExpr(
            "doc_id",
            f"cast({w} as bigint) as weight_words",
            f"cast({key} as bigint) as aes_key",
        )
        .where("weight_words > 0")
        .orderBy("aes_key", "doc_id")
        .limit(RES_K)
    )
    batch = REGISTRY["weighted_reservoir_sample"].fn(spark, sf_dir)
    got = [(r.doc_id, r.aes_key) for r in streamed.collect()]
    want = [(r.doc_id, r.aes_key) for r in batch.collect()]
    assert got == want


def test_stream_keep_list_clusters_across_micro_batches(spark):
    """A near-dup pair SPLIT across micro-batches must still cluster:
    batch 1 delivers docs 1 and 2 (identical text), batch 2 delivers doc
    3 (same text again) plus an unrelated doc 4. The standing-label star
    edges have to carry batch-1 clusters into batch 2, so all of 1/2/3
    share canonical=1 while 4 keeps itself."""
    import pandas as pd

    from streamprocessors_spark.plans.llm_ops import (
        LSH_MAX_BUCKET,
        shingle_docs,
    )
    from streamprocessors_spark.plans.streaming_queries import (
        _incremental_keep_list_labels,
        minhash_band_stream,
    )
    from streamprocessors_spark.streaming.stateful import (
        lsh_bucket_pairs_stream,
    )

    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten"
    src = tempfile.mkdtemp(prefix="spgraft_klsrc_")
    pd.DataFrame(
        {"doc_id": [1, 2], "text": [dup, dup], "lang": ["en", "en"]}
    ).to_parquet(os.path.join(src, "b1.parquet"))
    pd.DataFrame(
        {"doc_id": [3, 4], "text": [dup, other], "lang": ["en", "en"]}
    ).to_parquet(os.path.join(src, "b2.parquet"))

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force >= 2 micro-batches
        .parquet(src)
    )
    bands = minhash_band_stream(stream)
    pair_stream = lsh_bucket_pairs_stream(bands, LSH_MAX_BUCKET)
    shingles = shingle_docs(
        spark.read.parquet(src), spark.sparkContext.defaultParallelism
    )
    labels = _incremental_keep_list_labels(pair_stream, shingles)
    assert labels is not None
    got = {int(r.doc_id): int(r.canonical) for r in labels.collect()}
    assert got[1] == 1 and got[2] == 1 and got[3] == 1
    assert 4 not in got  # unrelated doc never entered the pair graph


def test_stream_packing_cross_batch_offset_parity(spark, tmp_path):
    """The streaming packer must make a corpus split across REAL
    micro-batches pack IDENTICALLY to the one-shot batch packer (shards
    arriving in doc_id order — the twin's divergence contract): same
    bins, same token/doc/sep counts, same Rabin-Karp fingerprints. The
    corpus exceeds one context window per source so bins CLOSE and the
    open-bin partial carries across batches; the carried state must stay
    bounded (at most the per-source offset + ONE open partial per
    source), which is what makes drain-time work independent of how many
    batches replayed (VERDICT r9 #3)."""
    import pandas as pd

    from streamprocessors_spark.plans.llm_ops import (
        _PACK_W,
        packing_bins,
        packing_positions,
    )
    from streamprocessors_spark.plans.streaming_queries import (
        ingest_packed_bins,
    )

    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = []
    for i in range(1, 9):  # 8 docs x ~100 words, 2 sources -> ~400
        words = [vocab[(i * 7 + k) % len(vocab)] for k in range(95 + i)]
        rows.append((i, " ".join(words), "en", "srcA" if i % 2 else "srcB"))
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    )
    # a tiny trained encode table: every distinct word maps to itself
    # (identity segmentation) with its corpus count — offset arithmetic,
    # not BPE, is what this test pins
    us = "\x1f"
    seq = (
        docs.selectExpr("explode(split(lower(text), ' ')) as word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .selectExpr("word", f"concat('{us}', word, '{us}') as seq", "cnt")
        .localCheckpoint()
    )
    batch = {
        (r.source, r.bin): (r.n_tokens, r.n_docs, r.n_seps, r.fp)
        for r in packing_bins(packing_positions(docs, seq)).collect()
    }
    assert len(batch) > 2  # at least one CLOSED bin per source

    # replay as 4 real micro-batches (one shard file per trigger)
    src = str(tmp_path / "shards")
    for lo, hi in ((1, 2), (3, 4), (5, 6), (7, 8)):
        docs.where(F.col("doc_id").between(lo, hi)).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    probe: dict = {}
    out = ingest_packed_bins(stream, seq, state=probe)
    streamed = {
        (r.source, r.bin): (r.n_tokens, r.n_docs, r.n_seps, r.fp)
        for r in out.collect()
    }
    assert streamed == batch
    # bounded state: per-source scalars only — no positioned frames, no
    # per-batch anything
    assert set(probe) == {"offsets", "partials", "last_batch"}
    assert set(probe["offsets"]) == {"srcA", "srcB"}
    assert len(probe["partials"]) <= 2
    for s, (b, nt, nd, ns, fp) in probe["partials"].items():
        assert nt == probe["offsets"][s] % _PACK_W  # exactly the open tail


def test_stream_lineage_packing_cross_batch_parity(spark, tmp_path):
    """The lineage twin must fold provenance across REAL micro-batches
    exactly: spans by min/max, v1-member counts by disjoint-doc sums,
    the lineage fingerprint by its mod-sum — drained bins equal the
    batch lineage aggregation bin-for-bin, and the carried state stays
    per-source-bounded like the plain packer's."""
    import pandas as pd

    from streamprocessors_spark.plans.llm_ops import (
        lineage_bins,
        packing_positions,
    )
    from streamprocessors_spark.plans.streaming_queries import (
        ingest_packed_lineage_bins,
    )

    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = []
    for i in range(1, 9):
        words = [vocab[(i * 7 + k) % len(vocab)] for k in range(95 + i)]
        rows.append((i, " ".join(words), "en", "srcA" if i % 2 else "srcB"))
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    )
    us = "\x1f"
    seq = (
        docs.selectExpr("explode(split(lower(text), ' ')) as word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .selectExpr("word", f"concat('{us}', word, '{us}') as seq", "cnt")
        .localCheckpoint()
    )
    batch = {
        (r.source, r.bin): (
            r.n_tokens, r.n_docs, r.n_seps, r.fp,
            r.first_doc_id, r.last_doc_id, r.n_v1_docs, r.lineage_fp,
        )
        for r in lineage_bins(packing_positions(docs, seq)).collect()
    }
    src = str(tmp_path / "shards")
    for lo, hi in ((1, 2), (3, 4), (5, 6), (7, 8)):
        docs.where(F.col("doc_id").between(lo, hi)).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    probe: dict = {}
    out = ingest_packed_lineage_bins(stream, seq, state=probe)
    streamed = {
        (r.source, r.bin): (
            r.n_tokens, r.n_docs, r.n_seps, r.fp,
            r.first_doc_id, r.last_doc_id, r.n_v1_docs, r.lineage_fp,
        )
        for r in out.collect()
    }
    assert streamed == batch
    assert len(probe["partials"]) <= 2  # one open partial per source max


def test_stream_snapshot_delta_emits_all_four_classes(spark, sf_dir):
    """The CDC twin must detect 'removed' via the drain-time store-vs-
    sink reconciliation (absent docs never arrive), alongside the
    arrival-classified added/changed/same."""
    from streamprocessors_spark import plans

    plans.load_all()
    rows = plans.REGISTRY["stream_snapshot_delta"].fn(spark, sf_dir).collect()
    by_class: dict = {}
    for r in rows:
        by_class[r.delta] = by_class.get(r.delta, 0) + int(r.n_docs)
    assert set(by_class) == {"added", "removed", "changed", "same"}
    assert all(v > 0 for v in by_class.values())
