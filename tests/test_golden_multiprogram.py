"""Golden end-to-end: one multi-program capture through the full pipeline.

The reference's e2e test replays a real multi-program capture
(san_diego_200kbps.ts) and eyeballs the REST state; this is the same shape
with a synthetic 16-program mux — a SINGLE transport stream whose PAT
lists every program and whose PSI tables interleave with ES packets — plus
a PAT version update to pin R7 (latest-version register) on a genuinely
multi-table stream. ``test_real_capture_san_diego`` additionally replays
the reference's OWN capture asset when present, pinning the codec layer to
ground truth the reference itself tests against.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

N_PROGRAMS = 16

# The reference e2e replays this exact asset (utests_mpeg2_sp.cpp:57-64).
_SAN_DIEGO = "/root/reference/mpeg2ts/utests/assets/san_diego_200kbps.ts"


def _multiprogram_ts(psi_interval: int = 40) -> bytes:
    from streamprocessors_spark.codec.fixtures import MuxSpec, ProgramSpec, build_ts

    spec = MuxSpec(
        programs=[
            ProgramSpec(
                program_number=k,
                pmt_pid=0x100 + k * 16,
                pcr_pid=0x101 + k * 16,
                streams=[(0x1B, 0x101 + k * 16), (0x0F, 0x102 + k * 16)],
                service_name=f"CHAN-{k:02d}",
            )
            for k in range(1, N_PROGRAMS + 1)
        ],
        psi_interval=psi_interval,
        es_payload_packets=25,
    )
    return build_ts(spec)


@pytest.fixture(scope="module")
def capture(spark):
    from streamprocessors_spark.operators.demux import reassemble_sections
    from streamprocessors_spark.sources import packets_from_binary_column

    buf = _multiprogram_ts()
    raw = spark.createDataFrame([("cap", buf)], "stream_id STRING, value BINARY")
    pkts = packets_from_binary_column(raw)
    return pkts, reassemble_sections(pkts)


def test_multiprogram_summary(spark, capture):
    from streamprocessors_spark.operators.demux import (
        pat_programs,
        pmt_streams,
        programs_summary,
        sdt_services,
    )

    _, sections = capture
    rows = programs_summary(
        pat_programs(sections), pmt_streams(sections), sdt_services(sections)
    ).collect()
    assert len(rows) == N_PROGRAMS
    by_pn = {r.program_number: r for r in rows}
    for k in range(1, N_PROGRAMS + 1):
        r = by_pn[k]
        assert r.service_name == f"CHAN-{k:02d}"
        assert r.n_streams == 2
        assert r.reference_pid == 0x100 + k * 16
        assert r.pcr_pid == 0x101 + k * 16


def test_multiprogram_pid_census(spark, capture):
    pkts, _ = capture
    pids = {r.pid for r in pkts.select("pid").distinct().collect()}
    assert 0x0 in pids and 0x11 in pids
    for k in range(1, N_PROGRAMS + 1):
        assert 0x100 + k * 16 in pids  # PMT
        assert 0x101 + k * 16 in pids  # ES/PCR


def test_pat_version_update_r7(spark):
    """Two PAT versions in one stream: the current-table register keeps
    only v1 (the program added in v1 visible, v0's view superseded)."""
    from streamprocessors_spark.codec.psi import encode_pat, sectionize
    from streamprocessors_spark.operators.demux import (
        latest_sections,
        pat_programs,
        reassemble_sections,
    )
    from streamprocessors_spark.sources import packets_from_binary_column

    v0 = encode_pat([(1, 0x100)], version=0)
    v1 = encode_pat([(1, 0x100), (2, 0x110)], version=1)
    buf = b"".join(sectionize(v0, pid=0, start_cc=0)) + b"".join(
        sectionize(v1, pid=0, start_cc=8)
    )
    raw = spark.createDataFrame([("s", buf)], "stream_id STRING, value BINARY")
    sections = reassemble_sections(packets_from_binary_column(raw))
    assert sections.count() == 2  # both versions decoded
    latest = latest_sections(sections).collect()
    assert len(latest) == 1 and latest[0].version == 1  # register swapped
    progs = pat_programs(sections).orderBy("program_number").collect()
    assert [(p.program_number, p.reference_pid) for p in progs] == [
        (1, 0x100),
        (2, 0x110),
    ]
    assert all(p.pat_version == 1 for p in progs)


def test_multiprogram_streaming_parity(spark, tmp_path):
    """Batch/stream parity of the decoded PSI rows on the synthetic mux:
    cut into 4 segment files at SDT continuation packets (so those SDT
    sections straddle a cut and their partial buffers must ride the state
    store), replayed one file per micro-batch through
    section_reassembly_stream. Every column the stream shares with
    reassemble_sections must match, the payload columns included."""
    import pyspark.sql.types as T

    from streamprocessors_spark.operators.demux import reassemble_sections
    from streamprocessors_spark.sources import packets_from_binary_column
    from streamprocessors_spark.streaming.runner import run_available_now
    from streamprocessors_spark.streaming.stateful import (
        SECTION_STREAM_SCHEMA,
        section_reassembly_stream,
    )

    buf = _multiprogram_ts(psi_interval=5)  # 6 PSI bursts
    n_pkts = len(buf) // 188
    pkts = [buf[i * 188 : (i + 1) * 188] for i in range(n_pkts)]
    # SDT packets without PUSI: the second and later packets of a section
    cont = [
        i
        for i, p in enumerate(pkts)
        if ((p[1] & 0x1F) << 8 | p[2]) == 0x11 and not p[1] & 0x40
    ]
    cuts = [0, cont[0], cont[len(cont) // 2], cont[-1], n_pkts]
    assert len(set(cuts)) == 5
    seg_dir = tmp_path / "segs"
    seg_dir.mkdir()
    for k, (a, b) in enumerate(zip(cuts, cuts[1:])):
        p = seg_dir / f"seg{a:06d}.ts"  # the name carries the first packet index
        p.write_bytes(b"".join(pkts[a:b]))
        # deterministic ingest order: FileStreamSource sorts by mtime
        os.utime(p, (1_700_000_000 + k, 1_700_000_000 + k))

    bin_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    files = (
        spark.readStream.format("binaryFile")
        .schema(bin_schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(seg_dir))
    )
    staged = files.select(
        F.lit("cap").alias("stream_id"),
        F.col("content").alias("value"),
        F.regexp_extract(F.col("path"), r"seg(\d+)\.ts", 1).cast("long").alias("base"),
    )
    psi_pids = [0x0, 0x11] + [0x100 + k * 16 for k in range(1, N_PROGRAMS + 1)]
    pkts_s = packets_from_binary_column(staged, index_col="base")
    sink = run_available_now(
        section_reassembly_stream(
            pkts_s.where(F.col("pid").isin(psi_pids)).where(F.col("sync_ok"))
        )
    )
    raw = spark.createDataFrame([("cap", buf)], "stream_id STRING, value BINARY")
    batch = reassemble_sections(packets_from_binary_column(raw), psi_pids=psi_pids)

    cols = SECTION_STREAM_SCHEMA.fieldNames()
    assert {"pas", "pms", "sds"} <= set(cols)
    stream_rows = sink.select(*cols).collect()
    batch_rows = batch.select(*cols).collect()
    assert sorted(map(repr, stream_rows)) == sorted(map(repr, batch_rows))

    # 6 bursts of PAT + 16 PMTs + SDT, each with its payload decoded
    assert len(stream_rows) == 6 * (N_PROGRAMS + 2)
    by_tid: dict[int, list] = {}
    for r in stream_rows:
        by_tid.setdefault(r.table_id, []).append(r)
    assert [len(r.pas) for r in by_tid[0x00]] == [N_PROGRAMS] * 6
    assert all(len(r.pms.streams) == 2 for r in by_tid[0x02])
    assert all(len(r.sds) == N_PROGRAMS for r in by_tid[0x42])
    assert all(r.crc_ok for r in stream_rows)


@pytest.mark.skipif(
    not os.path.exists(_SAN_DIEGO), reason="reference capture asset not present"
)
def test_real_capture_san_diego(spark):
    """Regression armor on a REAL off-air capture: every expected value
    below was independently established from the reference's own e2e run
    over the same asset (15,029 sync-locked packets; PAT v14 for
    ts_id 29969; PMT v27 for program 1 with pcr_pid 69 and 2 ES; no SDT).
    """
    from streamprocessors_spark.operators.demux import (
        pat_programs,
        pmt_streams,
        programs_summary,
        reassemble_sections,
        sdt_services,
    )
    from streamprocessors_spark.sources.ts_source import read_ts_files

    pkts = read_ts_files(spark, _SAN_DIEGO)
    counts = pkts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("sync_ok").cast("int")).alias("n_sync"),
    ).collect()[0]
    assert counts.n == 15029
    assert counts.n_sync == 15029

    sections = reassemble_sections(pkts, psi_pids=[0x0, 0x11, 66])
    psi = sections.where(F.col("pid").isin(0, 66)).collect()
    assert psi and all(s.crc_ok for s in psi)  # R2: every PSI CRC green

    pats = pat_programs(sections).distinct().collect()
    assert {(p.ts_id, p.pat_version, p.program_number, p.reference_pid)
            for p in pats} == {(29969, 14, 1, 66)}

    pmts = pmt_streams(sections).distinct().orderBy("elementary_pid").collect()
    assert all(p.pmt_version == 27 and p.pcr_pid == 69 for p in pmts)
    assert len(pmts) == 2  # two elementary streams

    summary = programs_summary(
        pat_programs(sections), pmt_streams(sections), sdt_services(sections)
    ).collect()
    assert len(summary) == 1
    s = summary[0]
    assert s.program_number == 1
    assert s.pcr_pid == 69
    assert s.n_streams == 2


def test_subtitle_es_through_mux(spark):
    """U2 end-to-end: a real DVB-subtitle PES rides as an ES inside a TS
    mux, is demuxed by the packet source, and the dvb_subt editor restamps
    it — encode (python twin) -> mux -> packetize -> extract -> patch ->
    re-parse, every field checked against independently computed values."""
    import struct

    from streamprocessors_spark.codec.fixtures import MuxSpec, ProgramSpec, build_ts
    from streamprocessors_spark.codec.pes import (
        PTS_MOD,
        DvbSubtSettings,
        dvb_subt_patch_expr,
        pts_encode_py,
    )
    from streamprocessors_spark.codec.ts import encode_ts_packet
    from streamprocessors_spark.sources import packets_from_binary_column

    SUBT_PID = 0x1A0

    def build_pes(pts: int, page_id: int, timeout: int, hpos: int, vpos: int) -> bytes:
        # python twin of codec.pes.dvb_subt_pes_expr (fixed 30-byte layout)
        seg = (
            b"\x0f\x10" + struct.pack(">H", page_id) + b"\x00\x08"
            + bytes([timeout]) + b"\x0c" + b"\x01\xff"
            + struct.pack(">HH", hpos, vpos)
        )
        return (
            b"\x00\x00\x01\xbd" + struct.pack(">H", 24) + b"\x84\x80\x05"
            + pts_encode_py(pts) + b"\x20\x00" + seg
        )

    # one ordinary program + the subtitle ES packets appended to the mux
    spec = MuxSpec(
        programs=[
            ProgramSpec(
                program_number=1,
                pmt_pid=0x100,
                pcr_pid=0x101,
                streams=[(0x1B, 0x101), (0x06, SUBT_PID)],
                service_name="SUBT-TEST",
            )
        ],
        psi_interval=10,
        es_payload_packets=10,
    )
    cases = [
        (i, (1000 + i * 3600) % PTS_MOD, 1 + i, 5 + i % 50, (i * 7) % 720, (i * 5) % 576)
        for i in range(25)
    ]
    subt_pkts = b"".join(
        encode_ts_packet(
            SUBT_PID,
            payload=(build_pes(pts, pg, to, hp, vp) + b"\xff" * 154),
            cc=i & 0xF,
            pusi=1,
        )
        for i, pts, pg, to, hp, vp in cases
    )
    buf = build_ts(spec) + subt_pkts

    raw = spark.createDataFrame([("mux", buf)], "stream_id STRING, value BINARY")
    pkts = packets_from_binary_column(raw)
    # build_ts also emits one pusi=1 filler packet for the declared ES PID;
    # select only packets whose payload opens with the PES start code
    subt = pkts.where(
        (F.col("pid") == SUBT_PID)
        & (F.col("pusi") == 1)
        & (F.expr("substring(raw, 5, 4)") == F.lit(b"\x00\x00\x01\xbd"))
    ).select("pkt_index", F.expr("substring(raw, 5, 30)").alias("pes"))
    s = DvbSubtSettings(
        time_shift_offset_msec=250,
        duration_min_seg=10,
        duration_max_seg=40,
        duration_offset_seg=3,
        vpos_offset_pels=100,
        hpos_offset_pels=-50,
    )
    rows = {
        r.pkt_index: r
        for r in subt.select(
            "pkt_index", dvb_subt_patch_expr(F.col("pes"), s).alias("r")
        )
        .select("pkt_index", "r.*")
        .collect()
    }
    assert len(rows) == len(cases)
    order = sorted(rows)
    for (i, pts, pg, to, hp, vp), key in zip(cases, order):
        r = rows[key]
        assert r.pts_in == pts
        assert r.pts_out == (pts + 250 * 90) % PTS_MOD
        assert r.timeout_out == min(max(to + 3, 10), 40)
        assert r.hpos_out == min(max(hp - 50, 0), 719)
        assert r.vpos_out == min(max(vp + 100, 0), 575)


@pytest.mark.skipif(
    not os.path.exists(_SAN_DIEGO), reason="reference capture asset not present"
)
def test_real_capture_streaming_parity(spark, tmp_path):
    """SURVEY §7.2 milestone 5 on REAL off-air data: the capture is cut
    into 7 segment files replayed one-file-per-micro-batch through the
    keyed-state streaming operators, and the stream output must equal the
    batch pipeline's tables byte-for-byte. Segment cuts land mid-section
    (2200-packet boundaries), so partial PSI buffers MUST ride the state
    store across micro-batches for the hashes to line up — this is the
    engine's batch/stream parity claim exercised on the reference's own
    e2e asset, not a synthetic mux."""
    import pyspark.sql.types as T

    from streamprocessors_spark.operators.demux import (
        pid_packet_stats,
        reassemble_sections,
    )
    from streamprocessors_spark.sources.ts_source import (
        packets_from_binary_column,
        read_ts_files,
    )
    from streamprocessors_spark.streaming.runner import run_available_now
    from streamprocessors_spark.streaming.stateful import (
        cc_state_stream,
        section_reassembly_stream,
    )

    data = open(_SAN_DIEGO, "rb").read()
    n_pkts = len(data) // 188
    assert n_pkts == 15029
    seg_pkts = 2200
    seg_dir = tmp_path / "segs"
    seg_dir.mkdir()
    n_segs = 0
    for i in range(0, n_pkts, seg_pkts):
        chunk = data[i * 188 : min(i + seg_pkts, n_pkts) * 188]
        p = seg_dir / f"seg{i // seg_pkts:03d}.ts"
        p.write_bytes(chunk)
        # deterministic ingest order: FileStreamSource sorts by mtime
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        n_segs += 1
    assert n_segs == 7

    bin_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    files = (
        spark.readStream.format("binaryFile")
        .schema(bin_schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(seg_dir))
    )
    staged = files.select(
        F.lit("cap").alias("stream_id"),
        F.col("content").alias("value"),
        # global packet order across segments: segment index from the file
        # name x packets-per-segment (equal-size cuts)
        (
            F.regexp_extract(F.col("path"), r"seg(\d+)\.ts", 1).cast("long")
            * seg_pkts
        ).alias("base"),
    )
    pkts_s = packets_from_binary_column(staged, index_col="base")

    # --- section reassembly parity -------------------------------------
    psi_pids = [0x0, 0x11, 66]
    sink = run_available_now(
        section_reassembly_stream(
            pkts_s.where(F.col("pid").isin(psi_pids)).where(F.col("sync_ok"))
        )
    )
    key_cols = [
        "pid",
        "table_id",
        "table_id_ext",
        "version",
        "current_next",
        "section_number",
        "last_section_number",
        "crc_ok",
    ]
    stream_secs = sorted(
        (tuple(r[c] for c in key_cols) + (bytes(r.section_bytes),))
        for r in sink.collect()
    )

    batch_pkts = read_ts_files(spark, _SAN_DIEGO).withColumn(
        "stream_id", F.lit("cap")
    )
    batch_secs = sorted(
        (tuple(r[c] for c in key_cols) + (bytes(r.section_bytes),))
        for r in reassemble_sections(batch_pkts, psi_pids=psi_pids).collect()
    )
    assert stream_secs == batch_secs
    assert len(stream_secs) > 100  # a real capture carries repeating PSI

    # --- CC continuity parity ------------------------------------------
    cc_sink = run_available_now(cc_state_stream(pkts_s.where(F.col("sync_ok"))))
    stream_cc = {
        (r.pid): (r.n_packets, r.cc_errors)
        for r in cc_sink.groupBy("pid")
        .agg(
            F.sum("n_packets").alias("n_packets"),
            F.sum("cc_errors").alias("cc_errors"),
        )
        .collect()
    }
    batch_cc = {
        r.pid: (r.n_packets, r.cc_errors)
        for r in pid_packet_stats(batch_pkts.where(F.col("sync_ok")))
        .select("pid", "n_packets", "cc_errors")
        .collect()
    }
    assert stream_cc == batch_cc
    assert sum(n for n, _ in stream_cc.values()) == 15029
