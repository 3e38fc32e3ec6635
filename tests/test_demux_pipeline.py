"""End-to-end batch demux: fixture TS -> packets -> sections -> PSI tables
-> programs summary (the SURVEY §7.1 minimum slice), checked against the
fixture spec (golden-output style, like the reference's utests)."""

from __future__ import annotations

import os

import pytest

from streamprocessors_spark.codec import psi
from streamprocessors_spark.codec.fixtures import build_ts, default_mux
from streamprocessors_spark.operators import demux
from streamprocessors_spark.sources import packets_from_binary_column, read_ts_files


@pytest.fixture(scope="module")
def ts_file(tmp_path_factory):
    d = tmp_path_factory.mktemp("ts")
    p = os.path.join(d, "fixture.ts")
    with open(p, "wb") as f:
        f.write(build_ts())
    return p


@pytest.fixture(scope="module")
def packets(spark, ts_file):
    df = read_ts_files(spark, ts_file)
    df.cache().count()
    return df


def test_packet_counts(packets, ts_file):
    n_bytes = os.path.getsize(ts_file)
    assert packets.count() == n_bytes // 188
    assert packets.where("NOT sync_ok").count() == 0


def test_sections_and_crc(spark, packets):
    psi_pids = [psi.PSI_PID_PAT, psi.PSI_PID_SDT, 0x100, 0x200]
    sections = demux.reassemble_sections(packets, psi_pids=psi_pids)
    rows = sections.collect()
    assert rows, "no sections reassembled"
    assert all(r.crc_ok for r in rows)
    tids = {r.table_id for r in rows}
    assert tids == {psi.PSI_TABLE_ID_PAT, psi.PSI_TABLE_ID_PMT, psi.PSI_TABLE_ID_SDT}


def test_programs_summary_matches_spec(spark, packets):
    spec = default_mux()
    psi_pids = [psi.PSI_PID_PAT, psi.PSI_PID_SDT] + [p.pmt_pid for p in spec.programs]
    sections = demux.reassemble_sections(packets, psi_pids=psi_pids)
    sections.cache().count()
    pat = demux.pat_programs(sections)
    pmt = demux.pmt_streams(sections)
    sdt = demux.sdt_services(sections)
    summary = {
        r.program_number: r for r in demux.programs_summary(pat, pmt, sdt).collect()
    }
    assert set(summary) == {p.program_number for p in spec.programs}
    for p in spec.programs:
        row = summary[p.program_number]
        assert row.reference_pid == p.pmt_pid
        assert row.service_name == p.service_name
        assert row.n_streams == len(p.streams)
        assert row.pcr_pid == p.pcr_pid


def test_pmt_stream_types(spark, packets):
    spec = default_mux()
    sections = demux.reassemble_sections(
        sections_pids := packets, psi_pids=[p.pmt_pid for p in spec.programs]
    )
    got = {
        (r.program_number, r.elementary_pid): r.stream_type
        for r in demux.pmt_streams(sections).collect()
    }
    want = {
        (p.program_number, es): st for p in spec.programs for st, es in p.streams
    }
    assert got == want


def test_pid_stats_and_cc_clean(spark, packets):
    stats = {r.pid: r for r in demux.pid_packet_stats(packets).collect()}
    spec = default_mux()
    for p in spec.programs:
        for _, es in p.streams:
            assert stats[es].n_packets == spec.es_payload_packets
            assert stats[es].cc_errors == 0
    assert stats[psi.PSI_PID_PAT].cc_errors == 0
    # pcr carried only on pcr PIDs
    for p in spec.programs:
        assert stats[p.pcr_pid].last_pcr is not None


def test_cc_violation_detection(spark):
    """Drop one ES packet -> exactly one CC violation on that PID."""
    blob = build_ts()
    spec = default_mux()
    es_pid = spec.programs[0].streams[0][1]
    # find the 5th packet of that pid and remove it
    from streamprocessors_spark.codec.ts import parse_ts_buffer_np

    cols = parse_ts_buffer_np(blob)
    hits = [i for i in range(len(cols["pid"])) if cols["pid"][i] == es_pid]
    cut = hits[5]
    mutated = blob[: cut * 188] + blob[(cut + 1) * 188 :]
    src = spark.createDataFrame(
        [("s0", bytearray(mutated))], "stream_id string, value binary"
    )
    df = packets_from_binary_column(src)
    viol = demux.cc_violations(df).collect()
    assert len(viol) == 1
    assert viol[0].pid == es_pid


def test_lookup_api_j3_j5_j6(spark):
    """J3/J5/J6 lookups over a parsed multi-program capture."""
    from streamprocessors_spark.codec.fixtures import MuxSpec, ProgramSpec, build_ts
    from streamprocessors_spark.operators.demux import (
        es_lookup,
        pat_filter_by_pid,
        pat_filter_by_program,
        pat_programs,
        pmt_filter_by_program,
        pmt_streams,
        reassemble_sections,
    )
    from streamprocessors_spark.sources import packets_from_binary_column

    spec = MuxSpec(
        programs=[
            ProgramSpec(1, 0x100, 0x101, [(0x1B, 0x101), (0x0F, 0x102)], "SVC1"),
            ProgramSpec(2, 0x110, 0x111, [(0x1B, 0x111)], "SVC2"),
        ],
        psi_interval=20,
        es_payload_packets=10,
    )
    raw = spark.createDataFrame([("cap", build_ts(spec))], "stream_id STRING, value BINARY")
    sections = reassemble_sections(packets_from_binary_column(raw))
    pat = pat_programs(sections)
    pmt = pmt_streams(sections)

    r = pat_filter_by_pid(pat, 0x110).collect()
    assert len(r) == 1 and r[0].program_number == 2
    r = pat_filter_by_program(pat, 1).collect()
    assert len(r) == 1 and r[0].reference_pid == 0x100
    rows = pmt_filter_by_program(pmt, 1).collect()
    assert {x.elementary_pid for x in rows} == {0x101, 0x102}
    es = es_lookup(pat, pmt, 0x102).collect()
    assert len(es) == 1
    assert es[0].program_number == 1 and es[0].stream_type == 0x0F


def test_complete_tables_r6(spark):
    """R6: a 2-section table completes only when both sections arrive,
    ordered by section_number even when they arrive out of order."""
    from streamprocessors_spark.codec.psi import encode_section, sectionize
    from streamprocessors_spark.operators.demux import complete_tables, reassemble_sections
    from streamprocessors_spark.sources import packets_from_binary_column

    def sec(num: int, last: int, payload: bytes, version: int = 5) -> bytes:
        return encode_section(
            table_id=0x40, table_id_ext=9, version=version,
            section_number=num, last_section_number=last, payload=payload,
        )

    s0, s1 = sec(0, 1, b"AAAA"), sec(1, 1, b"BBBB")
    incomplete = sec(0, 1, b"CCCC", version=6)  # second section never sent

    # arrival order: s1 BEFORE s0 (out-of-order tolerated), then v6 partial
    buf = b"".join(
        b"".join(sectionize(s, pid=200, start_cc=i * 4))
        for i, s in enumerate([s1, s0, incomplete])
    )
    raw = spark.createDataFrame(
        [("t", buf)], "stream_id STRING, value BINARY"
    )
    sections = reassemble_sections(packets_from_binary_column(raw))
    tables = complete_tables(sections).collect()
    assert len(tables) == 1  # v5 complete; v6 incomplete filtered out
    t = tables[0]
    assert t.version == 5 and t.n_sections == 2
    assert [s.section_number for s in t.sections] == [0, 1]
    assert bytes(t.sections[0].section_bytes) == s0  # re-ordered by number
    assert bytes(t.sections[1].section_bytes) == s1


def test_latest_sections_waits_for_a_complete_version(spark):
    """R6/R7: while a 2-section SDT is changing version, the register
    keeps the last complete version. v1 sections 0 and 1 arrive, then v2
    section 0 only: every latest row is v1, and sdt_services reads v1's
    two services, never a mix of v2 section 0 and v1 section 1."""
    from streamprocessors_spark.codec.psi import (
        PSI_PID_SDT,
        PSI_TABLE_ID_SDT,
        encode_section,
        encode_service_descriptor,
        sectionize,
    )
    from streamprocessors_spark.operators.demux import (
        latest_sections,
        reassemble_sections,
        sdt_services,
    )
    from streamprocessors_spark.sources import packets_from_binary_column

    def sdt_section(num: int, version: int, service_id: int, name: str) -> bytes:
        desc = encode_service_descriptor(1, "prov", name)
        body = bytes([0, 1, 0xFF])  # original_network_id 1
        body += bytes(
            [service_id >> 8, service_id & 0xFF, 0xFC, (4 << 5) | (len(desc) >> 8), len(desc) & 0xFF]
        ) + desc
        return encode_section(
            table_id=PSI_TABLE_ID_SDT, table_id_ext=7, version=version,
            section_number=num, last_section_number=1, payload=body,
        )

    arrivals = [
        sdt_section(0, 1, 101, "one-v1"),
        sdt_section(1, 1, 102, "two-v1"),
        sdt_section(0, 2, 101, "one-v2"),
    ]
    buf = b"".join(
        b"".join(sectionize(sec, pid=PSI_PID_SDT, start_cc=i * 4))
        for i, sec in enumerate(arrivals)
    )
    raw = spark.createDataFrame([("s", buf)], "stream_id STRING, value BINARY")
    sections = reassemble_sections(packets_from_binary_column(raw))
    latest = latest_sections(sections).collect()
    assert sorted((r.section_number, r.version) for r in latest) == [(0, 1), (1, 1)]
    services = sdt_services(sections).orderBy("service_id").collect()
    assert [(r.service_id, r.service_name) for r in services] == [
        (101, "one-v1"),
        (102, "two-v1"),
    ]


def test_psi_payload_edge_cases(spark):
    """Payload corner cases of the decode made during reassembly. The
    expected rows come from the codec's parse_section of the same bytes:
    - an SDT service without a service descriptor: null type and provider,
      name "" (and the first 0x48 descriptor wins over an earlier 0x59);
    - a PMT without an ES loop gives no pmt_streams rows;
    - PAT program 0 (the network PID) is a pat_programs row, not a program;
    - a newer PAT version with current_next=0, and one with a broken CRC,
      never replace the current table."""
    from streamprocessors_spark.codec.psi import (
        DESC_TAG_SERVICE,
        DESC_TAG_SUBTITLING,
        encode_pat,
        encode_pmt,
        encode_section,
        encode_service_descriptor,
        parse_section,
        sectionize,
    )

    pat = encode_pat([(0, 0x10), (1, 0x100), (2, 0x200)], ts_id=7)
    pending = encode_section(
        psi.PSI_TABLE_ID_PAT, 7, 1, 0, 0, bytes([0, 3, 0xE3, 0x00]), current_next=0
    )
    broken = bytearray(encode_pat([(4, 0x400)], ts_id=7, version=2))
    broken[-1] ^= 0xFF
    pmt_es = encode_pmt(1, 0x101, [(0x1B, 0x101), (0x0F, 0x102)])
    pmt_empty = encode_pmt(2, 0x201, [])
    subtitling = bytes([DESC_TAG_SUBTITLING, 8]) + b"eng" + bytes(5)
    descs = subtitling + encode_service_descriptor(1, "prov", "One")
    sdt = encode_section(
        psi.PSI_TABLE_ID_SDT,
        7,
        0,
        0,
        0,
        bytes([0, 1, 0xFF])
        + bytes([0, 1, 0xFC, 4 << 5, len(descs)])
        + descs
        + bytes([0, 2, 0xFC, 4 << 5, 0]),  # service 2: empty descriptor loop
    )
    carriage = [
        (psi.PSI_PID_PAT, [pat, pending, bytes(broken)]),
        (0x100, [pmt_es]),
        (0x200, [pmt_empty]),
        (psi.PSI_PID_SDT, [sdt]),
    ]
    buf = b"".join(
        b"".join(sectionize(sec, pid, start_cc=i))
        for pid, secs in carriage
        for i, sec in enumerate(secs)
    )
    raw = spark.createDataFrame([("e", buf)], "stream_id STRING, value BINARY")
    sections = demux.reassemble_sections(packets_from_binary_column(raw))
    sections.cache().count()
    assert sections.count() == 6

    h = parse_section(pat)
    want_pat = sorted(
        ("e", h["table_id_ext"], h["version"], p["program_number"], p["reference_pid"])
        for p in h["pas"]
    )
    got_pat = sorted(tuple(r) for r in demux.pat_programs(sections).collect())
    assert got_pat == want_pat
    assert ("e", 7, 0, 0, 0x10) in got_pat

    want_pmt = sorted(
        (
            "e",
            h["table_id_ext"],
            pid,
            h["version"],
            h["pms"]["pcr_pid"],
            s["stream_type"],
            s["stream_type_name"],
            s["elementary_pid"],
        )
        for pid, sec in ((0x100, pmt_es), (0x200, pmt_empty))
        for h in [parse_section(sec)]
        for s in h["pms"]["streams"]
    )
    got_pmt = sorted(tuple(r) for r in demux.pmt_streams(sections).collect())
    assert got_pmt == want_pmt
    assert {r[1] for r in got_pmt} == {1}

    h = parse_section(sdt)
    want_sdt = []
    for s in h["sds"]["services"]:
        d = next((d for d in s["descriptors"] if d["tag"] == DESC_TAG_SERVICE), None)
        want_sdt.append(
            (
                "e",
                h["table_id_ext"],
                s["service_id"],
                s["running_status"],
                s["free_ca_mode"],
                d["service_type"] if d else None,
                d["provider_name"] if d else None,
                d["service_name"] if d else "",
            )
        )
    got_sdt = sorted(tuple(r) for r in demux.sdt_services(sections).collect())
    assert got_sdt == sorted(want_sdt)
    assert got_sdt[0][5:] == (1, "prov", "One")
    assert got_sdt[1][5:] == (None, None, "")

    summary = {
        r.program_number: r
        for r in demux.programs_summary(
            demux.pat_programs(sections),
            demux.pmt_streams(sections),
            demux.sdt_services(sections),
        ).collect()
    }
    assert set(summary) == {1, 2}  # program 0 dropped
    assert (summary[1].service_name, summary[1].n_streams) == ("One", 2)
    assert (summary[2].service_name, summary[2].n_streams) == ("", 0)
    assert summary[2].pcr_pid is None
