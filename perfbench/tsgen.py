"""Seeded MPEG-TS inputs and the outputs the engine must produce from them.

The encoder here is the benchmark's own (PAT/PMT/SDT sections, CRC-32/MPEG-2,
188-byte packets), so the expected results come from the spec that was
generated, never from the engine under test.

A mux is a sequence of cycles: one PSI burst (PAT, one PMT per program,
the SDT split into sections of at most 32 services) followed by a run of
ES packets round-robin over every elementary PID. Continuity counters run
per PID; a seeded set of ES packets skips one counter value, so each gap
is exactly one CC error.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np

PKT = 188
DGRAM_PKTS = 7
DGRAM = PKT * DGRAM_PKTS
PID_PAT = 0x0000
PID_SDT = 0x0011
TID_PAT, TID_PMT, TID_SDT = 0x00, 0x02, 0x42
SDT_SERVICES_PER_SECTION = 32
STREAM_TYPES = ((0x1B, 0x02), (0x0F, 0x03), (0x06,))  # video, audio, data


def _crc_table() -> list[int]:
    table = []
    for i in range(256):
        c = i << 24
        for _ in range(8):
            c = ((c << 1) ^ 0x04C11DB7) if c & 0x80000000 else c << 1
        table.append(c & 0xFFFFFFFF)
    return table


_CRC = _crc_table()


def crc32_mpeg2(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _CRC[((crc >> 24) ^ b) & 0xFF]
    return crc


def section(table_id: int, ext: int, body: bytes, number: int = 0, last: int = 0) -> bytes:
    length = 5 + len(body) + 4
    head = bytes(
        [table_id, 0xB0 | (length >> 8), length & 0xFF, ext >> 8, ext & 0xFF,
         0xC1, number, last]
    )
    raw = head + body
    return raw + crc32_mpeg2(raw).to_bytes(4, "big")


@dataclass(frozen=True)
class Program:
    number: int
    pmt_pid: int
    streams: tuple[tuple[int, int], ...]  # (stream_type, es_pid)
    service_name: str

    @property
    def pcr_pid(self) -> int:
        return self.streams[0][1]


def make_programs(rng: random.Random, n_programs: int) -> list[Program]:
    pids = rng.sample(range(0x0020, 0x1FFF), n_programs * 4)
    numbers = sorted(rng.sample(range(1, 0xFFFF), n_programs))
    out = []
    for i, number in enumerate(numbers):
        pmt, *es = pids[4 * i : 4 * i + 4]
        streams = tuple((rng.choice(t), p) for t, p in zip(STREAM_TYPES, es))
        out.append(Program(number, pmt, streams, f"svc-{number:05d}"))
    return out


def psi_sections(programs: list[Program], ts_id: int) -> list[tuple[int, int, bytes]]:
    """(pid, table_id, section) for one PSI burst."""
    pat = b"".join(
        bytes([p.number >> 8, p.number & 0xFF, 0xE0 | (p.pmt_pid >> 8), p.pmt_pid & 0xFF])
        for p in programs
    )
    out = [(PID_PAT, TID_PAT, section(TID_PAT, ts_id, pat))]
    for p in programs:
        body = bytes([0xE0 | (p.pcr_pid >> 8), p.pcr_pid & 0xFF, 0xF0, 0x00])
        for st, pid in p.streams:
            body += bytes([st, 0xE0 | (pid >> 8), pid & 0xFF, 0xF0, 0x00])
        out.append((p.pmt_pid, TID_PMT, section(TID_PMT, p.number, body)))
    chunks = [
        programs[i : i + SDT_SERVICES_PER_SECTION]
        for i in range(0, len(programs), SDT_SERVICES_PER_SECTION)
    ]
    for n, chunk in enumerate(chunks):
        body = bytes([0x00, 0x01, 0xFF])  # original_network_id, reserved
        for p in chunk:
            prov, name = b"perfbench", p.service_name.encode()
            desc = bytes([0x48, 3 + len(prov) + len(name), 0x01, len(prov)])
            desc += prov + bytes([len(name)]) + name
            body += bytes([p.number >> 8, p.number & 0xFF, 0xFC, 0x80 | (len(desc) >> 8), len(desc) & 0xFF])
            body += desc
        out.append((PID_SDT, TID_SDT, section(TID_SDT, ts_id, body, n, len(chunks) - 1)))
    return out


def _section_bodies(sec: bytes) -> list[bytes]:
    """184-byte packet payloads: pointer_field 0, 0xFF stuffing at the end."""
    data = b"\x00" + sec
    data += b"\xff" * (-len(data) % 184)
    return [data[i : i + 184] for i in range(0, len(data), 184)]


@dataclass
class Mux:
    """One generated transport stream and the results it must yield."""

    programs: list[Program]
    ts_id: int
    packets: np.ndarray  # (n, 188) uint8
    pids: np.ndarray  # (n,) pid per packet
    gap: np.ndarray  # (n,) True where the CC skips a value
    section_end: np.ndarray  # packet index of each section's last packet

    def pid_counts(self, n_packets: int | None = None) -> dict[int, tuple[int, int]]:
        """{pid: (packets, cc_errors)} over the first ``n_packets``."""
        n = len(self.pids) if n_packets is None else n_packets
        pids, gap = self.pids[:n], self.gap[:n]
        cnt = np.bincount(pids, minlength=8192)
        err = np.bincount(pids[gap], minlength=8192)
        return {int(p): (int(cnt[p]), int(err[p])) for p in np.nonzero(cnt)[0]}

    def sections_complete(self, n_packets: int | None = None) -> int:
        n = len(self.pids) if n_packets is None else n_packets
        return int(np.count_nonzero(self.section_end < n))

    def summary_rows(self) -> set[tuple]:
        """programs_summary rows minus stream_id: (program_number,
        reference_pid, service_name, n_streams, pcr_pid)."""
        return {
            (p.number, p.pmt_pid, p.service_name, len(p.streams), p.pcr_pid)
            for p in self.programs
        }


def build_mux(
    seed: int,
    n_programs: int,
    es_per_cycle: int,
    n_packets: int,
    n_gaps: int,
    ts_id: int = 1,
) -> Mux:
    """Cycles of (PSI burst + ``es_per_cycle`` ES packets), cut at
    ``n_packets``; ``n_gaps`` seeded CC gaps on ES packets."""
    rng = random.Random(seed)
    programs = make_programs(rng, n_programs)
    burst_pids, burst_bodies, burst_pusi, burst_ends = [], [], [], []
    for pid, _tid, sec in psi_sections(programs, ts_id):
        bodies = _section_bodies(sec)
        burst_pids += [pid] * len(bodies)
        burst_bodies += bodies
        burst_pusi += [1] + [0] * (len(bodies) - 1)
        burst_ends.append(len(burst_pids) - 1)
    es_pids = np.array([pid for p in programs for _, pid in p.streams], dtype=np.int64)
    n_burst = len(burst_pids)
    cycle = n_burst + es_per_cycle
    n_cycles = -(-n_packets // cycle)

    # per-packet pid, payload-template index and PUSI flag
    pos = np.arange(n_cycles * cycle)
    in_cycle = pos % cycle
    is_psi = in_cycle < n_burst
    es_seq = (pos // cycle) * es_per_cycle + (in_cycle - n_burst)
    pids = np.where(
        is_psi,
        np.array(burst_pids, dtype=np.int64)[np.minimum(in_cycle, n_burst - 1)],
        es_pids[es_seq % len(es_pids)],
    )[:n_packets]
    body_idx = np.where(is_psi, in_cycle, n_burst)[:n_packets]
    pusi = np.where(is_psi, np.array(burst_pusi)[np.minimum(in_cycle, n_burst - 1)], 0)[:n_packets]
    is_psi = is_psi[:n_packets]

    # CC gaps: ES packets that are not their PID's first packet
    order = np.argsort(pids, kind="stable")
    sp = pids[order]
    first = np.ones(len(sp), dtype=bool)
    first[1:] = sp[1:] != sp[:-1]
    occ = np.empty(len(sp), dtype=np.int64)
    starts = np.nonzero(first)[0]
    occ[order] = np.arange(len(sp)) - np.repeat(starts, np.diff(np.append(starts, len(sp))))
    candidates = np.nonzero(~is_psi & (occ > 0))[0]
    gap = np.zeros(n_packets, dtype=bool)
    gap[np.array(sorted(rng.sample(list(candidates), n_gaps)), dtype=np.int64)] = True
    g_sorted = np.cumsum(gap[order])
    g_base = np.repeat(g_sorted[starts] - gap[order][starts], np.diff(np.append(starts, len(sp))))
    skips = np.empty(n_packets, dtype=np.int64)
    skips[order] = g_sorted - g_base
    cc = (occ + skips) & 0xF

    es_body = np.frombuffer(bytes(range(184)), dtype=np.uint8)
    bodies = np.stack(
        [np.frombuffer(b, dtype=np.uint8) for b in burst_bodies] + [es_body]
    )
    pk = np.empty((n_packets, PKT), dtype=np.uint8)
    pk[:, 0] = 0x47
    pk[:, 1] = (pusi << 6) | (pids >> 8)
    pk[:, 2] = pids & 0xFF
    pk[:, 3] = 0x10 | cc
    pk[:, 4:] = bodies[body_idx]

    ends = np.array(burst_ends, dtype=np.int64)
    cyc = np.arange(n_cycles, dtype=np.int64)[:, None] * cycle
    return Mux(
        programs=programs,
        ts_id=ts_id,
        packets=pk,
        pids=pids,
        gap=gap,
        section_end=(cyc + ends).ravel(),
    )


# -- workload inputs ---------------------------------------------------------

CAPTURE_MUXES = 8
CAPTURE_PROGRAMS = 64
CAPTURE_ES_PER_CYCLE = 12 * CAPTURE_PROGRAMS * 3  # PSI ~3 % of packets
CAPTURE_PACKETS = 40_000  # per mux

LIVE_PROGRAMS = 64
LIVE_ES_PER_CYCLE = 156  # one PSI burst is 78 packets: PSI ~1/3 of packets


def capture_muxes(seed: int) -> list[Mux]:
    rng = random.Random(seed)
    return [
        build_mux(
            rng.randrange(1 << 30),
            CAPTURE_PROGRAMS,
            CAPTURE_ES_PER_CYCLE,
            CAPTURE_PACKETS + rng.randrange(-2000, 2000),
            n_gaps=rng.randrange(20, 60),
            ts_id=i + 1,
        )
        for i in range(CAPTURE_MUXES)
    ]


def live_feed(seed: int, n_datagrams: int) -> Mux:
    rng = random.Random(seed ^ 0x5EED)
    n = n_datagrams * DGRAM_PKTS
    return build_mux(
        rng.randrange(1 << 30),
        LIVE_PROGRAMS,
        LIVE_ES_PER_CYCLE,
        n,
        n_gaps=max(1, n // 500),
    )
