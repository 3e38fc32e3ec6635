"""TS packet layer: 188-byte packet parse / encode.

Re-expresses the reference's packet codec semantics —
``ts_dec_packet`` (mpeg2ts/src/ts_dec.c:257-419), the adaptation-field
decoder (ts_dec.c:183-255), ``ts_enc_packet`` (mpeg2ts/src/ts_enc.c:41-159)
and the header-accessor macros (mpeg2ts/src/ts.h:51-74) — as (a) a
vectorized numpy parser for whole buffers (the Pandas-UDF hot path) and
(b) scalar dict-level parse/encode used by the fixture generator and tests.

PCR/OPCR use the documented 33+6+9-bit packing (mpeg2ts/src/ts.h:123-134):
``PCR = base * 300 + ext`` at 27 MHz.
"""

from __future__ import annotations

from typing import Any

import numpy as np

TS_PKT_SIZE = 188  # mpeg2ts/src/ts.h:37
TS_PKTS_PER_UDP = 7  # mpeg2ts/src/ts.h:38
TS_SYNC_BYTE = 0x47
TS_MAX_PID = 0x1FFF  # 8191; null packets
PCR_MAX_BASE = 1 << 33  # 33-bit wraparound modulus


# ---------------------------------------------------------------------------
# Vectorized buffer parse (hot path)
# ---------------------------------------------------------------------------


def parse_ts_buffer_np(buf: bytes) -> dict[str, np.ndarray]:
    """Parse a buffer of concatenated 188-byte packets into column arrays.

    Returns a dict of numpy arrays (one element per packet):
    ``pkt_index, sync_ok, tei, pusi, priority, pid, scrambling, afc, cc,
    has_af, af_len, discontinuity, random_access, pcr (ns -1), payload_off,
    payload_len``. Truncated trailing bytes are ignored (the reference
    logs-and-drops the residual, mpeg2ts/src/mpeg2_sp.c:1377-1382).

    This is the P1+P2 fast path: pure columnar bit ops, no per-packet
    Python, suitable for Arrow-batched ``mapInArrow``.
    """
    n = len(buf) // TS_PKT_SIZE
    a = np.frombuffer(buf, dtype=np.uint8, count=n * TS_PKT_SIZE).reshape(
        n, TS_PKT_SIZE
    )
    b0 = a[:, 0].astype(np.int64)
    b1 = a[:, 1].astype(np.int64)
    b2 = a[:, 2].astype(np.int64)
    b3 = a[:, 3].astype(np.int64)

    sync_ok = b0 == TS_SYNC_BYTE
    tei = (b1 >> 7) & 1
    pusi = (b1 >> 6) & 1  # TS_BUF_GET_START_INDICATOR, ts.h:57-59
    priority = (b1 >> 5) & 1
    pid = ((b1 & 0x1F) << 8) | b2  # TS_BUF_GET_PID, ts.h:54-56
    scrambling = (b3 >> 6) & 3
    afc = (b3 >> 4) & 3  # adaptation_field_control
    cc = b3 & 0x0F  # TS_BUF_GET_CC, ts.h:66-68

    has_af = (afc & 2) != 0
    af_len = np.where(has_af, a[:, 4].astype(np.int64), -1)

    # AF flag byte (position 5) only meaningful when af_len > 0.
    flag = np.where(has_af & (af_len > 0), a[:, 5].astype(np.int64), 0)
    discontinuity = (flag >> 7) & 1
    random_access = (flag >> 6) & 1
    pcr_flag = ((flag >> 4) & 1).astype(bool) & has_af & (af_len >= 7)

    # 48-bit PCR field at bytes 6..11: base(33) | reserved(6) | ext(9).
    p = a[:, 6:12].astype(np.int64)
    raw48 = (
        (p[:, 0] << 40)
        | (p[:, 1] << 32)
        | (p[:, 2] << 24)
        | (p[:, 3] << 16)
        | (p[:, 4] << 8)
        | p[:, 5]
    )
    base = raw48 >> 15
    ext = raw48 & 0x1FF
    pcr = np.where(pcr_flag, base * 300 + ext, -1)

    # Payload offset: 4 + (1 + af_len if AF present else 0).
    payload_off = np.where(has_af, 5 + np.maximum(af_len, 0), 4)
    has_payload = (afc & 1) != 0
    payload_len = np.where(has_payload, TS_PKT_SIZE - payload_off, 0)
    payload_len = np.maximum(payload_len, 0)

    return {
        "pkt_index": np.arange(n, dtype=np.int64),
        "sync_ok": sync_ok,
        "tei": tei,
        "pusi": pusi,
        "priority": priority,
        "pid": pid,
        "scrambling": scrambling,
        "afc": afc,
        "cc": cc,
        "has_af": has_af,
        "af_len": af_len,
        "discontinuity": discontinuity,
        "random_access": random_access,
        "pcr": pcr,
        "payload_off": payload_off,
        "payload_len": payload_len,
    }


# ---------------------------------------------------------------------------
# Scalar parse / encode (fixtures, tests, section reassembly)
# ---------------------------------------------------------------------------


def parse_ts_packet(pkt: bytes) -> dict[str, Any]:
    """Parse one 188-byte packet into a dict (scalar reference path).

    Compliance checks mirror ts_dec.c:257-419: sync byte, reserved PIDs
    0x03..0x0F flagged, AF control '00' reserved, null-packet AF rules.
    Returns the parsed fields plus ``errors`` (list of strings) — the
    quarantine-split pattern instead of the reference's log-and-reject.
    """
    errors: list[str] = []
    if len(pkt) != TS_PKT_SIZE:
        return {"errors": ["bad_size"]}
    if pkt[0] != TS_SYNC_BYTE:
        errors.append("bad_sync")
    b1, b2, b3 = pkt[1], pkt[2], pkt[3]
    pid = ((b1 & 0x1F) << 8) | b2
    pusi = (b1 >> 6) & 1
    afc = (b3 >> 4) & 3
    out: dict[str, Any] = {
        "tei": (b1 >> 7) & 1,
        "pusi": pusi,
        "priority": (b1 >> 5) & 1,
        "pid": pid,
        "scrambling": (b3 >> 6) & 3,
        "afc": afc,
        "cc": b3 & 0x0F,
        "af": None,
        "payload": b"",
    }
    if 0x03 <= pid <= 0x0F:
        errors.append("reserved_pid")  # ts_dec.c compliance check
    if afc == 0:
        errors.append("afc_reserved")  # '00' is reserved
    off = 4
    if afc & 2:
        af_len = pkt[4]
        off = 5 + af_len
        af: dict[str, Any] = {"length": af_len}
        if af_len > 0:
            flag = pkt[5]
            af["discontinuity"] = (flag >> 7) & 1
            af["random_access"] = (flag >> 6) & 1
            af["es_priority"] = (flag >> 5) & 1
            af["pcr_flag"] = (flag >> 4) & 1
            af["opcr_flag"] = (flag >> 3) & 1
            af["splicing_point_flag"] = (flag >> 2) & 1
            p = 6
            if af["pcr_flag"] and af_len >= 7:
                af["pcr"] = _unpack_pcr(pkt[p : p + 6])
                p += 6
            if af["opcr_flag"] and p + 6 <= 5 + af_len:
                af["opcr"] = _unpack_pcr(pkt[p : p + 6])
                p += 6
            if af["splicing_point_flag"] and p < 5 + af_len:
                af["splice_countdown"] = int.from_bytes(
                    pkt[p : p + 1], "big", signed=True
                )
                p += 1
        out["af"] = af
    if afc & 1:
        if off > TS_PKT_SIZE:
            errors.append("af_overflow")
        else:
            out["payload"] = pkt[off:TS_PKT_SIZE]
    out["errors"] = errors
    return out


def _unpack_pcr(six: bytes) -> int:
    raw48 = int.from_bytes(six, "big")
    base = raw48 >> 15
    ext = raw48 & 0x1FF
    return base * 300 + ext  # ts.h:123-134 equations


def _pack_pcr(pcr27mhz: int) -> bytes:
    base = (pcr27mhz // 300) % PCR_MAX_BASE
    ext = pcr27mhz % 300
    raw48 = (base << 15) | (0x3F << 9) | ext  # 6 reserved bits set
    return raw48.to_bytes(6, "big")


def pcr_delta(pcr_a: int, pcr_b: int) -> int:
    """Wraparound-aware PCR difference (b - a) in 27 MHz ticks.

    The 33-bit base wraps ~26.5 h; deltas are taken mod 2^33*300 and
    mapped into the signed half-range (SURVEY §7.3 hard part (c))."""
    modulus = PCR_MAX_BASE * 300
    d = (pcr_b - pcr_a) % modulus
    if d >= modulus // 2:
        d -= modulus
    return d


def encode_ts_packet(
    pid: int,
    payload: bytes = b"",
    cc: int = 0,
    pusi: int = 0,
    pcr: int | None = None,
    discontinuity: int = 0,
    random_access: int = 0,
    scrambling: int = 0,
    priority: int = 0,
    tei: int = 0,
) -> bytes:
    """Encode a 188-byte TS packet (mirror of ts_enc.c:41-159).

    Payload shorter than the free space is padded with an adaptation
    field (stuffing 0xFF), the standard mechanism; payload longer raises.
    """
    if not 0 <= pid <= TS_MAX_PID:
        raise ValueError(f"pid out of range: {pid}")
    if not 0 <= cc <= 15:
        raise ValueError(f"cc out of range: {cc}")

    af = b""
    need_af = pcr is not None or discontinuity or random_access
    if need_af:
        flag = (discontinuity << 7) | (random_access << 6)
        body = b""
        if pcr is not None:
            flag |= 1 << 4
            body = _pack_pcr(pcr)
        af = bytes([1 + len(body), flag]) + body

    space = TS_PKT_SIZE - 4 - len(af)
    if len(payload) > space:
        raise ValueError(f"payload too long: {len(payload)} > {space} (pid={pid})")

    # Pad with AF stuffing (0xFF) so the payload sits flush at the packet
    # end — the standard stuffing mechanism the reference validates at
    # psi_dec.c:444-474.
    pad = TS_PKT_SIZE - 4 - len(af) - len(payload)
    if pad > 0:
        if not af:
            # Create an AF purely for stuffing: length byte (+flag byte if
            # there's room), then 0xFF filler.
            af = bytes([0]) if pad == 1 else bytes([pad - 1, 0x00]) + b"\xff" * (pad - 2)
        else:
            af = bytes([af[0] + pad]) + af[1:] + b"\xff" * pad

    afc = (2 if af else 0) | (1 if payload else 0)
    if afc == 0:  # '00' is reserved — emit an empty-AF-only packet instead
        af, afc = bytes([183, 0x00]) + b"\xff" * 182, 2
    b1 = (tei << 7) | (pusi << 6) | (priority << 5) | (pid >> 8)
    b2 = pid & 0xFF
    b3 = (scrambling << 6) | (afc << 4) | cc
    pkt = bytes([TS_SYNC_BYTE, b1, b2, b3]) + af + payload
    assert len(pkt) == TS_PKT_SIZE, len(pkt)
    return pkt


def check_cc(prev_cc: int | None, cc: int, has_payload: bool, discontinuity: bool) -> bool:
    """Continuity check (P6, ts_dec.c:98-172): True = OK.

    Rules: first packet always OK; AF discontinuity flag excuses a gap;
    packets without payload must NOT increment; with payload must be
    (prev+1) mod 16. Duplicate (same cc, with payload) is allowed by the
    standard at most twice — flagged OK here, counted by the caller."""
    if prev_cc is None or discontinuity:
        return True
    if not has_payload:
        return cc == prev_cc
    return cc == ((prev_cc + 1) & 0xF)
