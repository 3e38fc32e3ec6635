"""Keyed state by shard, and the one-pass Arrow slicer.

``cc_state_stream`` and ``section_reassembly_stream`` keep one state row
per key shard (``stateful.KEY_SHARDS``), a dict keyed by (stream_id,
pid). The per-shard steps are plain functions, so these tests drive them
directly, without Spark: state must stay per key inside a shard, cross
calls (micro-batches) intact, and expire per key. The slicer test pins
``_slice_arrow`` to a per-packet ``codec.ts.parse_ts_packet`` reading of
the same bytes.
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from streamprocessors_spark.codec.psi import encode_section, sectionize
from streamprocessors_spark.codec.ts import (
    TS_PKT_SIZE,
    TS_SYNC_BYTE,
    encode_ts_packet,
    parse_ts_packet,
)
from streamprocessors_spark.sources.ts_source import PACKET_SCHEMA, _slice_arrow
from streamprocessors_spark.streaming.stateful import (
    KEY_SHARDS,
    SECTION_STREAM_SCHEMA,
    cc_shard_step,
    key_shard,
    section_shard_step,
)

IDLE_MS = 1000


def _batch(rows: list[tuple]) -> pa.RecordBatch:
    """(stream_id, bytes, base) rows -> one Arrow batch of the slicer's input."""
    return pa.RecordBatch.from_arrays(
        [
            pa.array([r[0] for r in rows], pa.string()),
            pa.array([r[1] for r in rows], pa.binary()),
            pa.array([r[2] for r in rows], pa.int64()),
        ],
        names=["stream_id", "value", "base"],
    )


def _packets(rows: list[tuple]):
    """(stream_id, bytes, base) rows -> the packet frame a shard receives."""
    return _slice_arrow(_batch(rows), keep_raw=True).to_pandas()


def _section(table_id_ext: int) -> bytes:
    payload = bytes(range(256)) + bytes([table_id_ext]) * 44  # spans 2 packets
    return encode_section(
        table_id=0x40,
        table_id_ext=table_id_ext,
        version=1,
        section_number=0,
        last_section_number=0,
        payload=payload,
    )


def _cc_packets(pid: int, ccs: list[int]) -> list[bytes]:
    return [encode_ts_packet(pid=pid, cc=c, payload=b"\x00" * 184) for c in ccs]


def _section_bytes(rows: list[tuple]) -> dict[tuple[str, int], list[bytes]]:
    col = SECTION_STREAM_SCHEMA.fieldNames().index("section_bytes")
    out: dict[tuple[str, int], list[bytes]] = {}
    for r in rows:
        out.setdefault((r[0], r[1]), []).append(bytes(r[col]))
    return out


def test_cc_key_split_across_calls_keeps_last_cc():
    held: dict = {}
    first = _cc_packets(50, [0, 1, 2])
    held, rows = cc_shard_step(held, _packets([("s", b"".join(first), 0)]), 0)
    assert rows == [("s", 50, 3, 0)] and held == {("s", 50): 2}
    # cc 4 after 2: a gap, visible only through the carried last_cc
    held, rows = cc_shard_step(held, _packets([("s", _cc_packets(50, [4])[0], 3)]), 1)
    assert rows == [("s", 50, 1, 1)] and held == {("s", 50): 4}
    # rows arriving out of packet order are checked in packet order (T1)
    late, early = _cc_packets(50, [6, 5])
    held, rows = cc_shard_step(held, _packets([("s", late, 5), ("s", early, 4)]), 2)
    assert rows == [("s", 50, 2, 0)] and held == {("s", 50): 6}


def test_section_key_split_across_calls_completes():
    sec = _section(7)
    pkts = sectionize(sec, pid=100, start_cc=0)
    held, rows = section_shard_step({}, _packets([("s", pkts[0], 0)]), 0, IDLE_MS)
    assert rows == [] and held[("s", 100)][0]  # partial buffer carried
    rest = b"".join(pkts[1:])
    held, rows = section_shard_step(held, _packets([("s", rest, 1)]), 10, IDLE_MS)
    assert _section_bytes(rows) == {("s", 100): [sec]}


def test_keys_in_one_shard_never_share_state():
    # two PIDs interleaved packet by packet, each split across both calls
    a, b = _section(1), _section(2)
    pa_, pb = sectionize(a, pid=100, start_cc=0), sectionize(b, pid=101, start_cc=5)
    assert len(pa_) == len(pb) == 2
    held, rows = section_shard_step(
        {}, _packets([("s", pa_[0], 0), ("s", pb[0], 1)]), 0
    )
    assert rows == [] and set(held) == {("s", 100), ("s", 101)}
    held, rows = section_shard_step(
        held, _packets([("s", pb[1], 3), ("s", pa_[1], 2)]), 1
    )
    assert _section_bytes(rows) == {("s", 100): [a], ("s", 101): [b]}

    # CC: same pid on two streams, and two pids on one stream, each in order
    fused = b"".join(
        x
        for pair in zip(_cc_packets(50, [0, 1, 2]), _cc_packets(51, [7, 8, 9]))
        for x in pair
    )
    held, rows = cc_shard_step(
        {}, _packets([("s", fused, 0), ("t", b"".join(_cc_packets(50, [3, 4])), 0)]), 0
    )
    assert sorted(rows) == [("s", 50, 3, 0), ("s", 51, 3, 0), ("t", 50, 2, 0)]
    assert held == {("s", 50): 2, ("s", 51): 9, ("t", 50): 4}


def test_idle_key_is_dropped_and_its_continuation_does_not_complete():
    sec = _section(3)
    pkts = sectionize(sec, pid=100, start_cc=0)
    other = sectionize(_section(4), pid=101, start_cc=0)
    held, _ = section_shard_step({}, _packets([("s", pkts[0], 0)]), 0, IDLE_MS)
    # key 101 keeps the shard busy while key 100 ages to exactly the timeout
    held, _ = section_shard_step(held, _packets([("s", other[0], 0)]), IDLE_MS, IDLE_MS)
    assert set(held) == {("s", 100), ("s", 101)}
    late = _packets([("s", b"".join(pkts[1:]), 1)])
    dropped, rows = section_shard_step(dict(held), late, IDLE_MS + 1, IDLE_MS)
    assert rows == []  # restarted unsynced: the tail is not a section
    assert dropped[("s", 100)] == (b"", False, IDLE_MS + 1)
    assert ("s", 101) in dropped
    # the same continuation within the timeout completes the section
    _, rows = section_shard_step(dict(held), late, IDLE_MS, IDLE_MS)
    assert _section_bytes(rows) == {("s", 100): [sec]}
    # without a timeout nothing expires
    _, rows = section_shard_step(dict(held), late, 10**9)
    assert _section_bytes(rows) == {("s", 100): [sec]}


def test_shard_holds_one_entry_per_live_key():
    held: dict = {}
    now = 0
    for rnd in range(4):
        rows = [
            (sid, b"".join(sectionize(_section(pid), pid=pid, start_cc=rnd * 2)), rnd * 10)
            for sid in ("s", "t")
            for pid in (100, 101, 102)
        ]
        held, _ = section_shard_step(held, _packets(rows), now, IDLE_MS)
        assert set(held) == {(s, p) for s in ("s", "t") for p in (100, 101, 102)}
        assert all(v[2] == now for v in held.values())  # last seen = this call
        now += IDLE_MS // 2
    # only ("s", 100) stays live; every other key ages out
    held, _ = section_shard_step(
        held, _packets([("s", sectionize(_section(1), pid=100)[0], 99)]),
        now + IDLE_MS + 1, IDLE_MS,
    )
    assert list(held) == [("s", 100)]


def test_key_shard_does_not_follow_shuffle_partitions(spark):
    keys = spark.createDataFrame(
        [(f"s{i % 3}", pid) for i in range(3) for pid in range(0, 8192, 97)],
        "stream_id string, pid int",
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    got = []
    try:
        for parts in ("3", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            got.append(
                sorted(
                    tuple(r)
                    for r in keys.repartition("stream_id")
                    .select("stream_id", "pid", key_shard().alias("shard"))
                    .collect()
                )
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert got[0] == got[1]
    assert {r[2] for r in got[0]} == set(range(KEY_SHARDS))


def _reference(rows, keep_raw: bool) -> list[dict]:
    """Per-packet scalar parse of every whole packet of every row."""
    out = []
    for sid, blob, base in rows:
        for i in range(len(blob or b"") // TS_PKT_SIZE):
            pkt = blob[i * TS_PKT_SIZE : (i + 1) * TS_PKT_SIZE]
            p = parse_ts_packet(pkt)
            af = p["af"] or {}
            out.append(
                {
                    "stream_id": sid,
                    "pkt_index": (base or 0) + i,
                    "sync_ok": pkt[0] == TS_SYNC_BYTE,
                    "tei": p["tei"],
                    "pusi": p["pusi"],
                    "pid": p["pid"],
                    "scrambling": p["scrambling"],
                    "afc": p["afc"],
                    "cc": p["cc"],
                    "af_len": af.get("length", -1),
                    "discontinuity": af.get("discontinuity", 0),
                    "random_access": af.get("random_access", 0),
                    "pcr": af.get("pcr", -1),
                    "payload_len": len(p["payload"]),
                    "raw": pkt if keep_raw else None,
                }
            )
    return out


@pytest.mark.parametrize("keep_raw", [True, False])
def test_slicer_matches_per_packet_parse(keep_raw):
    pk = [
        encode_ts_packet(
            pid=0x100 + i,
            cc=i % 16,
            pusi=i % 2,
            payload=bytes([i]) * (i * 13 % 170),
            pcr=27_000 * i + 7 if i % 3 == 0 else None,
            discontinuity=int(i == 4),
            random_access=int(i == 5),
            scrambling=i % 4,
            tei=int(i == 6),
        )
        for i in range(14)
    ]
    pk[9] = b"\x00" + pk[9][1:]  # lost sync: still a packet slot
    rows = [
        ("one", pk[0], 0),  # one 188-byte datagram
        ("seven", b"".join(pk[1:8]), 700),  # one 1316-byte datagram
        ("null", None, 5),
        ("short", pk[8][:100], 9),  # less than a packet: nothing
        ("tail", pk[9] + pk[10] + pk[11][:50], None),  # partial packet dropped
        ("base", pk[12] + pk[13], 2**40),
    ]
    batch = _batch(rows)
    got = _slice_arrow(batch, keep_raw)
    assert got.schema.names == PACKET_SCHEMA.fieldNames()
    assert got.to_pylist() == _reference(rows, keep_raw)
    # a null slot may still span bytes in the values buffer (Arrow allows
    # it): those bytes give nothing
    values = batch.column(1)
    masked = pa.Array.from_buffers(
        pa.binary(), len(values),
        [pa.array([r[0] != "seven" for r in rows]).buffers()[1], *values.buffers()[1:]],
    )
    got = _slice_arrow(batch.set_column(1, "value", masked), keep_raw)
    assert got.to_pylist() == _reference(
        [r if r[0] != "seven" else (r[0], None, r[2]) for r in rows], keep_raw
    )
    # an offset slice of the batch (Arrow buffers shared with the parent)
    assert _slice_arrow(batch.slice(3), keep_raw).to_pylist() == _reference(
        rows[3:], keep_raw
    )
    # the row-per-datagram shape with no base column starts each row at 0
    no_base = batch.select([0, 1]).slice(0, 2)
    assert _slice_arrow(no_base, keep_raw).to_pylist() == _reference(
        [(sid, blob, 0) for sid, blob, _ in rows[:2]], keep_raw
    )
