"""Keyed-state streaming operators (R1/R6 reassembly, P6 continuity).

Both operators keep their state per (stream_id, pid) — the same key as
the batch shuffle, mirroring the reference's per-PID FIFO/processor
fan-out (psi_proc.c:228-256) — but ``applyInPandasWithState`` groups on a
key *shard*, ``pmod(xxhash64(stream_id, pid), KEY_SHARDS)``. One Python
call per shard and micro-batch then serves every key that hashes to it,
instead of one call per PID, and the shard's state row is a pickled dict
of its keys' entries. ``KEY_SHARDS`` (16) is a fixed constant: a restart
from a checkpoint must map each key to the same shard. Per-key state is
tiny and bounded: the continuity check keeps last_cc; the reassembler
keeps at most one partial section buffer (≤4 KB, psi.h:82-83). A
micro-batch rewrites the state of the shards it touches, so its state
writes scale with their keys. The per-shard steps (``cc_shard_step``,
``section_shard_step``) are plain functions, testable without Spark.

Ordering (T1): within a micro-batch each key's rows are sorted by packet
position before feeding state; across batches the file-stream source
delivers segments in order. Out-of-order arrival is flagged (CC error),
never reordered — the reference's rule (ts_dec.c:98-108).

Batch parity: with an availableNow trigger over the same input these emit
exactly the batch pipeline's rows (tests/test_streaming.py pins this, and
the stream_* driver queries share oracles with their batch twins).
"""

from __future__ import annotations

import pickle
from functools import partial
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from streamprocessors_spark.codec.psi import SectionReassembler
from streamprocessors_spark.codec.ts import check_cc
from streamprocessors_spark.operators.demux import SECTION_SCHEMA, section_row

CC_OUTPUT_SCHEMA = StructType(
    [
        StructField("stream_id", StringType()),
        StructField("pid", IntegerType()),
        StructField("n_packets", LongType()),
        StructField("cc_errors", LongType()),
    ]
)

# One state row per shard: a pickled dict of the shard's entries (the
# per-(stream, pid) machines here, the LSH and gram bucket stores below).
SHARD_STATE_SCHEMA = StructType([StructField("blob", BinaryType())])

# State-shard count for the per-(stream, pid) machines. Fixed, never
# derived from the session: a restart from a checkpoint must map every
# key to the shard that holds its state.
KEY_SHARDS = 16

_KEY = ["stream_id", "pid"]


def key_shard() -> Column:
    """The state shard of a packet row's (stream_id, pid) key."""
    return F.pmod(F.xxhash64(*_KEY), F.lit(KEY_SHARDS)).cast("int")


def _runs(pdf: pd.DataFrame) -> Iterator[tuple[tuple[str, int], pd.DataFrame]]:
    """One run of ``pdf`` per (stream_id, pid), each in packet order (T1)."""
    pdf = pdf.sort_values([*_KEY, "pkt_index"], kind="stable")
    for (sid, pid), run in pdf.groupby(_KEY, sort=False, dropna=False):
        yield (sid, int(pid)), run


def cc_shard_step(held: dict, pdf: pd.DataFrame, now_ms: int) -> tuple[dict, list]:
    """P6 continuity check over one shard's packets, by ``codec.ts.check_cc``:
    ``held`` maps each (stream_id, pid) to its last CC. One (stream_id,
    pid, n_packets, cc_errors) row per key in ``pdf``. ``now_ms`` is
    unused: the shard-step signature carries it, and CC has no idle rule."""
    rows = []
    for key, run in _runs(pdf):
        last_cc = held.get(key)
        errs = 0
        cols = (run[c].tolist() for c in ("cc", "afc", "discontinuity"))
        for cc, afc, disc in zip(*cols):
            errs += not check_cc(last_cc, cc, afc & 1, disc)
            last_cc = cc
        held[key] = last_cc
        rows.append((*key, len(run), errs))
    return held, rows


def section_shard_step(
    held: dict, pdf: pd.DataFrame, now_ms: int, idle_timeout_ms: int | None = None
) -> tuple[dict, list]:
    """R1-R5 over one shard's packets: ``held`` maps each (stream_id, pid)
    to its reassembler carry-over ``(buf, synced, last_seen_ms)``. An
    entry last seen more than ``idle_timeout_ms`` before ``now_ms`` is
    dropped before any packet is pushed (T2 abandonment, per key)."""
    if idle_timeout_ms is not None:
        held = {k: v for k, v in held.items() if now_ms - v[2] <= idle_timeout_ms}
    rows = []
    for key, run in _runs(pdf):
        r = SectionReassembler()
        if key in held:
            buf, r.synced, _ = held[key]
            r.buf = bytearray(buf)
        for raw in run["raw"]:
            if raw is None:
                continue
            for sec in r.push(bytes(raw)):
                row = section_row(sec)
                if row is not None:
                    rows.append(key + row)
        held[key] = (bytes(r.buf), r.synced, now_ms)
    return held, rows


def _sharded(
    df: DataFrame,
    shard: Column,
    step: Callable[[dict, pd.DataFrame, int], tuple[dict, list]],
    output: StructType,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Run ``step(held, pdf, now_ms) -> (held, rows)`` once per ``shard``
    value and micro-batch; ``held`` is the shard's dict, carried in one
    pickled state row (SHARD_STATE_SCHEMA)."""

    def f(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()  # every entry of the shard is idle
            return
        held = pickle.loads(state.get[0]) if state.exists else {}
        # Concatenate the Arrow chunks BEFORE the step sorts: chunk
        # boundaries are a batching artifact with no ordering contract, so
        # a section split across chunks would otherwise feed state out of
        # order. Memory stays bounded by the micro-batch (cap via
        # maxFilesPerTrigger / maxBytesPerTrigger at ingest).
        held, rows = step(
            held, pd.concat(list(pdfs), ignore_index=True),
            state.getCurrentProcessingTimeMs(),
        )
        state.update((pickle.dumps(held, protocol=4),))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(rows, columns=output.fieldNames())

    return df.withColumn("shard", shard).groupBy("shard").applyInPandasWithState(
        f,
        outputStructType=output,
        stateStructType=SHARD_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if idle_timeout_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def cc_state_stream(packets: DataFrame) -> DataFrame:
    """P6 as keyed streaming state: per-(stream, pid) continuity check.

    Emits one (n_packets, cc_errors) delta row per key per micro-batch;
    summing the emissions gives totals identical to the batch lag-window
    version (pid_packet_stats). See ``cc_shard_step``.
    """
    return _sharded(packets, key_shard(), cc_shard_step, CC_OUTPUT_SCHEMA)


# The batch row minus its two batch-position columns: a stream has no
# global packet order to number sections by.
SECTION_STREAM_SCHEMA = StructType(
    [f for f in SECTION_SCHEMA if f.name not in ("section_index", "first_pkt_index")]
)


def section_reassembly_stream(
    packets: DataFrame, idle_timeout_ms: int | None = None
) -> DataFrame:
    """R1-R5 as keyed streaming state: PSI section reassembly + decode.

    Rows come from the batch path's ``section_row``, so they carry the
    same header and typed payload columns (``pas``/``pms``/``sds``) as
    ``reassemble_sections``, without its two position columns.

    The partial-section buffer crosses micro-batch boundaries through the
    state store, so a section whose packets arrive in different batches
    still reassembles byte-exactly (tests force this with one-file-per-
    trigger segments).

    ``idle_timeout_ms`` (T2): a key idle longer than this abandons its
    partial buffer and frees its state — the reference's "section could
    not be completed" rule (psi_dec.c:271-293, psi_table_dec.c:160-166)
    applied on the time axis. Without it a continuous ingest leaks ≤4 KB
    per dead (stream, pid) key forever. The shard drops such keys on its
    next call, and a shard whose keys are all idle times out and frees
    its state row.

    Only pass ``idle_timeout_ms`` for continuously-triggered queries:
    with a processing-time timeout every micro-batch schedules a
    follow-up timeout-check batch, so a ``Trigger.AvailableNow`` query
    never terminates. Batch-parity runs (the oracle gate) use the
    default ``None``.
    """
    step = partial(section_shard_step, idle_timeout_ms=idle_timeout_ms)
    return _sharded(packets, key_shard(), step, SECTION_STREAM_SCHEMA, idle_timeout_ms)


# ---------------------------------------------------------------------------
# Incremental MinHash-LSH dedup (the production "new shard arrives ->
# dedup against the existing corpus signature store" shape — the streaming
# analog of the reference's continuous stateful PSI registers,
# psi_proc.c:329-397, applied to the LLM-pipeline dedup deliverable).
# ---------------------------------------------------------------------------

LSH_PAIR_SCHEMA = StructType(
    [
        StructField("doc_a", LongType()),
        StructField("doc_b", LongType()),
    ]
)

# Bucket membership, one SHARD_STATE_SCHEMA dict per state shard:
# (band, bh) -> (members, n). Per-bucket entries stay bounded
# (<= max_bucket member ids, then freed — a saturated bucket keeps ONLY
# the counter, O(1) for boilerplate buckets); the shard dict holds the
# buckets that hash to it.
#
# State-shard count: the group key is pmod(xxhash64(band, bh), B), so one
# applyInPandasWithState group (= one Python call + one Arrow round-trip
# + one state-store row per micro-batch) serves ~#buckets/B LSH buckets
# instead of one each — the identical per-bucket state machine, with the
# per-group overhead amortized B-fold (the gram_repeat_positions_stream
# precedent: ~20k distinct (band, bh) buckets at sf0.1 cost ~2 s of pure
# per-group overhead when each was its own group). B is fixed here; a
# 100 TB run would raise it so per-shard state stays KB-sized.
LSH_STATE_BUCKETS = 1024


def lsh_bucket_pairs_stream(bands: DataFrame, max_bucket: int) -> DataFrame:
    """Keyed-state LSH candidate generation over a (doc_id, band, bh)
    stream: each (band, bh) bucket's membership lives in the state store,
    and a micro-batch emits only the pairs its NEW documents form against
    the existing members (plus among themselves) — no recomputation over
    the already-ingested corpus.

    Cap semantics vs the batch gate: a new member is paired only while
    the bucket's lifetime size stays <= max_bucket; past that the bucket
    saturates — its member list is FREED (state collapses to a counter)
    and it emits nothing more. On a corpus whose buckets never exceed the
    cap this is pair-for-pair identical to the batch count-window gate
    (sum over n of (n-1) = C(n,2)); for a bucket that does saturate, the
    pairs emitted before saturation STAND — append-mode streams cannot
    retract, which is the honest production contract for online dedup
    (you cannot un-ship an earlier keep/drop decision).

    Singleton buckets emit nothing (matching the batch gate's lower
    bound of 2) and hold one tiny state row.

    Delivery-semantics caveat: freeing a saturated bucket's member list
    also frees the dedup memory for it, so a LATER re-delivery of an
    already-counted doc_id (at-least-once replay, or the same doc split
    across micro-batches after saturation) is treated as new and
    inflates the lifetime counter n — harmless for emission (a
    saturated bucket never emits again) but it drifts the counter, and
    the pair-for-pair batch parity stated above therefore assumes
    exactly-once delivery of the band stream (which Spark's Kafka/file
    sources + checkpointing provide). A deployment on an at-least-once
    bus would keep a compact membership digest (e.g. a fixed-size Bloom
    filter) in place of the freed list to make re-deliveries
    idempotent.
    """

    def step(
        held: dict[tuple[int, int], tuple[list[int], int]],
        pdf: pd.DataFrame,
        now_ms: int,
    ) -> tuple[dict, list[tuple[int, int]]]:
        arrivals: dict[tuple[int, int], set[int]] = {}
        for b, bh, d in zip(pdf["band"], pdf["bh"], pdf["doc_id"]):
            arrivals.setdefault((int(b), int(bh)), set()).add(int(d))
        rows: list[tuple[int, int]] = []
        for bk in sorted(arrivals):
            members, n = held.get(bk, ([], 0))
            new_ids = arrivals[bk]
            for d in sorted(new_ids - set(members)):
                n += 1
                if n <= max_bucket:
                    rows.extend(
                        (d, m) if d < m else (m, d) for m in members
                    )
                    members.append(d)
                else:
                    # saturated: free the list, keep the counter
                    members = []
            held[bk] = (members, n)
        return held, rows

    shard = F.pmod(F.xxhash64("band", "bh"), F.lit(LSH_STATE_BUCKETS)).cast("int")
    return _sharded(bands, shard, step, LSH_PAIR_SCHEMA)


# ---------------------------------------------------------------------------
# Incremental repeated-n-gram detection (the streaming twin of
# repeated_ngram_spans): per-gram state remembers the FIRST occurrence
# until a second arrives, then both emit — so the emitted position set is
# EXACTLY the batch operator's flagged set (unlike the LSH twin there is
# no cap divergence: emission is monotone in arrivals).
#
# The state KEY is a gram-hash bucket, not the gram itself: grouping on
# the raw gram makes one applyInPandasWithState group (= one Python
# call + one Arrow round-trip + one state-store row) per DISTINCT gram —
# ~240k groups at sf0.1, measured ~20 s of pure per-group overhead.
# Bucketing to pmod(gh, B) keeps the identical per-gram state machine
# (all occurrences of a gram still meet in one group) while amortizing
# the overhead B-fold; the per-bucket dict rides in one BinaryType state
# row. B is fixed here; a 100 TB run would raise it so per-bucket state
# stays KB-sized, as it would the LSH twin's LSH_STATE_BUCKETS.
# ---------------------------------------------------------------------------

GRAM_POS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("pos", LongType()),
    ]
)

# One SHARD_STATE_SCHEMA dict per bucket: gh -> (first_doc, first_pos, n).
# first_doc = -1 once the held-back position has been emitted.
GRAM_STATE_BUCKETS = 1024


def gram_repeat_positions_stream(grams: DataFrame) -> DataFrame:
    """(doc_id, pos) of every gram position whose gram occurs >= 2 times
    across the whole stream, emitted incrementally: the first occurrence
    is held in state and released when the second arrives; third and
    later occurrences emit immediately. State is one dict entry per
    DISTINCT gram — inherent to online repeated-substring detection (the
    batch operator's gram-count shuffle carries the same cardinality);
    singleton grams hold their entry forever, which at production scale
    is where a TTL/state-store compaction policy would attach.
    """
    def step(
        held: dict[int, tuple[int, int, int]], pdf: pd.DataFrame, now_ms: int
    ) -> tuple[dict, list[tuple[int, int]]]:
        arrivals = {
            (int(g), int(d), int(p))
            for g, d, p in zip(pdf["gh"], pdf["doc_id"], pdf["pos"])
        }
        out: list[tuple[int, int]] = []
        for g, d, p in sorted(arrivals):
            ent = held.get(g)
            if ent is None:
                held[g] = (d, p, 1)
            else:
                fd, fp, n = ent
                n += 1
                if n == 2:
                    out.append((fd, fp))
                    out.append((d, p))
                    held[g] = (-1, -1, n)
                else:
                    out.append((d, p))
                    held[g] = (fd, fp, n)
        return held, out

    shard = F.pmod(F.col("gh"), F.lit(GRAM_STATE_BUCKETS)).cast("int")
    return _sharded(grams, shard, step, GRAM_POS_SCHEMA)


# ---------------------------------------------------------------------------
# Streaming HyperLogLog registers — the mergeable-sketch streaming
# pattern: per-bucket keyed state holds the max rho seen so far and a
# micro-batch emits a (bucket, m_reg) row ONLY when it raises the
# register (delta-compressed updates; a saturated stream goes quiet).
# State is exactly m=256 tiny rows regardless of stream length — the
# opposite extreme from the per-gram dict, and the reason HLL is the
# sketch a continuous pipeline keeps per key.
# ---------------------------------------------------------------------------

HLL_REG_SCHEMA = StructType(
    [
        StructField("bucket", LongType()),
        StructField("m_reg", LongType()),
    ]
)

HLL_STATE_SCHEMA = StructType([StructField("m_reg", LongType())])


def hll_register_stream(rhos: DataFrame) -> DataFrame:
    """(bucket, rho) stream -> append stream of register INCREASES.
    max-by-bucket over the emitted rows reproduces the batch registers
    exactly (max is monotone, so the last emission per bucket IS the
    final register)."""

    def f(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        cur = int(state.get[0]) if state.exists else 0
        mx = cur
        for pdf in pdfs:
            if len(pdf):
                mx = max(mx, int(pdf["rho"].max()))
        if mx > cur:
            state.update((mx,))
            yield pd.DataFrame([(int(key[0]), mx)], columns=["bucket", "m_reg"])

    return rhos.groupBy("bucket").applyInPandasWithState(
        f,
        outputStructType=HLL_REG_SCHEMA,
        stateStructType=HLL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Incremental ANN top-k (the streaming twin of ann_bruteforce_topk):
# per-query running top-k in keyed state over arriving corpus vectors.
# ---------------------------------------------------------------------------

ANN_CAND_SCHEMA = StructType(
    [
        StructField("va", LongType()),
        StructField("vb", LongType()),
    ]
)

# Running top-k per query: parallel csv lists of member vec_ids and their
# cosine scores as raw IEEE-754 bit patterns (int64) — exact round-trip,
# no decimal-repr drift. Bounded: k entries per query, N_QUERIES groups.
ANN_TOPK_STATE_SCHEMA = StructType(
    [
        StructField("vbs", StringType()),
        StructField("cbits", StringType()),
    ]
)


def ann_topk_stream(scored: DataFrame, k: int) -> DataFrame:
    """(va, vb, cos) stream -> append stream of candidates that ENTERED
    the query's running top-k at arrival time.

    Superset invariant (what makes the batch-exact re-rank downstream
    correct, for ANY arrival order): the i-th best corpus vector for a
    query is beaten by exactly i-1 vectors overall, so when it arrives
    the state can hold at most i-1 better entries — for i <= k it always
    enters, hence the emitted set contains the true final top-k. Evicted
    entries are not retracted (append streams can't); the batch-side
    re-rank drops them."""
    import struct as _struct

    def _bits(c: float) -> int:
        return _struct.unpack("<q", _struct.pack("<d", c))[0]

    def _unbits(b: int) -> float:
        return _struct.unpack("<d", _struct.pack("<q", b))[0]

    def f(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        top: list[tuple[float, int]] = []  # ordered best-first: (cos, vb)
        if state.exists:
            vbs_csv, cb_csv = state.get
            if vbs_csv:
                top = [
                    (_unbits(int(cb)), int(vb))
                    for vb, cb in zip(vbs_csv.split(","), cb_csv.split(","))
                ]
        va = int(key[0])

        def order(e: tuple[float, int]) -> tuple[float, int]:
            return (-e[0], e[1])  # cos desc, vb asc

        emitted: list[tuple[int, int]] = []
        arrivals: list[tuple[float, int]] = []
        for pdf in pdfs:
            arrivals.extend(
                (float(c), int(v)) for c, v in zip(pdf["cos"], pdf["vb"])
            )
        for cand in sorted(arrivals, key=order):
            if len(top) < k or order(cand) < order(top[-1]):
                top.append(cand)
                top.sort(key=order)
                del top[k:]
                if cand in top:  # survived the trim -> it entered
                    emitted.append((va, cand[1]))
        state.update(
            (
                ",".join(str(v) for _, v in top),
                ",".join(str(_bits(c)) for c, _ in top),
            )
        )
        yield pd.DataFrame(emitted, columns=["va", "vb"])

    return scored.groupBy("va").applyInPandasWithState(
        f,
        outputStructType=ANN_CAND_SCHEMA,
        stateStructType=ANN_TOPK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
