"""Batch demux pipeline: packets -> sections -> PSI tables -> joins.

Spark-first restatement of the reference's data plane (SURVEY §3.1):
the per-PID FIFO/thread/process fan-out becomes ONE shuffle keyed on
(stream_id, pid); reassembly is a partition-streaming Pandas UDF over
position-sorted packets; the PSI "registers" become latest-version
DataFrames; the REST joins (J3-J10) are broadcast hash joins.

Each section is decoded once, inside reassembly, like the reference's
psi_dec_section (psi_dec.c:110-236): ``section_row`` fills the header
columns and the typed payload columns ``pas``/``pms``/``sds`` (one per
table kind, null for the others — SURVEY §1.1's union-as-nullable-structs).
PAT/PMT/SDT rows are then a native ``inline`` over the latest sections,
with no Python after reassembly. The streaming twin
(``streaming/stateful.py``) builds its rows with the same ``section_row``.

Scale notes:
- PSI PIDs are a tiny, pre-filterable fraction of a capture — the filter
  runs BEFORE the shuffle, so reassembly moves ~0.1% of the bytes.
- groupBy(stream_id, pid) keys the shuffle identically at both PSI and ES
  levels (the reference's two-level fan-out, J1/J2) — one exchange.
- the parsed-table outputs are KB-sized: every downstream join broadcasts.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from streamprocessors_spark.codec.psi import (
    DESC_TAG_SERVICE,
    PSI_TABLE_ID_PAT,
    PSI_TABLE_ID_PMT,
    PSI_TABLE_ID_SDT,
    SectionReassembler,
    parse_section,
)


def _struct(*fields: tuple[str, object]) -> StructType:
    return StructType([StructField(name, t) for name, t in fields])


# typed PSI payloads (R3-R5), as parse_section decodes them
_PROGRAM = _struct(("program_number", IntegerType()), ("reference_pid", IntegerType()))
_ES = _struct(
    ("stream_type", IntegerType()),
    ("stream_type_name", StringType()),
    ("elementary_pid", IntegerType()),
)
_SERVICE = _struct(
    ("service_id", IntegerType()),
    ("running_status", IntegerType()),
    ("free_ca_mode", IntegerType()),
    ("service_type", IntegerType()),
    ("provider_name", StringType()),
    ("service_name", StringType()),
)

SECTION_SCHEMA = _struct(
    ("stream_id", StringType()),
    ("pid", IntegerType()),
    ("section_index", LongType()),
    ("first_pkt_index", LongType()),
    ("table_id", IntegerType()),
    ("section_length", IntegerType()),
    ("table_id_ext", IntegerType()),
    ("version", IntegerType()),
    ("current_next", IntegerType()),
    ("section_number", IntegerType()),
    ("last_section_number", IntegerType()),
    ("crc_ok", BooleanType()),
    ("section_bytes", BinaryType()),
    # only the payload column matching table_id is non-null
    ("pas", ArrayType(_PROGRAM)),
    ("pms", _struct(("pcr_pid", IntegerType()), ("streams", ArrayType(_ES)))),
    ("sds", ArrayType(_SERVICE)),
)


def _service(s: dict) -> tuple:
    """J8: project a service onto its first service descriptor (0x48)."""
    svc_desc = next(
        (d for d in s["descriptors"] if d["tag"] == DESC_TAG_SERVICE), None
    )
    return (
        s["service_id"],
        s["running_status"],
        s["free_ca_mode"],
        svc_desc["service_type"] if svc_desc else None,
        svc_desc["provider_name"] if svc_desc else None,
        svc_desc["service_name"] if svc_desc else "",
    )


def section_row(sec: bytes) -> tuple | None:
    """R2-R5: the one decode of a reassembled section.

    Returns the SECTION_SCHEMA values from ``table_id`` on — header,
    ``crc_ok``, the bytes, then ``pas``/``pms``/``sds`` — or None when the
    section is too short to carry a header. Shared by the batch and the
    streaming reassembler, so both emit the same row."""
    h = parse_section(sec)
    if h["table_id"] is None:
        return None
    pas, pms, sds = h["pas"], h["pms"], h["sds"]
    if pas is not None:
        pas = [(p["program_number"], p["reference_pid"]) for p in pas]
    if pms is not None:
        es = [
            (s["stream_type"], s["stream_type_name"], s["elementary_pid"])
            for s in pms["streams"]
        ]
        pms = (pms["pcr_pid"], es)
    if sds is not None:
        sds = [_service(s) for s in sds["services"]]
    return (
        h["table_id"],
        h["section_length"],
        h["table_id_ext"],
        h["version"],
        h["current_next"],
        h["section_number"],
        h["last_section_number"],
        bool(h["crc_ok"]),
        sec,
        pas,
        pms,
        sds,
    )


def reassemble_sections(
    packets: DataFrame, psi_pids: list[int] | None = None
) -> DataFrame:
    """R1-R5: per-(stream, PID) section reassembly + the one decode.

    ``psi_pids=None`` reassembles every PID that carries PUSI payloads;
    passing an explicit list prunes the shuffle to those PIDs (the usual
    case: PAT/SDT + PMT PIDs discovered from a first PAT pass).

    Physical strategy: ONE shuffle — repartition on (stream_id, pid) then
    sort within partitions by packet position — and a partition-streaming
    ``mapInPandas`` that walks the now-contiguous groups. Compared to
    ``groupBy().applyInPandas`` this amortizes Arrow batching over thousands
    of keys per task (a PSI capture has one tiny group per PID — per-group
    UDF dispatch dominated the runtime, ~4x slower end-to-end) and holds
    only O(one open section) of state, so a 100 TB capture streams through
    executors at constant memory. Keys never span partitions (hash
    repartition), and batches within a partition arrive in sorted order, so
    carrying the current key's reassembler across batch boundaries is safe.
    """
    src = packets.where(F.col("sync_ok") & (F.col("payload_len") > 0))
    if psi_pids is not None:
        src = src.where(F.col("pid").isin([int(p) for p in psi_pids]))
    # Explicit partition count: AQE would coalesce the (byte-wise tiny) PSI
    # shuffle to one partition, serializing the Python-CPU-bound reassembly;
    # the cost here is per-row parse work, not bytes.
    n_parts = packets.sparkSession.sparkContext.defaultParallelism
    src = (
        src.select("stream_id", "pid", "pkt_index", "raw")
        .repartition(n_parts, "stream_id", "pid")
        .sortWithinPartitions("stream_id", "pid", "pkt_index")
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_key: tuple | None = None
        r = SectionReassembler()
        idx = 0
        for pdf in batches:
            rows = []
            for stream_id, pid, pkt_index, raw in zip(
                pdf["stream_id"], pdf["pid"], pdf["pkt_index"], pdf["raw"]
            ):
                if raw is None:
                    continue
                key = (stream_id, pid)
                if key != cur_key:
                    cur_key = key
                    r = SectionReassembler()
                    idx = 0
                for sec in r.push(bytes(raw)):
                    row = section_row(sec)
                    if row is None:
                        continue
                    rows.append((stream_id, int(pid), idx, int(pkt_index)) + row)
                    idx += 1
            yield pd.DataFrame(rows, columns=SECTION_SCHEMA.fieldNames())

    return src.mapInPandas(gen, schema=SECTION_SCHEMA)


# R6/R7: a PSI table is the set of sections sharing this key and a version
TABLE_KEY = ("stream_id", "pid", "table_id", "table_id_ext")


def is_complete(n_sections: Column, last_section_number: Column) -> Column:
    """R6: a table version is complete once all ``last_section_number + 1``
    of its distinct sections arrived (psi_table_dec.c:59-205)."""
    return n_sections == last_section_number + 1


def latest_sections(sections: DataFrame) -> DataFrame:
    """R7 current-table register: the sections of the latest *complete*
    version per table key; skip current_next=0 (T3) and CRC failures;
    keep the last-arrived copy of each re-broadcast section (PSI repeats
    every psi_interval packets). A newer version still missing sections
    never replaces the current table, as the reference swaps a table in
    only once it is complete (psi_table_dec.c).

    Every window partitions on the table key, so the one exchange on that
    key (and one sort) serves all three."""
    table = Window.partitionBy(*TABLE_KEY)
    arrival = table.orderBy("version", "section_number", F.col("section_index").desc())
    version = Window.partitionBy(*TABLE_KEY, "version")
    copy = F.struct("version", "section_number")
    complete = is_complete(
        F.count(F.lit(1)).over(version), F.max("last_section_number").over(version)
    )
    return (
        sections.where(F.col("crc_ok") & (F.col("current_next") == 1))
        # the first row of each (version, section_number) run is its latest copy
        .withColumn("prev", F.lag(copy).over(arrival))
        .where(~F.col("prev").eqNullSafe(copy))
        .withColumn("complete_version", F.when(complete, F.col("version")))
        .withColumn("latest", F.max("complete_version").over(table))
        .where(F.col("version") == F.col("latest"))
        .drop("prev", "complete_version", "latest")
    )


def pat_programs(sections: DataFrame) -> DataFrame:
    """R3: PAT -> pat_programs rows (psi_dec.c:501-543)."""
    return (
        latest_sections(sections)
        .where(F.col("table_id") == PSI_TABLE_ID_PAT)
        .select(
            "stream_id",
            F.col("table_id_ext").alias("ts_id"),
            F.col("version").alias("pat_version"),
            F.inline("pas"),
        )
    )


def pmt_streams(sections: DataFrame) -> DataFrame:
    """R4: PMT -> pmt_streams rows, one per ES (psi_dec.c:545-658)."""
    return (
        latest_sections(sections)
        .where(F.col("table_id") == PSI_TABLE_ID_PMT)
        .select(
            "stream_id",
            F.col("table_id_ext").alias("program_number"),
            F.col("pid").alias("pmt_pid"),
            F.col("version").alias("pmt_version"),
            "pms.pcr_pid",
            F.inline("pms.streams"),
        )
    )


def sdt_services(sections: DataFrame) -> DataFrame:
    """R5+J8: SDT -> sdt_services rows with service-descriptor projection
    (``section_row`` made the projection)."""
    return (
        latest_sections(sections)
        .where(F.col("table_id") == PSI_TABLE_ID_SDT)
        .select("stream_id", F.col("table_id_ext").alias("ts_id"), F.inline("sds"))
    )


def programs_summary(
    pat: DataFrame, pmt: DataFrame, sdt: DataFrame
) -> DataFrame:
    """J10 programs-summary (mpeg2_sp.c:1103-1235): PAT programs (skip
    program 0 = network PID) LEFT JOIN SDT service name (empty default)
    plus per-program ES count from PMT. All sides are tiny -> broadcast."""
    es_counts = pmt.groupBy("stream_id", "program_number").agg(
        F.count(F.lit(1)).alias("n_streams"),
        F.first("pcr_pid").alias("pcr_pid"),
    )
    return (
        pat.where(F.col("program_number") != 0)
        .join(
            # PSI-table cardinality scales with the number of muxed
            # streams — unhinted, AQE broadcasts when genuinely small
            sdt.select("stream_id", "service_id", "service_name"),
            (pat.stream_id == sdt.stream_id)
            & (pat.program_number == sdt.service_id),
            "left",
        )
        .drop(sdt.stream_id)
        .join(
            es_counts,
            ["stream_id", "program_number"],
            "left",
        )
        .select(
            "stream_id",
            "program_number",
            "reference_pid",
            F.coalesce(F.col("service_name"), F.lit("")).alias("service_name"),
            F.coalesce(F.col("n_streams"), F.lit(0)).alias("n_streams"),
            "pcr_pid",
        )
    )


def pid_packet_stats(packets: DataFrame) -> DataFrame:
    """A1-ish per-PID stats: packets, bytes, payload bytes, CC errors.

    CC check (P6) via lag() over per-stream packet order (T1); AF
    discontinuity flag excuses a gap (ts_dec.c:126-146)."""
    w = Window.partitionBy("stream_id", "pid").orderBy("pkt_index")
    has_payload = (F.col("afc").bitwiseAND(F.lit(1)) == 1).cast("int")
    prev_cc = F.lag("cc").over(w)
    expected = (prev_cc + has_payload) % 16
    cc_err = (
        prev_cc.isNotNull()
        & (F.col("discontinuity") == 0)
        & (F.col("cc") != expected)
    ).cast("int")
    return (
        packets.withColumn("cc_err", cc_err)
        .groupBy("stream_id", "pid")
        .agg(
            F.count(F.lit(1)).alias("n_packets"),
            (F.count(F.lit(1)) * 188).alias("n_bytes"),
            F.sum("payload_len").alias("payload_bytes"),
            F.sum("cc_err").alias("cc_errors"),
            F.max(F.when(F.col("pcr") >= 0, F.col("pcr"))).alias("last_pcr"),
        )
    )


def cc_violations(packets: DataFrame) -> DataFrame:
    """P6 side-output: the packets that break continuity, never reordered
    (T1)."""
    w = Window.partitionBy("stream_id", "pid").orderBy("pkt_index")
    has_payload = (F.col("afc").bitwiseAND(F.lit(1)) == 1).cast("int")
    prev_cc = F.lag("cc").over(w)
    expected = (prev_cc + has_payload) % 16
    return (
        packets.withColumn("prev_cc", prev_cc)
        .withColumn("expected_cc", expected)
        .where(
            F.col("prev_cc").isNotNull()
            & (F.col("discontinuity") == 0)
            & (F.col("cc") != F.col("expected_cc"))
        )
        .select("stream_id", "pid", "pkt_index", "prev_cc", "cc", "expected_cc")
    )


# ---------------------------------------------------------------------------
# Lookup / filter API (SURVEY J3, J5, J6, J9): the reference's psi_table.c
# filter functions as named DataFrame lookups. All operate on the tiny
# parsed-state tables, so every join is a broadcast; `limit(1)` mirrors the
# first-match semantics of the C scans (psi_table.c:151-293).
# ---------------------------------------------------------------------------


def pat_filter_by_pid(pat: DataFrame, pid: int) -> DataFrame:
    """J3: PAT scan by reference PID (psi_table_pat_ctx_filter_pid,
    psi_table.c:151-180)."""
    return pat.where(F.col("reference_pid") == pid).limit(1)


def pat_filter_by_program(pat: DataFrame, program_number: int) -> DataFrame:
    """J3: PAT scan by program number (psi_table.c:182-211)."""
    return pat.where(F.col("program_number") == program_number).limit(1)


def pmt_filter_by_program(pmt: DataFrame, program_number: int) -> DataFrame:
    """J6: PMT rows for one program (psi_table_pmt_ctx_filter_program_num,
    psi_table.c:270-293)."""
    return pmt.where(F.col("program_number") == program_number)


def es_lookup(pat: DataFrame, pmt: DataFrame, es_pid: int) -> DataFrame:
    """J5: (PAT ⋈ PMT) ⋈ ES by elementary PID — the composed lookup down
    to a single ES row (psi_table.c:250-268). PAT⋈PMT equi-join on
    program_number (J4) with the ES predicate pushed below the join."""
    p = pat.select("stream_id", "program_number", "reference_pid")
    m = pmt.where(F.col("elementary_pid") == es_pid).select(
        "stream_id",
        F.col("program_number").alias("pmt_program"),
        "elementary_pid",
        "stream_type",
        "pcr_pid",
    )
    return p.join(
        m,
        (p.stream_id == m.stream_id) & (p.program_number == m.pmt_program),
    ).select(
        p.stream_id,
        "program_number",
        "reference_pid",
        "elementary_pid",
        "stream_type",
        "pcr_pid",
    )


def descriptors_filter_tag(df: DataFrame, descriptors_col: str, tag: int) -> DataFrame:
    """J9: first descriptor with a given tag from an ArrayType column
    (psi_desc_ctx_filter_tag, psi_desc.h:158-159)."""
    return df.withColumn(
        "matched_descriptor",
        F.expr(f"filter({descriptors_col}, d -> d.tag = {tag})[0]"),
    )


def complete_tables(sections: DataFrame) -> DataFrame:
    """R6 table assembly (psi_table_dec.c:59-205): a PSI *table* is the set
    of sections sharing (pid, table_id, table_id_ext, version), complete
    when all ``last_section_number + 1`` sections arrived; sections are
    ordered by section_number regardless of arrival order (out-of-order
    tolerated, psi_table_dec.c:116-120). Incomplete/abandoned versions
    (T2) simply never satisfy the completeness filter.

    One groupBy = one shuffle on the table key; per-table output carries
    the ordered section payloads for downstream parse.
    """
    keyed = sections.where(F.col("crc_ok") & (F.col("current_next") == 1))
    return (
        keyed.groupBy(*TABLE_KEY, "version")
        .agg(
            F.max("last_section_number").alias("last_section_number"),
            # bounded: <= 256 sections per table version (section_number is
            # one byte, ISO 13818-1 table syntax) and <= 4 KB each
            F.array_sort(
                F.collect_set(F.struct("section_number", "section_bytes"))
            ).alias("sections"),
        )
        .where(is_complete(F.size("sections"), F.col("last_section_number")))
        .withColumn("n_sections", F.size("sections"))
    )
