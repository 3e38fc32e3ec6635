"""Batch TS sources: files / binary columns -> packet DataFrame.

The reference ingests UDP datagrams of 7x188 B (mpeg2ts/src/ts.h:38,
mpeg2_sp.c:1340-1430). The batch-parity source is segment files (the
standard at-scale layout: many multi-MB .ts segments, one task per
segment, so a 100 TB capture parallelizes across the cluster by file);
``packets_from_binary_column`` covers the datagram shape (any DataFrame
with a binary column, 1 row = 1 datagram/segment).

Slicing and parsing run inside ``mapInArrow``, one pass per Arrow batch:
every row's whole packets are fused into one buffer (a zero-copy view of
the batch's binary values when no row carries partial bytes), one
vectorized ``codec.ts.parse_ts_buffer_np`` call parses them all,
``stream_id`` is a ``take`` of the row ids and ``raw`` is a zero-copy
binary array over the fused buffer — no per-row or per-packet Python.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from streamprocessors_spark.codec.ts import TS_PKT_SIZE, parse_ts_buffer_np

PACKET_SCHEMA = StructType(
    [
        StructField("stream_id", StringType()),
        StructField("pkt_index", LongType()),  # position within stream (T1 order)
        StructField("sync_ok", BooleanType()),
        StructField("tei", IntegerType()),
        StructField("pusi", IntegerType()),
        StructField("pid", IntegerType()),
        StructField("scrambling", IntegerType()),
        StructField("afc", IntegerType()),
        StructField("cc", IntegerType()),
        StructField("af_len", IntegerType()),
        StructField("discontinuity", IntegerType()),
        StructField("random_access", IntegerType()),
        StructField("pcr", LongType()),  # 27 MHz ticks, -1 = absent
        StructField("payload_len", IntegerType()),
        StructField("raw", BinaryType()),  # full 188 B (reassembly input)
    ]
)

# the columns parse_ts_buffer_np fills, with their Arrow types
_PARSED = {f.name: to_arrow_type(f.dataType) for f in PACKET_SCHEMA.fields[1:-1]}


def _slice_arrow(batch: pa.RecordBatch, keep_raw: bool) -> pa.RecordBatch:
    """One Arrow batch of (id, bytes[, base]) rows -> its packet rows.

    Every row's whole packets are fused into one buffer (zero-copy when no
    row carries trailing partial bytes) and parsed by a single
    ``parse_ts_buffer_np`` call; ``raw`` is a binary array over that same
    buffer. Null rows and rows shorter than a packet give nothing.
    """
    ids, blobs = batch.column(0), batch.column(1)
    nrows = len(blobs)
    width = np.int64 if pa.types.is_large_binary(blobs.type) else np.int32
    offs = np.frombuffer(blobs.buffers()[1], dtype=width)[
        blobs.offset : blobs.offset + nrows + 1
    ].astype(np.int64)
    lens = np.diff(offs)
    null = blobs.is_null().to_numpy(zero_copy_only=False)
    counts = np.where(null, 0, lens // TS_PKT_SIZE)
    kept = counts * TS_PKT_SIZE
    span = np.frombuffer(blobs.buffers()[2] or b"", dtype=np.uint8)[offs[0] : offs[-1]]
    if (lens != kept).any():  # drop trailing partial bytes and null rows
        keep = np.resize(np.array([True, False]), 2 * nrows)
        span = span[np.repeat(keep, np.column_stack([kept, lens - kept]).ravel())]
    cols = parse_ts_buffer_np(span)
    n = len(cols["pid"])
    row = np.repeat(np.arange(nrows), counts)
    cols["pkt_index"] -= np.repeat(np.cumsum(counts) - counts, counts)
    if batch.num_columns > 2:
        cols["pkt_index"] += pc.fill_null(batch.column(2), 0).to_numpy()[row]
    raw_offsets = pa.py_buffer(np.arange(n + 1, dtype=width) * TS_PKT_SIZE)
    raw = pa.Array.from_buffers(blobs.type, n, [None, raw_offsets, pa.py_buffer(span)])
    return pa.RecordBatch.from_arrays(
        [ids.take(pa.array(row))]
        + [pa.array(cols[c], type=t) for c, t in _PARSED.items()]
        + [raw if keep_raw else pa.nulls(n, blobs.type)],
        names=PACKET_SCHEMA.fieldNames(),
    )


def packets_from_binary_column(
    df: DataFrame,
    id_col: str = "stream_id",
    bytes_col: str = "value",
    keep_raw: bool = True,
    index_col: str | None = None,
) -> DataFrame:
    """Slice+parse a binary column (P1+P2/P3): 1 row in -> N packet rows.

    ``pkt_index`` is the packet position within each input row's buffer —
    the monotonic per-stream order required for CC/reassembly (T1). When a
    stream arrives as many single-packet rows instead of one buffer, pass
    ``index_col`` (a per-row base offset, e.g. a sequence number): it is
    added to the in-buffer position, preserving T1 order without first
    concatenating the stream into one value (repeated binary concat is
    quadratic in stream length).
    """

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield _slice_arrow(batch, keep_raw)

    cols = [
        F.col(id_col).cast("string").alias(id_col),
        F.col(bytes_col).alias(bytes_col),
    ]
    if index_col:
        cols.append(F.col(index_col).cast("long").alias(index_col))
    return df.select(*cols).mapInArrow(gen, schema=PACKET_SCHEMA)


def read_ts_files(
    spark: SparkSession, path: str, keep_raw: bool = True
) -> DataFrame:
    """Read .ts segment file(s) -> packet DataFrame (one task per file)."""
    files = (
        spark.read.format("binaryFile").load(path).select(
            F.col("path").alias("stream_id"), F.col("content").alias("value")
        )
    )
    return packets_from_binary_column(files, keep_raw=keep_raw)
