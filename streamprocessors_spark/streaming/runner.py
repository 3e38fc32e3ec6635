"""Run a streaming DataFrame to completion and hand back a batch result.

``availableNow`` processes everything already in the source (possibly over
multiple micro-batches, honoring source rate limits) and stops — the
streaming analog of a batch run. Results land in a uniquely-named memory
sink; the caller gets a plain DataFrame, so streaming operators slot into
the same driver contract / DuckDB-oracle gate as batch ones.

Streaming shuffle partitions are SCALE-ADAPTIVE (guide §2.2): AQE cannot
coalesce inside a streaming plan, so the count a stream starts with is
paid in full by every micro-batch — every shuffle AND one state-store
instance (+ its per-batch delta-file commit) per partition. The runner
derives the partition count from the stream's INPUT SIZE (one partition
per ~64 MB, the same advisory-size logic AQE applies to batch plans;
a directory input counts the bytes of every file under it), clamped to
``spark.sql.shuffle.partitions``. The session factory sets that conf to
the task-slot count by default, so the ceiling is one partition per slot
(an explicit session value raises or lowers it), and a small replay does
not pay empty state-store commits per batch. Compute-bound stateful
operators (the Python LSH/gram state machines, whose per-shard work
dwarfs their input bytes) pass ``spark.sql.shuffle.partitions`` itself
as an explicit ``shuffle_partitions`` floor, i.e. also one partition per
slot by default; that is intended, since a partition beyond the slot
count only queues behind the others (measured at sf0.1 on 4 cores: the
three such queries run 1.9-2.3x faster warm at 4 partitions than at 32).
StreamExecution clones the session AT START, so setting the conf around
``.start()`` latches it per query without affecting any other plan; a
restart from an existing checkpoint keeps the count recorded there.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

#: one streaming shuffle partition per this many input bytes (matches the
#: spirit of spark.sql.adaptive.advisoryPartitionSizeInBytes for batch)
_STREAM_TARGET_BYTES = 64 << 20

#: schema probes are metadata (footer read + file listing) — memoized per
#: (application, path) so each stream_* call stops paying a ~0.1 s batch
#: read just to learn an unchanged fixture schema
_SCHEMA_CACHE: dict = {}

#: input-size suggestions accumulated by the stream source builders; the
#: next run_available_now[_many]/engine start consumes them (max wins —
#: a two-source query sizes for its larger input)
_PENDING_PARTS: list = []


def _input_bytes(path: str) -> int:
    """Bytes of a file input, or of every regular data file under a
    directory input (a directory of part-files is the production layout;
    its own inode size says nothing about the data). Hidden and ``_``
    entries (``_SUCCESS``, ``.crc``, ``_spark_metadata/``) are skipped, as
    Spark's reader skips them. Raises OSError when the path does not
    exist."""
    if not os.path.isdir(path):
        return os.path.getsize(path)
    total = 0
    for root, dirs, files in os.walk(path, followlinks=True):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            fp = os.path.join(root, f)
            if not f.startswith(("_", ".")) and os.path.isfile(fp):
                total += os.path.getsize(fp)
    return total


def _suggest_partitions(spark: SparkSession, path: str) -> None:
    try:
        n_bytes = _input_bytes(path)
    except OSError:
        return
    try:
        ceiling = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        ceiling = 200
    p = max(2, -(-n_bytes // _STREAM_TARGET_BYTES))
    _PENDING_PARTS.append(min(p, ceiling))


def _resolve_stream_partitions(
    spark: SparkSession, shuffle_partitions: int | None
) -> int | None:
    """Explicit caller value > pending input-size suggestion > None
    (keep the session conf)."""
    pending = max(_PENDING_PARTS) if _PENDING_PARTS else None
    _PENDING_PARTS.clear()
    if shuffle_partitions is not None:
        return int(shuffle_partitions)
    return pending


class _stream_conf:
    """Latch spark.sql.shuffle.partitions around a streaming .start()
    (the cloned stream session keeps the latched value for its whole
    run; the session conf is restored immediately after start)."""

    def __init__(self, spark: SparkSession, parts: int | None):
        self.spark, self.parts, self.old = spark, parts, None

    def __enter__(self):
        if self.parts is not None:
            self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
            self.spark.conf.set(
                "spark.sql.shuffle.partitions", str(self.parts)
            )
        return self

    def __exit__(self, *exc):
        if self.old is not None:
            self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
        return False


def run_available_now(
    stream_df: DataFrame,
    output_mode: str = "append",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming DF with Trigger.AvailableNow; return the sink."""
    spark: SparkSession = stream_df.sparkSession
    name = f"sink_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="spgraft_ckpt_")
    parts = _resolve_stream_partitions(spark, shuffle_partitions)
    with _stream_conf(spark, parts):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    tbl = spark.table(name)
    # No-op projection: the raw memory-sink relation (MemoryPlan) does
    # not dedup attribute ids across plan instances, so a self-join of
    # the sink (e.g. postings JOIN agg-of-postings in stream_bm25_topk)
    # dies with INTERNAL_ERROR "conflicting references in Join"; the
    # projection restores normal multi-instance resolution.
    return tbl.toDF(*tbl.columns)


def run_available_now_many(
    streams: list[tuple[DataFrame, str]],
    shuffle_partitions: int | None = None,
) -> list[DataFrame]:
    """Execute several independent availableNow streaming queries
    CONCURRENTLY and return their sinks in order (guide §2.6: actions
    are only sequential because the driver calls them sequentially —
    independent queries overlap their fixed micro-batch machinery and
    back-fill each other's stage tails). Each query keeps its own
    checkpoint and memory sink; there is no cross-query state."""
    spark: SparkSession = streams[0][0].sparkSession
    parts = _resolve_stream_partitions(spark, shuffle_partitions)
    started = []
    with _stream_conf(spark, parts):
        for stream_df, output_mode in streams:
            name = f"sink_{uuid.uuid4().hex[:12]}"
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option(
                    "checkpointLocation",
                    tempfile.mkdtemp(prefix="spgraft_ckpt_"),
                )
                .trigger(availableNow=True)
                .start()
            )
            started.append((name, q))
    for _, q in started:
        q.awaitTermination()
    out = []
    for name, _ in started:
        tbl = spark.table(name)
        # same attribute-id dedup projection as run_available_now
        out.append(tbl.toDF(*tbl.columns))
    return out


def _stage_dir(path: str) -> str:
    """FileStreamSource ingests *directories*; expose a single fixture file
    through a temp dir of symlinks (zero-copy). A directory input (a dir
    of part-files) is streamed as is: the source does not descend into a
    symlinked subdirectory, so staging it would stream nothing."""
    if os.path.isdir(path):
        return path
    d = tempfile.mkdtemp(prefix="spgraft_src_")
    os.symlink(os.path.abspath(path), os.path.join(d, os.path.basename(path)))
    return d


def _cached_schema(spark: SparkSession, path: str):
    """Batch-probe a fixture file's schema once per (application, path) —
    pure metadata, never rows; the probe honors whatever reader confs
    (nanosAsLong) the caller set, which are identical for every probe of
    the same path in one app."""
    key = (spark.sparkContext.applicationId, path)
    if key not in _SCHEMA_CACHE:
        _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    return _SCHEMA_CACHE[key]


def _spread_small_input(
    spark: SparkSession, df: DataFrame, path: str
) -> DataFrame:
    """Spread a SUB-SPLIT input across tasks for compute-heavy stream
    projections (guide §2: the scan-stage compute of a file smaller than
    one split — maxPartitionBytes — runs in ONE task no matter how many
    cores the session has; parquet row-group granularity means lowering
    the split size cannot help). The repartition shuffles at most one
    split's worth of bytes, bounded by construction; inputs that already
    split natively are returned untouched, so at scale this is a no-op.
    One task per ~64 KB of input, capped at the session parallelism
    (measured: 8-9 tasks beats 32 on a 0.6 MB fixture — tiny tasks cost
    more than they parallelize)."""
    try:
        n_bytes = _input_bytes(path)
    except OSError:
        return df
    try:
        maxpb = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    except Exception:
        maxpb = 128 << 20
    if n_bytes >= maxpb:
        return df
    par = spark.sparkContext.defaultParallelism
    return df.repartition(min(par, max(2, n_bytes // 65536)))


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events fixture (nanosecond-timestamp parquet).

    File-source streaming needs an explicit schema; we take it from a batch
    read under ``nanosAsLong`` (the events files store TIMESTAMP(NANOS),
    which the vanilla reader rejects) and restore a proper timestamp column
    afterwards — identical to session.read_table's batch normalization.
    """
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _cached_schema(spark, path)
    _suggest_partitions(spark, path)
    df = spark.readStream.schema(schema).parquet(_stage_dir(path))
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("`ts` div 1000")))
    elif dict(df.dtypes).get("ts") == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def stream_documents(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    path = os.path.join(sf_dir, "documents.parquet")
    schema = _cached_schema(spark, path)
    _suggest_partitions(spark, path)
    df = spark.readStream.schema(schema).parquet(_stage_dir(path))
    # spread=True: caller runs a compute-heavy projection (shingle/
    # minhash/gram hashing) in the scan stage — see _spread_small_input
    return _spread_small_input(spark, df, path) if spread else df


def stream_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = os.path.join(sf_dir, "embeddings.parquet")
    schema = _cached_schema(spark, path)
    _suggest_partitions(spark, path)
    return spark.readStream.schema(schema).parquet(_stage_dir(path))
