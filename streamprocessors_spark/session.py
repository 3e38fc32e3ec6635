"""SparkSession factory with scale-oriented defaults.

Tested on local[N]; the config choices are the ones that matter on a
multi-executor cluster at ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy);
- shuffle partitions split by plan kind. AQE batch plans start every
  exchange at ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``
  (32 by default) and coalesce at runtime. Streaming plans run without
  AQE, so each of their shuffles, and each stateful operator's state-store
  instances (one per partition, committed every micro-batch), takes
  ``spark.sql.shuffle.partitions`` as is; that defaults to the task-slot
  count (``defaultParallelism``), one partition per slot. An explicit
  ``shuffle_partitions=`` or ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` sets both
  confs to the same value. At cluster scale pass ~2-3x total cores. A
  restarted stream keeps the partition count recorded in its checkpoint;
- Arrow enabled for every Pandas-UDF hop (the reassembly operators);
- broadcast threshold left at default 10 MB — the PSI "dimension" tables
  (PAT/PMT/SDT state, descriptor-tag names) are tiny and always broadcast.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: initial fan-out of AQE batch exchanges when no explicit count is given
DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "streamprocessors-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    explicit = shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(explicit or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 50k rows/batch: ~10 MB of 188 B packets per Arrow hop — measured
        # ~25% faster section reassembly than the 10k default (fewer
        # Python<->JVM transitions); flat beyond 50k.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(explicit or spark.sparkContext.defaultParallelism),
    )
    return spark


TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: tables whose parquet files carry nanosecond timestamps (illegal for the
#: vanilla Spark parquet reader) -> columns to surface as TimestampType.
_NANO_TS_COLUMNS = {"events": ["ts"]}


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one fixture table, normalizing timestamp column types.

    Fixture generations have varied: parquet TIMESTAMP(NANOS) (which
    Spark's reader rejects outright) and TIMESTAMP(MICROS) without the
    UTC-adjusted flag (which Spark surfaces as TIMESTAMP_NTZ — rejected by
    instant functions like ``unix_micros``). Both are normalized to plain
    ``TimestampType`` under the UTC session zone: nanos are read via
    ``spark.sql.legacy.parquet.nanosAsLong`` and truncated to micros
    (matching DuckDB's read of the same file), and NTZ columns are cast —
    a pure re-tag under UTC, so oracle comparisons stay exact.
    """
    from pyspark.sql import functions as F

    # The NTZ->timestamp cast below is a pure re-tag ONLY under UTC; this
    # also runs under the driver's own SparkSession, whose zone we don't
    # control — pin it here, mirroring the nanosAsLong runtime set.
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    path = os.path.join(sf_dir, f"{name}.parquet")
    nano_cols = _NANO_TS_COLUMNS.get(name, [])
    if nano_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
        elif t == "bigint" and c in nano_cols:
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Load the standard fixture tables from a scale-factor directory.

    Returns {name: DataFrame} and registers each as a temp view so both
    the DataFrame API and spark.sql() plans can use them.
    """
    out = {}
    for n in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            df = read_table(spark, sf_dir, n)
            df.createOrReplaceTempView(n)
            out[n] = df
    return out
