"""Scale-adaptive streaming shuffle partitions (r13 optimization).

AQE cannot coalesce inside a streaming plan, so the runner derives the
per-query partition count from the stream's input size (clamped to the
session ceiling) and latches it around .start(). These tests pin the
resolution precedence, the conf restore, and that an adaptive run still
computes the same result as the batch semantics.
"""

from __future__ import annotations

import os
import re
import threading

from pyspark.sql import functions as F

from streamprocessors_spark.streaming import runner as R


def test_resolution_precedence(spark):
    # pending suggestion alone
    R._PENDING.parts.clear()
    R._PENDING.parts.append(3)
    assert R._resolve_stream_partitions(spark, None) == 3
    assert R._PENDING.parts == []  # consumed

    # explicit caller value beats pending
    R._PENDING.parts.append(3)
    assert R._resolve_stream_partitions(spark, 7) == 7

    # nothing pending, nothing passed -> keep session conf (None)
    assert R._resolve_stream_partitions(spark, None) is None


def test_suggestion_scales_with_bytes_and_clamps(spark, sf_dir):
    R._PENDING.parts.clear()
    path = os.path.join(sf_dir, "documents.parquet")
    R._suggest_partitions(spark, path)
    ceiling = int(spark.conf.get("spark.sql.shuffle.partitions"))
    got = R._PENDING.parts.pop()
    n_bytes = os.path.getsize(path)
    expect = max(2, -(-n_bytes // R._STREAM_TARGET_BYTES))
    assert got == min(expect, ceiling)
    # a 1 TB input would hit the session ceiling, never exceed it
    big = -(-(1 << 40) // R._STREAM_TARGET_BYTES)
    assert min(max(2, big), ceiling) == ceiling


def test_conf_latched_and_restored(spark, sf_dir):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    ev = R.stream_events(spark, sf_dir)
    agg = ev.groupBy("event_type").count()
    sink = R.run_available_now(agg, output_mode="complete")
    # session conf restored after .start()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # the streamed aggregation matches the batch aggregation exactly
    from streamprocessors_spark.session import read_table

    batch = (
        read_table(spark, sf_dir, "events").groupBy("event_type").count()
    )
    got = {r["event_type"]: r["count"] for r in sink.collect()}
    want = {r["event_type"]: r["count"] for r in batch.collect()}
    assert got == want


def test_schema_probe_memoized(spark, sf_dir):
    from streamprocessors_spark.storage import artifact

    path = os.path.join(sf_dir, "documents.parquet")
    s1 = R._cached_schema(spark, path)
    # memoized under the file's directory: a build under that key never runs
    calls = []
    probe = artifact(
        spark, sf_dir, "schema:documents.parquet", lambda: calls.append(1)
    )
    assert probe is s1 and calls == []
    # same object back on the second call (no re-read)
    assert R._cached_schema(spark, path) is s1
    assert s1 == spark.read.parquet(path).schema


def test_pending_suggestion_stays_on_its_thread(spark, tmp_path):
    """A source built on one thread must not size a stream started on
    another: the suggestion is consumed only by its own thread."""
    big = tmp_path / "big.parquet"
    with open(big, "wb") as fh:
        fh.truncate(200 << 20)  # sparse: 200 MB of size, no disk blocks
    R._resolve_stream_partitions(spark, None)  # drain this thread's list
    built, main_done, seen = threading.Event(), threading.Event(), []

    def build_then_start():
        R._suggest_partitions(spark, str(big))
        built.set()
        main_done.wait(30)
        seen.append(R._resolve_stream_partitions(spark, None))

    worker = threading.Thread(target=build_then_start)
    worker.start()
    assert built.wait(30)
    main_got = R._resolve_stream_partitions(spark, None)
    main_done.set()
    worker.join()
    assert main_got is None
    # the worker's own start still gets its suggestion
    assert seen and seen[0] is not None and seen[0] >= 2


def test_explicit_partitions_reach_the_stream(spark, sf_dir):
    # a forced 2-partition run still yields exact results on a stateful
    # complete-mode aggregation (partitioning is a pure layout choice)
    docs = R.stream_documents(spark, sf_dir)
    agg = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    sink = R.run_available_now(
        agg, output_mode="complete", shuffle_partitions=2
    )
    from streamprocessors_spark.session import read_table

    batch = (
        read_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {r["source"]: r["n"] for r in sink.collect()}
    want = {r["source"]: r["n"] for r in batch.collect()}
    assert got == want


def test_directory_input_sized_by_its_part_files(spark, sf_dir, tmp_path, monkeypatch):
    """A source directory of part-files (the production layout) is sized
    by the bytes of its data files, not by the directory's own inode size,
    and its staged stream still delivers every row."""
    from streamprocessors_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    path = str(tmp_path / "documents.parquet")
    docs.repartition(4).write.parquet(path)
    parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(parts) == 4
    n_bytes = sum(os.path.getsize(os.path.join(path, f)) for f in parts)
    assert R._input_bytes(path) == n_bytes  # _SUCCESS / .crc skipped

    # one partition per fifth of the input -> 5 or 6 suggested, under the
    # test session's ceiling of 8
    monkeypatch.setattr(R, "_STREAM_TARGET_BYTES", n_bytes // 5)
    R._PENDING.parts.clear()
    stream = R.stream_documents(spark, str(tmp_path))
    ceiling = int(spark.conf.get("spark.sql.shuffle.partitions"))
    expect = min(max(2, -(-n_bytes // R._STREAM_TARGET_BYTES)), ceiling)
    assert R._PENDING.parts == [expect]
    assert expect in (5, 6)

    sink = R.run_available_now(stream.select("doc_id"))
    assert sink.count() == docs.count()


def test_default_session_gives_streams_one_partition_per_slot(
    spark, tmp_path, monkeypatch
):
    """get_spark() with no explicit count: AQE batch exchanges still start
    at DEFAULT_SHUFFLE_PARTITIONS, while a streaming plan (AQE off) and
    its state store get one partition per task slot."""
    from streamprocessors_spark import session as S

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
    )
    before = {k: spark.conf.get(k) for k in keys}
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    slots = spark.sparkContext.defaultParallelism
    try:
        assert S.get_spark(app_name="tests") is spark
        assert spark.conf.get(keys[0]) == str(slots)
        assert spark.conf.get(keys[1]) == str(S.DEFAULT_SHUFFLE_PARTITIONS)

        batch = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
        plan = batch._jdf.queryExecution().executedPlan().toString()
        n = S.DEFAULT_SHUFFLE_PARTITIONS
        assert re.search(rf"hashpartitioning\(.*, {n}\)", plan), plan

        src = str(tmp_path / "src")
        spark.range(100).write.parquet(src)
        agg = (
            spark.readStream.schema("id long").parquet(src)
            .groupBy((F.col("id") % 7).alias("k")).count()
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(f"slots_{os.getpid()}")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        ops = q.lastProgress["stateOperators"]
        assert [op["numShufflePartitions"] for op in ops] == [slots]
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
