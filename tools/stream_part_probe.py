"""Round-13: sensitivity of the availableNow floor to the streaming
shuffle-partition count (state store count == shuffle partitions; AQE is
disabled in streaming so the constant is paid in full at any SF).

Times the stateless-agg and stateful probes at several partition counts,
plus two real queries, by setting spark.sql.shuffle.partitions just
before .start() (StreamExecution clones the session at start, so the
setting latches per query).
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from pyspark.sql import functions as F

    from streamprocessors_spark.session import get_spark

    spark = get_spark(
        app_name="stream-part-probe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.range(1_000_000).selectExpr("sum(id*2)").collect()
    path = os.path.join(SF_DIR, "documents.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema

    def stage_dir() -> str:
        d = tempfile.mkdtemp(prefix="spgraft_src_")
        os.symlink(
            os.path.abspath(path), os.path.join(d, os.path.basename(path))
        )
        return d

    def run(stream_df, mode="append"):
        name = f"sink_{uuid.uuid4().hex[:12]}"
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="spgraft_ckpt_")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        spark.table(name).count()
        return q

    def _min3(fn):
        fn()
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return round(min(ts), 3)

    def agg():
        df = spark.readStream.schema(schema).parquet(stage_dir())
        run(df.groupBy("source").count(), mode="complete")

    def stateful():
        from pyspark.sql.streaming.state import GroupStateTimeout

        df = spark.readStream.schema(schema).parquet(stage_dir())

        def fn(key, pdfs, state):
            import pandas as pd

            n = 0
            for pdf in pdfs:
                n += len(pdf)
            state.update((n,))
            yield pd.DataFrame({"g": [key[0]], "n": [n]})

        g = (
            df.select((F.col("doc_id") % 32).alias("g").cast("long"))
            .groupBy("g")
            .applyInPandasWithState(
                fn,
                "g long, n long",
                "n long",
                "append",
                GroupStateTimeout.NoTimeout,
            )
        )
        run(g)

    results = {}
    default_parts = spark.conf.get("spark.sql.shuffle.partitions")
    for parts in (32, 8, 4, 2, 1):
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        results[f"agg_p{parts}"] = _min3(agg)
        results[f"stateful_p{parts}"] = _min3(stateful)
    spark.conf.set("spark.sql.shuffle.partitions", default_parts)

    # real queries at two settings
    from streamprocessors_spark import plans

    plans.load_all()
    for parts in (32, 2):
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        for name in (
            "stream_text_entropy",
            "stream_dedup_minhash",
            "stream_approx_distinct_hll",
        ):
            q = plans.REGISTRY[name]
            results[f"{name}_p{parts}"] = _min3(
                lambda q=q: q.fn(spark, SF_DIR).count()
            )
    spark.conf.set("spark.sql.shuffle.partitions", default_parts)
    print(results)
    spark.stop()


if __name__ == "__main__":
    main()
