"""Per-query optimization measurement harness (guide §1).

For each named query: warm it, capture .explain('formatted') to
plans/r<round>/<name>_<tag>.txt, then time min-of-3 with BOTH the bench action
(count) and the noop sink (computes every column, §1.4). Jobs are labeled
(§1.5) and the UI is enabled so stage/shuffle metrics can be pulled from
the REST API while the session lives.

Usage: python tools/query_profile.py <round> <tag> <query> [query...]
       python tools/query_profile.py <round> <tag> --top N  (N slowest from BENCH_LOCAL)

<round> is the optimization round number (e.g. 13); it names the output
dir plans/r<round>/ and the Spark app.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    rnd = f"r{int(sys.argv[1])}"
    tag = sys.argv[2]
    names = sys.argv[3:]

    from streamprocessors_spark import plans
    from streamprocessors_spark.session import get_spark

    plans.load_all()
    if names and names[0] == "--top":
        n = int(names[1])
        bl = json.load(open(os.path.join(REPO, "BENCH_LOCAL.json")))
        names = [
            k
            for k, _ in sorted(
                bl["queries"].items(), key=lambda kv: -kv[1]
            )[:n]
        ]

    spark = get_spark(
        app_name=f"profile-{rnd}",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    outdir = os.path.join(REPO, "plans", rnd)
    os.makedirs(outdir, exist_ok=True)

    spark.range(1_000_000).selectExpr("sum(id * 2) as s").collect()
    results = {}
    for name in names:
        q = plans.REGISTRY.get(name)
        if q is None:
            print(f"SKIP {name}: not registered")
            continue
        sc = spark.sparkContext
        # cold-ish first run (session warm, caches cold)
        sc.setJobDescription(f"{name}: first")
        t0 = time.perf_counter()
        df = q.fn(spark, SF_DIR)
        df.count()
        first = time.perf_counter() - t0
        # plan capture (after first run so memoized stores are in plan shape
        # the warm bench sees)
        df2 = q.fn(spark, SF_DIR)
        jvm = spark.sparkContext._jvm
        plan_txt = jvm.PythonSQLUtils.explainString(
            df2._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan_txt)
        # warm count timing (bench methodology)
        tc = []
        for i in range(3):
            sc.setJobDescription(f"{name}: warm count {i}")
            t0 = time.perf_counter()
            q.fn(spark, SF_DIR).count()
            tc.append(time.perf_counter() - t0)
        # warm noop timing (full-column materialization)
        tn = []
        for i in range(3):
            sc.setJobDescription(f"{name}: warm noop {i}")
            t0 = time.perf_counter()
            q.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            tn.append(time.perf_counter() - t0)
        sc.setJobDescription(None)
        results[name] = {
            "first": round(first, 3),
            "count_min3": round(min(tc), 3),
            "noop_min3": round(min(tn), 3),
        }
        print(
            f"{name}: first={first:.3f} count={min(tc):.3f} noop={min(tn):.3f}"
        )

    with open(os.path.join(outdir, f"profile_{tag}.json"), "w") as f:
        json.dump(results, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
