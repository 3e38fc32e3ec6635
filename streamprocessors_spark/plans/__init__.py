"""Declared query catalog.

Every operator the engine claims (SURVEY.md §2 + the LLM-pipeline set) is
declared here as a named query: a Spark callable ``(spark, sf_dir) ->
DataFrame`` plus, where ANSI-SQL-expressible, an equivalent DuckDB oracle
SQL string. The driver hash-compares both at sf=0.01.

The driver contract lists the queries in one derived order (see
``ordered_registry``): never driver-verified first, then stalest green
first. Every query is locally oracle-gated by tests/test_oracle_parity.py
whatever its position.
"""

from streamprocessors_spark.plans.registry import REGISTRY, Query, register  # noqa: F401


def _driver_green_rounds() -> dict[str, int]:
    """{query: latest round with a hash-green row} across every
    CORRECTNESS_r*.json in the repo root."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    green: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(data, dict):
            for name, row in data.items():
                if isinstance(row, dict) and row.get("hash_match"):
                    green[name] = max(green.get(name, 0), rnd)
    return green


def ordered_registry() -> dict[str, Query]:
    """REGISTRY ordered by the round of each query's latest driver-green
    row, ascending: never-green queries count as round 0 and lead, then
    the stalest green rows. The sort is stable, so ties keep registration
    order."""
    rounds = _driver_green_rounds()
    return {n: REGISTRY[n] for n in sorted(REGISTRY, key=lambda n: rounds.get(n, 0))}


def load_all() -> None:
    """Import every plan module so its @register decorators run."""
    import streamprocessors_spark.plans.relational  # noqa: F401
    import streamprocessors_spark.plans.ts_pipeline  # noqa: F401
    import streamprocessors_spark.plans.llm_ops  # noqa: F401
    import streamprocessors_spark.plans.streaming_queries  # noqa: F401
    import streamprocessors_spark.plans.advanced  # noqa: F401
    import streamprocessors_spark.plans.tpch_decision  # noqa: F401
    import streamprocessors_spark.plans.analytics  # noqa: F401
    import streamprocessors_spark.plans.feature_eng  # noqa: F401
    import streamprocessors_spark.plans.data_quality  # noqa: F401
    import streamprocessors_spark.plans.mm_dedup  # noqa: F401
    import streamprocessors_spark.plans.graph_ops  # noqa: F401
