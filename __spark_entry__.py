"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in the ``streamprocessors_spark`` package; this file
just adapts the registry to the driver's shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from streamprocessors_spark import plans  # noqa: E402

plans.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    ts_programs_summary is the engine's flagship: encode -> packetize ->
    per-PID reassembly -> PAT x PMT x SDT joins — the reference's
    programs-summary REST response rebuilt end-to-end (SURVEY §7.1).
    """
    return plans.REGISTRY["ts_programs_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered by ``plans.ordered_registry()``: queries with no driver-green
    row first, then the rest stalest green first; ties keep registration
    order.
    """
    return {name: q.fn for name, q in plans.ordered_registry().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for every query, in ``queries()`` order
    (``register()`` refuses a query without one)."""
    return {name: q.oracle for name, q in plans.ordered_registry().items()}
