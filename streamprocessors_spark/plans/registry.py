"""Query registry: name -> (Spark plan, DuckDB oracle SQL).

Contract (driver-facing, see __spark_entry__.py):
- the Spark callable takes (spark, sf_dir) and returns a DataFrame;
- every query declares its oracle where it registers: ANSI SQL DuckDB can
  run against views named region/nation/customer/supplier/part/orders/
  lineitem/events/documents/embeddings over the same parquet files;
- the oracle is a SQL string, or a zero-argument callable returning one
  when it is built from other queries' oracles (a stream twin reads
  ``REGISTRY["<batch>"].oracle``, a report wraps its input's SQL).
  ``Query.oracle`` resolves it on every read, so read it only after
  ``plans.load_all()`` has registered every module, whatever the import
  order;
- column names must match exactly (the comparison sorts columns by name).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQueryFn = Callable[[SparkSession, str], DataFrame]
OracleSource = str | Callable[[], str]


@dataclass
class Query:
    name: str
    fn: SparkQueryFn
    oracle_source: OracleSource
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)

    @property
    def oracle(self) -> str:
        src = self.oracle_source
        return src() if callable(src) else src


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: OracleSource,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[SparkQueryFn], SparkQueryFn]:
    """Decorator registering a declared query with its oracle."""
    if not oracle:
        raise ValueError(f"query {name} declares no oracle")

    def deco(fn: SparkQueryFn) -> SparkQueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle_source=oracle, doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return deco
