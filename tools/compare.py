"""Local replica of the driver's Spark-vs-DuckDB correctness comparison.

For each declared query the driver runs the Spark plan and the DuckDB oracle
over the same parquet fixtures and compares row count, schema (column names,
sorted) and an order-insensitive value hash. This module reproduces that
check locally so every operator can be validated before the round ends.

Run as a script it compares queries under a vanilla local[8] session (the
shape the ``__spark_entry__`` contract is verified in) and exits 1 on any
failure:

    python tools/compare.py <sf_dir> [query ...]   (all queries if none named)

The correctness gate runs at sf0.01; a full run at sf0.1 (~13 min) also flushes
out scale-dependent divergence such as DuckDB rounding an integer ``/``
half-up where Spark's floor() truncates.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
from dataclasses import dataclass

import duckdb

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


def duckdb_conn(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _norm_cell(v: object) -> str:
    """Normalize a cell to a hashable canonical string (both engines)."""
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            # Type normalization only (Spark floor() yields BIGINT where
            # DuckDB yields DOUBLE) — not a precision concession.
            return str(int(v))
        # Full precision: repr() is the shortest round-tripping string, so
        # different doubles ALWAYS canonicalize differently. The round-2
        # `%.6g` form collapsed 107357.17 and 107357.16 to "107357" and
        # masked the q22 driver failure — the local comparator must never
        # be laxer than the driver.
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def value_hash(rows: list[tuple], columns: list[str]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(_norm_cell(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    schema_match: bool
    hash_match: bool
    detail: str = ""


def compare_query(name, spark_df, con, oracle: str) -> CompareResult:
    sp_rows = [tuple(r) for r in spark_df.collect()]
    sp_cols = spark_df.columns
    res = con.execute(oracle)
    du_cols = [d[0] for d in res.description]
    du_rows = res.fetchall()

    schema_match = sorted(sp_cols) == sorted(du_cols)
    sh = value_hash(sp_rows, sp_cols)
    dh = value_hash(du_rows, du_cols)
    hash_match = sh == dh
    ok = schema_match and hash_match and len(sp_rows) == len(du_rows)
    detail = ""
    if not schema_match:
        detail = f"schema: spark={sorted(sp_cols)} duckdb={sorted(du_cols)}"
    elif not hash_match:
        # Show a few differing rows for debugging.
        order_s = sorted(range(len(sp_cols)), key=lambda i: sp_cols[i])
        order_d = sorted(range(len(du_cols)), key=lambda i: du_cols[i])
        s_set = {
            "\x1f".join(_norm_cell(r[i]) for i in order_s) for r in sp_rows
        }
        d_set = {
            "\x1f".join(_norm_cell(r[i]) for i in order_d) for r in du_rows
        }
        only_s = list(s_set - d_set)[:3]
        only_d = list(d_set - s_set)[:3]
        detail = f"spark-only={only_s} duckdb-only={only_d}"
    return CompareResult(
        name=name,
        ok=ok,
        spark_rows=len(sp_rows),
        oracle_rows=len(du_rows),
        schema_match=schema_match,
        hash_match=hash_match,
        detail=detail,
    )


def main(argv: list[str]) -> int:
    sf_dir, names = argv[0], argv[1:]

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("compare")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    con = duckdb_conn(sf_dir)
    bad = 0
    t_all = time.time()
    for name in names or sorted(qs):
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            if name not in osql:
                print("ROWS-ONLY", name, df.count())
                continue
            r = compare_query(name, df, con, osql[name])
            if not r.ok:
                bad += 1
            print(
                "OK " if r.ok else "FAIL",
                name,
                r.spark_rows,
                r.oracle_rows,
                f"{time.time() - t0:.1f}s",
                r.detail[:160],
            )
        except Exception as ex:  # noqa: BLE001
            bad += 1
            print("ERR", name, str(ex)[:240])
    print(f"FAILURES: {bad} elapsed {round(time.time() - t_all)}s")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    raise SystemExit(main(sys.argv[1:]))
