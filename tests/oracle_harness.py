"""Local re-implementation of the driver's DuckDB-oracle comparison.

The driver runs each ``queries()`` entry and its ``oracle_sql()`` twin at
sf0.01 and compares row count + schema + order-insensitive value hash.
This harness reproduces that check (strictly: exact value equality, which
implies any hash equality) so regressions surface in ``pytest`` before
the driver sees them.
"""

from __future__ import annotations

import math
import os
import tempfile

import duckdb

FIXTURE_TABLES = (
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
)


# DuckDB sizes itself to 80% of host RAM by default, while the Spark JVM
# and its Python workers share the same host during a test run.  The
# brute-force recall-audit oracles peak near 7 GB unbounded; under this
# cap they spill to disk instead and return the same rows.
ORACLE_MEMORY_LIMIT = "3GB"


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(
        config={
            "memory_limit": ORACLE_MEMORY_LIMIT,
            "temp_directory": os.path.join(tempfile.gettempdir(), "duckdb_oracle"),
        }
    )
    for name in FIXTURE_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(rows: list[tuple], columns: list[str]) -> list[tuple]:
    """Order-insensitive canonical form: sort columns by name, then rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def canon_val(v):
        if isinstance(v, float):
            if math.isnan(v):
                return ("f", "nan")
            return ("f", repr(v))
        if isinstance(v, (list, tuple)):
            return ("l", tuple(canon_val(x) for x in v))
        return (type(v).__name__, str(v))

    canon_rows = [tuple(canon_val(r[i]) for i in order) for r in rows]
    return sorted(canon_rows)


def compare_query_to_oracle(spark, sf_dir: str, fn, sql: str) -> None:
    """Assert the Spark result and the DuckDB oracle match exactly."""
    sdf = fn(spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb_conn(sf_dir)
    res = con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    con.close()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"column mismatch: spark={sorted(spark_cols)} duckdb={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duckdb={len(duck_rows)}"
    )
    sc, dc = _canon(spark_rows, spark_cols), _canon(duck_rows, duck_cols)
    if sc != dc:
        diffs = [(a, b) for a, b in zip(sc, dc) if a != b][:5]
        raise AssertionError(f"value mismatch; first diffs: {diffs}")
