"""Output checks, computed with DuckDB independently of Spark.

A table's digest is its row count plus the sum over rows of a hash of
the row, with every column cast to its logical type and then to text.
The sum ignores row order but not duplicates. Sinks are read back with
DuckDB: parquet and CSV directories directly, Derby tables through
Derby's own ``SYSCS_EXPORT_TABLE`` to a CSV file.
"""

from __future__ import annotations

import os

import duckdb

ORDERS_COLS = (
    ("o_orderkey", "BIGINT"), ("o_custkey", "BIGINT"), ("o_orderstatus", "VARCHAR"),
    ("o_totalprice", "DOUBLE"), ("o_orderdate", "TIMESTAMP"), ("o_orderpriority", "VARCHAR"),
)
ORDERS_DDL = (
    "(o_orderkey BIGINT{pk}, o_custkey BIGINT, o_orderstatus VARCHAR(1), "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority VARCHAR(15))"
)


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def digest(con, relation: str, cols) -> tuple[int, int]:
    """(rows, order-insensitive hash sum) of ``relation`` over ``cols``,
    a sequence of ``(name, duckdb type)``."""
    parts = ", ".join(f"CAST(CAST({c} AS {t}) AS VARCHAR)" for c, t in cols)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({parts})::HUGEINT), 0) FROM {relation}"
    ).fetchone()
    return int(n), int(h)


def parquet(path: str) -> str:
    if os.path.isdir(path):
        path = os.path.join(path, "**", "*.parquet")
    return f"read_parquet('{path}')"


def csv_dir(path: str) -> str:
    """A Spark CSV sink directory (header, backslash escapes) as text."""
    return (f"read_csv('{os.path.join(path, '*.csv')}', header=true, all_varchar=true, "
            "quote='\"', escape='\\')")


def derby_export(jvm, url: str, table: str, out_csv: str, cols) -> str:
    """Export a Derby table to CSV with Derby's system procedure, over a
    plain JDBC connection, and return it as a DuckDB relation."""
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        stmt = conn.prepareCall("CALL SYSCS_UTIL.SYSCS_EXPORT_TABLE(null, ?, ?, null, null, 'UTF-8')")
        stmt.setString(1, table.upper())
        stmt.setString(2, out_csv)
        stmt.execute()
        stmt.close()
    finally:
        conn.close()
    names = ", ".join(f"'{c}': 'VARCHAR'" for c, _ in cols)
    return f"read_csv('{out_csv}', header=false, quote='\"', columns={{{names}}})"


def last_write_wins(base: str, batches: list[str], with_deletes: bool) -> str:
    """Expected sink after applying ordered change batches to ``base``:
    per key the latest batch row wins; with deletes, a latest delete
    drops the key. ``batches`` are parquet files with ``op`` and ``seq``."""
    cols = ", ".join(c for c, _ in ORDERS_COLS)
    parts = [f"SELECT {cols}, 'base' AS op, -1 AS seq FROM {parquet(base)}"]
    for b in batches:
        where = "" if with_deletes else " WHERE op <> 'delete'"
        parts.append(f"SELECT {cols}, op, seq FROM {parquet(b)}{where}")
    union = " UNION ALL ".join(parts)
    drop = " AND op <> 'delete'" if with_deletes else ""
    return (f"(SELECT {cols} FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY o_orderkey ORDER BY seq DESC) AS rn FROM ({union})) "
            f"WHERE rn = 1{drop})")
