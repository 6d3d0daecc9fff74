"""Correctness helpers: DuckDB views over the generated tables, the
registry's oracle SQL, and an order-insensitive value hash.

The hash follows the convention the registry's oracles are written for:
columns are compared by name (sorted), rows as a multiset, and floats that
hold an integral value are printed as integers so that Spark and DuckDB
type choices do not matter.
"""

from __future__ import annotations

import hashlib
import os

import duckdb

from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark import (
    queries_extensions,  # noqa: F401  (registers the extension queries)
    queries_reference,
)


def oracle_sql(name: str) -> str | None:
    """The DuckDB SQL the registry pairs with query ``name``, or None for a
    query that is checked by rows only."""
    sql = queries_reference.REGISTRY[name][1]
    return sql() if callable(sql) else sql


def query_fn(name: str):
    return queries_reference.REGISTRY[name][0]


def duck(tables_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(tables_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def _cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def frame_hash(df) -> tuple[int, str]:
    """(rows, hash) of a Spark DataFrame's collected result."""
    rows = [tuple(r) for r in df.collect()]
    return len(rows), value_hash(df.columns, rows)


def sql_hash(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[int, str]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    return len(rows), value_hash(cols, rows)


#: DailyGenreKPIs items as plans.pipeline writes them, from the good rows.
KPI_ITEMS_SQL = """
    SELECT CAST(listen_date AS VARCHAR) AS date, track_genre AS genre,
           listen_count, unique_listeners,
           CAST(total_listening_time AS DOUBLE) AS total_listening_time,
           avg_listening_time_per_user AS avg_listen_time_per_user
    FROM ({kpis})
"""


def kpi_items_sql() -> str:
    return KPI_ITEMS_SQL.format(kpis=oracle_sql("daily_genre_kpis"))
