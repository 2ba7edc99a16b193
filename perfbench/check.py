"""Output checks: query results against their DuckDB oracle, ETL sinks
against the generator's expected rows.

The comparison is the one ``tools/oracle_check.py`` applies: row count,
column names, canonical column types, and the sorted multiset of
canonicalized rows (floats to 9 significant digits, columns in name
order), so row order never matters.
"""

from __future__ import annotations

import datetime
import math

import duckdb

SPARK_TYPES = {
    "tinyint": "int8", "smallint": "int16", "int": "int32", "bigint": "int64",
    "float": "float32", "double": "float64", "string": "string",
    "boolean": "bool", "date": "date", "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
}
DUCK_TYPES = {
    "TINYINT": "int8", "SMALLINT": "int16", "INTEGER": "int32",
    "BIGINT": "int64", "HUGEINT": "int128", "UTINYINT": "uint8",
    "USMALLINT": "uint16", "UINTEGER": "uint32", "UBIGINT": "uint64",
    "FLOAT": "float32", "DOUBLE": "float64", "VARCHAR": "string",
    "BOOLEAN": "bool", "DATE": "date", "TIMESTAMP": "timestamp",
    "TIMESTAMP WITH TIME ZONE": "timestamp",
}


def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, float):
        return "f:NaN" if math.isnan(v) else f"f:{v:.9g}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return str(v)


def canon_type(name: str, table: dict[str, str]) -> str:
    name = name.strip()
    low = name.lower()
    if low.startswith("decimal"):
        return low.replace(" ", "")
    if low.startswith("array") or low.endswith("[]"):
        return "array"
    return table.get(name, table.get(name.upper(), low))


def canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)


class Expected:
    """One reference result: columns, canonical types, canonical rows."""

    def __init__(self, cols: list[str], types: dict[str, str], rows: list[tuple]):
        self.cols = cols
        self.types = types
        self.n_rows = len(rows)
        self.canon = canon_rows(cols, rows)


def diff(
    exp: Expected, cols: list[str], spark_types: list[str] | None, rows: list[tuple]
) -> str | None:
    """None when the result matches ``exp``, else the first problem.
    Types are compared when both sides carry them."""
    if len(rows) != exp.n_rows:
        return f"row count {len(rows)} != expected {exp.n_rows}"
    if sorted(cols) != sorted(exp.cols):
        return f"columns {sorted(cols)} != expected {sorted(exp.cols)}"
    if exp.types is not None and spark_types is not None:
        for c, t in zip(cols, spark_types):
            got = canon_type(t, SPARK_TYPES)
            if exp.types.get(c) != got:
                return f"column {c}: type {got} != expected {exp.types.get(c)}"
    got_rows = canon_rows(cols, rows)
    if got_rows != exp.canon:
        bad = next((a, b) for a, b in zip(got_rows, exp.canon) if a != b)
        return f"values differ, first: got {bad[0]} expected {bad[1]}"
    return None


class Oracle:
    """DuckDB views over one generated table directory."""

    def __init__(self, data_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def expected(self, sql: str) -> Expected:
        rel = self.con.sql(sql)
        cols = list(rel.columns)
        types = {c: canon_type(str(t), DUCK_TYPES) for c, t in zip(cols, rel.types)}
        return Expected(cols, types, rel.fetchall())

    def read_sink(self, path: str, cols: list[str]) -> list[tuple]:
        sel = ", ".join(f'"{c}"' for c in cols)
        return self.con.sql(f"SELECT {sel} FROM read_parquet('{path}/*.parquet')").fetchall()

    def close(self) -> None:
        self.con.close()


def expected_weather(rows: list[dict], cols: list[str]) -> Expected:
    """The generator's pure-Python unified rows as an :class:`Expected`
    (types are not compared: the sink is read back through DuckDB)."""
    return Expected(cols, None, [tuple(r[c] for c in cols) for r in rows])
