"""Output check for the uploader benchmark, computed with DuckDB.

A table's digest is its row count and the sum of a per-row hash over the
columns cast to one canonical type per kind, so it ignores row order and
file layout. The expected digest comes from the generator's rows (cleaned by
the generator's own character table); the observed one from the parquet
files of the version the table's ``_CURRENT`` pointer names.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa

from gen import SCHEMAS, TableState, clean

_SQL_TYPE = {"int": "BIGINT", "dec": "DOUBLE", "date": "DATE", "str": "VARCHAR"}


def _digest_sql(table: str, source: str) -> str:
    cols = ", ".join(
        f"CAST({c} AS {_SQL_TYPE[k]})" for c, k in SCHEMAS[table]
    )
    return f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM {source}"


def expected_digest(con: duckdb.DuckDBPyConnection, state: TableState) -> tuple[int, int]:
    """Digest of the rows a correct load leaves in ``state.name``."""
    schema = SCHEMAS[state.name]
    columns: list[list] = [[] for _ in schema]
    for raw in state.rows.values():
        for i, v in enumerate(raw):
            columns[i].append(None if v == "" else v)
    for i, (_, kind) in enumerate(schema):
        if kind == "str":
            columns[i] = [None if v is None else clean(v) for v in columns[i]]
    con.register("expected", pa.table({c: columns[i] for i, (c, _) in enumerate(schema)}))
    try:
        n, h = con.execute(_digest_sql(state.name, "expected")).fetchone()
    finally:
        con.unregister("expected")
    return n, int(h or 0)


def committed_dir(table_path: str) -> str:
    with open(os.path.join(table_path, "_CURRENT")) as fh:
        return os.path.join(table_path, fh.read().strip())


def observed_digest(con: duckdb.DuckDBPyConnection, table: str, table_path: str) -> tuple[int, int]:
    """Digest of the committed version of the table at ``table_path``."""
    src = f"read_parquet('{committed_dir(table_path)}/*.parquet')"
    n, h = con.execute(_digest_sql(table, src)).fetchone()
    return n, int(h or 0)
