"""Differential check of served results against DuckDB.

The rule is the repository's oracle rule (tools/diffcheck.py): columns
are matched by name, integer widths may differ but type kinds may not,
and rows must be equal as a multiset with exact values, so row order
does not matter. Rows are compared through an order-insensitive hash
computed inside DuckDB: the row count and the sum of one hash per row
over the name-sorted columns, each cast to its kind's widest type. That
keeps large exported results cheap to check.
"""
import time
from pathlib import Path

import duckdb
import pyarrow as pa

from datagen import TABLES


def kind(t):
    """The type kind compared across engines; widths do not count."""
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list<" + kind(t.value_type) + ">"
    return str(t)


WIDEST = {"int": "BIGINT", "float": "DOUBLE", "string": "VARCHAR",
          "timestamp": "TIMESTAMP", "list<float>": "DOUBLE[]", "list<int>": "BIGINT[]"}


def _widened(col, k):
    return f'CAST("{col}" AS {WIDEST[k]})' if k in WIDEST else f'"{col}"'


class Oracle:
    def __init__(self, data_dir):
        self.con = duckdb.connect()
        for t in TABLES:
            p = Path(data_dir) / f"{t}.parquet"
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def expected(self, sql, params=None):
        return self.con.execute(sql, params or []).arrow()

    def compare(self, got, want):
        """None when equal under the rule, else the first difference."""
        gnames, wnames = sorted(got.column_names), sorted(want.column_names)
        if gnames != wnames:
            return f"columns differ: served={gnames} duckdb={wnames}"
        if got.num_rows != want.num_rows:
            return f"row count differs: served={got.num_rows} duckdb={want.num_rows}"
        for c in gnames:
            gk, wk = kind(got.schema.field(c).type), kind(want.schema.field(c).type)
            if gk != wk:
                return f"type kind differs on {c}: served={gk} duckdb={wk}"
        if self.signature(got, gnames) != self.signature(want, gnames):
            return "rows differ (order-insensitive hash)"
        return None

    def signature(self, table, names):
        """(row count, sum of row hashes) of an Arrow table."""
        cols = ", ".join(_widened(c, kind(table.schema.field(c).type)) for c in names)
        self.con.register("pb_sig", table)
        try:
            return self.con.execute(
                f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM pb_sig").fetchone()
        finally:
            self.con.unregister("pb_sig")

    def check(self, stmt, got):
        """Check one served statement's result; None when correct."""
        if stmt.kind == "metadata":
            if stmt.sql == "CommandGetTables":
                names = tuple(sorted(got.column("table_name").to_pylist()))
                return None if names == stmt.expect else f"tables {names} != {stmt.expect}"
            return None if got.num_rows >= 1 else "no rows"
        if "duckdb_extensions()" in stmt.sql:
            # the engine links its own extension set; the reference smoke
            # client only asserts that parquet is among the installed ones
            names = got.column("extension_name").to_pylist()
            return None if "parquet" in names else f"parquet not installed: {names}"
        params = [stmt.param] if stmt.kind == "prepared" else None
        return self.compare(got, self.expected(stmt.sql, params))

    def check_parquet(self, dump_dir, oracle_sql):
        """An operator query's dumped result against its oracle SQL. A
        query without an oracle passes once its dump reads back, as in
        tools/diffcheck.py."""
        got = self.con.execute(
            f"SELECT * FROM read_parquet('{dump_dir}/*.parquet')").arrow()
        if oracle_sql is None:
            return None
        return self.compare(got, self.expected(oracle_sql))

    def time_texts(self, texts):
        """Seconds DuckDB takes for the given texts on this host: the
        host-drift control recorded next to every result."""
        t0 = time.monotonic()
        for sql in texts:
            self.con.execute(sql).fetchall()
        return time.monotonic() - t0
