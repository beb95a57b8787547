"""Result checking: row count plus an order-insensitive digest.

Every response (JSON array, CSV, Arrow IPC stream or a Flight table)
and every expected result (DuckDB over the same parquet) is loaded into
DuckDB and reduced to ``"<rows>|<column names>|<sum of row hashes>"``.
Cells are canonicalised first, so the wire format does not change the
digest: numbers become doubles rounded to 6 places, dates and
timestamps become UTC ``YYYY-MM-DD HH:MM:SS.ffffff`` text, and a string
that parses as either is treated as that value (CSV carries no types).
"""

from __future__ import annotations

import io
import itertools
import os

import duckdb
import pyarrow as pa

_NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
            "USMALLINT", "UINTEGER", "UBIGINT", "FLOAT", "DOUBLE", "DECIMAL")
_TS_FMT = "'%Y-%m-%d %H:%M:%S.%f'"


def _canon(col: str, typ: str) -> str:
    q = '"' + col.replace('"', '""') + '"'
    t = typ.upper()
    if t.startswith(_NUMERIC):
        e = f"CAST(round(CAST({q} AS DOUBLE), 6) AS VARCHAR)"
    elif t.startswith(("TIMESTAMP", "DATE")):
        e = f"strftime(CAST({q} AS TIMESTAMP), {_TS_FMT})"
    elif t == "BOOLEAN":
        e = f"CAST({q} AS VARCHAR)"
    else:
        s = f"CAST({q} AS VARCHAR)"
        e = (f"coalesce(CAST(round(TRY_CAST({s} AS DOUBLE), 6) AS VARCHAR), "
             f"strftime(TRY_CAST(regexp_replace({s}, '(\\+00:00|Z)$', '') AS TIMESTAMP), "
             f"{_TS_FMT}), CASE WHEN lower({s}) IN ('true', 'false') THEN lower({s}) "
             f"ELSE {s} END)")
    return f"coalesce({e}, 'NULL')"


class Checker:
    """Owns one DuckDB connection (with views over one scale's tables)."""

    def __init__(self, tmp_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute("SET threads = 2")
        self.con.execute("SET memory_limit = '2GB'")
        self.con.execute(f"SET temp_directory = '{tmp_dir}/duck_spill'")
        self.tmp_dir = tmp_dir
        self._n = itertools.count()

    def use_scale(self, sf_dir: str, tables: tuple[str, ...]) -> None:
        """(Re)point the bare table names at one scale's parquet files."""
        for t in tables:
            self.con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def _digest_view(self, view: str) -> str:
        cols = self.con.execute(f"DESCRIBE {view}").fetchall()
        n = self.con.execute(f"SELECT count(*) FROM {view}").fetchone()[0]
        if n == 0:
            return "0"
        cols = sorted(((c[0].lower(), c[0], c[1]) for c in cols))
        exprs = ", ".join(_canon(orig, typ) for _, orig, typ in cols)
        h = self.con.execute(f"SELECT sum(hash({exprs})::HUGEINT) FROM {view}").fetchone()[0]
        return f"{n}|{','.join(c[0] for c in cols)}|{h}"

    def digest_sql(self, sql: str) -> str:
        v = f"q{next(self._n)}"
        self.con.execute(f"CREATE OR REPLACE TEMP VIEW {v} AS {sql}")
        try:
            return self._digest_view(v)
        finally:
            self.con.execute(f"DROP VIEW {v}")

    def digest_arrow(self, table: pa.Table) -> str:
        v = f"a{next(self._n)}"
        self.con.register(v, table)
        try:
            return self._digest_view(v)
        finally:
            self.con.unregister(v)

    def digest_body(self, body: bytes, fmt: str) -> str:
        """Digest of an HTTP response body in ``json``/``csv``/``arrow``."""
        if fmt == "arrow":
            return self.digest_arrow(pa.ipc.open_stream(io.BytesIO(body)).read_all())
        empty = body.strip() == b"[]" if fmt == "json" else b"\n" not in body.strip()
        if empty:  # DuckDB cannot infer a table from no rows
            return "0"
        path = os.path.join(self.tmp_dir, f"body{next(self._n)}.{fmt}")
        with open(path, "wb") as f:
            f.write(body)
        try:
            reader = (f"read_json('{path}', format='array')" if fmt == "json"
                      else f"read_csv('{path}', header=true)")
            return self.digest_sql(f"SELECT * FROM {reader}")
        finally:
            os.remove(path)

    def close(self) -> None:
        self.con.close()
