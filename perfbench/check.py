"""Answer checking: response digests during the run, and a comparison
of every distinct statement with DuckDB over the same parquet after it.

Normalization follows the repo's oracle comparison
(``tests/oracle_compare.py``): columns matched by name, rows compared as
a multiset, values typed. One difference: floats compare with a relative
tolerance of ``REL_TOL``, because a SUM over doubles in Spark and in
DuckDB adds in a different order and may differ in the last bits.
"""

from __future__ import annotations

import hashlib
import re

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from wire import decode_data_row

REL_TOL = 1e-9


def digest(rows: list[bytes]) -> str:
    """Order-insensitive digest of raw DataRow / CopyData payloads."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(len(r).to_bytes(4, "big"))
        h.update(r)
    return h.hexdigest()


def _plain(t: pa.DataType) -> pa.DataType:
    # DuckDB's HUGEINT sums arrive as decimal(38, 0); compare them as ints
    if pa.types.is_decimal(t):
        return pa.int64() if t.scale == 0 else pa.float64()
    return t


def decode_table(payloads: list[bytes], schema: pa.Schema, copy: bool) -> pa.Table:
    """Wire payloads → a table of ``schema``'s types. ``copy`` selects
    COPY text lines (tab-separated, ``\\N`` for NULL) over DataRow
    messages."""
    if copy:
        rows = [
            [None if c == "\\N" else c for c in p.rstrip(b"\n").decode().split("\t")]
            for p in payloads
        ]
    else:
        rows = [decode_data_row(p) for p in payloads]
    if any(len(r) != len(schema) for r in rows):
        raise ValueError("answer has another column count")
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return pa.table(
        [pc.cast(pa.array(c, pa.string()), f.type) for c, f in zip(cols, schema)],
        schema=schema,
    )


def same_table(a: pa.Table, b: pa.Table) -> bool:
    """Equal as multisets of rows: sorted by the exact columns first,
    then exact columns equal and float columns within ``REL_TOL``."""
    if a.num_rows != b.num_rows or a.column_names != b.column_names:
        return False
    floats = [f.name for f in a.schema if pa.types.is_floating(f.type)]
    exact = [n for n in a.column_names if n not in floats]
    order = [(n, "ascending") for n in exact + floats]
    a, b = a.sort_by(order), b.sort_by(order)
    for n in exact:
        if not a[n].equals(b[n]):
            return False
    for n in floats:
        x, y = a[n].to_numpy(zero_copy_only=False), b[n].to_numpy(zero_copy_only=False)
        if not np.array_equal(np.isnan(x), np.isnan(y)):  # NULL reads as NaN
            return False
        if not np.allclose(x, y, rtol=REL_TOL, atol=1e-12, equal_nan=True):
            return False
    return True


_COPY_INNER = re.compile(r"^\s*COPY\s*\((?P<q>.*)\)\s*TO\s+STDOUT\s*$", re.I | re.S)


class Oracle:
    """DuckDB views over the parquet files the program was given."""

    def __init__(self, tables: dict[str, str]):
        self.con = duckdb.connect()
        for name, path in tables.items():
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )

    def expect(self, sql: str, params: tuple[str, ...] = ()) -> pa.Table:
        """DuckDB's answer to ``sql`` — a COPY TO STDOUT is answered by
        its inner query."""
        m = _COPY_INNER.match(sql)
        q = m.group("q") if m else sql
        tbl = self.con.execute(q, [int(p) for p in params] if params else None).arrow()
        schema = pa.schema([pa.field(f.name, _plain(f.type)) for f in tbl.schema])
        return tbl.cast(schema)

    def matches(self, stmt, columns: list[tuple[str, int]], payloads: list[bytes]) -> bool:
        """True when the wire answer to ``stmt`` (RowDescription
        ``columns`` and raw payloads) equals DuckDB's."""
        copy = bool(_COPY_INNER.match(stmt.sql))
        want = self.expect(stmt.sql, stmt.params)
        if not copy and [c.lower() for c, _ in columns] != [
            c.lower() for c in want.column_names
        ]:
            return False
        try:
            got = decode_table(payloads, want.schema, copy)
        except (ValueError, pa.ArrowInvalid):
            return False
        return same_table(got, want)
