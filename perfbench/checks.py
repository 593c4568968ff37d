"""Output checks: canonical result digests and SQLite table comparison.

A query result is digested order-insensitively in the parity gate's
canonical form: columns sorted by name, every value rendered to a
repr-strict string, rows sorted. The column kinds go into the digest too,
so a float column that happens to print like a decimal one still
mismatches.

A SQLite table is digested in primary-key order with money compared as an
exact 4-place decimal, whatever storage class SQLite chose for it.
"""

from __future__ import annotations

import decimal
import hashlib
import sqlite3

from hhek2sqlite_spark.schema.registry import HHEK_TABLES
from hhek2sqlite_spark.testing.parity import _canon_frame, _col_kind

_Q4 = decimal.Decimal("0.0001")


def frame_digest(pdf) -> dict:
    """Row count plus an order-insensitive sha256 of a pandas frame, in
    the canonical form the parity gate compares (``testing.parity``)."""
    h = hashlib.sha256()
    h.update(repr([(c, _col_kind(pdf[c])) for c in sorted(pdf.columns)]).encode())
    rows = _canon_frame(pdf)
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\n")
    return {"rows": len(rows), "digest": h.hexdigest()}


def table_digest(db_path: str, table: str) -> dict:
    """Row count plus a primary-key-ordered sha256 of one hhek table."""
    spec = HHEK_TABLES[table]
    cols = [c.name for c in spec.columns]
    money = [c.logical == "money" for c in spec.columns]
    key = spec.pk[0] if spec.pk else cols[0]
    collist = ", ".join(f'"{c}"' for c in cols)
    con = sqlite3.connect(db_path)
    try:
        cur = con.execute(f'SELECT {collist} FROM "{table}" ORDER BY "{key}"')
        h = hashlib.sha256()
        n = 0
        for row in cur:
            vals = [
                "<NULL>" if v is None
                else format(decimal.Decimal(str(v)).quantize(_Q4), "f") if m
                else repr(v)
                for v, m in zip(row, money)
            ]
            h.update("\x1f".join(vals).encode())
            h.update(b"\n")
            n += 1
    finally:
        con.close()
    return {"rows": n, "digest": h.hexdigest()}


def distinct_count(db_path: str, table: str, column: str) -> int:
    con = sqlite3.connect(db_path)
    try:
        return con.execute(f'SELECT COUNT(DISTINCT "{column}") FROM "{table}"').fetchone()[0]
    finally:
        con.close()
