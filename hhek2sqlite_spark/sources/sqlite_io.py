"""SQLite ingest/egress — the reference's container format, direction as
a parameter (SURVEY.md S1-S9, 3.1-3.2).

The reference copies MDB<->SQLite row-at-a-time with string-built INSERTs
(/root/reference/hhek2sqlite.go:249-262). Here:

- The *pipeline* is Spark: normalization, validation, joins and every
  query run on DataFrames; Parquet is the at-scale storage.
- The *SQLite file* is a single-node interchange container by nature
  (one file, one writer). I/O therefore runs driver-side over the stdlib
  ``sqlite3`` module and crosses into Spark through ``sources/edge.py``,
  the Arrow pair every driver-side container shares, so no Python
  worker runs here. ``read_table`` hands the fetched rows to
  ``rows_to_df`` (a JVM local relation). ``write_table`` collects the
  table once, then binds it with batched parameterized INSERTs
  (``insert_rows``, shared with the streaming sink) in one transaction
  per table: the reference's T1 shape, not its per-row-transaction T2
  on Transaktioner (SURVEY.md 2.11). The collect runs before the
  transaction opens, so no Spark job runs under SQLite's write lock.
- ``convert`` runs every table's Spark work at once, one thread per
  table (``edge.per_table``); the SQLite file still has one writer, the
  calling thread, which stores the tables in copy order. Both
  directions therefore hold one hhek database in driver memory; the
  100 TB path is Parquet, and on a cluster with a JDBC SQLite driver
  the same DataFrames go through ``df.write.jdbc`` unchanged.
- Escaping (the reference's toUtf8 quote-doubling, F2) disappears:
  parameter binding cannot corrupt quotes. Its *semantic* — data with
  quotes/non-ASCII survives — is asserted by roundtrip tests.

Fidelity notes: money binds as TEXT-formatted decimals, but the target
column is DECIMAL(19,4) = NUMERIC affinity (format parity with the
reference, /root/reference/hhek2sqlite.go:197), so SQLite converts the
bound text to INTEGER/REAL storage whenever the first 15 significant
digits survive — i.e. exactness is DOUBLE-LIMITED, same as the
reference's own Currency -> text -> NUMERIC pipeline. Every Jet
Currency value a real hhek file contains (4 decimal places, household
magnitudes) roundtrips exactly; amounts beyond ~15 significant digits
would not (tested in test_sqlite_roundtrip.py). ``read_table``
re-quantizes to DecimalType(19,4) on the way back in. If exactness past
double precision ever matters, store scaled-integer minor units or a
TEXT-affinity column — deliberately NOT done here, to keep the file
format byte-compatible with the reference's. Booleans travel as 0/1;
NULLs as NULL (empty-string routing is the ingest normalizer's job,
functions.scalars.empty_to_null).
"""

from __future__ import annotations

import os
import sqlite3
from contextlib import closing
from datetime import date, datetime
from decimal import Decimal
from functools import partial
from itertools import islice
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import BooleanType, DecimalType

from hhek2sqlite_spark.schema.registry import (
    COPY_ORDER,
    HHEK_TABLES,
    render_create_index,
    render_create_table,
)
from hhek2sqlite_spark.sources.edge import df_to_rows, per_table, rows_to_df

_Q4 = Decimal("0.0001")


def _to_sqlite_value(v):
    if isinstance(v, Decimal):
        return format(v, "f")
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    return v


def insert_sql(table: str, cols) -> str:
    collist = ", ".join(f'"{c}"' for c in cols)
    placeholders = ", ".join("?" for _ in cols)
    return f'INSERT INTO "{table}" ({collist}) VALUES ({placeholders})'


def insert_rows(con: sqlite3.Connection, sql: str, rows: list[tuple], batch_size: int) -> int:
    """Bind ``rows`` (as ``df_to_rows`` collects them) to ``sql`` with
    ``executemany`` in ``batch_size`` chunks. Returns the rows SQLite
    changed."""
    rows = (tuple(map(_to_sqlite_value, r)) for r in rows)
    n = 0
    while batch := list(islice(rows, batch_size)):
        n += con.executemany(sql, batch).rowcount
    return n


# generic Spark-dtype -> SQLite storage-class map for tables OUTSIDE the
# HHEK registry (a Jet 3 source is self-describing and can carry any
# schema; the registry's dual-dialect DDL still wins for HHEK tables)
_GENERIC_DDL = {
    "string": "TEXT",
    "boolean": "INTEGER",
    "tinyint": "INTEGER",
    "smallint": "INTEGER",
    "int": "INTEGER",
    "bigint": "INTEGER",
    "float": "REAL",
    "double": "REAL",
    "timestamp": "TEXT",
    "date": "TEXT",
}


def _generic_create_table(df: DataFrame, table: str) -> str:
    cols = []
    for name, dtype in df.dtypes:
        sql_t = "NUMERIC" if dtype.startswith("decimal") else _GENERIC_DDL.get(dtype)
        if sql_t is None:
            raise ValueError(
                f"cannot derive SQLite DDL for column {name!r} of Spark "
                f"type {dtype} in non-registry table {table!r}"
            )
        cols.append(f'"{name}" {sql_t}')
    return f'CREATE TABLE "{table}" ({", ".join(cols)})'


def _from_sqlite_value(v, dtype):
    if v is None:
        return None
    if isinstance(dtype, DecimalType):
        return Decimal(str(v)).quantize(_Q4)
    if isinstance(dtype, BooleanType):
        return bool(v)
    return v


def _collect_table(df: DataFrame, table: str) -> tuple[str, list[str], list[tuple]]:
    """The Spark side of ``write_table``: the table's DDL, its column
    order and its rows from one edge collect."""
    spec = HHEK_TABLES.get(table)
    # registry DDL requires EXACTLY the registry's column set; a table
    # from a self-describing source (Jet 3/4) that lacks columns — or
    # isn't an HHEK table at all — gets DDL derived from its own Spark
    # schema. A SUPERSET (HHEK name + extra columns, possible from a
    # self-describing source) must not silently truncate to the
    # registry spec (ADVICE r12): fall through to the generic DDL so
    # every column the source carries is written.
    if spec is not None and set(c.name for c in spec.columns) == set(df.columns):
        cols = [c.name for c in spec.columns]
        ddl = render_create_table(table, "sqlite")
    else:
        cols = list(df.columns)
        ddl = _generic_create_table(df, table)
    return ddl, cols, df_to_rows(df.select(*cols))


def _store_table(
    db_path: str, table: str, ddl: str, cols: list[str], rows: list[tuple], *,
    batch_size: int = 10_000,
) -> int:
    """The SQLite side of ``write_table``: create, truncate and insert in
    one transaction. Returns the row count written."""
    con = sqlite3.connect(db_path)
    try:
        con.execute(ddl.replace("CREATE TABLE", "CREATE TABLE IF NOT EXISTS"))
        con.execute(f'DELETE FROM "{table}"')
        n = insert_rows(con, insert_sql(table, cols), rows, batch_size)
        con.commit()
        return n
    except Exception:
        con.rollback()  # T4 fail-fast: whole table or nothing
        raise
    finally:
        con.close()


def write_table(df: DataFrame, db_path: str, table: str, *, batch_size: int = 10_000) -> int:
    """CREATE (dialect DDL from the registry) + truncate-before-load (S6)
    + batched parameterized inserts in one transaction (T1), fed by one
    edge collect that runs before the transaction opens. Returns the row
    count written."""
    return _store_table(db_path, table, *_collect_table(df, table), batch_size=batch_size)


def read_table(spark: SparkSession, db_path: str, table: str) -> DataFrame:
    """Read one hhek table back into a typed DataFrame (registry schema,
    exact decimals restored)."""
    spec = HHEK_TABLES[table]
    schema = spec.spark_schema()
    collist = ", ".join(f'"{c.name}"' for c in spec.columns)
    con = sqlite3.connect(db_path)
    try:
        raw = con.execute(f'SELECT {collist} FROM "{table}"').fetchall()
    finally:
        con.close()
    dtypes = [f.dataType for f in schema.fields]
    return rows_to_df(spark, [tuple(map(_from_sqlite_value, r, dtypes)) for r in raw], schema)


def _copy_order(names) -> list[str]:
    """``names`` in the reference's fixed copy order; tables outside the
    HHEK set (possible from a self-describing Jet 3 source) follow
    alphabetically rather than being dropped."""
    extras = sorted(n for n in names if n not in COPY_ORDER)
    return [n for n in [*COPY_ORDER, *extras] if n in names]


def write_database(
    tables: dict[str, DataFrame],
    db_path: str,
    *,
    overwrite: bool = True,
    create_indexes: bool = False,
) -> dict[str, int]:
    """Write a full hhek database in the reference's fixed copy order
    (/root/reference/hhek2sqlite.go:1287-1296). ``overwrite`` is the S7
    destination reset; ``create_indexes`` mirrors the reverse-direction
    secondary-index DDL (forward creates none, SURVEY.md 2.12)."""
    names = _copy_order(tables)
    spark = tables[names[0]].sparkSession if names else None
    return _write_database(
        spark, names, tables.__getitem__, db_path,
        overwrite=overwrite, create_indexes=create_indexes,
    )


def _write_database(
    spark: SparkSession | None,
    names: list[str],
    load: Callable[[str], DataFrame],
    db_path: str,
    *,
    overwrite: bool,
    create_indexes: bool,
) -> dict[str, int]:
    """``write_database`` over ``load(name)`` for each of ``names``, in
    copy order: every table's load and collect run at once, one thread
    each, and the calling thread stores them in ``names`` order as they
    arrive."""
    if overwrite and os.path.exists(db_path):
        os.remove(db_path)
    counts = {}
    collected = per_table(spark, lambda name: _collect_table(load(name), name), names)
    with closing(collected):
        for name, (ddl, cols, rows) in zip(names, collected):
            counts[name] = _store_table(db_path, name, ddl, cols, rows)
    if create_indexes:
        con = sqlite3.connect(db_path)
        try:
            for name in COPY_ORDER:
                if name in names:
                    for stmt in render_create_index(name, "sqlite"):
                        con.execute(stmt)
            con.commit()
        finally:
            con.close()
    return counts


def _hhek_tables_in(db_path: str) -> list[str]:
    """The HHEK tables ``db_path`` holds, in copy order."""
    con = sqlite3.connect(db_path)
    try:
        present = {
            r[0] for r in con.execute("SELECT name FROM sqlite_master WHERE type='table'")
        }
    finally:
        con.close()
    return [name for name in COPY_ORDER if name in present]


def read_database(spark: SparkSession, db_path: str) -> dict[str, DataFrame]:
    return {name: read_table(spark, db_path, name) for name in _hhek_tables_in(db_path)}


def _parquet_files(path: str) -> list[str]:
    """The parquet files of one table directory, leaving out the hidden
    ``_``/``.`` files Spark leaves out."""
    files = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    if not files:
        raise FileNotFoundError(f"no parquet data files in {path}")
    return files


def _read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """Read one table directory with the schema of its own footer, read on
    the driver, instead of a schema-inference job. The file's schema, not
    the registry's, so a superset table keeps its extra columns."""
    schema = from_arrow_schema(pq.read_schema(_parquet_files(path)[0]))
    return spark.read.schema(schema).parquet(path)


def _read_parquet_dir(spark: SparkSession, src: str, name: str) -> DataFrame:
    return _read_parquet_table(spark, os.path.join(src, name))


def convert(
    spark: SparkSession,
    src: str,
    dst: str,
    *,
    create_indexes: bool = False,
) -> dict[str, int]:
    """Direction-reversible conversion, the reference's ``konvertera``
    reimagined (/root/reference/hhek2sqlite.go:1230-1299): direction is
    inferred from the endpoints instead of a ``-backa`` flag.

    - ``.mdb -> .db`` : Jet 2.0 MDB -> SQLite (the reference's actual
      program, hhek2sqlite.go:1205,1230,1287-1296)
    - ``.db -> .mdb`` : the reverse (``-backa``), via the Jet writer
    - ``.db -> dir``  : SQLite -> Parquet (one subdir per table)
    - ``dir -> .db``  : Parquet -> SQLite
    - any combination of the three endpoint kinds works the same way

    Every table's read and Spark job run at once, one thread per table
    (``edge.per_table``); an SQLite destination is still written by the
    calling thread alone, in copy order.

    Returns the per-table row counts. A Parquet destination's counts come
    from the footers of the files just written, so no Spark job recounts
    the source.
    """
    from hhek2sqlite_spark.sources.jet2 import jet2_write_database
    from hhek2sqlite_spark.sources.mdb import mdb_read_database

    def _kind(p: str) -> str:
        low = p.lower()
        if low.endswith(".mdb"):
            return "mdb"
        if low.endswith(".db") or low.endswith(".sqlite"):
            return "sqlite"
        return "parquet"

    src_kind, dst_kind = _kind(src), _kind(dst)
    if src_kind == "mdb":
        frames = mdb_read_database(spark, src)  # one parse of the whole file
        names, load = list(frames), frames.__getitem__
    elif src_kind == "sqlite":
        names, load = _hhek_tables_in(src), partial(read_table, spark, src)
    else:
        names = [name for name in COPY_ORDER if os.path.exists(os.path.join(src, name))]
        load = partial(_read_parquet_dir, spark, src)
    names = _copy_order(names)
    if dst_kind == "mdb":
        return jet2_write_database({name: load(name) for name in names}, dst)
    if dst_kind == "sqlite":
        if src_kind == "sqlite":
            # every read finishes before the destination is reset, so a
            # file converted onto itself keeps its rows
            load = {name: load(name) for name in names}.__getitem__
        return _write_database(
            spark, names, load, dst, overwrite=True, create_indexes=create_indexes
        )

    def to_parquet(name: str) -> int:
        path = os.path.join(dst, name)
        load(name).write.mode("overwrite").parquet(path)
        return sum(pq.read_metadata(f).num_rows for f in _parquet_files(path))

    return dict(zip(names, per_table(spark, to_parquet, names)))
