"""Exactly-once streaming sink into SQLite via foreachBatch.

The reference's whole purpose is loading rows into an SQLite file
(/root/reference/hhek2sqlite.go:139-153 batched INSERTs, :241-271
transactional writes). Its batch-only pipeline re-runs from scratch;
a streaming pipeline instead delivers micro-batches AT LEAST ONCE —
after a crash, Structured Streaming replays the last unacknowledged
batch. A transactional sink turns that into exactly-once: the data
insert and an (app_id, table, batch_id) bookkeeping record commit in
ONE SQLite transaction, so a replayed batch is detected and skipped
before any row is written twice. This is the standard
idempotent-foreachBatch pattern — the same contract Delta's
(txnAppId, txnVersion) sink implements — expressed against the
reference's own target store.

Why app_id is part of the key: Spark's foreachBatch ``batch_id`` is
scoped to ONE checkpoint directory. If the checkpoint is deleted and
recreated (or a second query with its own checkpoint reuses the same
sink table), batch_id restarts at 0 and a (table, batch_id)-only key
would silently DROP the fresh batches as "already committed". The
stream wrappers therefore derive app_id from a marker file stored
INSIDE the checkpoint dir (``_checkpoint_app_id``): the identity lives
and dies with the checkpoint, so a reset checkpoint gets a fresh
identity and replay-skipping only ever applies within the same logical
stream.

Scale notes: foreachBatch hands the driver a normal DataFrame; every
writer here collects its micro-batch once through the shared Arrow
edge (sources/edge.py, one Spark job per batch however many
partitions it has) and binds it with sources/sqlite_io.py's
``insert_rows``, so sink tables and ``write_table`` store the same text
for the same value. Driver memory is therefore bounded by one
micro-batch, which the stream sets with ``maxFilesPerTrigger`` or
``maxOffsetsPerTrigger``. SQLite is a single-writer store, so the sink
is inherently driver-side; a cluster deployment would swap the JDBC url
and keep the batch-id bookkeeping identical.
"""

from __future__ import annotations

import os
import sqlite3
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from hhek2sqlite_spark.sources.edge import df_to_rows
from hhek2sqlite_spark.sources.sqlite_io import insert_rows, insert_sql

COMMITS_TABLE = "_stream_commits"


def _checkpoint_app_id(checkpoint_dir: str) -> str:
    """Stable identity for one logical stream: a marker file INSIDE the
    checkpoint dir. Deleting/recreating the checkpoint (which resets
    Spark's batch_id to 0) also discards the marker, so the recreated
    stream gets a fresh identity and its batch 0 is never mistaken for
    the old stream's committed batch 0."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    marker = os.path.join(checkpoint_dir, "_sink_app_id")
    try:
        with open(marker, encoding="ascii") as fh:
            existing = fh.read().strip()
        if existing:
            return existing
    except OSError:
        pass
    app_id = uuid.uuid4().hex[:16]
    with open(marker, "w", encoding="ascii") as fh:
        fh.write(app_id)
    return app_id


def _ensure_commits_table(con: sqlite3.Connection) -> None:
    con.execute(
        f'CREATE TABLE IF NOT EXISTS "{COMMITS_TABLE}"'
        " (app_id TEXT NOT NULL DEFAULT '', sink_table TEXT NOT NULL,"
        " batch_id INTEGER NOT NULL,"
        " PRIMARY KEY (app_id, sink_table, batch_id))"
    )
    cols = {r[1] for r in con.execute(f'PRAGMA table_info("{COMMITS_TABLE}")')}
    if "app_id" not in cols:
        # pre-round-6 layout (sink_table, batch_id): migrate in place with
        # app_id='' so old commits stay visible to default-identity callers.
        # One explicit transaction: a crash mid-migration (e.g. after the
        # RENAME) must roll back to the old layout, or prior commit records
        # would be stranded in _v1 and replayed batches re-applied.
        con.commit()  # close any open autocommit-mode tx before BEGIN
        try:
            con.execute("BEGIN IMMEDIATE")
            con.execute(
                f'ALTER TABLE "{COMMITS_TABLE}" RENAME TO "{COMMITS_TABLE}_v1"'
            )
            con.execute(
                f'CREATE TABLE "{COMMITS_TABLE}"'
                " (app_id TEXT NOT NULL DEFAULT '', sink_table TEXT NOT NULL,"
                " batch_id INTEGER NOT NULL,"
                " PRIMARY KEY (app_id, sink_table, batch_id))"
            )
            con.execute(
                f'INSERT INTO "{COMMITS_TABLE}" (app_id, sink_table, batch_id)'
                f" SELECT '', sink_table, batch_id FROM \"{COMMITS_TABLE}_v1\""
            )
            con.execute(f'DROP TABLE "{COMMITS_TABLE}_v1"')
            con.execute("COMMIT")
        except BaseException:
            # if BEGIN IMMEDIATE itself failed (e.g. the file is
            # locked), there is no transaction to roll back — ROLLBACK
            # would raise and mask the informative original error
            try:
                con.execute("ROLLBACK")
            except sqlite3.OperationalError:
                pass
            raise


def _sqlite_type(dt: T.DataType) -> str:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.BooleanType)):
        return "INTEGER"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "REAL"
    return "TEXT"  # strings, decimals (exact text), dates, timestamps


def _write_once(
    rows_df: DataFrame,
    batch_id: int,
    *,
    db_path: str,
    table: str,
    app_id: str,
    ddl: str,
    sql: str,
    batch_size: int = 10_000,
) -> int:
    """The exactly-once block every writer shares: create the sink
    table, skip a batch already committed under ``(app_id, table,
    batch_id)``, else insert ``rows_df``'s rows with ``sql`` and
    record the commit. Returns the rows SQLite changed (0 on replay)."""
    key = (app_id, table, batch_id)
    con = sqlite3.connect(db_path)
    try:
        _ensure_commits_table(con)
        con.execute(ddl)
        seen = con.execute(
            f'SELECT 1 FROM "{COMMITS_TABLE}"'
            " WHERE app_id = ? AND sink_table = ? AND batch_id = ?",
            key,
        ).fetchone()
        if seen:
            return 0
        n = insert_rows(con, sql, df_to_rows(rows_df), batch_size)
        con.execute(
            f'INSERT INTO "{COMMITS_TABLE}" (app_id, sink_table, batch_id)'
            " VALUES (?, ?, ?)",
            key,
        )
        # ONE commit covers data + bookkeeping: replay after a crash
        # between insert and commit sees neither and redoes both
        con.commit()
        return n
    except Exception:
        con.rollback()
        raise
    finally:
        con.close()


def write_batch_idempotent(
    batch_df: DataFrame,
    batch_id: int,
    *,
    db_path: str,
    table: str,
    batch_size: int = 10_000,
    app_id: str = "",
) -> int:
    """Insert one micro-batch, exactly once. Returns rows written
    (0 when ``(app_id, batch_id)`` was already committed — the replay
    path). ``app_id`` identifies the logical stream; the wrappers pass
    the checkpoint-scoped identity from ``_checkpoint_app_id``."""
    fields = batch_df.schema.fields
    coldefs = ", ".join(f'"{f.name}" {_sqlite_type(f.dataType)}' for f in fields)
    return _write_once(
        batch_df,
        batch_id,
        db_path=db_path,
        table=table,
        app_id=app_id,
        ddl=f'CREATE TABLE IF NOT EXISTS "{table}" ({coldefs})',
        sql=insert_sql(table, [f.name for f in fields]),
        batch_size=batch_size,
    )


def merge_counts_idempotent(
    partial_df: DataFrame,
    batch_id: int,
    *,
    db_path: str,
    table: str,
    key_cols: tuple[str, ...],
    count_col: str = "n",
    app_id: str = "",
) -> int:
    """Merge one micro-batch's PARTIAL counts additively into a running
    aggregate table (``INSERT .. ON CONFLICT DO UPDATE SET n = n +
    excluded.n``), exactly once via the same (app_id, table, batch_id)
    bookkeeping as ``write_batch_idempotent``. This is incremental
    materialized-view maintenance with ZERO streaming state: the
    running totals live in the sink, each batch ships only its own
    group counts, and a crash replay is detected before it would
    double-add. Returns merged group-rows (0 on replay)."""
    keydefs = ", ".join(
        f'"{f.name}" {_sqlite_type(f.dataType)}'
        for f in partial_df.schema.fields
        if f.name in key_cols
    )
    pk = ", ".join(f'"{c}"' for c in key_cols)
    cols = [*key_cols, count_col]
    return _write_once(
        partial_df.select(*cols),
        batch_id,
        db_path=db_path,
        table=table,
        app_id=app_id,
        ddl=(
            f'CREATE TABLE IF NOT EXISTS "{table}"'
            f' ({keydefs}, "{count_col}" INTEGER NOT NULL, PRIMARY KEY ({pk}))'
        ),
        sql=insert_sql(table, cols)
        + f' ON CONFLICT ({pk}) DO UPDATE SET'
        f' "{count_col}" = "{count_col}" + excluded."{count_col}"',
    )


def merge_bits_idempotent(
    partial_df: DataFrame,
    batch_id: int,
    *,
    db_path: str,
    table: str,
    bit_col: str = "bit",
    app_id: str = "",
) -> int:
    """Merge one micro-batch's Bloom set-bit rows into the running
    filter table (``INSERT OR IGNORE`` — the OR of two Bloom filters in
    the set-bit-rows representation), exactly once via the same
    (app_id, table, batch_id) bookkeeping as the other sinks. Bit-set
    union is idempotent by nature, but the bookkeeping still matters:
    it makes replay DETECTION observable (monitoring) and keeps the
    contract uniform across sinks. Returns newly-set bits (0 on
    replay)."""
    return _write_once(
        partial_df.select(bit_col),
        batch_id,
        db_path=db_path,
        table=table,
        app_id=app_id,
        ddl=(
            f'CREATE TABLE IF NOT EXISTS "{table}"'
            f' ("{bit_col}" INTEGER NOT NULL PRIMARY KEY)'
        ),
        sql=f'INSERT OR IGNORE INTO "{table}" ("{bit_col}") VALUES (?)',
    )


def _start(stream_df: DataFrame, checkpoint_dir: str, available_now: bool, handle):
    """writeStream -> foreachBatch(``handle(batch_df, batch_id, app_id)``)
    with the checkpoint-scoped stream identity; ``available_now=True``
    drains everything currently in the source then stops."""
    app_id = _checkpoint_app_id(checkpoint_dir)
    writer = stream_df.writeStream.foreachBatch(
        lambda batch_df, batch_id: handle(batch_df, batch_id, app_id)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_bloom_bits(
    stream_df: DataFrame,
    *,
    item_col: str,
    db_path: str,
    table: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming Bloom-filter maintenance: per batch, compute the
    batch's set bits (operators/stats.py bloom_sketch — <= m_bits rows
    regardless of batch size) and OR them into the persistent filter.
    The streaming query is STATELESS like stream_running_counts: the
    filter lives in the transactional sink, executor state stays flat
    forever, and a continuously-ingesting corpus gets an always-current
    dedup probe (new batch membership tests run against the table
    before paying the LEFT ANTI join on the corpus store)."""
    from hhek2sqlite_spark.operators.stats import bloom_sketch

    def _handle(batch_df: DataFrame, batch_id: int, app_id: str) -> None:
        partial = bloom_sketch(batch_df, item_col=item_col)
        merge_bits_idempotent(
            partial, batch_id, db_path=db_path, table=table, app_id=app_id
        )

    return _start(stream_df, checkpoint_dir, available_now, _handle)


def stream_running_counts(
    stream_df: DataFrame,
    *,
    group_cols: tuple[str, ...],
    db_path: str,
    table: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming incremental view: per-batch groupBy counts merged
    additively into SQLite. The streaming query itself is STATELESS —
    no state store, no watermark bookkeeping — because the running
    totals are maintained by the transactional sink; at 100 TB/day this
    is the shape that keeps executor state flat forever."""
    from pyspark.sql import functions as F

    def _handle(batch_df: DataFrame, batch_id: int, app_id: str) -> None:
        partial = batch_df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n"))
        merge_counts_idempotent(
            partial,
            batch_id,
            db_path=db_path,
            table=table,
            key_cols=group_cols,
            app_id=app_id,
        )

    return _start(stream_df, checkpoint_dir, available_now, _handle)


def stream_to_sqlite(
    stream_df: DataFrame,
    *,
    db_path: str,
    table: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """writeStream -> idempotent SQLite sink. ``available_now=True``
    drains everything currently in the source then stops (the batch-mode
    run of a streaming pipeline); pass False for a continuous run."""

    def _handle(batch_df: DataFrame, batch_id: int, app_id: str) -> None:
        write_batch_idempotent(
            batch_df, batch_id, db_path=db_path, table=table, app_id=app_id
        )

    return _start(stream_df, checkpoint_dir, available_now, _handle)
