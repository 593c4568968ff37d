"""A micro-batch that fails after Spark logged its offsets (``walCommit``)
but before it wrote the batch's commit record is replayed on restart.
The SQLite sink must end up holding every source row once, whether the
failed attempt's insert committed or not."""

import os
import sqlite3

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException

from hhek2sqlite_spark.streaming import sink

FILES = 3
ROWS_PER_FILE = 20


class Crash(RuntimeError):
    pass


def _source(tmp_path) -> str:
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(FILES):
        ids = list(range(i * ROWS_PER_FILE, (i + 1) * ROWS_PER_FILE))
        table = pa.table({"id": pa.array(ids, pa.int64()), "txt": [f"rad {n} å€" for n in ids]})
        pq.write_table(table, os.path.join(src, f"part-{i}.parquet"))
    return src


def _drain(spark, src: str, db: str, ckpt: str) -> None:
    stream = spark.readStream.schema("id bigint, txt string").option("maxFilesPerTrigger", 1).parquet(src)
    sink.stream_to_sqlite(stream, db_path=db, table="t", checkpoint_dir=ckpt).awaitTermination(120)


@pytest.mark.parametrize("crash_after_write", [True, False], ids=["after-write", "before-write"])
def test_restart_after_wal_commit_stores_every_row_once(spark, tmp_path, monkeypatch, crash_after_write):
    src, db, ckpt = _source(tmp_path), str(tmp_path / "sink.db"), str(tmp_path / "ckpt")
    real = sink.write_batch_idempotent
    written = {}  # batch id -> rows the real writer reported, latest attempt
    crashed = []

    def write(batch_df, batch_id, **kw):
        if batch_id == 1 and not crashed:
            crashed.append(batch_id)
            if crash_after_write:
                written[batch_id] = real(batch_df, batch_id, **kw)
            raise Crash("batch 1 fails")
        written[batch_id] = real(batch_df, batch_id, **kw)
        return written[batch_id]

    monkeypatch.setattr(sink, "write_batch_idempotent", write)
    with pytest.raises(StreamingQueryException, match="batch 1 fails"):
        _drain(spark, src, db, ckpt)
    assert os.path.exists(os.path.join(ckpt, "offsets", "1"))
    assert not os.path.exists(os.path.join(ckpt, "commits", "1"))
    assert written == ({0: ROWS_PER_FILE, 1: ROWS_PER_FILE} if crash_after_write else {0: ROWS_PER_FILE})

    _drain(spark, src, db, ckpt)  # restart on the same checkpoint
    # the replayed batch 1 finds its commit record (0 rows) or writes the batch
    assert written == {0: ROWS_PER_FILE, 1: 0 if crash_after_write else ROWS_PER_FILE, 2: ROWS_PER_FILE}
    con = sqlite3.connect(db)
    try:
        ids = [r[0] for r in con.execute('SELECT id FROM "t" ORDER BY id')]
        commits = con.execute(
            f'SELECT batch_id, COUNT(*) FROM "{sink.COMMITS_TABLE}" GROUP BY batch_id ORDER BY batch_id'
        ).fetchall()
    finally:
        con.close()
    assert ids == list(range(FILES * ROWS_PER_FILE))
    assert commits == [(0, 1), (1, 1), (2, 1)]
