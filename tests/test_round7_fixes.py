"""Round-7 advice fixes: crash-atomic commits-table migration,
zero-norm guard in the LSH verify kernel, raw-decode trailer bound."""

from __future__ import annotations

import sqlite3
from decimal import Decimal

import pytest

from hhek2sqlite_spark.streaming.sink import COMMITS_TABLE, _ensure_commits_table


def _old_layout_db(path: str) -> None:
    con = sqlite3.connect(path)
    con.execute(
        f'CREATE TABLE "{COMMITS_TABLE}"'
        " (sink_table TEXT NOT NULL, batch_id INTEGER NOT NULL,"
        " PRIMARY KEY (sink_table, batch_id))"
    )
    con.execute(f'INSERT INTO "{COMMITS_TABLE}" VALUES (?, ?)', ("t", 7))
    con.commit()
    con.close()


def test_commits_migration_upgrades_old_layout(tmp_path):
    db = str(tmp_path / "m.db")
    _old_layout_db(db)
    con = sqlite3.connect(db)
    _ensure_commits_table(con)
    rows = con.execute(
        f'SELECT app_id, sink_table, batch_id FROM "{COMMITS_TABLE}"'
    ).fetchall()
    con.close()
    assert rows == [("", "t", 7)]  # old commit visible under default identity


def test_commits_migration_crash_rolls_back(tmp_path):
    """A crash mid-migration (e.g. between RENAME and the backfill) must
    leave the OLD layout fully intact — otherwise prior commit records
    are stranded in _v1 and replayed batches re-apply as duplicates."""
    db = str(tmp_path / "c.db")
    _old_layout_db(db)
    con = sqlite3.connect(db)

    class Boom(RuntimeError):
        pass

    real_execute = con.execute

    class FaultyCon:
        def __getattr__(self, name):
            return getattr(con, name)

        def execute(self, sql, *a):
            if sql.startswith("DROP TABLE"):
                raise Boom("crash before DROP")
            return real_execute(sql, *a)

    with pytest.raises(Boom):
        _ensure_commits_table(FaultyCon())
    # rollback restored the pre-migration layout: old table, old rows,
    # no stranded _v1
    names = {
        r[0]
        for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type='table'"
        ).fetchall()
    }
    assert names == {COMMITS_TABLE}
    cols = [r[1] for r in con.execute(f'PRAGMA table_info("{COMMITS_TABLE}")')]
    assert cols == ["sink_table", "batch_id"]
    assert con.execute(f'SELECT * FROM "{COMMITS_TABLE}"').fetchall() == [("t", 7)]
    # a clean retry then completes the migration with the rows preserved
    _ensure_commits_table(con)
    assert con.execute(
        f'SELECT app_id, sink_table, batch_id FROM "{COMMITS_TABLE}"'
    ).fetchall() == [("", "t", 7)]
    con.close()


def test_lsh_zero_norm_vectors_never_pair(spark):
    """All-zero embeddings share identical sign bits, so they collide in
    every band and reach the verify with denom 0; the kernel must emit a
    below-threshold sentinel, not floor(nan) (platform-arbitrary int)."""
    from hhek2sqlite_spark.operators.similarity import lsh_bucket_pairs

    rows = [
        (1, [0.0] * 8),
        (2, [0.0] * 8),
        (3, [1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0]),
        (4, [1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = lsh_bucket_pairs(df, dim=8, min_sim_e6=400_000).collect()
    pairs = {(r.id_a, r.id_b) for r in got}
    assert (1, 2) not in pairs  # zero-norm pair suppressed, not nan-cast
    assert (3, 4) in pairs
    assert all(r.sim_e6 >= 400_000 for r in got)


def test_avi_rec_wrapped_frames_keep_stream_order():
    """Frames wrapped in 'rec ' LISTs (standard VfW interleaving) must
    come back in stream order from both the demuxer and the decoder —
    a LIFO-stack walker reversed sibling lists (review finding)."""
    import struct as _s

    from hhek2sqlite_spark.operators import multimodal as mm

    frames = mm._synth_video_frames(5)  # 3 frames, distinct contents
    plain = mm.avi_encode(frames)
    # rewrap each movi '00db' chunk in its own LIST('rec ') — re-derive
    # the movi payload from the plain file rather than re-encoding
    chunks = mm._avi_frame_chunks(plain)

    def chunk(tag, payload):
        return tag + _s.pack("<I", len(payload)) + payload + (
            b"\x00" if len(payload) & 1 else b""
        )

    recs = b"".join(
        chunk(b"LIST", b"rec " + chunk(b"00db", fb)) for fb in chunks
    )
    movi = chunk(b"LIST", b"movi" + recs)
    # splice: header up to the original movi LIST + new movi
    # (locate original movi by scanning top-level chunks)
    pos, hdr_end, movi_end = 12, None, None
    data = plain
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (ln,) = _s.unpack_from("<I", data, pos + 4)
        if tag == b"LIST" and data[pos + 8 : pos + 12] == b"movi":
            hdr_end, movi_end = pos, pos + 8 + ln + (ln & 1)
            break
        pos += 8 + ln + (ln & 1)
    body = data[12:hdr_end] + movi + data[movi_end:]
    wrapped = b"RIFF" + _s.pack("<I", 4 + len(body)) + b"AVI " + body
    assert mm._avi_frame_chunks(wrapped) == chunks  # order preserved
    w, h, back = mm.avi_decode(wrapped)
    assert back == frames


def test_sample_frames_avi_skips_foreign_payloads(spark):
    """A NULL or non-AVI payload must be skipped, not crash the job."""
    from hhek2sqlite_spark.operators import multimodal as mm

    docs = spark.range(0, 3).withColumnRenamed("id", "doc_id")
    videos = mm.synthesize_videos(docs)
    mixed = videos.union(
        spark.createDataFrame(
            [(100, None), (101, b"not a riff")],
            videos.schema,
        )
    )
    got = mm.sample_frames(mixed, every_nth=2, decoder="avi").collect()
    assert {r.doc_id for r in got} == {0, 1, 2}  # foreign rows skipped


def test_jet2_currency_float_input_rounds_exactly():
    """Float money inputs must convert via their decimal literal —
    int(1.15*10000) == 11499 would corrupt by 0.0001 (review
    finding)."""
    from hhek2sqlite_spark.sources.jet2 import HHEK_SCHEMAS, _decode_row, _encode_row

    schema = HHEK_SCHEMAS["Konton"]
    row = {
        "Saldo": 1.15,  # float, binary value 1.14999999...
        "StartSaldo": Decimal("2.50"),
        "Löpnr": 1,
        "SaldoArsskifte": None,
        "KontoNummer": "", "Benämning": "", "StartManad": "", "ArsskifteManad": "",
    }
    got = _decode_row(_encode_row(schema, row), schema)
    assert got["Saldo"] == Decimal("1.1500")
    assert got["StartSaldo"] == Decimal("2.5000")


def test_bloom_sketch_membership_and_merge(spark):
    """Every inserted item's k bits are set (no false negatives), the
    filter is DISTINCT-union mergeable, and the bit count is bounded by
    k * n_items."""
    from hhek2sqlite_spark.operators.stats import BLOOM_K, bloom_sketch

    a = spark.createDataFrame([(f"item-{i}",) for i in range(50)], "v string")
    b = spark.createDataFrame([(f"item-{i}",) for i in range(40, 90)], "v string")
    bits_a = {r.bit for r in bloom_sketch(a, item_col="v").collect()}
    bits_b = {r.bit for r in bloom_sketch(b, item_col="v").collect()}
    both = spark.createDataFrame(
        [(f"item-{i}",) for i in range(90)], "v string"
    )
    bits_union = {r.bit for r in bloom_sketch(both, item_col="v").collect()}
    assert bits_a | bits_b == bits_union  # OR == distinct union
    assert len(bits_a) <= 50 * BLOOM_K
    # no false negatives: each single item's bits are all present
    one = spark.createDataFrame([("item-7",)], "v string")
    assert {r.bit for r in bloom_sketch(one, item_col="v").collect()} <= bits_a


def test_epoch_shuffle_is_deterministic_permutation(spark):
    from hhek2sqlite_spark.operators.pipeline import epoch_shuffle

    docs = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    e3a = epoch_shuffle(docs, epoch=3, n_shards=8).collect()
    e3b = epoch_shuffle(docs, epoch=3, n_shards=8).collect()
    assert sorted(map(tuple, e3a)) == sorted(map(tuple, e3b))  # reproducible
    # a permutation: every doc exactly once, positions contiguous per shard
    assert sorted(r.doc_id for r in e3a) == list(range(500))
    by_shard = {}
    for r in e3a:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    # hash sharding balances (no shard empty or dominant at n=500, k=8)
    sizes = [len(v) for v in by_shard.values()]
    assert len(by_shard) == 8 and max(sizes) < 3 * min(sizes)
    # a different epoch is a different order
    e4 = epoch_shuffle(docs, epoch=4, n_shards=8).collect()
    assert sorted(map(tuple, e4)) != sorted(map(tuple, e3a))


def test_video_stats_numpy_kernel_matches_reference_decoder(spark):
    """The vectorized per-frame stats must equal stats computed from
    the tuple-based reference decoder for every sampled frame."""
    from hhek2sqlite_spark.operators import multimodal as mm

    docs = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    got = {
        (r.doc_id, r.frame_idx): r
        for r in mm.video_frame_stats(
            mm.synthesize_videos(docs), every_nth=2
        ).collect()
    }
    for d in range(30):
        frames = mm._synth_video_frames(d)
        w, h, fr = mm.avi_decode(mm.avi_encode(frames))
        for f in range(0, len(fr), 2):
            rows = fr[f]
            r = got[(d, f)]
            assert r.px_sum == sum(v for row in rows for px in row for v in px)
            assert r.px_moment == sum(
                (y * w + x) * rows[y][x][0] for y in range(h) for x in range(w)
            )
            assert (r.width, r.height, r.n_frames) == (w, h, len(fr))


def test_riff_walk_survives_corrupt_and_deep_payloads():
    """Truncated chunk lengths must not raise struct.error and ~1000
    nested LISTs must not blow the recursion limit (review findings) —
    corrupt blobs with valid magic are routine in a real crawl.
    Round 8: _avi_frame_chunks now validates headers like avi_decode,
    so headerless blobs raise the documented ValueError (which
    sample_frames catches and skips) — still never struct.error or
    RecursionError."""
    import struct as _s

    import pytest

    from hhek2sqlite_spark.operators import multimodal as mm

    # declared LIST length runs 1000 bytes past the buffer
    truncated = (
        b"RIFF" + _s.pack("<I", 100) + b"AVI "
        + b"LIST" + _s.pack("<I", 1000) + b"movi"
    )
    with pytest.raises(ValueError):  # no struct.error, no frames
        mm._avi_frame_chunks(truncated)
    # 2000-deep nested LISTs
    inner = b"junkdata"
    for _ in range(2000):
        inner = b"LIST" + _s.pack("<I", 4 + len(inner)) + b"rec " + inner
    blob = b"RIFF" + _s.pack("<I", 4 + len(inner)) + b"AVI " + inner
    with pytest.raises(ValueError):  # no RecursionError
        mm._avi_frame_chunks(blob)


def test_sample_frames_avi_skips_truncated_payloads(spark):
    import struct as _s

    from hhek2sqlite_spark.operators import multimodal as mm

    docs = spark.range(0, 2).withColumnRenamed("id", "doc_id")
    videos = mm.synthesize_videos(docs)
    bad = (
        b"RIFF" + _s.pack("<I", 100) + b"AVI "
        + b"LIST" + _s.pack("<I", 1000) + b"movi"
    )
    mixed = videos.union(
        spark.createDataFrame([(200, bad)], videos.schema)
    )
    got = mm.sample_frames(mixed, every_nth=2, decoder="avi").collect()
    assert {r.doc_id for r in got} == {0, 1}


def test_bloom_sketch_drops_null_items(spark):
    from hhek2sqlite_spark.operators.stats import bloom_sketch

    items = spark.createDataFrame(
        [("a",), (None,), ("b",)], "v string"
    )
    bits = bloom_sketch(items, item_col="v").collect()
    assert all(r.bit is not None for r in bits)
    only = spark.createDataFrame([("a",), ("b",)], "v string")
    assert {r.bit for r in bits} == {
        r.bit for r in bloom_sketch(only, item_col="v").collect()
    }


def test_stream_bloom_bits_tolerates_null_items(spark, tmp_path):
    """A NULL in the item stream must not poison the batch."""
    from hhek2sqlite_spark.streaming.sink import stream_bloom_bits

    src = str(tmp_path / "src")
    db = str(tmp_path / "b.db")
    spark.createDataFrame(
        [("x",), (None,), ("y",)], "v string"
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = stream_bloom_bits(
        stream, item_col="v", db_path=db, table="bloom",
        checkpoint_dir=str(tmp_path / "ck"),
    )
    q.awaitTermination(120)
    con = sqlite3.connect(db)
    n = con.execute('SELECT COUNT(*) FROM "bloom"').fetchone()[0]
    con.close()
    assert n > 0  # drained without crashing


def test_stream_bloom_bits_matches_batch_and_replays_safely(spark, tmp_path):
    """Streaming Bloom maintenance: draining a source must produce the
    SAME bit set as the batch sketch over all input, and a replayed
    batch id must be detected (0 newly-set bits reported)."""
    from hhek2sqlite_spark.operators.stats import bloom_sketch
    from hhek2sqlite_spark.streaming.sink import (
        _checkpoint_app_id,
        merge_bits_idempotent,
        stream_bloom_bits,
    )

    src = str(tmp_path / "src")
    db = str(tmp_path / "bloom.db")
    ckpt = str(tmp_path / "ckpt")
    batch = spark.range(0, 200).selectExpr("CAST(id AS STRING) AS v")
    batch.write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = stream_bloom_bits(
        stream, item_col="v", db_path=db, table="bloom", checkpoint_dir=ckpt
    )
    q.awaitTermination(120)
    con = sqlite3.connect(db)
    got = {r[0] for r in con.execute('SELECT bit FROM "bloom"')}
    con.close()
    expect = {r.bit for r in bloom_sketch(batch, item_col="v").collect()}
    assert got == expect
    # replay the committed batch id under the same stream identity
    app_id = _checkpoint_app_id(ckpt)
    con = sqlite3.connect(db)
    committed = con.execute(
        'SELECT batch_id FROM "_stream_commits" WHERE sink_table = ?',
        ("bloom",),
    ).fetchall()
    con.close()
    assert committed
    partial = bloom_sketch(batch, item_col="v")
    assert (
        merge_bits_idempotent(
            partial, committed[0][0], db_path=db, table="bloom", app_id=app_id
        )
        == 0
    )


def test_group_sample_k_caps_and_reproduces(spark):
    from hhek2sqlite_spark.operators.pipeline import group_sample_k

    docs = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(100)] + [(100, "tiny")],
        "doc_id long, lang string",
    )
    a = group_sample_k(docs, group_col="lang", k=5).collect()
    b = group_sample_k(docs, group_col="lang", k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
    by_grp = {}
    for r in a:
        by_grp.setdefault(r.grp, []).append(r)
    assert sorted(r.rank for r in by_grp["g0"]) == list(range(5))  # capped at k
    assert len(by_grp["tiny"]) == 1  # group smaller than k keeps all
    # a different salt redraws the sample
    c = group_sample_k(docs, group_col="lang", k=5, salt="other").collect()
    assert {r.doc_id for r in c} != {r.doc_id for r in a}


def test_pack_doc_chunks_equals_composed_operators(spark):
    """The fused doc-level pack must be row-identical to
    pack_chunks(doc_chunks(...)) across short docs (single chunk),
    exact-multiple lengths, and long docs."""
    from hhek2sqlite_spark.operators import pipeline

    rows = [
        (i, "x" * n)
        for i, n in enumerate([5, 199, 200, 201, 360, 520, 1000, 1, 200 * 3 - 40 * 2])
    ]
    docs = spark.createDataFrame(rows, "doc_id long, _norm string")
    composed = pipeline.pack_chunks(
        pipeline.doc_chunks(docs, size=200, overlap=40, norm_col="_norm"),
        budget=2000,
        n_shards=4,
    )
    fused = pipeline.pack_doc_chunks(
        docs, size=200, overlap=40, budget=2000, n_shards=4, norm_col="_norm"
    )
    key = ["shard", "doc_id", "chunk_idx"]
    assert sorted(map(tuple, composed.collect())) == sorted(
        map(tuple, fused.collect())
    )
    assert composed.columns == fused.columns


def test_sample_frames_avi_demuxes_real_container(spark):
    """The frame-sampling fan-out over REAL uncompressed-AVI bytes: the
    fake fixed-width splitter is retired for container payloads."""
    from hhek2sqlite_spark.operators import multimodal as mm

    docs = spark.range(0, 6).withColumnRenamed("id", "doc_id")
    videos = mm.synthesize_videos(docs)
    got = mm.sample_frames(videos, every_nth=2, decoder="avi").collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rows in by_doc.items():
        n = 2 + doc_id % 3
        assert sorted(r.frame_idx for r in rows) == list(range(0, n, 2))
        w, h = 4 + doc_id % 3, 2 + doc_id % 2
        stride = (w * 3 + 3) & ~3
        assert all(len(r.frame) == stride * h for r in rows)
    # and the decoded-stats operator agrees with the analytic formula
    stats = mm.video_frame_stats(videos, every_nth=2).collect()
    for r in stats:
        w, h = 4 + r.doc_id % 3, 2 + r.doc_id % 2
        expect = sum(
            (y * w + x)
            * ((r.doc_id * 31 + r.frame_idx * 19 + x * 7 + y * 13) % 256)
            for y in range(h)
            for x in range(w)
        )
        assert r.px_moment == expect


def test_raw_decode_no_var_cols_excludes_trailer():
    """Schema-less decode of a row with n_var == 0 must bound the fixed
    slice at the trailer start, not the buffer end."""
    import struct

    from hhek2sqlite_spark.sources.jet2 import TableSchema, _decode_row, _encode_row

    schema = TableSchema([("A", "long"), ("B", "long")], [])
    buf = _encode_row(schema, {"A": 17, "B": 42})
    raw = _decode_row(buf, None)
    assert raw["_var"] == []
    assert raw["_fixed"] == struct.pack("<ii", 17, 42)  # no trailer bytes
