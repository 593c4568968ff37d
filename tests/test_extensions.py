"""Extension-operator behavior tests (the oracle parity for the paired
ones lives in test_oracle_parity; these cover semantics and the
rows-only operators)."""

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from hhek2sqlite_spark.operators import dedup, multimodal, similarity
from hhek2sqlite_spark.operators.text import document_profile, lang_id
from hhek2sqlite_spark.sources.parquet import load_table
from hhek2sqlite_spark.streaming import events as ev


@pytest.fixture(scope="module")
def documents(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_exact_dedup_removes_copies(spark):
    df = _docs(spark, [
        (1, "hello world", "en", "s", 11),
        (2, "Hello   WORLD", "en", "s", 13),   # same after normalization
        (3, "something else", "en", "s", 14),
    ])
    kept = dedup.exact_dedup(df)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3]
    keepers = {r.keeper_id: r.n_copies for r in dedup.exact_dedup_keepers(df).collect()}
    assert keepers == {1: 2, 3: 1}


def test_ngram_jaccard_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = _docs(spark, [
        (1, base, "en", "s", len(base)),
        (2, base + " tail", "en", "s", len(base) + 5),  # near-dup
        (3, "completely different text with other content here", "en", "s", 49),
    ])
    pairs = dedup.ngram_jaccard_pairs(df, max_df=10, threshold_num=1, threshold_den=2)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in found
    assert all(p == (1, 2) for p in found)


def test_minhash_detects_near_dup_and_signature_shape(spark):
    base = " ".join(f"word{i}" for i in range(80))
    df = _docs(spark, [
        (1, base, "en", "s", len(base)),
        (2, base + " extra", "en", "s", len(base) + 6),
        (3, " ".join(f"other{i}" for i in range(80)), "en", "s", 100),
    ])
    sig = dedup.minhash_signatures(df)
    assert sig.count() == 3
    assert len(sig.collect()[0].signature) == 64
    pairs = {(r.id_a, r.id_b): r.est_matches for r in dedup.minhash_lsh_pairs(df).collect()}
    assert (1, 2) in pairs
    assert pairs[(1, 2)] >= 48  # ~90% true jaccard -> most components equal
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_near_dup(spark):
    base = " ".join(f"token{i}" for i in range(100))
    df = _docs(spark, [
        (1, base, "en", "s", len(base)),
        (2, base.replace("token5 ", "token5x "), "en", "s", len(base) + 1),
        (3, " ".join(f"zzz{i}" for i in range(100)), "en", "s", 100),
    ])
    pairs = {(r.id_a, r.id_b): r.hamming for r in dedup.simhash_pairs(df, max_hamming=6).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_lang_id_on_real_phrases(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is in the house"),
            (2, "el gato que vive en la casa es los"),
            (3, "och det som att en katt är här"),
            (4, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.lp for r in df.select("doc_id", lang_id("text").alias("lp")).collect()}
    assert out == {1: "en", 2: "es", 3: "sv", 4: "und"}


def test_similarity_topk_shape_and_selfexclusion(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    topk = similarity.brute_force_topk(emb, n_queries=3, k=4).collect()
    assert len(topk) == 12
    for r in topk:
        assert r.vec_id != r.q_id
        assert 1 <= r.rank <= 4
        assert -1_000_000 <= r.sim_e6 <= 1_000_000


def test_similarity_lsh_agrees_with_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    lsh = similarity.lsh_bucket_pairs(emb, min_sim_e6=500_000)
    # every LSH-returned pair must truly have sim >= threshold (verify step
    # guarantees it: candidates are filtered by exact cosine)
    assert lsh.filter(F.col("sim_e6") < 500_000).count() == 0


def test_similarity_ivf_recall_and_exactness_at_full_probe(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    bf = {
        (r.q_id, r.vec_id)
        for r in similarity.brute_force_topk(emb, n_queries=10, k=5).collect()
    }
    cents = similarity.train_ivf_centroids(emb, n_cells=16)
    part = {
        (r.q_id, r.vec_id)
        for r in similarity.ivf_topk(
            emb, n_queries=10, k=5, n_cells=16, n_probe=4, centroids=cents
        ).collect()
    }
    # random gaussian data is IVF's worst case; measured 0.64 on this
    # fixture — assert a floor with slack for future fixture changes
    assert len(bf & part) / len(bf) >= 0.5
    full = {
        (r.q_id, r.vec_id)
        for r in similarity.ivf_topk(
            emb, n_queries=10, k=5, n_cells=16, n_probe=16, centroids=cents
        ).collect()
    }
    assert full == bf  # probing every cell IS exact search


def test_similarity_lsh_recall_on_planted_neardup(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    # plant a near-identical copy of vec 0 (cosine ~ 1): for a pair this
    # close, collision probability per 4-bit band is ~1, so the banded
    # OR-construction must surface it
    clone = emb.filter(F.col("vec_id") == 0).select(
        F.lit(1_000_000).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.001)).alias("embedding"),
    )
    planted = emb.select("vec_id", "embedding").unionByName(clone)
    pairs = similarity.lsh_bucket_pairs(planted, min_sim_e6=990_000)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1_000_000) in found


def test_rolling_fingerprint_matches_per_char_definition(spark):
    """The let-bound fold must equal the defining per-character Horner
    recurrence h=(h*31+cp) mod ROLLING_MOD for every length class
    (empty, <8, ==8, mod-8 boundaries) and non-ASCII codepoints —
    guards the let_once binding against any evaluation-order drift."""
    import re

    from hhek2sqlite_spark.operators.text import ROLLING_MOD, rolling_fingerprint

    def pyref(s: str) -> int:
        s = re.sub(r"\s+", " ", s.lower()).strip()
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) % ROLLING_MOD
        return h

    cases = ["", "a", "abcdefg", "abcdefgh", "abcdefghi", "x" * 16, "y" * 17,
             "Hello  World  Test", "å ä ö € räksmörgås \U0001d4d0",
             "the quick brown fox jumps over the lazy dog 0123456789!" * 5]
    df = spark.createDataFrame(list(enumerate(cases)), "id long, text string")
    got = {r.id: r.fp for r in df.select("id", rolling_fingerprint("text").alias("fp")).collect()}
    for i, c in enumerate(cases):
        assert got[i] == pyref(c), f"case {i} (len {len(c)})"


def test_prenorm_sim_matches_inline_sim(spark):
    """_sim_e6_prenorm over precomputed norms must be bit-identical to
    the inline sim_e6 (norms hoisted, same arithmetic)."""
    rows = [
        (1, [0.1 * k for k in range(64)], [0.2 - 0.003 * k for k in range(64)]),
        (2, [1.0] * 64, [-1.0] * 64),
    ]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    out = df.select(
        similarity.sim_e6(F.col("a"), F.col("b")).alias("inline"),
        similarity._sim_e6_prenorm(
            similarity.dot(F.col("a"), F.col("b")),
            F.sqrt(similarity.dot(F.col("a"), F.col("a"))),
            F.sqrt(similarity.dot(F.col("b"), F.col("b"))),
        ).alias("prenorm"),
    ).collect()
    for r in out:
        assert r.inline == r.prenorm


def test_asof_join_semantics(spark):
    from datetime import datetime

    from hhek2sqlite_spark.operators.asof import as_of_join

    left = spark.createDataFrame(
        [
            (1, 10, datetime(2024, 1, 1, 12, 0)),   # after both rights
            (2, 10, datetime(2024, 1, 1, 9, 0)),    # exactly at right ts (inclusive)
            (3, 10, datetime(2024, 1, 1, 8, 0)),    # before any right -> null
            (4, 99, datetime(2024, 1, 1, 12, 0)),   # key with no right rows
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, datetime(2024, 1, 1, 9, 0), 1.0),
            (10, datetime(2024, 1, 1, 11, 0), 2.0),
        ],
        "user_id long, ts timestamp, val double",
    )
    out = {
        r.event_id: (r.val, r.matched_ts)
        for r in as_of_join(
            left, right, on=["user_id"], value_cols=["val"]
        ).collect()
    }
    assert out[1] == (2.0, datetime(2024, 1, 1, 11, 0))  # latest prior
    assert out[2] == (1.0, datetime(2024, 1, 1, 9, 0))   # tie is inclusive
    assert out[3] == (None, None)
    assert out[4] == (None, None)


def test_asof_join_matched_row_null_payload(spark):
    """The matched right row's NULL payload must surface as NULL — not
    fall back to an older right row's non-NULL value (ASOF returns the
    matched ROW, column-atomically; DuckDB/pandas merge_asof agree)."""
    from datetime import datetime

    from hhek2sqlite_spark.operators.asof import as_of_join

    left = spark.createDataFrame(
        [(1, 10, datetime(2024, 1, 1, 12, 0))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, datetime(2024, 1, 1, 9, 0), 1.0, "a"),
            (10, datetime(2024, 1, 1, 11, 0), None, "b"),  # matched, val NULL
        ],
        "user_id long, ts timestamp, val double, tag string",
    )
    row = as_of_join(
        left, right, on=["user_id"], value_cols=["val", "tag"]
    ).collect()[0]
    assert row.matched_ts == datetime(2024, 1, 1, 11, 0)
    assert row.tag == "b"
    assert row.val is None  # NOT 1.0 from the older row


def test_sessionize_gap_semantics(spark):
    from datetime import datetime

    from hhek2sqlite_spark.operators.sessionize import sessionize

    events = spark.createDataFrame(
        [
            (1, 7, datetime(2024, 1, 1, 10, 0), 1.0),
            (2, 7, datetime(2024, 1, 1, 10, 29), 2.0),  # same session (<30min)
            (3, 7, datetime(2024, 1, 1, 11, 30), 4.0),  # new session (61min gap)
            (4, 8, datetime(2024, 1, 1, 10, 0), 8.0),   # other user
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    rows = {
        (r.user_id, r.session_seq): (r.n_events, r.total_value)
        for r in sessionize(events, gap_minutes=30).collect()
    }
    assert rows[(7, 1)] == (2, Decimal("3.0000"))
    assert rows[(7, 2)] == (1, Decimal("4.0000"))
    assert rows[(8, 1)] == (1, Decimal("8.0000"))


def test_multimodal_stub_raises_and_fake_runs(spark, documents):
    mm = multimodal.with_binary_payload(documents.limit(50))
    with pytest.raises(Exception) as exc:
        multimodal.decode_features(mm, decoder="stub").collect()
    assert "NotImplementedError" in str(exc.value) or "media decode" in str(exc.value)

    feats = multimodal.decode_features(mm, decoder="fake")
    rows = feats.collect()
    assert len(rows) == 50
    assert all(len(r.features) == 8 for r in rows)
    assert all(r.n_bytes == r.features[0] for r in rows)


def test_multimodal_resize_and_frames(spark, documents):
    mm = multimodal.with_binary_payload(documents.limit(20))

    px = multimodal.resize_images(mm, width=4, height=3, decoder="fake").collect()
    assert len(px) == 20
    assert all(len(bytes(r.pixels)) == 12 for r in px)
    assert all((r.width, r.height) == (4, 3) for r in px)

    frames = multimodal.sample_frames(
        mm, frame_bytes=32, every_nth=2, decoder="fake"
    ).collect()
    assert frames, "fixture docs are long enough to produce frames"
    assert all(len(bytes(r.frame)) == 32 for r in frames)
    assert all(r.frame_idx % 2 == 0 for r in frames)

    with pytest.raises(Exception):
        multimodal.resize_images(mm, decoder="stub").collect()
    with pytest.raises(Exception):
        multimodal.sample_frames(mm, decoder="stub").collect()


def test_streaming_sessions_match_batch(spark, sf_dir):
    from pyspark.sql.window import Window

    from hhek2sqlite_spark.operators.sessionize import sessionize
    from hhek2sqlite_spark.streaming.sessions import streaming_sessions

    q = (
        streaming_sessions(spark, sf_dir)
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r.session_start_us): (r.session_end_us, r.n_events, r.total_value)
        for r in spark.table("sess_out").collect()
    }
    # the stream closes a session when a successor event opens the next
    # one OR when the final watermark (max ts, 0s delay) passes its
    # end + gap timeout; each user's truly-still-open tail session is
    # never emitted by an availableNow drain
    events = load_table(spark, sf_dir, "events")
    batch = sessionize(events)
    gap_ms = 30 * 60 * 1000
    wm_ms = events.agg(F.max(F.unix_micros("ts"))).collect()[0][0] // 1000
    w = Window.partitionBy("user_id")
    closed = batch.withColumn("mx", F.max("session_seq").over(w)).filter(
        (F.col("session_seq") < F.col("mx"))
        | (F.col("session_end_us") / 1000 + gap_ms < wm_ms)
    )
    exp = {
        (r.user_id, r.session_start_us): (r.session_end_us, r.n_events, float(r.total_value))
        for r in closed.collect()
    }
    assert set(got) == set(exp)
    for k, (e_end, e_n, e_val) in exp.items():
        g_end, g_n, g_val = got[k]
        assert (g_end, g_n) == (e_end, e_n), k
        assert abs(g_val - e_val) < 1e-5, k


def test_streaming_tumbling_matches_batch(spark, sf_dir, tmp_path):
    batch = ev.tumbling(load_table(spark, sf_dir, "events"))
    stream = ev.streaming_tumbling(spark, sf_dir, watermark="0 seconds")
    q = (
        stream.writeStream.format("memory")
        .queryName("t_stream_tumbling")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM t_stream_tumbling")
    from hhek2sqlite_spark.plans import hhek

    assert hhek.tables_equivalent(batch, got).count() == 0


def test_approx_distinct_within_error_bound(spark, sf_dir):
    """Both sketches must land within 10% of the exact count-distinct per
    group: the deterministic KMV (the oracle-paired driver query) and
    Spark's native HLL (approx_count_distinct, the mergeable single-pass
    production path, whose sketch the driver can't hash-check)."""
    from pyspark.sql import functions as F

    from hhek2sqlite_spark.plans.reference import (
        q_approx_distinct_customers,
        q_distinct_customers,
    )
    from hhek2sqlite_spark.sources.parquet import load_table

    exact = {
        r.o_orderpriority: r.n_customers
        for r in q_distinct_customers(spark, sf_dir).collect()
    }
    kmv = {
        r.o_orderpriority: r.approx_customers
        for r in q_approx_distinct_customers(spark, sf_dir).collect()
    }
    hll = {
        r.o_orderpriority: r.approx_customers
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"))
        .collect()
    }
    assert set(exact) == set(kmv) == set(hll)
    for k, n in exact.items():
        assert abs(kmv[k] - n) <= max(2, 0.1 * n), ("kmv", k, n, kmv[k])
        assert abs(hll[k] - n) <= max(2, 0.1 * n), ("hll", k, n, hll[k])


def test_streaming_dedup_drops_redeliveries(spark, sf_dir, tmp_path):
    """At-least-once delivery simulated by writing every event twice;
    the watermark-bounded dedup must emit each event_id exactly once."""
    from hhek2sqlite_spark.streaming.dedup import streaming_dedup

    events = load_table(spark, sf_dir, "events").limit(500).cache()
    src = tmp_path / "dup_events"
    events.unionAll(events).write.parquet(str(src))

    q = (
        streaming_dedup(spark, str(src), watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("t_stream_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id FROM t_stream_dedup")
    assert got.count() == 500
    assert got.distinct().count() == 500


class _FakeGroupState:
    """Minimal GroupState stand-in for unit-testing _session_func off-stream."""

    def __init__(self):
        self.exists = False
        self.hasTimedOut = False
        self._v = None
        self.timeout_ms = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self.exists = True
        self._v = v

    def remove(self):
        self.exists = False
        self._v = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def test_streaming_session_func_us_and_ns_dtypes_agree():
    """The pandas branch at streaming/sessions.py:87 must convert BOTH
    datetime64[ns] and datetime64[us] inputs to the same epoch-micros —
    Arrow hands either depending on version, and the refreshed fixture is
    now [us] on disk."""
    import pandas as pd

    from hhek2sqlite_spark.streaming.sessions import _session_func

    gap_us = 30 * 60 * 1_000_000
    base_us = 1_700_000_000_000_000
    # two sessions: events at +0s, +60s, then a gap > 30min, then +1h
    offsets_us = [0, 60_000_000, 3_700_000_000]
    ts_us = [base_us + o for o in offsets_us]

    def run(dtype):
        pdf = pd.DataFrame(
            {
                "user_id": [7] * 3,
                "event_id": [1, 2, 3],
                "ts": pd.Series(pd.to_datetime(ts_us, unit="us", utc=False)).astype(dtype),
                "value": [1.0, 2.0, 4.0],
            }
        )
        state = _FakeGroupState()
        out = list(_session_func(gap_us)((7,), iter([pdf]), state))
        return pd.concat(out, ignore_index=True), state

    for dtype in ("datetime64[ns]", "datetime64[us]"):
        closed, state = run(dtype)
        # first session closed by the third event opening session 2
        assert len(closed) == 1, dtype
        r = closed.iloc[0]
        assert (r.session_start_us, r.session_end_us, r.n_events) == (
            ts_us[0],
            ts_us[1],
            2,
        ), dtype
        assert abs(r.total_value - 3.0) < 1e-9, dtype
        # session 2 still open, riding in state with its event-time timeout
        assert state.exists
        assert state.get == (ts_us[2], ts_us[2], 1, 4.0), dtype
        assert state.timeout_ms == ts_us[2] // 1000 + gap_us // 1000, dtype


def test_label_centroids_exact_sums(spark):
    from hhek2sqlite_spark.operators.similarity import label_centroids

    emb = spark.createDataFrame(
        [
            (1, [1.0, -2.0], 0),
            (2, [3.0, 4.0], 0),
            (3, [0.5, 0.25], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    scale = 1 << 20
    got = {(r.label, r.dim): (r.n_vectors, r.sum_q) for r in label_centroids(emb, scale=scale).collect()}
    assert got[(0, 0)] == (2, 4 * scale)
    assert got[(0, 1)] == (2, 2 * scale)
    assert got[(1, 0)] == (1, scale // 2)
    assert got[(1, 1)] == (1, scale // 4)


def test_streaming_enrichment_matches_batch_join(spark, sf_dir, tmp_path):
    """Stream-static join: draining the events stream joined to the
    customer dimension must equal the batch join exactly (stateless —
    every event matches the current dimension snapshot)."""
    from hhek2sqlite_spark.streaming.enrich import streaming_enriched_events

    q = (
        streaming_enriched_events(spark, sf_dir)
        .writeStream.format("memory")
        .queryName("enriched_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("enriched_out")

    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    batch = (
        events.select("event_id", "user_id", "ts", "event_type", "value")
        .join(
            customer.select(
                F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey"
            ),
            "user_id",
        )
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_type",
            "value",
            "c_mktsegment",
            "c_nationkey",
        )
    )
    from hhek2sqlite_spark.plans import hhek

    assert batch.count() > 0
    assert hhek.tables_equivalent(batch, got).count() == 0


def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream interval join (purchase attribution)
    drained with availableNow must equal the batch interval join."""
    from hhek2sqlite_spark.streaming.joins import (
        batch_purchase_attribution,
        streaming_purchase_attribution,
    )

    q = (
        streaming_purchase_attribution(spark, sf_dir)
        .writeStream.format("memory")
        .queryName("attrib_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_attrib"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("attrib_out")

    batch = batch_purchase_attribution(load_table(spark, sf_dir, "events"))
    from hhek2sqlite_spark.plans import hhek

    assert batch.count() > 0
    assert hhek.tables_equivalent(batch, got).count() == 0


def test_stream_stream_left_outer_drain(spark, tmp_path):
    """Left-outer stream-stream interval join: a purchase with no
    qualifying signup must emit EXACTLY ONCE with null signup columns —
    and only after the watermark passes its expiry. The drain protocol
    feeds three files one-per-micro-batch (maxFilesPerTrigger=1 under
    availableNow): file 1 carries the real data, files 2-3 carry
    far-future heartbeat events on BOTH sides (the global watermark is
    the min across the two withWatermark nodes, so both must advance)
    so the next data batch runs with a watermark far past the horizon
    and flushes the expired unmatched purchase."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hhek2sqlite_spark.streaming.joins import (
        batch_purchase_attribution,
        streaming_purchase_attribution,
    )

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    hour, day = dt.timedelta(hours=1), dt.timedelta(days=1)
    src = tmp_path / "ev_src"
    src.mkdir()

    def write_file(name, rows, mtime):
        table = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "user_id": pa.array([r[1] for r in rows], pa.int64()),
                "ts": pa.array([r[2] for r in rows], pa.timestamp("us", tz="UTC")),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
            }
        )
        path = src / name
        pq.write_table(table, path)
        os.utime(path, (mtime, mtime))  # file source orders by mtime

    # file 1: s1 matches p1; p2 (user 2) has no signup -> must null-pad
    write_file(
        "batch1.parquet",
        [
            (100, 1, t0, "signup", 0.0),
            (101, 1, t0 + hour, "purchase", 10.0),
            (102, 2, t0 + 2 * hour, "purchase", 20.0),
        ],
        1_000_000_000.0,
    )
    # files 2-3: heartbeats advancing the watermark past p2's expiry
    # (purchase_ts + horizon); two are needed because eviction in batch N
    # uses the watermark computed from batches < N
    write_file(
        "batch2.parquet",
        [
            (900, 900, t0 + 100 * day, "signup", 0.0),
            (901, 901, t0 + 100 * day, "purchase", 0.0),
        ],
        1_000_000_010.0,
    )
    write_file(
        "batch3.parquet",
        [
            (902, 902, t0 + 200 * day, "signup", 0.0),
            (903, 903, t0 + 200 * day, "purchase", 0.0),
        ],
        1_000_000_020.0,
    )

    q = (
        streaming_purchase_attribution(
            spark,
            str(src),
            how="left_outer",
            events_glob=None,
            max_files_per_trigger=1,
        )
        .writeStream.format("memory")
        .queryName("attrib_outer_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_attrib_outer"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.table("attrib_outer_out").collect()}
    got_rows = spark.table("attrib_outer_out").collect()
    assert len(got) == len(got_rows), "left-outer drain emitted a duplicate row"

    # two-sided bound: everything emitted must be a batch left-outer row
    # (matched rows exact, null rows only for truly matchless purchases) ...
    batch_events = spark.read.parquet(str(src))
    oracle = {
        tuple(r) for r in batch_purchase_attribution(batch_events, how="left_outer").collect()
    }
    assert got <= oracle
    # ... and the match + the expired no-match purchase MUST be present:
    t0_us = int(t0.timestamp()) * 1_000_000
    p1 = (101, 100, 1, t0_us + 3_600_000_000, t0_us, 10.0)
    p2_null = (102, None, 2, t0_us + 7_200_000_000, None, 20.0)
    assert p1 in got
    assert p2_null in got
    assert sum(1 for r in got_rows if r.purchase_id == 102) == 1
    # heartbeat purchases' expiry never passes the final watermark: they
    # may remain buffered, but must never emit a MATCHED row
    assert all(r.signup_id is None for r in got_rows if r.purchase_id in (901, 903))


def test_approx_quantiles_within_error_bound(spark, sf_dir):
    """Spark's native quantile sketch (approx_percentile, the mergeable
    single-pass scale path — same role HLL plays next to the KMV exact
    sketch) must land within the requested rank error of the exact
    type-1 quantiles from q_value_quantiles."""
    from hhek2sqlite_spark.plans.extensions import q_value_quantiles
    from hhek2sqlite_spark.sources.parquet import load_table

    events = load_table(spark, sf_dir, "events")
    acc = 100  # rank error <= 1/acc = 1%
    approx = {
        r.event_type: r.qs
        for r in events.groupBy("event_type")
        .agg(
            F.percentile_approx("value", [0.25, 0.5, 0.75], acc).alias("qs")
        )
        .collect()
    }
    exact = {r.event_type: r for r in q_value_quantiles(spark, sf_dir).collect()}
    for et, r in exact.items():
        vals = sorted(
            v
            for (v,) in events.filter(F.col("event_type") == et)
            .select("value")
            .collect()
        )
        n = len(vals)
        for i, p in enumerate((25, 50, 75)):
            got = approx[et][i]
            # rank of the sketch's answer must be within 1% of n of the
            # true rank (the sketch guarantee is on RANK, not value)
            import bisect

            lo = bisect.bisect_left(vals, got)
            hi = bisect.bisect_right(vals, got)
            target = n * p / 100.0
            # +-1 row on top of the rank-error bound: ranks are discrete
            # and the target rank n*p/100 is generally fractional
            assert lo - n / acc - 1 <= target <= hi + n / acc + 1, (et, p, got)


def test_similarity_ivf_rebuilds_when_embeddings_are_rewritten(spark, sf_dir, tmp_path):
    """The IVF serving state (centroids + cached index) is keyed on the
    content signature of embeddings.parquet, not its path: rewriting the
    file in place with different vectors must serve the new data."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hhek2sqlite_spark.plans import extensions as ext

    path = tmp_path / "embeddings.parquet"
    shutil.copy(f"{sf_dir}/embeddings.parquet", path)
    before = {tuple(r) for r in ext.q_similarity_ivf(spark, str(tmp_path)).collect()}
    t = pq.read_table(path)
    rev = pa.array(range(t.num_rows - 1, -1, -1))
    pq.write_table(t.set_column(1, "embedding", t.column("embedding").take(rev)), path)
    got = {tuple(r) for r in ext.q_similarity_ivf(spark, str(tmp_path)).collect()}
    want = {tuple(r) for r in ext.q_similarity_topk(spark, str(tmp_path)).collect()}
    assert got == want
    assert got != before  # the rewrite changed the answer
