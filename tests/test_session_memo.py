"""The session memo (``session.SESSION_MEMO``) is the only derived state
that outlives a call. These tests pin its bound and its releases: more
stores than the bound leave at most ``MEMO_BOUND`` entries and no
persistent RDD once released, and a rewritten ``embeddings.parquet``
gets a fresh IVF index while the old one is unpersisted. The IVF build
path also serves an empty corpus."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq

from hhek2sqlite_spark.operators import similarity
from hhek2sqlite_spark.operators.util import release_local_checkpoints
from hhek2sqlite_spark.plans import extensions
from hhek2sqlite_spark.session import MEMO_BOUND, SESSION_MEMO
from hhek2sqlite_spark.testing.parity import run_parity

SCHEMA = "vec_id long, embedding array<double>"


def _corpus(spark, n, seed, id_offset=0):
    rng = np.random.default_rng(seed)
    rows = [
        (i + id_offset, [float(x) for x in rng.normal(0, 0.5, 6)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_more_stores_than_the_bound_stay_within_it(spark, lifetime_state):
    rdds, cached = lifetime_state()
    store = similarity.build_semdedup_store(_corpus(spark, 40, seed=3), seed_stride=4, coarse_k=4)
    router = similarity._store_router(store)
    decisions = []
    for i in range(MEMO_BOUND + 2):
        batch = _corpus(spark, 4, seed=100 + i, id_offset=1000 + 10 * i)
        dec, extended = similarity.append_to_semdedup_store(store, batch)
        assert similarity._store_router(extended) is router  # recorded by the append
        assert len(SESSION_MEMO) <= MEMO_BOUND
        decisions.append(dec)
    for dec in decisions:
        release_local_checkpoints(dec)
    release_local_checkpoints(store)
    rdds_after, cached_after = lifetime_state()
    assert rdds_after <= rdds, f"left RDDs {sorted(rdds_after - rdds)}"
    assert cached_after == cached


def _write_embeddings(sf_dir, path, n):
    table = pq.read_table(f"{sf_dir}/embeddings.parquet")
    pq.write_table(table.slice(0, n), path)


def _ivf_parity(spark, sf):
    res = run_parity(
        spark, "similarity_ivf", extensions.q_similarity_ivf, extensions.SQL_SIMILARITY_TOPK, sf
    )
    assert res.ok, str(res)
    return res


def test_rewritten_embeddings_get_a_fresh_ivf_index(spark, sf_dir, tmp_path, lifetime_state):
    sf = str(tmp_path)
    _write_embeddings(sf_dir, tmp_path / "embeddings.parquet", 300)
    _ivf_parity(spark, sf)
    _, old = extensions._ivf_serving(spark, sf)
    assert old.is_cached
    cached = lifetime_state()[1]

    _write_embeddings(sf_dir, tmp_path / "embeddings.parquet", 200)
    _ivf_parity(spark, sf)  # a stale index would still score the 300 old vectors
    _, new = extensions._ivf_serving(spark, sf)
    assert new is not old and new.is_cached
    assert not old.is_cached
    assert lifetime_state()[1] == cached


def test_similarity_ivf_on_an_empty_corpus(spark, sf_dir, tmp_path):
    _write_embeddings(sf_dir, tmp_path / "embeddings.parquet", 0)
    assert _ivf_parity(spark, str(tmp_path)).spark_rows == 0
