"""Round-18 optimization contracts: the session router cache for
file-backed semdedup stores (correctness + invalidation), the pair
operators' construction-scoped checkpoints (released with the result,
or with any frame derived from it: CacheManager and persistent RDDs
stay flat), the single-aggregate store metadata read, the keep_ccell
store build, and the streaming handler's single-materialization
writes."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hhek2sqlite_spark.operators import similarity
from hhek2sqlite_spark.operators.util import owned_result

BATCH_SCHEMA = "vec_id long, embedding array<double>"


def _rows(n, dim, seed, id_offset=0):
    rng = np.random.default_rng(seed)
    return [
        (i + id_offset, [float(x) for x in rng.normal(0, 0.5, dim)])
        for i in range(n)
    ]


def _decisions(df):
    return sorted((r.vec_id, r.cell, r.admitted) for r in df.collect())


def _clear_router_cache():
    similarity._ROUTER_CACHE.clear()


# --- session router cache ----------------------------------------------------


def test_router_cache_matches_cold_path_and_hits(spark, tmp_path):
    """A parquet-backed store judged twice: the second call must hit the
    session cache (no new entry) and decide identically to a cold
    (cache-cleared) judge."""
    _clear_router_cache()
    base = spark.createDataFrame(_rows(80, 6, seed=5), BATCH_SCHEMA)
    batch = spark.createDataFrame(_rows(12, 6, seed=9, id_offset=1000), BATCH_SCHEMA)
    store = similarity.build_semdedup_store(base, seed_stride=4, coarse_k=4)
    reopened = similarity.materialize_semdedup_store(
        store, str(tmp_path / "store_pq")
    )
    assert similarity._store_hint(reopened) is None  # parquet drops the hint
    first = _decisions(
        similarity.semantic_dedup_incremental_from_store(reopened, batch)
    )
    assert len(similarity._ROUTER_CACHE) == 1
    second = _decisions(
        similarity.semantic_dedup_incremental_from_store(reopened, batch)
    )
    assert len(similarity._ROUTER_CACHE) == 1  # hit, not a second entry
    _clear_router_cache()
    cold = _decisions(
        similarity.semantic_dedup_incremental_from_store(reopened, batch)
    )
    assert first == second == cold


def test_router_cache_invalidates_on_rebuild_at_same_path(spark, tmp_path):
    """Overwriting the store path with a DIFFERENT corpus (same build
    parameters, so the metadata row is byte-identical) must not serve
    the stale router: the file signature (size/mtime_ns) changes."""
    _clear_router_cache()
    path = str(tmp_path / "store_pq")
    base1 = spark.createDataFrame(_rows(80, 6, seed=5), BATCH_SCHEMA)
    base2 = spark.createDataFrame(_rows(80, 6, seed=77), BATCH_SCHEMA)
    batch = spark.createDataFrame(_rows(12, 6, seed=9, id_offset=1000), BATCH_SCHEMA)
    s1 = similarity.materialize_semdedup_store(
        similarity.build_semdedup_store(base1, seed_stride=4, coarse_k=4), path
    )
    d1 = _decisions(similarity.semantic_dedup_incremental_from_store(s1, batch))
    s2 = similarity.materialize_semdedup_store(
        similarity.build_semdedup_store(base2, seed_stride=4, coarse_k=4), path
    )
    d2 = _decisions(similarity.semantic_dedup_incremental_from_store(s2, batch))
    _clear_router_cache()
    d2_cold = _decisions(
        similarity.semantic_dedup_incremental_from_store(s2, batch)
    )
    assert d2 == d2_cold  # rebuilt store judged with the REBUILT router
    assert d1 != d2  # else a stale router could pass unnoticed


def test_router_cache_hands_out_copies(spark, tmp_path):
    """Editing a hint _cached_router returned must not reach the session
    cache: the next call, and the next judge, still get the original."""
    _clear_router_cache()
    base = spark.createDataFrame(_rows(80, 6, seed=5), BATCH_SCHEMA)
    batch = spark.createDataFrame(_rows(12, 6, seed=9, id_offset=1000), BATCH_SCHEMA)
    reopened = similarity.materialize_semdedup_store(
        similarity.build_semdedup_store(base, seed_stride=4, coarse_k=4),
        str(tmp_path / "store_pq"),
    )
    def same(hint, want):  # the values are the cached objects themselves
        return hint.keys() == want.keys() and all(hint[k] is want[k] for k in want)

    built = similarity._cached_router(reopened)
    original = dict(built)
    assert original["coarse"] is not None
    built["coarse"] = None
    hit = similarity._cached_router(reopened)
    assert same(hit, original)
    hit["meta"] = None
    assert same(similarity._cached_router(reopened), original)
    judged = _decisions(
        similarity.semantic_dedup_incremental_from_store(reopened, batch)
    )
    _clear_router_cache()
    cold = _decisions(
        similarity.semantic_dedup_incremental_from_store(reopened, batch)
    )
    assert judged == cold
    _clear_router_cache()


def test_router_cache_ignores_filtered_store_relations(spark, tmp_path):
    """A RESTRICTED relation over the same files must not hit the full
    store's cached router (plan identity is part of the key, not just
    the bytes): judging against store-minus-some-rows must behave as
    the uncached judge. One-level store — a two-level store cannot be
    row-filtered at all (the persisted seed ccells would no longer
    match a router derived from the surviving seeds)."""
    _clear_router_cache()
    base = spark.createDataFrame(_rows(80, 6, seed=5), BATCH_SCHEMA)
    batch = spark.createDataFrame(_rows(12, 6, seed=9, id_offset=1000), BATCH_SCHEMA)
    reopened = similarity.materialize_semdedup_store(
        similarity.build_semdedup_store(base, seed_stride=4, coarse_k=None),
        str(tmp_path / "store_pq"),
    )
    # warm the cache with the FULL store
    d_full = _decisions(
        similarity.semantic_dedup_incremental_from_store(reopened, batch)
    )
    assert len(similarity._ROUTER_CACHE) == 1
    # a filtered store keeps only every-8th-id seeds — a DIFFERENT,
    # valid seed set under one-level routing
    restricted = reopened.filter(
        (F.col("vec_id") % 8 == 0) | (F.col("vec_id") < 0)
    )
    d_restricted = _decisions(
        similarity.semantic_dedup_incremental_from_store(restricted, batch)
    )
    _clear_router_cache()
    d_restricted_cold = _decisions(
        similarity.semantic_dedup_incremental_from_store(restricted, batch)
    )
    assert d_restricted == d_restricted_cold
    # sanity that the restriction actually matters (different cells for
    # at least one batch vector) — else this test proves nothing
    assert d_restricted != d_full
    _clear_router_cache()


def test_one_level_router_cache_matches_cold_path(spark, tmp_path):
    _clear_router_cache()
    base = spark.createDataFrame(_rows(60, 6, seed=5), BATCH_SCHEMA)
    batch = spark.createDataFrame(_rows(10, 6, seed=9, id_offset=1000), BATCH_SCHEMA)
    reopened = similarity.materialize_semdedup_store(
        similarity.build_semdedup_store(base, seed_stride=8, coarse_k=None),
        str(tmp_path / "store_1l"),
    )
    hot = _decisions(
        similarity.semantic_dedup_incremental_from_store(reopened, batch)
    )
    assert len(similarity._ROUTER_CACHE) == 1
    _clear_router_cache()
    cold = _decisions(
        similarity.semantic_dedup_incremental_from_store(reopened, batch)
    )
    assert hot == cold


# --- store metadata read (single-pass aggregate) ------------------------------


def test_meta_read_raises_on_unioned_stores(spark):
    base = spark.createDataFrame(_rows(40, 6, seed=5), BATCH_SCHEMA)
    s1 = similarity.build_semdedup_store(base, seed_stride=4, coarse_k=4)
    doubled = s1.unionByName(s1)
    with pytest.raises(ValueError, match="more than one metadata row"):
        similarity.read_semdedup_store_meta(doubled)


def test_meta_read_none_on_dataless_relation(spark):
    empty = spark.createDataFrame([], similarity.SEMDEDUP_STORE_DDL)
    assert similarity.read_semdedup_store_meta(empty) is None


# --- keep_ccell store build ----------------------------------------------------


def test_store_ccell_only_on_seed_rows_and_matches_route(spark):
    """The r18 pass-through ccell must equal the r17 join's result:
    present (and equal to the seed's coarse route) exactly on seed
    rows, NULL elsewhere."""
    base = spark.createDataFrame(_rows(80, 6, seed=5), BATCH_SCHEMA)
    store = similarity.build_semdedup_store(base, seed_stride=4, coarse_k=4)
    rows = store.filter(F.col("vec_id") >= 0).collect()
    hint = similarity._store_hint(store)
    route = similarity._coarse_route_udf(*hint["coarse"])
    # recompute each seed's coarse route independently via the kernel
    seeds = [r for r in rows if r["is_seed"] == 1]
    seed_df = spark.createDataFrame(
        [(r["vec_id"], r["eq"]) for r in seeds], "vec_id long, eq array<long>"
    )
    expected = {
        r["vec_id"]: r["cc"]
        for r in seed_df.select(
            "vec_id", route("vec_id", "eq").alias("cc")
        ).collect()
    }
    for r in rows:
        if r["is_seed"] == 1:
            assert r["ccell"] == expected[r["vec_id"]]
        else:
            assert r["ccell"] is None


# --- construction-scoped checkpoints ------------------------------------------


def test_lsh_payload_cache_released_by_owned_result(spark):
    """VERDICT r17 #6: repeated lsh_bucket_pairs calls must leave the
    CacheManager flat once each result is released."""
    emb = spark.createDataFrame(
        [
            (i, [float(x) for x in np.random.default_rng(i).normal(0, 1, 64)])
            for i in range(64)
        ],
        BATCH_SCHEMA,
    )
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    cache_was_empty = cache_mgr.isEmpty()
    for _ in range(3):
        with owned_result(similarity.lsh_bucket_pairs(emb)) as out:
            out.count()
        if cache_was_empty:
            assert cache_mgr.isEmpty(), "payload cache leaked past release"


def _pair_operators():
    from hhek2sqlite_spark.operators import dedup

    return {
        "lsh_bucket_pairs": ("embeddings", similarity.lsh_bucket_pairs),
        "minhash_lsh_pairs": ("documents", dedup.minhash_lsh_pairs),
        "simhash_pairs": ("documents", dedup.simhash_pairs),
        "ngram_jaccard_pairs": ("documents", dedup.ngram_jaccard_pairs),
    }


@pytest.mark.parametrize("op", sorted(_pair_operators()))
def test_derived_frame_release_frees_operator_state(spark, sf_dir, lifetime_state, op):
    """Releasing a frame DERIVED from a pair operator's result frees
    what the operator materialized: its checkpoint is a leaf of the
    derived plan too, so nothing stays in the CacheManager or among
    the persistent RDDs."""
    from hhek2sqlite_spark.sources.parquet import load_table

    table, fn = _pair_operators()[op]
    src = load_table(spark, sf_dir, table)
    rdds, cached = lifetime_state()
    with owned_result(fn(src).select("id_a")) as out:
        out.count()
    rdds_after, cached_after = lifetime_state()
    assert cached_after == cached, "operator cache outlived release"
    assert rdds_after <= rdds, "operator RDD outlived release"


def test_minhash_pairs_cache_released_by_neardup_clusters(spark, sf_dir, lifetime_state):
    """neardup_clusters consumes the pair relation internally — it must
    release the pair generator's signature checkpoint before returning,
    leaving only its own labels checkpoint for the caller to free."""
    from hhek2sqlite_spark.operators import dedup
    from hhek2sqlite_spark.operators.util import release_local_checkpoints
    from hhek2sqlite_spark.sources.parquet import load_table

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    cache_was_empty = cache_mgr.isEmpty()
    docs = load_table(spark, sf_dir, "documents")
    rdds = lifetime_state()[0]
    out = dedup.neardup_clusters(dedup.minhash_lsh_pairs(docs))
    assert out.count() > 0
    if cache_was_empty:
        assert cache_mgr.isEmpty(), "signature cache leaked past the loop"
    assert release_local_checkpoints(out) == 1
    assert lifetime_state()[0] <= rdds, "signature checkpoint leaked"


def test_star_fallback_frees_its_round_checkpoints(spark, lifetime_state):
    """A chain longer than max_iter takes the star fallback: each round
    is a checkpoint cut from the previous one, so once the clusters are
    released no round's blocks stay persisted."""
    from hhek2sqlite_spark.operators import dedup
    from hhek2sqlite_spark.operators.util import release_local_checkpoints

    chain = spark.createDataFrame([(i, i + 1) for i in range(40)], "id_a long, id_b long")
    rdds = lifetime_state()[0]
    out = dedup.neardup_clusters(chain, max_iter=2)
    assert [r.cluster_id for r in out.select("cluster_id").distinct().collect()] == [0]
    assert release_local_checkpoints(out) == 1
    assert lifetime_state()[0] <= rdds, "star rounds outlived release"
