"""The batch assignment's eager checkpoint is released once the judged
relation has been checkpointed from it, on both append paths: the batch
``append_to_semdedup_store`` and the streaming handler. Nothing reads it
after that, so an append leaves no persisted RDD behind beyond the
judged checkpoint its outputs share."""

from __future__ import annotations

import numpy as np

from hhek2sqlite_spark.operators.similarity import (
    append_to_semdedup_store,
    build_semdedup_store,
)
from hhek2sqlite_spark.operators.util import release_local_checkpoints
from hhek2sqlite_spark.streaming.semdedup import (
    init_semdedup_stream_store,
    judge_semdedup_batch,
)

SCHEMA = "vec_id long, embedding array<double>"


def _corpus(spark, n, seed, id_offset=0):
    rng = np.random.default_rng(seed)
    rows = [
        (i + id_offset, [float(x) for x in rng.normal(0, 0.5, 6)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _persistent(spark) -> set:
    # ids, not a count: RDDs that earlier tests left behind may be freed
    # by the ContextCleaner mid-test, which a count would misread
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_append_releases_assignment_checkpoint(spark):
    store = build_semdedup_store(
        _corpus(spark, 40, seed=3), seed_stride=4, seed_max_id=40, coarse_k=4
    )
    n_store = store.count()
    before = _persistent(spark)
    decisions, new_store = append_to_semdedup_store(
        store, _corpus(spark, 10, seed=77, id_offset=1000), tau_e6=990_000
    )
    assert new_store.count() == n_store + decisions.filter("admitted = 1").count()
    # both outputs read the one judged checkpoint: releasing the
    # decisions' plan releases everything the append left behind
    release_local_checkpoints(decisions)
    assert not _persistent(spark) - before
    assert store.count() == n_store  # the store's own checkpoint survives
    release_local_checkpoints(store)


def test_stream_handler_releases_assignment_checkpoint(spark, tmp_path):
    root = str(tmp_path / "semstore")
    store = build_semdedup_store(
        _corpus(spark, 80, seed=5), seed_stride=4, seed_max_id=80, coarse_k=4
    )
    init_semdedup_stream_store(store, root)
    release_local_checkpoints(store)
    batch = _corpus(spark, 10, seed=31, id_offset=1000)
    before = _persistent(spark)
    judge_semdedup_batch(batch, 0, root=root, tau_e6=990_000)
    judge_semdedup_batch(batch, 1, root=root, tau_e6=990_000)
    assert not _persistent(spark) - before
