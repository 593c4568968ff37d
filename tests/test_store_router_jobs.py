"""Spark job counts of the semdedup store judge once its router (the
store's metadata plus seed-router state) is known: the judge of an
in-process store, the judge of a store extended by
``append_to_semdedup_store``, and the second micro-batch of a stream
whose base has not changed all route without re-reading the metadata
row or re-collecting seeds. The pins are the job counts of those calls;
a router re-derived per call adds its metadata-read and seed-collect
jobs on top."""

from __future__ import annotations

import numpy as np

from hhek2sqlite_spark.operators.similarity import (
    append_to_semdedup_store,
    build_semdedup_store,
    semantic_dedup_incremental_from_store,
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


def test_judge_of_in_process_store_runs_pinned_jobs(spark, count_jobs):
    store = build_semdedup_store(_corpus(spark, 80, seed=5), seed_stride=4, coarse_k=4)
    batch = _corpus(spark, 12, seed=9, id_offset=1000)
    decisions, jobs = count_jobs(lambda: semantic_dedup_incremental_from_store(store, batch))
    assert jobs == 3
    assert decisions.count() == 12
    release_local_checkpoints(decisions)
    release_local_checkpoints(store)


def test_judge_after_append_runs_pinned_jobs(spark, count_jobs):
    store = build_semdedup_store(_corpus(spark, 80, seed=5), seed_stride=4, coarse_k=4)
    first, extended = append_to_semdedup_store(store, _corpus(spark, 10, seed=31, id_offset=1000))
    batch = _corpus(spark, 12, seed=9, id_offset=2000)
    decisions, jobs = count_jobs(lambda: semantic_dedup_incremental_from_store(extended, batch))
    assert jobs == 3
    assert decisions.count() == 12
    for df in (decisions, first, store):
        release_local_checkpoints(df)


def test_second_stream_batch_runs_pinned_jobs(spark, tmp_path, count_jobs):
    root = str(tmp_path / "semstore")
    store = build_semdedup_store(_corpus(spark, 80, seed=5), seed_stride=4, coarse_k=4)
    init_semdedup_stream_store(store, root)
    release_local_checkpoints(store)
    judge_semdedup_batch(_corpus(spark, 10, seed=31, id_offset=1000), 0, root=root)
    batch = _corpus(spark, 10, seed=47, id_offset=2000)
    _, jobs = count_jobs(lambda: judge_semdedup_batch(batch, 1, root=root))
    assert jobs == 11
