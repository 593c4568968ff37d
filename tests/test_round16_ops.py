"""Round-16 operator tests: the persisted corpus-side store for
ingest-time semantic dedup (VERDICT r15 #1 — store-path output must be
IDENTICAL to the recompute path, with a plan that never touches corpus
embeddings), the bootstrap admit-all contract (ADVICE r15 medium), and
the duplicate-coarse-seed degeneracy corner (ADVICE r15 low)."""

from __future__ import annotations

import contextlib
import io

import numpy as np
import pytest


def _plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _random_corpus(spark, n=60, dim=8, seed=42, id_offset=0):
    rng = np.random.default_rng(seed)
    rows = [
        (i + id_offset, [float(x) for x in rng.normal(0, 0.5, dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _as_adm(rows):
    return {r["vec_id"]: (r["cell"], r["admitted"]) for r in rows}


# --- ADVICE r15 medium: bootstrap admit-all -----------------------------------


def test_incremental_bootstrap_empty_corpus(spark):
    """First ingest against an EMPTY corpus: no cell structure exists,
    so the whole batch is admitted with cell NULL — one row per batch
    vector, never an empty DataFrame."""
    from hhek2sqlite_spark.operators.similarity import semantic_dedup_incremental

    existing = spark.createDataFrame([], "vec_id long, embedding array<double>")
    batch = spark.createDataFrame(
        [(11, [1.0, 0.0]), (13, [1.0, 0.0]), (15, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = _as_adm(
        semantic_dedup_incremental(
            existing, batch, seed_stride=2, tau_e6=990_000
        ).collect()
    )
    # 13 is an exact dup of 11 but within-batch pairs are NOT judged at
    # bootstrap (no cells to judge in — documented): all admitted
    assert got == {11: (None, 1), 13: (None, 1), 15: (None, 1)}


def test_incremental_bootstrap_no_matching_seeds(spark):
    """Non-empty corpus whose vec_ids all miss the seed predicate is
    the same bootstrap case (no seeds -> no cells)."""
    from hhek2sqlite_spark.operators.similarity import semantic_dedup_incremental

    existing = spark.createDataFrame(
        [(1, [1.0, 0.0]), (3, [0.0, 1.0])],  # stride 4: neither is a seed
        "vec_id long, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [(21, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    got = _as_adm(
        semantic_dedup_incremental(
            existing, batch, seed_stride=4, tau_e6=990_000
        ).collect()
    )
    assert got == {21: (None, 1)}


# --- ADVICE r15 low: duplicate coarse seeds in the degenerate regime ----------


def test_two_level_duplicate_coarse_seeds(spark):
    """coarse_k >= K with two coarse seeds that are rounded exact
    duplicates (mutual sim_e6 = 1e6): the coarse self-override routes
    each to its OWN cell, so they land alone and escape each other's
    dedup — the documented corner where the degeneracy to one-level is
    NOT exact (one-level removes the higher-id seed). Both engines
    carry the same override, so parity holds either way; this pins the
    chosen behavior."""
    from hhek2sqlite_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (4, [1.0, 0.0]),  # exact duplicate of seed 0, itself a seed
            (1, [0.0, 1.0]),
            (2, [0.6, 0.8]),
        ],
        "vec_id long, embedding array<double>",
    )
    one = {
        r["vec_id"]: (r["cell"], r["kept"])
        for r in semantic_dedup(emb, seed_stride=4, tau_e6=990_000).collect()
    }
    two = {
        r["vec_id"]: (r["cell"], r["kept"])
        for r in semantic_dedup(
            emb, seed_stride=4, tau_e6=990_000, coarse_k=16
        ).collect()
    }
    # one-level: everything ties into cell 0; seed 4 removed as a dup
    assert one == {0: (0, 1), 4: (0, 0), 1: (0, 1), 2: (0, 1)}
    # two-level: the self-override isolates seed 4 in its own cell
    assert two == {0: (0, 1), 4: (4, 1), 1: (0, 1), 2: (0, 1)}


# --- round-16 store: parity with the recompute path ---------------------------


def _store_vs_recompute(spark, existing, batch, **kw):
    from hhek2sqlite_spark.operators.similarity import (
        build_semdedup_store,
        semantic_dedup_incremental,
        semantic_dedup_incremental_from_store,
    )

    build_kw = {
        k: kw[k] for k in ("seed_stride", "seed_max_id", "coarse_k") if k in kw
    }
    batch_kw = {k: kw[k] for k in ("tau_e6", "coarse_k") if k in kw}
    store = build_semdedup_store(existing, **build_kw)
    got = _as_adm(
        semantic_dedup_incremental_from_store(store, batch, **batch_kw).collect()
    )
    want = _as_adm(semantic_dedup_incremental(existing, batch, **kw).collect())
    return got, want


def test_store_path_matches_recompute_one_level(spark):
    existing = _random_corpus(spark, n=40, dim=6, seed=3)
    batch = _random_corpus(spark, n=20, dim=6, seed=9, id_offset=1000)
    got, want = _store_vs_recompute(
        spark, existing, batch, seed_stride=4, tau_e6=700_000
    )
    assert got == want and len(got) == 20


def test_store_path_matches_recompute_two_level(spark):
    existing = _random_corpus(spark, n=80, dim=6, seed=5)
    batch = _random_corpus(spark, n=30, dim=6, seed=11, id_offset=1000)
    got, want = _store_vs_recompute(
        spark, existing, batch, seed_stride=4, tau_e6=700_000, coarse_k=4
    )
    assert got == want and len(got) == 30


def test_store_path_matches_recompute_fixture(spark):
    """The registry operating point (sf0.001 embeddings as corpus, the
    injected near-dup copies as batch): store path == recompute path ==
    the DuckDB-oracle-pinned registry output."""
    from pyspark.sql import functions as F

    from hhek2sqlite_spark.plans.extensions import (
        _NEARDUP_COPY_OFFSET,
        _SEMDEDUP_COARSE_K,
        _SEMDEDUP_STRIDE,
        _SEMDEDUP_TAU,
    )
    from hhek2sqlite_spark.sources.parquet import load_table

    base = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    batch = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + _NEARDUP_COPY_OFFSET).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x
            * (
                F.lit(1.0)
                + F.lit(0.01) * ((F.col("vec_id") + i) % 5 - 2).cast("double")
            ),
        ).alias("embedding"),
    )
    got, want = _store_vs_recompute(
        spark,
        base,
        batch,
        seed_stride=_SEMDEDUP_STRIDE,
        tau_e6=_SEMDEDUP_TAU,
        coarse_k=_SEMDEDUP_COARSE_K,
    )
    assert got == want
    assert sum(1 for _, a in got.values() if a == 0) / len(got) >= 0.9


def test_store_parquet_roundtrip_and_empty_store(spark, tmp_path):
    """The store survives its production medium (parquet) unchanged;
    an EMPTY store bootstraps (admit-all, cell NULL) exactly like the
    recompute path with an empty corpus."""
    from hhek2sqlite_spark.operators.similarity import (
        SEMDEDUP_STORE_DDL,
        build_semdedup_store,
        semantic_dedup_incremental_from_store,
    )

    existing = _random_corpus(spark, n=40, dim=6, seed=3)
    batch = _random_corpus(spark, n=15, dim=6, seed=7, id_offset=500)
    store = build_semdedup_store(existing, seed_stride=4, coarse_k=4)
    path = str(tmp_path / "store")
    store.write.parquet(path)
    direct = _as_adm(
        semantic_dedup_incremental_from_store(
            store, batch, tau_e6=700_000, coarse_k=4
        ).collect()
    )
    via_parquet = _as_adm(
        semantic_dedup_incremental_from_store(
            spark.read.parquet(path), batch, tau_e6=700_000, coarse_k=4
        ).collect()
    )
    assert via_parquet == direct

    empty = spark.createDataFrame([], SEMDEDUP_STORE_DDL)
    boot = _as_adm(
        semantic_dedup_incremental_from_store(
            empty, batch, tau_e6=700_000, coarse_k=4
        ).collect()
    )
    assert boot == {
        r["vec_id"]: (None, 1) for r in batch.select("vec_id").collect()
    }


def test_from_store_plan_contract(spark, tmp_path):
    """The 100-TB contract of the store path: the batch plan scans the
    STORE parquet and the batch source ONLY (zero scans of corpus
    embeddings — the whole point of materializing the store), the pair
    stage is a broadcast hash join on the cell equi-key with the
    corpus-sized store on the STREAMED side, and no cartesian /
    nested-loop expansion exists anywhere."""
    from hhek2sqlite_spark.operators.similarity import (
        build_semdedup_store,
        semantic_dedup_incremental_from_store,
    )
    from hhek2sqlite_spark.operators.util import release_local_checkpoints

    existing = _random_corpus(spark, n=80, dim=6, seed=5)
    store_df = build_semdedup_store(existing, seed_stride=4, coarse_k=4)
    path = str(tmp_path / "store")
    store_df.write.parquet(path)
    release_local_checkpoints(store_df)

    batch = _random_corpus(spark, n=20, dim=6, seed=11, id_offset=1000)
    out = semantic_dedup_incremental_from_store(
        spark.read.parquet(path), batch, tau_e6=700_000, coarse_k=4
    )
    plan = _plan_text(out)
    # every file scan is the store — nothing re-reads corpus embeddings
    # (the batch side is a checkpointed ExistingRDD, so file locations
    # are the complete file-scan inventory)
    loc_lines = [ln for ln in plan.splitlines() if "Location:" in ln]
    assert loc_lines, plan
    assert all("store" in ln for ln in loc_lines), plan
    assert "embeddings" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    release_local_checkpoints(out)


def test_from_store_shuffle_fallback_matches(spark):
    """broadcast_batch=False (a batch too large to broadcast) takes the
    cell-keyed shuffle join and must produce identical output."""
    from hhek2sqlite_spark.operators.similarity import (
        build_semdedup_store,
        semantic_dedup_incremental_from_store,
    )

    existing = _random_corpus(spark, n=60, dim=6, seed=5)
    batch = _random_corpus(spark, n=25, dim=6, seed=13, id_offset=1000)
    store = build_semdedup_store(existing, seed_stride=4, coarse_k=4)
    bc = _as_adm(
        semantic_dedup_incremental_from_store(
            store, batch, tau_e6=700_000, coarse_k=4
        ).collect()
    )
    sh = _as_adm(
        semantic_dedup_incremental_from_store(
            store, batch, tau_e6=700_000, coarse_k=4, broadcast_batch=False
        ).collect()
    )
    assert sh == bc


# --- owned checkpoint lifetime (VERDICT r15 #5) --------------------------------


def _persisted_ids(spark) -> set[int]:
    return {
        int(str(k))
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def test_owned_result_flat_storage_over_10_loops(spark):
    """The failure mode the handle closes: looping an EAGER operator
    (semantic_dedup localCheckpoints its assignment) used to accumulate
    one executor-storage block set per iteration unless the caller knew
    to call release_local_checkpoints. Under owned_result the persisted
    RDD count returns to baseline after EVERY iteration."""
    from hhek2sqlite_spark.operators.similarity import semantic_dedup
    from hhek2sqlite_spark.operators.util import owned_result

    emb = _random_corpus(spark, n=40, dim=6, seed=3)
    # track the DELTA of persisted RDD ids, not the absolute count: in
    # the shared test session the ContextCleaner reclaims OTHER tests'
    # RDDs asynchronously, so the absolute count moves under our feet
    base = _persisted_ids(spark)
    grew_inside = False
    for _ in range(10):
        with owned_result(
            semantic_dedup(emb, seed_stride=4, tau_e6=700_000, coarse_k=4)
        ) as out:
            assert out.count() == 40
            grew_inside = grew_inside or bool(_persisted_ids(spark) - base)
        leaked = _persisted_ids(spark) - base
        assert not leaked  # flat after every exit
    # sanity: the operator really does persist state (else this test
    # would pass vacuously against a rewritten lazy operator)
    assert grew_inside


def test_owned_result_releases_on_exception(spark):
    from hhek2sqlite_spark.operators.similarity import semantic_dedup
    from hhek2sqlite_spark.operators.util import owned_result

    emb = _random_corpus(spark, n=40, dim=6, seed=3)
    base = _persisted_ids(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with owned_result(semantic_dedup(emb, seed_stride=4, tau_e6=700_000)):
            raise RuntimeError("boom")
    assert not _persisted_ids(spark) - base


# --- Q13 re-plan (VERDICT r15 #8 follow-through) -------------------------------


def test_q13_pre_agg_plan_contract(spark):
    """The r16 re-plan (`git show 4035b00:scripts/decompose_q13.py`): the
    per-custkey count
    aggregates BELOW the join — the plan must show an aggregate keyed
    on o_custkey (partial counts cross the exchange, not order rows)
    and the priority exclusion pushed into the orders scan."""
    from hhek2sqlite_spark.plans.extensions import q_order_count_distribution

    plan = _plan_text(q_order_count_distribution(spark, "/root/testdata/sf0.001"))
    import re

    assert re.search(r"Keys \[\d+\]: \[o_custkey#", plan), plan
    assert "Not(EqualTo(o_orderpriority" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_from_store_cell_partition_pruning(spark, tmp_path):
    """prune_store_cells on a partitionBy('cell') store: the batch's
    distinct cells become a STATIC partition filter — the scan plans
    only the touched cell directories (the 100-TB shape: a small batch
    reads MBs of a TB-scale store). Output identical to the unpruned
    path."""
    from hhek2sqlite_spark.operators.similarity import (
        build_semdedup_store,
        semantic_dedup_incremental_from_store,
    )
    from hhek2sqlite_spark.operators.util import release_local_checkpoints

    existing = _random_corpus(spark, n=400, dim=6, seed=5)
    store_df = build_semdedup_store(existing, seed_stride=8, coarse_k=4)
    path = str(tmp_path / "store_part")
    store_df.write.partitionBy("cell").parquet(path)
    release_local_checkpoints(store_df)
    store = spark.read.parquet(path)

    # batch = copies of 10 corpus rows -> touches at most 10 cells of ~50
    rows = existing.orderBy("vec_id").limit(10).collect()
    batch = spark.createDataFrame(
        [(1000 + i, r["embedding"]) for i, r in enumerate(rows)],
        "vec_id long, embedding array<double>",
    )
    pruned = semantic_dedup_incremental_from_store(
        store, batch, tau_e6=990_000, coarse_k=4, prune_store_cells=True
    )
    plan = _plan_text(pruned)
    # the IN-list reaches the scan's PartitionFilters (cell is the
    # partition column), so untouched cell directories are never read
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("cell" in ln and " IN " in ln for ln in pf_lines), plan
    got = _as_adm(pruned.collect())
    release_local_checkpoints(pruned)
    unpruned = semantic_dedup_incremental_from_store(
        store, batch, tau_e6=990_000, coarse_k=4
    )
    assert got == _as_adm(unpruned.collect())
    # every copied row must be rejected against its original
    assert all(a == 0 for _, a in got.values())
    release_local_checkpoints(unpruned)


def test_from_store_two_level_store_queried_one_level_raises(spark):
    """A two-level store queried with coarse_k=None would silently
    assign the batch by global argmax while the store's cells are
    route-local — the guard makes the mismatch loud (free check: the
    one-level branch already collects the seeds)."""
    from hhek2sqlite_spark.operators.similarity import (
        build_semdedup_store,
        semantic_dedup_incremental_from_store,
    )

    existing = _random_corpus(spark, n=40, dim=6, seed=3)
    store = build_semdedup_store(existing, seed_stride=4, coarse_k=4)
    batch = _random_corpus(spark, n=5, dim=6, seed=7, id_offset=500)
    with pytest.raises(ValueError, match="two-level"):
        semantic_dedup_incremental_from_store(
            store, batch, tau_e6=700_000, coarse_k=None
        ).collect()
