"""Round-17 optimization contracts: the plan shapes and new branches the
optimization round introduced stay pinned.

- lsh_bucket_pairs: ONE band-kernel evaluation (checkpointed payload) and no
  optimizer-duplicated Arrow kernels — the r17 fix for the r16 plan
  that ran the 64-plane matmul twice per vector per join side.
- q_incremental_dedup: the batch-grain checkpoint keeps the semi/anti
  joins from being pushed through the augmented-batch union (the r16
  plan rebuilt the keepers aggregate and the store distinct once per
  union branch — 15 parquet scans).
- pagerank: the r17 round-1 folding added an iterations<=0 branch and
  a window-based degree annotation; pin both (the iterative parity is
  already covered by test_round5_ops/test_properties_r5 vs a Python
  reference).
- cooccurrence_edges: the r17 array-transform expansion drops NULL
  groups/items explicitly where the old self-join dropped them via
  equi-join/!= semantics; pin that NULLs still produce no edges.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from hhek2sqlite_spark.operators.graph import RANK_SCALE, cooccurrence_edges, pagerank
from hhek2sqlite_spark.operators.similarity import lsh_bucket_pairs


def _plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _fresh_embeddings(spark, sf="/root/testdata/sf0.001"):
    from hhek2sqlite_spark.sources.parquet import load_table

    return load_table(spark, sf, "embeddings")


def test_lsh_band_kernel_evaluated_once(spark):
    """The band payload is checkpointed at N-row grain and both
    self-join sides plus the verify-side vector relation read the
    checkpoint: the plan outside the payload build must contain NO
    band-kernel ArrowEvalPython (kernel runs once, when the checkpoint
    is populated), and the checkpointed relation must appear (Scan
    ExistingRDD) in the plan the join sides read."""
    from hhek2sqlite_spark.operators.util import release_local_checkpoints

    out = lsh_bucket_pairs(_fresh_embeddings(spark))
    plan = _plan_text(out)
    try:
        assert "Scan ExistingRDD" in plan, plan[:2000]
        # at most TWO distinct Arrow kernel node ids may exist: the band
        # kernel and the sim verify kernel (above the candidate joins).
        # Count DISTINCT node ids, not occurrences. The r16 regression
        # shape — the optimizer duplicating a kernel per filter-pushdown
        # copy — shows up as a third id (the committed before-plan held
        # 6+).
        import re

        ids = set(re.findall(r"\((\d+)\) ArrowEvalPython", plan))
        assert len(ids) <= 2, f"duplicated Arrow kernel ids {ids}:\n{plan[:3000]}"
    finally:
        release_local_checkpoints(out)


def test_incremental_dedup_plan_scans_batch_once(spark):
    """The registry query's augmented batch is checkpointed, so the
    plan holds exactly two parquet scans (the store side and the
    keepers... both derive from ONE documents scan each) instead of the
    r16 blowup's 15 — the semi/anti joins can no longer be pushed
    through the union and replicate the aggregates per branch."""
    from hhek2sqlite_spark.plans.extensions import q_incremental_dedup

    out = q_incremental_dedup(spark, "/root/testdata/sf0.001")
    plan = _plan_text(out)
    assert plan.count("Scan parquet") <= 3, plan[:3000]
    # the checkpointed batch appears as a leaf, not as re-derived unions
    assert "Scan ExistingRDD" in plan


def test_pagerank_zero_iterations_is_uniform_rank(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long"
    )
    out = {
        r.node: r.rank_micros
        for r in pagerank(edges, iterations=0).collect()
    }
    assert out == {1: RANK_SCALE, 2: RANK_SCALE, 3: RANK_SCALE}


def test_pagerank_one_iteration_matches_recurrence(spark):
    """One iteration exercises ONLY the folded round (no join round):
    rank_1(v) = base + 0.85 * sum(RANK_SCALE div out_deg(u)) over
    in-edges u->v, floor arithmetic."""
    edges_py = [(1, 2), (1, 3), (2, 3)]
    edges = spark.createDataFrame(edges_py, "src long, dst long")
    base = (100 - 85) * RANK_SCALE // 100
    deg = {1: 2, 2: 1}
    contribs: dict[int, int] = {}
    for s, d in edges_py:
        contribs[d] = contribs.get(d, 0) + RANK_SCALE // deg[s]
    expect = {d: base + (85 * c) // 100 for d, c in contribs.items()}
    out = {r.node: r.rank_micros for r in pagerank(edges, iterations=1).collect()}
    assert out == expect


def test_cooccurrence_edges_null_group_and_item_produce_no_edges(spark):
    items = spark.createDataFrame(
        [
            ("g1", 1),
            ("g1", 2),
            (None, 3),  # NULL group: old equi-join dropped it
            (None, 4),
            ("g2", 5),
            ("g2", None),  # NULL item: old a.item != b.item rejected it
        ],
        "g string, item int",
    )
    got = {
        (r.src, r.dst)
        for r in cooccurrence_edges(items, group_col="g", item_col="item").collect()
    }
    assert got == {(1, 2), (2, 1)}


def test_parallel_edges_count_toward_degree(spark):
    """The window-count degree annotation counts parallel edges per-row,
    matching the old groupBy(src).count() semantics."""
    edges = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 1)], "src long, dst long"
    )
    base = (100 - 85) * RANK_SCALE // 100
    # node 1 has out_deg 2 (parallel edges), node 2 out_deg 1
    expect = {
        2: base + (85 * ((RANK_SCALE // 2) * 2)) // 100,
        1: base + (85 * RANK_SCALE) // 100,
    }
    out = {r.node: r.rank_micros for r in pagerank(edges, iterations=1).collect()}
    assert out == expect


# --- construction-scoped store hint (r17 optimization: zero per-batch ------
# driver collects on in-process stores) ---------------------------------------


def _store_batch(spark):
    base = _fresh_embeddings(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    batch = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x
            * (F.lit(1.0) + F.lit(0.01) * ((F.col("vec_id") + i) % 5 - 2).cast("double")),
        ).alias("embedding"),
    )
    return base, batch


def _strip_hint(store):
    """Same relation, new DataFrame object: the construction-scoped hint
    attribute does not propagate, so the judge falls back to the in-band
    metadata row + driver collects (the parquet-roundtrip code path)."""
    from hhek2sqlite_spark.operators import similarity

    stripped = store.select(*store.columns)
    assert similarity._store_hint(stripped) is None
    return stripped


def _decisions(df):
    return sorted((r.vec_id, r.cell, r.admitted) for r in df.collect())


def test_store_hint_two_level_matches_cold_path(spark):
    from hhek2sqlite_spark.operators import similarity

    base, batch = _store_batch(spark)
    store = similarity.build_semdedup_store(base, seed_stride=8, coarse_k=4)
    assert similarity._store_hint(store) is not None
    hot = similarity.semantic_dedup_incremental_from_store(store, batch)
    cold = similarity.semantic_dedup_incremental_from_store(
        _strip_hint(store), batch
    )
    assert _decisions(hot) == _decisions(cold)


def test_store_hint_one_level_matches_cold_path(spark):
    from hhek2sqlite_spark.operators import similarity

    base, batch = _store_batch(spark)
    store = similarity.build_semdedup_store(base, seed_stride=16, coarse_k=None)
    hot = similarity.semantic_dedup_incremental_from_store(store, batch)
    cold = similarity.semantic_dedup_incremental_from_store(
        _strip_hint(store), batch
    )
    assert _decisions(hot) == _decisions(cold)


def test_append_forwards_hint_and_matches_cold_path(spark):
    from hhek2sqlite_spark.operators import similarity

    base, batch = _store_batch(spark)
    batch_a = batch.filter(F.col("vec_id") % 20 == 0)
    batch_b = batch.filter(F.col("vec_id") % 20 != 0)
    store = similarity.build_semdedup_store(base, seed_stride=8, coarse_k=4)
    dec_a, store2 = similarity.append_to_semdedup_store(store, batch_a)
    # the appended rows are never seeds, so the build hint holds
    # verbatim — forwarded as a SHALLOW COPY (ADVICE r17: no mutable
    # dict aliased across sibling stores; the router state inside is
    # shared by reference, which is fine because the hint is frozen)
    h0, h2 = similarity._store_hint(store), similarity._store_hint(store2)
    assert h2 is not None and h2 is not h0
    assert h2["meta"] == h0["meta"]
    assert h2["coarse"] is h0["coarse"]
    assert h2["seed_rows"] is h0["seed_rows"]
    hot = similarity.semantic_dedup_incremental_from_store(store2, batch_b)
    cold = similarity.semantic_dedup_incremental_from_store(
        _strip_hint(store2), batch_b
    )
    assert _decisions(hot) == _decisions(cold)
    # and the append path itself accepts a hintless store identically
    dec_a_cold, _ = similarity.append_to_semdedup_store(
        _strip_hint(store), batch_a
    )
    assert _decisions(dec_a) == _decisions(dec_a_cold)


def test_store_hint_does_not_survive_parquet_roundtrip(spark, tmp_path):
    """materialize_semdedup_store returns a reopened scan relation: no
    hint rides along (by design — the hint is construction-scoped), and
    the judge answers identically through the metadata-row path."""
    from hhek2sqlite_spark.operators import similarity

    base, batch = _store_batch(spark)
    store = similarity.build_semdedup_store(base, seed_stride=8, coarse_k=4)
    reopened = similarity.materialize_semdedup_store(
        store, str(tmp_path / "store_pq")
    )
    assert similarity._store_hint(reopened) is None
    hot = similarity.semantic_dedup_incremental_from_store(store, batch)
    via_parquet = similarity.semantic_dedup_incremental_from_store(
        reopened, batch
    )
    assert _decisions(hot) == _decisions(via_parquet)


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-q"]))
