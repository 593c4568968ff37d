"""Round-15 operator tests: two-level semantic_dedup (VERDICT r14 #1 —
the driver-collected seed matrix replaced by a fixed-K coarse tier),
its degenerate exact-equivalences, the bounded-driver-state contract,
and a direct DuckDB oracle-parity check (VERDICT r14 #2: the r14 driver
gate did not rotate, so the operator's correctness evidence must not
depend on gate rotation)."""

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


def _as_map(rows):
    return {r["vec_id"]: (r["cell"], r["kept"]) for r in rows}


def _random_corpus(spark, n=60, dim=8, seed=42):
    rng = np.random.default_rng(seed)
    rows = [(i, [float(x) for x in rng.normal(0, 0.5, dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


# --- degenerate exact-equivalences --------------------------------------------


def test_semantic_dedup_coarse_k1_equals_one_level(spark):
    """coarse_k=1: one coarse cell containing ALL fine seeds — the fine
    argmax runs over the full seed set, exactly the one-level form."""
    from hhek2sqlite_spark.operators.similarity import semantic_dedup

    emb = _random_corpus(spark)
    one = _as_map(semantic_dedup(emb, seed_stride=4, tau_e6=700_000).collect())
    two = _as_map(
        semantic_dedup(emb, seed_stride=4, tau_e6=700_000, coarse_k=1).collect()
    )
    assert two == one


def test_semantic_dedup_coarse_k_ge_seeds_equals_one_level(spark):
    """coarse_k >= K: every fine seed is its own coarse cell (the
    self-override), each cell holds exactly one seed — again exactly
    the one-level assignment. This is also the registry query's regime
    at sf0.001/sf0.01 (8 seeds < coarse_k 16), so the r14 driver-gate
    output is unchanged there."""
    from hhek2sqlite_spark.operators.similarity import semantic_dedup

    emb = _random_corpus(spark)
    one = _as_map(semantic_dedup(emb, seed_stride=4, tau_e6=700_000).collect())
    two = _as_map(
        semantic_dedup(emb, seed_stride=4, tau_e6=700_000, coarse_k=100).collect()
    )
    assert two == one


def test_semantic_dedup_salt_invariant(spark):
    """fine_salt is a parallelism knob, never a semantics knob: every
    vector meets the FULL seed set of its coarse cell in exactly one
    (ccell, salt) group."""
    from hhek2sqlite_spark.operators.similarity import semantic_dedup

    emb = _random_corpus(spark)
    a = _as_map(
        semantic_dedup(
            emb, seed_stride=4, tau_e6=700_000, coarse_k=4, fine_salt=1
        ).collect()
    )
    b = _as_map(
        semantic_dedup(
            emb, seed_stride=4, tau_e6=700_000, coarse_k=4, fine_salt=5
        ).collect()
    )
    assert a == b


# --- hand-computed two-level semantics ------------------------------------------


def test_semantic_dedup_two_level_hand_computed(spark):
    """Seeds (stride 2) = ids 0,2,4,6 (cells carry the seed's vec_id);
    coarse_k=2 makes ids 0,2 the coarse tier. Fine seed 4
    ([0.98,0.20], 11.5 deg) routes to coarse cell 0, fine seed 6
    ([0.40,0.92], 66.5 deg) to coarse cell 2. id 3 ([0.73,0.68],
    42.9 deg) is the IVF approximation case: its globally-best seed
    is 6 (31.4 vs 23.6 deg past the 39-deg fine midpoint) but x>y
    routes it to coarse cell 0, where the best WITHIN-ROUTE seed is 4
    (cell 4). Exact copies (5 of seed 4, 7 of seed 6) dedup within
    their cells at tau 0.999."""
    from hhek2sqlite_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),    # coarse seed, fine cell 0
            (1, [0.95, 0.31]),  # -> coarse 0, fine cell 4 (6.6 vs 18.1 deg)
            (2, [0.0, 1.0]),    # coarse seed, fine cell 2
            (3, [0.73, 0.68]),  # approximation case -> cell 4 (one-level: 6)
            (4, [0.98, 0.20]),  # fine seed, cell 4, routes coarse 0
            (5, [0.98, 0.20]),  # exact copy of 4 -> kept 0
            (6, [0.40, 0.92]),  # fine seed, cell 6, routes coarse 2
            (7, [0.40, 0.92]),  # exact copy of 6 -> kept 0
        ],
        "vec_id long, embedding array<double>",
    )
    two = _as_map(
        semantic_dedup(
            emb, seed_stride=2, tau_e6=999_000, coarse_k=2
        ).collect()
    )
    assert two == {
        0: (0, 1),
        1: (4, 1),
        2: (2, 1),
        3: (4, 1),
        4: (4, 1),
        5: (4, 0),
        6: (6, 1),
        7: (6, 0),
    }
    # pin the approximation: one-level assigns id 3 its GLOBAL argmax
    one = _as_map(semantic_dedup(emb, seed_stride=2, tau_e6=999_000).collect())
    assert one[3] == (6, 1)


def test_semantic_dedup_rejects_bad_params(spark):
    from hhek2sqlite_spark.operators.similarity import semantic_dedup

    emb = _random_corpus(spark, n=8)
    with pytest.raises(ValueError, match="coarse_k"):
        semantic_dedup(emb, seed_stride=2, coarse_k=0)
    with pytest.raises(ValueError, match="fine_salt"):
        semantic_dedup(emb, seed_stride=2, coarse_k=2, fine_salt=0)


# --- bounded driver state (the r14 weak-flag contract) --------------------------


def test_semantic_dedup_two_level_driver_collect_is_bounded(spark, monkeypatch):
    """The 100 TB contract that retired the r14 weak flag: with
    coarse_k set, the ONLY collect during construction is the coarse
    matrix — <= coarse_k rows via a distributed top-k, independent of
    corpus and seed count. 200 fine seeds here; the old one-level path
    would collect all 200."""
    from hhek2sqlite_spark.operators.similarity import semantic_dedup

    emb = _random_corpus(spark, n=400, dim=4, seed=7)
    # patch the CONCRETE class (pyspark 4's classic DataFrame subclass
    # overrides collect; patching the pyspark.sql.DataFrame base misses it)
    cls = type(emb)
    sizes: list[int] = []
    orig = cls.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    out = semantic_dedup(
        emb, seed_stride=2, tau_e6=999_000, coarse_k=4, fine_salt=2
    )
    n_rows = out.count()  # materialize without tripping the spy
    assert n_rows == 400
    assert sizes, "construction should have collected the coarse tier"
    assert max(sizes) <= 4, sizes


# --- registry query: oracle parity without the driver gate ----------------------


def test_semantic_dedup_oracle_parity_direct(spark):
    """Direct DuckDB comparison of the registered query and its oracle
    at sf0.001 AND sf0.1 — sf0.1 has 32 fine seeds > coarse_k=16, so
    this exercises REAL two-level routing, not the degenerate regime.
    Exists because the r14 driver gate did not rotate (VERDICT r14 #2):
    the operator's correctness evidence must stand without it."""
    import duckdb

    from hhek2sqlite_spark.plans import ORACLE_SQL, QUERIES

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.1"):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        oracle = sorted(
            tuple(r) for r in con.execute(ORACLE_SQL["semantic_dedup"]).fetchall()
        )
        con.close()
        got = sorted(
            (r["vec_id"], r["cell"], r["kept"])
            for r in QUERIES["semantic_dedup"](spark, sf_dir).collect()
        )
        assert got == oracle, sf_dir


def test_semdedup_cell_profile_parity_and_shape(spark):
    """The cell-profile companion query (new r15): per-cell population,
    removal count, first kept id. Direct DuckDB parity at sf0.001 plus
    the structural invariants — populations sum to the corpus size,
    removals sum to the dedup's removal count."""
    import duckdb
    import pyspark.sql.functions as F

    from hhek2sqlite_spark.plans import ORACLE_SQL, QUERIES

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    oracle = sorted(
        tuple(r)
        for r in con.execute(ORACLE_SQL["semdedup_cell_profile"]).fetchall()
    )
    con.close()
    prof = QUERIES["semdedup_cell_profile"](spark, sf_dir)
    got = sorted(
        (r["cell"], r["n_vectors"], r["n_removed"], r["first_kept_id"])
        for r in prof.collect()
    )
    assert got == oracle
    dedup = QUERIES["semantic_dedup"](spark, sf_dir)
    assert sum(r[1] for r in got) == dedup.count()
    assert sum(r[2] for r in got) == dedup.filter(F.col("kept") == 0).count()


def test_semdedup_incremental_hand_computed(spark):
    """Existing corpus {0:[1,0], 2:[0,1]} (both seeds, stride 2);
    batch: 11 = exact copy of existing 0 -> rejected against the
    corpus; 13 = near-copy of existing 0 (cos ~0.99995) -> rejected;
    15 = [0.7,0.7] (cos 0.7071 to both seeds, tie -> cell 0) ->
    admitted; 17 = exact copy of 15 -> rejected by the ADMITTED
    batch vector with the lower id (keep-first within batch). Existing
    rows never appear in the output."""
    from hhek2sqlite_spark.operators.similarity import semantic_dedup_incremental

    existing = spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [
            (11, [1.0, 0.0]),
            (13, [0.999, 0.01]),
            (15, [0.7, 0.7]),
            (17, [0.7, 0.7]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["cell"], r["admitted"])
        for r in semantic_dedup_incremental(
            existing, batch, seed_stride=2, tau_e6=990_000
        ).collect()
    }
    assert got == {11: (0, 0), 13: (0, 0), 15: (0, 1), 17: (0, 0)}


def test_semdedup_incremental_existing_never_judged(spark):
    """Two IDENTICAL existing vectors are both corpus — neither is
    re-judged nor emitted; a batch copy of them is rejected once."""
    from hhek2sqlite_spark.operators.similarity import semantic_dedup_incremental

    existing = spark.createDataFrame(
        [(0, [1.0, 0.0]), (4, [1.0, 0.0])],  # exact dups INSIDE the corpus
        "vec_id long, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [(21, [1.0, 0.0]), (23, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    rows = semantic_dedup_incremental(
        existing, batch, seed_stride=4, tau_e6=990_000
    ).collect()
    got = {r["vec_id"]: r["admitted"] for r in rows}
    assert got == {21: 0, 23: 1}  # batch-only output


def test_semdedup_incremental_two_level_matches_one_level(spark):
    """coarse_k >= seed count degenerates exactly to one-level, same
    as semantic_dedup's equivalence guarantee."""
    from hhek2sqlite_spark.operators.similarity import semantic_dedup_incremental

    existing = _random_corpus(spark, n=40, dim=6, seed=3)
    batch = _random_corpus(spark, n=20, dim=6, seed=9).selectExpr(
        "vec_id + 1000 AS vec_id", "embedding"
    )
    one = {
        r["vec_id"]: (r["cell"], r["admitted"])
        for r in semantic_dedup_incremental(
            existing, batch, seed_stride=4, tau_e6=700_000
        ).collect()
    }
    two = {
        r["vec_id"]: (r["cell"], r["admitted"])
        for r in semantic_dedup_incremental(
            existing, batch, seed_stride=4, tau_e6=700_000, coarse_k=100
        ).collect()
    }
    assert two == one and len(one) == 20


def test_semdedup_incremental_oracle_parity_direct(spark):
    """Registered query vs its DuckDB oracle at sf0.001 and sf0.1
    (sf0.1 = real two-level routing); batch = the injected near-dup
    copies, so ~98% must be rejected against the original corpus."""
    import duckdb

    from hhek2sqlite_spark.plans import ORACLE_SQL, QUERIES

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.1"):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        oracle = sorted(
            tuple(r)
            for r in con.execute(ORACLE_SQL["semdedup_incremental"]).fetchall()
        )
        con.close()
        got = sorted(
            (r["vec_id"], r["cell"], r["admitted"])
            for r in QUERIES["semdedup_incremental"](spark, sf_dir).collect()
        )
        assert got == oracle, sf_dir
        n_rejected = sum(1 for _, _, a in got if a == 0)
        assert n_rejected / len(got) >= 0.9, sf_dir


def test_semdedup_incremental_plan_contract(spark):
    """Same 100 TB contract as semantic_dedup: the pair stage rides
    the cell equi-key (no cartesian / nested-loop pair expansion), and
    the probe side is batch-only (the is_new filter sits under the
    join, so at steady state |batch| << |corpus| bounds the output
    stream)."""
    from hhek2sqlite_spark.plans.extensions import q_semdedup_incremental

    plan = _plan_text(q_semdedup_incremental(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "cell#" in plan, plan


def test_semantic_dedup_two_level_plan_contract(spark):
    """Post-checkpoint plan (what the three consumers actually run):
    the pair stage stays a cell-keyed EQUI join, never a cartesian or
    nested-loop expansion, and the assignment is a FlatMapCoGroups
    Arrow node in the pre-checkpoint lineage."""
    from hhek2sqlite_spark.operators.similarity import (
        _assign,
        _QUANT_SCALE,
    )
    from hhek2sqlite_spark.plans.extensions import q_semantic_dedup
    import pyspark.sql.functions as F

    plan = _plan_text(q_semantic_dedup(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "cell#" in plan, plan

    # the cogroup kernel is visible before the checkpoint cuts lineage:
    # rebuild the assignment relation plan shape directly
    emb = _random_corpus(spark, n=20, dim=4)
    q = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * _QUANT_SCALE).cast("long"),
        ).alias("eq"),
    ).withColumn("n", F.sqrt(F.lit(1.0)))
    # the assignment is lazy (its callers checkpoint it), so its own
    # plan shows the cogroup
    assigned, _ = _assign(q, q.filter(F.col("vec_id") % 2 == 0), 2, 2)
    assert "FlatMapCoGroupsInPandas" in _plan_text(assigned)
