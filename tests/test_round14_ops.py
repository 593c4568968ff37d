"""Round-14 operator tests: SemDeDup-style semantic dedup (hand-computed
values + plan contract), the Q14 PROMO-prefix semantics fix, and the
scaling-harness guard rails from ADVICE r13."""

from __future__ import annotations

import contextlib
import io
import re

import pytest


def _plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# --- semantic_dedup: hand-computed values ------------------------------------


def test_semantic_dedup_hand_computed(spark):
    """Seeds = ids 0,2 (stride 2); id 1 is a paraphrase of seed 0 and
    id 3 of seed 1 (within-cell sim >= tau -> removable); id 5 sits
    exactly between both seeds — the rounded sim_e6 is an exact tie
    (same integer arithmetic to both seeds), so the tie rule assigns
    the LOWEST cell — and is no one's duplicate."""
    from hhek2sqlite_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.999, 0.01]),
            (2, [0.0, 1.0]),
            (3, [0.01, 0.999]),
            (5, [0.7, 0.7]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["cell"], r["kept"])
        for r in semantic_dedup(emb, seed_stride=2, tau_e6=990_000).collect()
    }
    # cells are identified by their seed's vec_id (r15): seeds 0 and 2
    assert got == {
        0: (0, 1),  # seed of cell 0, lowest id of its dup pair -> kept
        1: (0, 0),  # cos(0,1) ~ 0.99995 >= 0.99 -> removable
        2: (2, 1),
        3: (2, 0),
        5: (0, 1),  # exact sim_e6 tie (707107 to both) -> lowest cell; kept
    }


def test_semantic_dedup_keep_first_within_cell_not_only_vs_seed(spark):
    """The dedup predicate is within-CELL, not vs-the-seed: two near-dup
    non-seed vectors in the same cell dedup against each other even
    when neither is close to the seed."""
    from hhek2sqlite_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),        # the only seed (stride 10)
            (3, [0.6, 0.55]),       # cell 0 (everything is)
            (7, [0.6005, 0.5505]),  # near-dup of 3, far from seed
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["cell"], r["kept"])
        for r in semantic_dedup(emb, seed_stride=10, tau_e6=990_000).collect()
    }
    assert got == {0: (0, 1), 3: (0, 1), 7: (0, 0)}


def test_semantic_dedup_seed_max_id_excludes_late_ids(spark):
    """seed_max_id fences the seed set (the registry query uses it to
    keep injected copies out of the cell structure): id 10 is a stride
    multiple but NOT a seed, so only one cell exists."""
    from hhek2sqlite_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (5, [0.0, 1.0]), (10, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["cell"], r["kept"])
        for r in semantic_dedup(
            emb, seed_stride=5, seed_max_id=10, tau_e6=990_000
        ).collect()
    }
    # seeds: 0 and 5 (10 fenced out); 10 is identical to 5 -> removable
    # (cell ids are the seeds' vec_ids since r15)
    assert got == {0: (0, 1), 5: (5, 1), 10: (5, 0)}


def test_semantic_dedup_registry_query_non_vacuous(spark):
    """At sf0.001 the injected near-dup copies (cosine ~0.9996) must be
    found: every removed row is an injected copy (vec_id >= offset),
    and most copies are removed (a copy can legitimately land in a
    different cell than its original — a recall property, identical in
    both engines by construction)."""
    import pyspark.sql.functions as F

    from hhek2sqlite_spark.plans.extensions import (
        _NEARDUP_COPY_OFFSET,
        q_semantic_dedup,
    )

    out = q_semantic_dedup(spark, "/root/testdata/sf0.001")
    removed = out.filter(F.col("kept") == 0)
    n_injected = out.filter(F.col("vec_id") >= _NEARDUP_COPY_OFFSET).count()
    n_removed = removed.count()
    assert n_injected == 50
    assert n_removed >= 40  # most copies land with their originals
    # no organic pair sits above tau (corpus max cosine ~0.60)
    assert removed.filter(F.col("vec_id") < _NEARDUP_COPY_OFFSET).count() == 0


def test_semantic_dedup_plan_contract(spark):
    """The 100 TB contract: after the localCheckpoint'ed assignment
    (one Arrow matmul kernel over driver-collected seeds — r14 re-plan
    on the SCALING_SEMDEDUP curve), the pair stage is a cell-keyed
    EQUI join — never a cartesian/nested-loop pair expansion — and the
    output attach is a plain vec_id join."""
    from hhek2sqlite_spark.plans.extensions import q_semantic_dedup

    plan = _plan_text(q_semantic_dedup(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the pair join rides the cell equi-key
    assert re.search(r"Join.*\[cell", plan) or "cell#" in plan, plan


# --- Q14 prefix semantics (ADVICE r13) ----------------------------------------


def test_promo_revenue_share_prefix_semantics(spark):
    """TPC-H Q14 is LIKE 'PROMO%': composite types ('PROMO BURNISHED
    COPPER') are promo, 'STANDARD PROMO' is not. Hand-computed with
    zero discount so rev_e6 = 1e6 * price."""
    import hhek2sqlite_spark.plans.extensions as ext

    part = spark.createDataFrame(
        [
            (1, "PROMO BURNISHED COPPER"),
            (2, "PROMO"),
            (3, "STANDARD PROMO"),
            (4, "ECONOMY ANODIZED TIN"),
        ],
        "p_partkey long, p_type string",
    )
    li = spark.createDataFrame(
        [
            (1, "1997-09-05", 10.0, 0.0),
            (2, "1997-09-06", 20.0, 0.0),
            (3, "1997-09-07", 40.0, 0.0),
            (4, "1997-09-08", 30.0, 0.0),
            (1, "1997-10-01", 999.0, 0.0),  # outside the ship-month
        ],
        "l_partkey long, l_shipdate string, l_extendedprice double, l_discount double",
    ).selectExpr(
        "l_partkey",
        "CAST(l_shipdate AS TIMESTAMP) AS l_shipdate",
        "l_extendedprice",
        "l_discount",
    )
    tabs = {"part": part, "lineitem": li}
    orig = ext.load_table
    try:
        ext.load_table = lambda _s, _d, n: tabs[n]
        row = ext.q_promo_revenue_share(spark, "unused").collect()[0]
    finally:
        ext.load_table = orig
    assert row["promo_rev_e6"] == 30_000_000  # parts 1 and 2 only
    assert row["total_rev_e6"] == 100_000_000
    assert row["promo_share_e6"] == 300_000


def test_promo_revenue_share_oracle_uses_like_prefix():
    from hhek2sqlite_spark.plans.extensions import SQL_PROMO_REVENUE_SHARE

    assert "LIKE 'PROMO%'" in SQL_PROMO_REVENUE_SHARE


# --- scaling-harness guard rails (ADVICE r13) ---------------------------------


def test_scaling_only_rejects_unknown_names(monkeypatch):
    """A typo'd SPARK_GRAFT_SCALING_ONLY name must raise, not silently
    intersect to an empty run."""
    import scripts.scaling_curve as sc

    monkeypatch.setenv("SPARK_GRAFT_SCALING_ONLY", "not_a_query")
    monkeypatch.delenv("SPARK_GRAFT_SCALING_OUT", raising=False)
    monkeypatch.setattr("sys.argv", ["scaling_curve.py", "testdata_scaled/x1"])
    with pytest.raises(SystemExit, match="not_a_query"):
        sc.main()


def test_scaling_only_diverts_default_out(monkeypatch):
    """ONLY without OUT must divert the artifact away from the committed
    SCALING.json. Verified by inspecting the env the guard sets before
    the session would spin up (we stop execution right there)."""
    import scripts.scaling_curve as sc

    monkeypatch.setenv("SPARK_GRAFT_SCALING_ONLY", sc.SUBSET[0])
    monkeypatch.delenv("SPARK_GRAFT_SCALING_OUT", raising=False)
    monkeypatch.setattr("sys.argv", ["scaling_curve.py", "testdata_scaled/x1"])

    class _Stop(Exception):
        pass

    def _boom(*_a, **_k):
        raise _Stop

    monkeypatch.setattr(sc, "get_spark", _boom)
    with pytest.raises(_Stop):
        sc.main()
    import os

    assert os.environ["SPARK_GRAFT_SCALING_OUT"].endswith("SCALING_subset.json")


def test_scaling_slope_truncates_at_first_oracle_oom():
    """slope bookkeeping must describe a CONTIGUOUS surviving prefix:
    an oracle that OOMs at x2 but 'survives' x4 (fresh connection)
    must not have its growth span the gap. Exercises the factored
    pure function on a synthetic mid-series OOM (ADVICE r14: the old
    form grepped the source for a comment)."""
    from scripts.scaling_curve import contiguous_oracle_prefix

    labels = ["x1", "x2", "x4", "x8"]
    pts = {
        "x1": {"oracle_sec": 1.0},
        "x2": {"oracle_sec": None, "oracle_oom": True},  # mid-series OOM
        "x4": {"oracle_sec": 9.0},  # spurious fresh-connection survivor
        "x8": {"oracle_sec": 20.0},
    }
    assert contiguous_oracle_prefix(labels, pts) == ["x1"]
    # missing scale truncates the same way
    assert contiguous_oracle_prefix(labels, {"x1": {"oracle_sec": 1.0}}) == ["x1"]
    # clean series survives whole
    clean = {lbl: {"oracle_sec": 1.0} for lbl in labels}
    assert contiguous_oracle_prefix(labels, clean) == labels
    # OOM at the FIRST scale -> empty prefix (caller skips the query)
    first_oom = dict(clean, x1={"oracle_sec": None})
    assert contiguous_oracle_prefix(labels, first_oom) == []


# --- minhash signature kernel (VERDICT r13 #1) ---------------------------------


def test_minhash_kernel_bit_identity(spark):
    """The numpy kernel must produce BIT-IDENTICAL signatures to the
    explode + 64-min-agg form on the real corpus — same doc set (docs
    shorter than n have no signature in either form), same 64 int64
    values. This is the whole parity argument for the r14 rewrite
    (also verified at sf0.01: 0/500 mismatches)."""
    from hhek2sqlite_spark.operators.dedup import minhash_signatures
    from hhek2sqlite_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    agg = minhash_signatures(docs, kernel=False)
    ker = minhash_signatures(docs, kernel=True).withColumnRenamed(
        "signature", "sig_k"
    )
    assert agg.count() == ker.count()
    joined = agg.join(ker, "doc_id")
    assert joined.count() == agg.count()  # same doc set
    assert joined.filter("signature <> sig_k").count() == 0


def test_minhash_kernel_handles_short_and_null_docs(spark):
    """Docs whose NORMALIZED text is shorter than n yield no signature
    row (the agg form's explode produces zero rows for them); null
    text likewise."""
    from hhek2sqlite_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [
            (1, "short"),                      # < 8 chars normalized
            (2, None),
            (3, "   A   LONG   enough doc   "),  # normalized >= 8
            (4, "exactly8"),                   # == 8 -> one shingle
        ],
        "doc_id long, text string",
    )
    for kernel in (False, True):
        got = sorted(
            r["doc_id"]
            for r in minhash_signatures(docs, kernel=kernel).collect()
        )
        assert got == [3, 4], kernel


def test_minhash_kernel_plan_is_single_arrow_node(spark):
    """The kernel signature stage must be ONE ArrowEvalPython over the
    scan — no Generate (explode), no shingle-grain aggregate before
    the banding. Built from a FRESH in-memory corpus: the sf0.001
    parquet plan can be swapped for an InMemoryTableScan by another
    test's session-lived cache (the cache manager matches plan
    fragments), and the cached plan's own Arrow node then prints
    inside this plan's detail section."""
    from hhek2sqlite_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(i, f"document number {i} with enough text to shingle") for i in range(20)],
        "doc_id long, text string",
    )
    plan = _plan_text(minhash_signatures(docs, kernel=True))
    # count node headers, not mentions (each node prints twice in the
    # formatted text: tree line + detail section)
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, flags=re.M)) == 1, plan
    assert "Generate" not in plan, plan
    assert "HashAggregate" not in plan, plan


# --- NTILE re-plan under total key skew (VERDICT r13 #5) -----------------------


def test_order_value_ntile_single_priority_correct(spark):
    """Adversarial skew case: EVERY order carries one priority. The
    range-partition + pid-window re-plan must still produce exact ANSI
    NTILE buckets (first n%k buckets one row larger). 13 same-priority
    rows, 4 quartiles -> sizes 4,3,3,3. Wall-clock flatness at x8 is
    recorded in BASELINE.md (r14 measurement); this pins the
    correctness half of the claim."""
    import hhek2sqlite_spark.plans.extensions as ext
    import pyspark.sql.functions as F

    orders = spark.createDataFrame(
        [(i, "1-URGENT", float(1000 - i)) for i in range(13)],
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    )
    orig = ext.load_table
    try:
        ext.load_table = lambda _s, _d, n: {"orders": orders}[n]
        rows = ext.q_order_value_ntile(spark, "unused").collect()
    finally:
        ext.load_table = orig
    got = {
        (r["priority"], r["quartile"]): r["n_orders"] for r in rows
    }
    # 13 rows, 4 quartiles: remainder 1 -> sizes 4,3,3,3 (ANSI NTILE)
    sizes = [got[("1-URGENT", b)] for b in sorted(b for (_, b) in got)]
    assert sizes == [4, 3, 3, 3]
    assert sum(sizes) == 13
