"""Repo-wide bounded-driver-state contract (round 16, VERDICT r15 #2).

The r14 semantic_dedup weak flag (a K x dim seed matrix collected to the
driver, K growing with the corpus) survived three rounds because each
operator's collect was audited individually and nothing audited the
CLASS. This test generalizes the collect-spy pattern: every
``.collect()`` / ``.toPandas()`` / ``.toArrow()`` / ``.collectAsList()``
/ ``.toLocalIterator()`` call site in ``hhek2sqlite_spark/`` is
enumerated by AST (not substring — docstrings and comments don't count)
and must appear on the allowlist below, each entry carrying the
documented bound on what reaches the driver. A new collect site fails
this test until its bound is argued here; a removed site fails until
its stale entry is deleted (both directions asserted).

The bound taxonomy:
- O(1)/O(k) control plane: convergence scalars, caller-fixed model
  state, partition/stratum counts — driver state independent of the
  data volume (or bounded by a caller-fixed constant).
- container edge: single-FILE formats (.mdb, .db) whose writers are
  inherently single-node; all of them cross back to driver rows through
  one shared ``toArrow`` (sources/edge.py), which holds one whole table
  or one streaming micro-batch, columnar, in a single Spark job.
- test harness: parity comparison at fixture scale, never shipped.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "hhek2sqlite_spark"

METHODS = {"collect", "toPandas", "toArrow", "collectAsList", "toLocalIterator"}

# (relpath, enclosing-def chain, method) -> (site count, documented bound)
ALLOWLIST: dict[tuple[str, str, str], tuple[int, str]] = {
    ("operators/dedup.py", "star_connected_components._fingerprint", "collect"): (
        1,
        "O(1): a single (count, bit_xor hash) row per convergence round; "
        "rounds bounded O(log^2 n) by large-star/small-star",
    ),
    ("operators/dedup.py", "neardup_clusters", "collect"): (
        2,
        "O(1): one scalar label-sum per propagation round (monotone "
        "convergence check), never label rows",
    ),
    ("operators/pipeline.py", "_hash_prefilter", "collect"): (
        1,
        "O(#strata): the two-pass samplers' per-stratum survivor recount; "
        "strata are a categorical dimension, not data rows",
    ),
    ("operators/pipeline.py", "stratified_sample", "collect"): (
        1,
        "O(#strata): per-stratum counts for exact rate planning; strata "
        "are a categorical dimension, not data rows",
    ),
    ("operators/pipeline.py", "temperature_sample", "collect"): (
        1,
        "O(#languages): per-language counts for the temperature weights",
    ),
    ("operators/similarity.py", "train_ivf_centroids._means", "collect"): (
        1,
        "O(n_cells x dim): the centroid model per Lloyd round — "
        "caller-fixed K, model state not data",
    ),
    ("operators/similarity.py", "_derive_router", "collect"): (
        1,
        "the one seed-router collect of the SemDeDup family (in-corpus "
        "assignment and store router alike): two-level, O(coarse_k) rows "
        "via distributed top-k LIMIT — N-independent (the r14 weak-flag "
        "fix; pinned by the collect-spy test in test_round15_ops); "
        "one-level, O(K) seed rows — the LEGACY tier, valid only under a "
        "caller-fenced seed set (semantic_dedup asymptotics note)",
    ),
    (
        "operators/similarity.py",
        "_judge_batch_against_store",
        "collect",
    ): (
        1,
        "O(|batch|) distinct cell ids behind the prune_store_cells path "
        "(auto on cell-partitioned stores) — the broadcast_batch "
        "smallness premise made explicit as a static partition filter, "
        "capped at prune_cell_cap ids",
    ),
    (
        "operators/similarity.py",
        "read_semdedup_store_meta",
        "collect",
    ): (
        1,
        "O(1): the store's single metadata row (vec_id=-1) via a "
        "single-pass groupBy().agg (r18 — the old LIMIT 2 paid "
        "executeTake's escalating re-scans); the (cell, vec_id) filter "
        "pushes to the scan",
    ),
    ("plans/extensions.py", "q_order_value_ntile", "collect"): (
        1,
        "O(shuffle_partitions x n_priorities) count rows — the broadcast "
        "prefix-offset table of the scale-safe global-rank plan",
    ),
    ("sources/compact.py", "compact_parquet", "collect"): (
        1,
        "O(#hive-partition VALUES): control-plane row counts for file "
        "sizing, one row per partition value not per data row",
    ),
    ("sources/edge.py", "df_to_rows", "toArrow"): (
        1,
        "container edge: the one DataFrame -> driver rows crossing of every "
        "single-file writer (SQLite write_table, the Jet .mdb writer, the "
        "streaming SQLite sink) — O(one hhek database) for the writers, "
        "which collect every table at once, the scale read_database "
        "already holds as local relations, and O(one micro-batch) for the "
        "sink, sized by the stream's maxFilesPerTrigger/maxOffsetsPerTrigger",
    ),
    ("testing/parity.py", "run_parity", "toPandas"): (
        1,
        "test harness: oracle comparison materializes both sides at "
        "fixture scale; never a shipped query path",
    ),
}


def _enumerate_sites() -> dict[tuple[str, str, str], int]:
    found: dict[tuple[str, str, str], int] = {}
    for p in sorted(PKG.rglob("*.py")):
        tree = ast.parse(p.read_text())
        rel = str(p.relative_to(PKG))

        def walk(node: ast.AST, chain: tuple[str, ...]) -> None:
            for child in ast.iter_child_nodes(node):
                c = chain
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    c = chain + (child.name,)
                if (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in METHODS
                ):
                    key = (rel, ".".join(chain) or "<module>", child.func.attr)
                    found[key] = found.get(key, 0) + 1
                walk(child, c)

        walk(tree, ())
    return found


def test_every_collect_site_is_allowlisted_with_a_bound():
    found = _enumerate_sites()
    new = {k: n for k, n in found.items() if k not in ALLOWLIST}
    assert not new, (
        "collect-class call site(s) not on the bounded-driver-state "
        f"allowlist — document the bound or re-plan: {new}"
    )
    grown = {
        k: (n, ALLOWLIST[k][0])
        for k, n in found.items()
        if n > ALLOWLIST[k][0]
    }
    assert not grown, (
        "more collect sites than the allowlist records for "
        f"{{key: (found, allowed)}}: {grown}"
    )


def test_allowlist_has_no_stale_entries():
    found = _enumerate_sites()
    stale = {k: v for k, v in ALLOWLIST.items() if k not in found}
    assert not stale, f"allowlist entries with no surviving site: {stale}"


def test_every_bound_is_documented():
    for key, (count, bound) in ALLOWLIST.items():
        assert count >= 1, key
        assert len(bound) >= 20, (key, bound)
