"""Shared operator utilities: scan/shuffle shaping for scale.

``spread`` decouples CPU-heavy maps from scan splits; ``salted_join``
breaks hot-key skew that AQE's skew-join (which only splits oversized
*partitions*, not single hot keys within them) cannot always fix;
``materialize_access_path`` is the engine's reading of the reference's
15 secondary indexes (SURVEY.md 4.3): an index in a single-file database
becomes a partition + sort layout decision in a columnar lake.
``owned_result`` / ``release_local_checkpoints`` are the one release
path for the relations operators materialize while building a result.
"""

from __future__ import annotations

from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import SESSION_MEMO, plan_leaves


def spread(df: DataFrame) -> DataFrame:
    """One cheap round-robin shuffle of the raw rows so CPU-heavy map
    stages are not glued to the scan's split count (a single-row-group
    parquet file scans as ONE task no matter how many cores exist).
    ``SPARK_GRAFT_SPREAD=0`` makes it a no-op: at cluster scale, and in
    the multi-row-group fixture run, the input already has >= cores
    splits, and paying the extra shuffle there would mis-measure the
    cluster-layout plans."""
    import os

    if os.environ.get("SPARK_GRAFT_SPREAD", "1") == "0":
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    *,
    salt: int = 8,
    how: str = "inner",
    row_id_cols: Sequence[str] = (),
) -> DataFrame:
    """Equi-join resilient to a hot key on the big side: each big-side
    row gets a salt in [0, salt) so a hot key fans out over ``salt``
    join tasks instead of one. Correctness never depends on WHICH salt a
    row gets — the small side is EXPLODED over all salt values, so every
    (key, salt) combination matches. Cost: small side replicated x salt
    — use for genuinely small/dimension right sides.

    Salt derivation — pass ``row_id_cols`` whenever the fact table has
    a cheap always-present id column: the salt is then
    hash(key, *row_id_cols), which is LAYOUT-INDEPENDENT (spreads a hot
    key no matter how its rows are physically arranged) and stable on
    task retry (pure function of row values). Without it, the fallback
    hash(key, scan partition id) is cheap and retry-stable, but silently
    no-ops when a hot key's rows are CO-LOCATED in one scan partition
    (clustered/sorted input, or an upstream shuffle already partitioned
    by the key — the common skew layout): every row then shares one
    partition id, gets the same salt, and the hot key still lands in a
    single join task. Hashing the whole row would spread regardless but
    pays per-row hashing of every column on a wide fact table.

    Columns: result has big's columns plus small's non-key columns
    (pre-alias collisions away)."""
    overlap = [c for c in small.columns if c != key and c in big.columns]
    if overlap:
        raise ValueError(f"alias small-side columns first, collision: {overlap}")
    salt_src = (
        [F.col(c) for c in row_id_cols] if row_id_cols else [F.spark_partition_id()]
    )
    b = big.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(key), *salt_src), F.lit(salt))
    )
    s = small.withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    return b.join(s, [key, "_salt"], how).drop("_salt")


def materialize_access_path(
    df: DataFrame,
    path: str,
    *,
    partition_cols: Sequence[str] = (),
    sort_cols: Sequence[str] = (),
    target_partitions: int | None = None,
) -> None:
    """Write ``df`` laid out for a known access path: directory
    partitioning on ``partition_cols`` (readers prune whole directories —
    the analytic analog of the reference's by-account/by-date indexes,
    /root/reference/hhek2sqlite.go:428-452) and ``sort_cols`` ordering
    within files so min/max row-group stats make point/range scans skip
    pages. This is a write-time decision exactly like CREATE INDEX was."""
    out = df
    if partition_cols:
        n = (
            int(target_partitions)
            if target_partitions
            else df.sparkSession.sparkContext.defaultParallelism
        )
        out = out.repartition(n, *[F.col(c) for c in partition_cols])
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    writer = out.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


@contextmanager
def owned_result(df: DataFrame):
    """Owned-lifetime handle for an operator's result: every relation an
    operator builds during construction (``semantic_dedup``'s
    assignment, ``tfidf_topk``'s tf relation, the pair operators'
    signatures, fingerprints, buckets and band payload) is a
    ``localCheckpoint`` that lives in the result's plan, eager or lazy,
    so one release frees them all:

        with owned_result(semantic_dedup(emb, ...)) as out:
            out.agg(...).collect()
        # blocks freed here, exception or not

    A frame derived from the result (``.select``, ``.filter``, a join)
    still holds those checkpoints as plan leaves, so releasing it frees
    the same block sets. The yielded DataFrame must not be executed
    after the block exits (a local checkpoint is non-recomputable —
    Spark raises on access to freed blocks). Nesting is safe: release is
    per-plan and idempotent. test_round16_ops pins the flat-storage
    invariant by looping an eager operator 10x under this manager."""
    try:
        yield df
    finally:
        release_local_checkpoints(df)


def release_local_checkpoints(df: DataFrame) -> int:
    """Deterministically unpersist the block sets behind every
    ``localCheckpoint`` relation in ``df``'s plan: each is a
    ``LogicalRDD`` leaf of the analyzed plan, so one read of its leaves
    finds them all. This is the one release path for relations an
    operator materializes while building its result; the only state
    that outlives it is ``session.SESSION_MEMO``'s, where only the IVF
    index behind ``similarity_ivf`` holds Spark blocks; memo entries
    keyed on a released RDD go with it.

    Why explicit release exists at all: the checkpoint blocks are
    *supposed* to be reclaimed by Spark's ContextCleaner once the caller
    drops the DataFrame — and usually are — but reclamation hinges on
    the JVM seeing the RDD as weakly reachable, and a measured failure
    mode (round 10) is a stale reference in an idle JVM thread's stack
    frame pinning the RDD graph PAST any number of System.gc() calls
    until that thread happens to run again. On a long-lived session
    sweeping the registry hundreds of times (bench reps, parity sweeps,
    a notebook), "eventually, probably" is not a resource bound;
    explicit release is. The returned DataFrame must not be re-executed
    afterwards (a local checkpoint is non-recomputable by design —
    Spark raises on access to the freed blocks).

    Returns the number of distinct checkpointed RDDs unpersisted. Safe
    on any DataFrame: plans without LogicalRDD leaves release nothing,
    and unpersist on a non-persisted RDD is a no-op.
    """
    released: set[int] = set()
    for leaf in plan_leaves(df):
        if leaf.getClass().getSimpleName() != "LogicalRDD":
            continue
        # the same checkpoint relation appears once PER REFERENCE in the
        # plan (e.g. both sides of tfidf's self-join) — dedupe by RDD id
        # so the count means "distinct block sets freed"
        try:
            rdd = leaf.rdd()
            if rdd.id() not in released:
                rdd.unpersist(False)
                released.add(rdd.id())
        except Exception:  # noqa: BLE001 - best-effort per leaf
            pass
    if released:
        SESSION_MEMO.forget(released)
    return len(released)
