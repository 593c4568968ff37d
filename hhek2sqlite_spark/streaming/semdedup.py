"""Streaming ingest-time semantic dedup (round 17, VERDICT r16 #7).

The batch-tier store loop (build_semdedup_store -> judge -> append)
composed into Structured Streaming: each micro-batch of embeddings is
judged against the persisted store PLUS every previously-ingested
micro-batch's admitted rows, and its own admitted rows are persisted
before the next batch arrives — crawl snapshots dedup against each
other continuously, with zero O(corpus) recomputation per batch.

Store layout under one root (all paths deterministic in batch_id):

    root/base/                      cell-partitioned store parquet,
                                    metadata row included
                                    (materialize_semdedup_store)
    root/delta/ingest_batch=N/      admitted rows of micro-batch N in
                                    store schema (never a seed, never
                                    a metadata row)
    root/decisions/ingest_batch=N/  the (vec_id, cell, admitted)
                                    decisions of micro-batch N — the
                                    stream's queryable output

EXACTLY-ONCE is by construction rather than by ledger (contrast
streaming/sink.py, where the SQLite target needs an (app_id, table,
batch_id) commit record because appends there are not replayable):
every write is an OVERWRITE of a batch-id-deterministic directory, and
the judge of batch N reads ONLY deltas with id < N. A replayed batch
therefore re-derives byte-equivalent content (the judge is
deterministic) into the same directories, and a partially-written
delta from a crash is simply overwritten by the replay before anything
ever reads it. The same property makes the handler IDEMPOTENT under
Spark's at-least-once foreachBatch contract.

Scale shape: per batch, assignment touches only batch vectors
(O(coarse_k) driver state via the store metadata), the base store is
the streamed/broadcast-probed side of one cell equi-join (prunable —
the base scan is cell-partitioned, so AUTO pruning pushes the batch's
cells as PartitionFilters on it), and deltas are batch-sized. The
delta count grows with stream lifetime; a maintenance pass compacts
root by rebuilding base from base+deltas (build amortized over the
batches since the last compaction) — the documented rebuild policy of
append_to_semdedup_store.

Reference anchor: the ingest loop of hhek2sqlite.go:235-273 (append
into the live store as rows arrive), lifted to the semantic tier and
micro-batch cadence.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from ..operators.similarity import (
    SEMDEDUP_STORE_DDL,
    _decisions_and_store_rows,
    _judge_batch_against_store,
    _record_router,
    _store_router,
    materialize_semdedup_store,
)
from ..operators.util import release_local_checkpoints

_DELTA_DIR_RE = re.compile(r"^ingest_batch=(\d+)$")


def init_semdedup_stream_store(store: DataFrame, root: str) -> DataFrame:
    """Materialize ``store`` as the stream's base relation
    (``root/base``, cell-partitioned, metadata row included). Refuses
    a seedless store loudly: the stream's append policy never promotes
    batch rows to seeds, so a seedless base would admit every batch
    unjudged forever (same contract as append_to_semdedup_store)."""
    if store.filter("is_seed = 1").limit(1).count() == 0:
        raise ValueError(
            "init_semdedup_stream_store: the store has no seeds — "
            "build_semdedup_store over a non-empty corpus first "
            "(streamed batches are never seeds, so a seedless base "
            "would admit everything forever)"
        )
    return materialize_semdedup_store(store, os.path.join(root, "base"))


def _batch_ids_under(path: str) -> list[int]:
    try:
        names = os.listdir(path)
    except OSError:
        return []
    ids = []
    for name in names:
        m = _DELTA_DIR_RE.match(name)
        if m:
            ids.append(int(m.group(1)))
    return sorted(ids)


def _delta_ids(root: str) -> list[int]:
    return _batch_ids_under(os.path.join(root, "delta"))


def open_semdedup_stream_store(
    spark: SparkSession, root: str, *, upto_batch_id: int | None = None
) -> DataFrame:
    """The judging relation at a point in the stream: base plus every
    persisted delta with id < ``upto_batch_id`` (all deltas when
    None). Excluding the current batch's own id is what makes REPLAY
    exact: a crashed batch N's partial delta directory is never read
    when N is re-judged. The base stays a cell-partitioned scan inside
    the union, so AUTO cell pruning still applies to it.

    r18 (guide §5, VERDICT r17 #4): the BASE's router (metadata +
    seed-router state) is recorded in the session memo under the
    returned relation's key — derived with driver jobs once per base
    version and reused by every micro-batch, instead of re-reading the
    metadata row and re-collecting the coarse seeds from the whole
    base+delta union per batch. Exact because deltas written by this
    module are admitted rows only (never seeds, never a metadata row —
    ``_decisions_and_store_rows`` pins both), so the union's router IS the
    base's; compaction rebuilds base (new file mtimes), which gives it
    a new leaf signature and so a fresh derivation."""
    base = spark.read.schema(SEMDEDUP_STORE_DDL).parquet(
        os.path.join(root, "base")
    ).select("vec_id", "cell", "eq", "n", "is_seed", "ccell")
    router = _store_router(base)
    store = base
    for i in _delta_ids(root):
        if upto_batch_id is not None and i >= upto_batch_id:
            continue
        delta = spark.read.schema(SEMDEDUP_STORE_DDL).parquet(
            os.path.join(root, "delta", f"ingest_batch={i}")
        )
        store = store.unionByName(delta)
    _record_router(store, router)
    return store


def judge_semdedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    root: str,
    tau_e6: int = 990_000,
    broadcast_batch: bool = True,
) -> None:
    """The foreachBatch handler body (callable directly for replay /
    backfill): judge ``batch_df`` against base + deltas < batch_id,
    overwrite ``decisions/ingest_batch=<id>`` and
    ``delta/ingest_batch=<id>``. Idempotent by deterministic-path
    overwrite (module docstring). Parameters (coarse_k/fine_salt) are
    ADOPTED from the base store's metadata row — a stream cannot drift
    from its store's cell structure.

    The handler runs the store-path judge and splits its result the
    way ``append_to_semdedup_store`` does
    (``_decisions_and_store_rows``): both per-batch writes are
    projections of ONE batch-grain materialization that already
    carries the admitted rows' quantized vectors (eq/n). A root whose
    base has no seeds (only reachable when assembled by hand — init
    refuses seedless bases) takes the same path: every batch vector
    is admitted with cell NULL and persisted with its eq/n."""
    spark = batch_df.sparkSession
    store = open_semdedup_stream_store(spark, root, upto_batch_id=batch_id)
    judged, assigned, _ = _judge_batch_against_store(
        store, batch_df, tau_e6=tau_e6, broadcast_batch=broadcast_batch
    )
    decisions, rows = _decisions_and_store_rows(judged, assigned)
    try:
        decisions.write.mode("overwrite").parquet(
            os.path.join(root, "decisions", f"ingest_batch={batch_id}")
        )
        rows.write.mode("overwrite").parquet(
            os.path.join(root, "delta", f"ingest_batch={batch_id}")
        )
    finally:
        release_local_checkpoints(decisions)


def compact_semdedup_stream_store(spark: SparkSession, root: str) -> int:
    """Fold every persisted delta into ``root/base`` and remove the
    delta directories — the maintenance pass that bounds the stream's
    delta count (module docstring's rebuild policy). Returns the
    number of deltas folded.

    Decisions directories are untouched (they are the stream's output
    history, not judge state). The base keeps its metadata row (deltas
    never carry one), and folded rows keep ``is_seed = 0`` — the cell
    structure stays the original build's, so judging after compaction
    is IDENTICAL to judging before (pinned by test).

    CONTRACT: run only while the stream is STOPPED after a clean drain
    (e.g. an availableNow run that terminated). Folding the delta of a
    batch whose commit never reached the stream checkpoint would make
    that batch's replay judge against its own rows — every row would
    reject itself as an exact duplicate. A clean drain guarantees every
    existing delta belongs to a committed batch, which is exactly the
    state availableNow exits in."""
    import shutil

    ids = _delta_ids(root)
    if not ids:
        return 0
    merged = open_semdedup_stream_store(spark, root)
    # write to a sibling then swap: the base must never be half-written
    # (materialize's overwrite would otherwise read-and-rewrite the very
    # directories it is replacing)
    tmp = os.path.join(root, "base_compact_tmp")
    materialize_semdedup_store(merged, tmp)
    base = os.path.join(root, "base")
    shutil.rmtree(base)
    os.rename(tmp, base)
    for i in ids:
        shutil.rmtree(os.path.join(root, "delta", f"ingest_batch={i}"))
    return len(ids)


def stream_semdedup_ingest(
    stream_df: DataFrame,
    *,
    root: str,
    checkpoint_dir: str,
    tau_e6: int = 990_000,
    broadcast_batch: bool = True,
    available_now: bool = True,
):
    """readStream of (vec_id, embedding) -> per-micro-batch judge +
    persist under ``root`` (init_semdedup_stream_store first).
    ``available_now=True`` drains everything currently in the source
    then stops (the batch-mode run of a streaming pipeline); pass
    False for a continuous run. Pair the source with
    ``maxFilesPerTrigger=1`` to get one micro-batch per arriving file
    — the crawl-snapshot cadence."""

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        judge_semdedup_batch(
            batch_df,
            batch_id,
            root=root,
            tau_e6=tau_e6,
            broadcast_batch=broadcast_batch,
        )

    writer = stream_df.writeStream.foreachBatch(_handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_semdedup_stream_decisions(
    spark: SparkSession, root: str
) -> DataFrame:
    """All decisions the stream has persisted so far, with their
    micro-batch id: (ingest_batch, vec_id, cell, admitted)."""
    from pyspark.sql import functions as F

    out = None
    for i in _batch_ids_under(os.path.join(root, "decisions")):
        d = spark.read.schema("vec_id long, cell long, admitted int").parquet(
            os.path.join(root, "decisions", f"ingest_batch={i}")
        ).withColumn("ingest_batch", F.lit(i).cast("long"))
        out = d if out is None else out.unionByName(d)
    if out is None:
        return spark.createDataFrame(
            [], "ingest_batch long, vec_id long, cell long, admitted int"
        )
    return out.select("ingest_batch", "vec_id", "cell", "admitted")
