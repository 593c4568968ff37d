"""Similarity search and semantic dedup over embedding columns
(``array<float>``).

Search tiers, per the scale rule:
- ``brute_force_topk`` / ``brute_force_neardup_pairs``: exact cosine —
  O(|Q| x N) with the query side broadcast, so the big side streams
  through one scan, no shuffle of the corpus. The baseline/oracle path.
- ``ivf_topk``: approximate top-k over an inverted-file index —
  ``train_ivf_centroids`` (distributed Lloyd rounds, only the centroid
  matrix reaches the driver) and ``build_ivf_index`` assign every
  vector to a cell once; a query probes its ``n_probe`` nearest cells.
- ``lsh_bucket_pairs``: random-hyperplane LSH for all-pairs near-
  neighbor at corpus scale — candidates form only inside equal sign-
  buckets (equi-join on the bucket key), then exact cosine verifies.
  The quadratic work is bounded per bucket, which is the point of LSH.

SemDeDup (``semantic_dedup``, the ingest-time
``semantic_dedup_incremental``, and the corpus store:
``build_semdedup_store``, ``semantic_dedup_incremental_from_store``,
``append_to_semdedup_store``, ``materialize_semdedup_store``; the
streaming tier is ``streaming/semdedup.py``) is built from one
definition per decision: ``_quantize`` (embedding -> exact-integer
``eq`` and its norm ``n``), ``_derive_router`` (the seed router, the
family's one collect), ``_nearest_seed`` (the numpy argmax kernel),
``_assign`` (vectors -> cells, one-level or two-level, never
checkpointed), ``_judge`` (which same-cell vector removes which, the
precedence rule an argument) and ``_decisions_and_store_rows`` (a
judged batch -> its decisions plus its admitted store rows).

Similarities are emitted as ``sim_e6`` = round(cosine * 1e6) BIGINT:
integer outputs hash-match across engines (verified: 0/2475 mismatches
vs DuckDB at sf0.001), floats would not. All arithmetic is double after
an explicit cast from float — left-to-right array fold in both engines.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import SESSION_MEMO, leaf_signature, plan_leaves
from .util import release_local_checkpoints


def dot(a: Column, b: Column) -> Column:
    """Dot product via zip_with + left fold — JVM-side, no UDF.

    Measured note (round 2, sf0.1): an unrolled left-deep
    ``element_at(a,1)*element_at(b,1) + ...`` sum — the "obvious"
    de-interpreting rewrite — is 2.7x SLOWER than this fold (2.28s vs
    0.86s for similarity_topk) and blows whole-stage codegen past
    janino's 64 KB method limit when three of them land in one
    projection (the neardup filter), silently degrading the whole stage
    to interpreted eval. The HOF fold over primitive double arrays is
    the fast form in Spark 4; the real pairwise win is hoisting the
    norms out of the per-pair expression (see ``_sim_e6_prenorm``).
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def sim_e6(a: Column, b: Column) -> Column:
    """Engine-portable integer cosine: round(cos * 1e6)."""
    return F.round(cosine(a, b) * 1e6).cast("long")


def _sim_e6_prenorm(dot_ab: Column, norm_a: Column, norm_b: Column) -> Column:
    """sim_e6 with the norms supplied from precomputed columns.

    All pairwise operators below carry ``sqrt(dot(e,e))`` as a column on
    each SIDE of the join, so norms are computed once per VECTOR (N
    evaluations) instead of once per PAIR (N^2) — a 3x flop cut on every
    pairwise score, numerically identical to ``sim_e6`` (same dot, same
    sqrt, just hoisted to an earlier projection).
    """
    return F.round(dot_ab / (norm_a * norm_b) * 1e6).cast("long")


def _doubled(embeddings: DataFrame) -> DataFrame:
    """Cast to double and attach the per-vector L2 norm (see
    ``_sim_e6_prenorm`` for why the norm travels as a column)."""
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    return e.withColumn("n", F.sqrt(dot(F.col("e"), F.col("e"))))


def brute_force_topk(
    embeddings: DataFrame, *, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Exact top-k neighbors for queries (vec_id < n_queries) against the
    full corpus (self excluded). Query side is broadcast; ranking is a
    per-query window with deterministic (sim desc, vec_id) order."""
    e = _doubled(embeddings)
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe"), F.col("n").alias("qn")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(e)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            _sim_e6_prenorm(
                dot(F.col("qe"), F.col("e")), F.col("qn"), F.col("n")
            ).alias("sim_e6"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim_e6").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "sim_e6", "rank")
    )


def brute_force_neardup_pairs(
    embeddings: DataFrame, *, min_sim_e6: int = 400_000
) -> DataFrame:
    """Exact all-pairs near-duplicate detection: every (id_a < id_b) pair
    with cosine >= min_sim_e6/1e6. O(N^2) — this is the ORACLE TIER for
    small N and for auditing the LSH path's recall; at corpus scale use
    ``lsh_bucket_pairs`` (same output contract, sub-quadratic)."""
    e = _doubled(embeddings)
    a = e.select(
        F.col("vec_id").alias("id_a"), F.col("e").alias("ea"), F.col("n").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("id_b"), F.col("e").alias("eb"), F.col("n").alias("nb")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            _sim_e6_prenorm(
                dot(F.col("ea"), F.col("eb")), F.col("na"), F.col("nb")
            ).alias("sim_e6"),
        )
        .filter(F.col("sim_e6") >= min_sim_e6)
    )


def train_ivf_centroids(
    embeddings: DataFrame, *, n_cells: int = 16, n_iter: int = 2
) -> list[list[float]]:
    """Deterministic IVF coarse quantizer: initial cell = hash(vec_id) mod
    n_cells, then ``n_iter`` distributed Lloyd iterations (assign to the
    nearest current centroid, recompute means). Every pass is one
    posexplode + groupBy over the corpus; ONLY the centroid matrix
    (n_cells x dim floats — model state, not data) ever reaches the
    driver, so this trains the same way on 10^5 or 10^10 vectors."""
    e = _doubled(embeddings)

    def _means(assigned: DataFrame) -> list[list[float]]:
        rows = (
            assigned.select("cell", F.posexplode("e").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault(r.cell, {})[r.dim] = r.m
        # an empty corpus trains n_cells zero-length centroids, which
        # index and serve nothing
        dim = max((max(d) for d in by_cell.values()), default=-1) + 1
        # a cell can end up empty after reassignment — keep its previous
        # position implicitly by zeros (it will attract nothing)
        return [
            [by_cell.get(c, {}).get(i, 0.0) for i in range(dim)]
            for c in range(n_cells)
        ]

    assigned = e.withColumn("cell", F.pmod(F.xxhash64("vec_id"), F.lit(n_cells)))
    centroids = _means(assigned)
    for _ in range(n_iter):
        assigned = e.withColumn("cell", _nearest_cell(F.col("e"), centroids))
        centroids = _means(assigned)
    return centroids


def _nearest_cell(e: Column, centroids: list[list[float]]) -> Column:
    """argmin over squared L2 distance to each (broadcast-literal)
    centroid — a small fixed-width expression per row."""
    dists = [
        F.aggregate(
            F.zip_with(e, F.array(*[F.lit(v) for v in c]), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for c in centroids
    ]
    arr = F.array(*dists)
    return (F.array_position(arr, F.array_min(arr)) - 1).cast("int")


def build_ivf_index(
    embeddings: DataFrame, *, centroids: list[list[float]]
) -> DataFrame:
    """The IVF INDEX: every corpus vector assigned to its nearest
    centroid's inverted list — (vec_id, e, n, cell). Like quantizer
    training, this is offline index-BUILD work (assign once, serve many
    queries); callers serving repeated queries should cache/persist the
    result rather than re-deriving it per query. The assignment is the
    expensive row-local part of IVF (n_cells fold-distances per vector),
    which is exactly why real systems materialize it."""
    e = _doubled(embeddings)
    return e.withColumn("cell", _nearest_cell(F.col("e"), centroids))


def ivf_topk(
    embeddings: DataFrame,
    *,
    n_queries: int = 10,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
    indexed: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via IVF: vectors are bucketed by nearest
    centroid once (``indexed`` — pass a cached build_ivf_index result to
    amortize, else it is derived here); each query probes only its
    ``n_probe`` nearest cells (n_probe/n_cells of the corpus) with exact
    cosine + window rank inside the probed subset. Same output contract
    as brute_force_topk; recall rises with n_probe and equals exact
    search at n_probe == n_cells.

    Cell routing joins the queries against a BROADCAST centroid
    DataFrame (16 tiny rows here) instead of embedding the centroid
    matrix as plan literals: the literal form cost ~1.1s of DRIVER-side
    plan construction + analysis per query build (n_cells x dim F.lit
    py4j calls, a giant Catalyst tree — measured: rebuild 1.78s vs
    re-execute 0.64s at sf0.1) and would be impossible at a realistic
    n_cells=4096; the join form keeps the plan O(1) in n_cells."""
    if centroids is None:
        centroids = train_ivf_centroids(embeddings, n_cells=n_cells)
    if indexed is None:
        indexed = build_ivf_index(embeddings, centroids=centroids)

    q = indexed.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe"), F.col("n").alias("qn")
    )
    # per query: distance to every centroid (|Q| x n_cells rows via a
    # broadcast nested-loop join — model-sized), then keep the n_probe
    # nearest cells with a per-query rank
    cent_df = indexed.sparkSession.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    )
    cell_d = q.crossJoin(F.broadcast(cent_df)).select(
        "q_id",
        "qe",
        "qn",
        "cell",
        F.aggregate(
            F.zip_with(F.col("qe"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("d"),
    )
    probe_w = Window.partitionBy("q_id").orderBy(F.col("d").asc(), F.col("cell").asc())
    probes = (
        cell_d.withColumn("_pr", F.row_number().over(probe_w))
        .filter(F.col("_pr") <= n_probe)
        .select("q_id", "qe", "qn", "cell")
    )
    # the probe side is |Q| x n_probe rows — broadcast it so the corpus
    # index never shuffles on the (low-cardinality) cell key; without the
    # hint the equi-join hashes both sides onto n_cells partitions,
    # collapsing the scoring parallelism to n_cells tasks
    scored = (
        F.broadcast(probes).join(indexed, "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            _sim_e6_prenorm(
                dot(F.col("qe"), F.col("e")), F.col("qn"), F.col("n")
            ).alias("sim_e6"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim_e6").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "sim_e6", "rank")
    )


def label_centroids(
    embeddings: DataFrame, *, scale: int = 1 << 20, label_col: str = "label"
) -> DataFrame:
    """Grouped vector aggregation: per-label coordinate sums of the
    QUANTIZED embeddings plus the vector count — the exact, mergeable
    form of class centroids / mean-pooled prototype vectors (consumers
    divide sum_q / n_vectors / scale for the float mean). Quantizing to
    round(x * 2^20) first makes every per-dimension sum an exact int64
    (float32 coords are < 2^21 scaled; 10^9 vectors x 2^21 < 2^51), so
    the result is bit-identical in any engine and any summation order —
    the same trick that made the LSH sign bits oracle-pairable, applied
    to the aggregation that defeated float oracles for IVF centroids.

    Scale shape: posexplode then ONE shuffle on (label, dim) with
    map-side partial sums; output is |labels| x dim rows (model-sized).
    Returns (label, dim, n_vectors, sum_q)."""
    q = embeddings.select(
        F.col(label_col).alias("label"),
        F.posexplode(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.round(x * scale).cast("long"),
            )
        ).alias("dim", "qx"),
    )
    return q.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("qx").alias("sum_q"),
    )


def quantize_profile(embeddings: DataFrame, *, bits: int = 8) -> DataFrame:
    """Per-vector symmetric int quantization profile — the vector-store
    compression step (float32 -> int8 cuts an embedding corpus 4x). For
    each vector: scale = max|x| (symmetric range), code_i =
    round(x_i / scale * L) with L = 2^(bits-1) - 1, and the profile
    reports the max absolute reconstruction error |x - code*scale/L| —
    the number a pipeline monitors to pick ``bits``.

    Cross-engine exact WITHOUT integer tricks: every per-element step is
    a fixed sequence of IEEE ops on identical inputs, and both reported
    aggregates are MAX over dims (order-independent, unlike a float
    sum) — so the profile is oracle-pairable as-is. Row-local, zero
    shuffles. Returns (vec_id, scale_e6, max_err_e9)."""
    levels = (1 << (bits - 1)) - 1
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    staged = e.withColumn(
        "_s", F.array_max(F.transform(F.col("e"), lambda x: F.abs(x)))
    )
    err = F.array_max(
        F.transform(
            F.col("e"),
            lambda x: F.abs(
                x - F.round(x / F.col("_s") * levels) * F.col("_s") / levels
            ),
        )
    )
    return staged.select(
        "vec_id",
        F.round(F.col("_s") * 1e6).cast("long").alias("scale_e6"),
        F.round(err * 1e9).cast("long").alias("max_err_e9"),
    )


# vector coordinates are quantized to integers (round(x * 2^20)) before
# the hyperplane sign test: float32 inputs are < 2^21 after scaling, the
# plane coefficients are integers in [-10^6, 10^6], so every product is
# < 2^42 and the 64-term sum < 2^48 — EXACT in int64 and in double, so
# the sign bit is bit-identical in any engine (a float dot's sign can
# flip across engines when |dot| ~ summation-order epsilon; an integer
# dot's cannot). The quantization only perturbs the (random) hyperplane
# by < 2^-20 relative — LSH recall is indifferent.
_QUANT_SCALE = 1 << 20


def _hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[int]]:
    """Deterministic pseudo-random INTEGER hyperplanes in [-10^6, 10^6]
    (LCG, no numpy state dependence) — same constants every run/engine,
    embedded literally in both the Spark plan and the SQL oracle."""
    planes = []
    state = seed or 1
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append((state >> 20) % 2_000_001 - 1_000_000)  # [-1e6, 1e6]
        planes.append(row)
    return planes


def lsh_bucket_pairs(
    embeddings: DataFrame,
    *,
    n_bands: int = 16,
    band_bits: int = 4,
    dim: int = 64,
    min_sim_e6: int = 400_000,
    hamming_max: int | None = 34,
) -> DataFrame:
    """All-pairs near-neighbor at scale via banded random-hyperplane LSH
    (OR-construction): ``n_bands`` bands of ``band_bits`` sign bits each.
    A pair becomes a candidate if it collides in ANY band — recall for a
    pair with cosine c is 1-(1-p^r)^b with p = 1 - arccos(c)/pi (~94% at
    c=0.4 with b=16, r=4). Returns (id_a, id_b, sim_e6) with
    sim_e6 >= min_sim_e6.

    Round-6 lever — **SimHash Hamming prefilter at zero extra hashing
    cost**: the 64 sign bits are already computed for the band keys, so
    candidate occurrences are filtered by
    ``popcount(fp_a ^ fp_b) <= hamming_max`` BEFORE the dedup exchange
    and the exact-cosine verify. E[hamming] = 64*arccos(c)/pi: ~23.6 at
    the c=0.4 threshold vs ~32 for a random pair. hamming_max=34 (+2.7
    sigma above the threshold mean) kept ALL 869 verified pairs at
    sf0.1 (max observed hamming among them: exactly 34) while pruning
    ~17% of the 1.28M candidate pairs and ~12% of the 2.09M pre-dedup
    occurrences; theoretical recall loss for a pair AT the threshold is
    P(Binom(64, .369) > 34) ~ 0.2%. The identical filter runs in the
    SQL oracle (same integer sign bits), so parity is exact by
    construction, not by luck. The fingerprint is derived from the
    band-keys ARRAY in a second projection — deriving it from the raw
    ``bits`` expressions re-evaluates all 64 integer dots per join side
    (+2.1s at sf0.1, measured).

    **Behavior change (round 6)**: ``hamming_max`` defaults to 34 — a
    documented ~0.2%-at-threshold recall reduction vs the round-5
    no-prefilter behavior. Pass ``hamming_max=None`` to restore exact
    round-5 candidate generation.

    **Accepted operating point (round 7, measured)**: 34 is the
    provably tightest zero-loss threshold at sf0.1 — None→869 result
    pairs, 34→869, 30→849 (20 real pairs lost). The residual gap vs
    the single-process oracle is the low-similarity operating point
    itself (~1.1M surviving candidates for 869 true pairs at cosine
    0.4); see BASELINE.md round-7 notes.

    Scale notes: tune band_bits up as N grows (bucket size ~ N/2^r drives
    the per-band join fan-out); the band equi-join shuffles on (band, key)
    only, the pair dedup shuffles Hamming-surviving id-pairs, and the
    verify attaches vectors by broadcast — no cross join anywhere.
    """
    e = _doubled(embeddings)
    planes = _hyperplanes(n_bands * band_bits, dim)
    planes_np = np.array(planes, dtype=np.int64)
    # quantize once per vector, then every sign bit is an exact integer
    # dot (see _QUANT_SCALE note) — computed from the SAME literal plane
    # matrix the SQL oracle embeds.
    eq = F.transform(
        F.col("e"), lambda x: F.round(x * _QUANT_SCALE).cast("long")
    )
    # Round-8 rewrite: band keys + SimHash fingerprint in ONE
    # Arrow-batched numpy kernel instead of 64 zip_with/aggregate folds.
    # Higher-order functions are interpreted (never whole-stage
    # codegen'd), and the fold tree was this operator's dominant cost —
    # evaluated once per self-join SIDE on top of that. The int64 matmul
    # computes the IDENTICAL integers (every product < 2^42, every
    # partial sum < 2^48 — exact in int64 regardless of order), so the
    # sign bits, band keys, and fp halves are bit-identical to both the
    # fold form and the SQL oracle; parity is unaffected by
    # construction. Interleaved A/B at sf0.1 (this round, quiet box):
    # similarity_lsh 5.2s -> see BASELINE.md round-8.
    # Earlier measured counter-results this kernel supersedes, kept for
    # the record: minhash-style explode+SUM-agg bits were 2x SLOWER
    # than the folds (round 4, 11.5s vs 5.3s); deriving fp from raw
    # bit expressions re-evaluated every dot per join side (+2.1s,
    # round 6), which the struct-payload let_once binding fixed — the
    # numpy kernel sidesteps that whole binding discipline: Catalyst
    # extracts the UDF into a single ArrowEvalPython node, so the
    # payload is computed exactly once per side no matter how many
    # downstream references exist. Two 32-bit fp halves keep the
    # identical arithmetic in signed-BIGINT range in the SQL oracle.
    n_bits = n_bands * band_bits
    keys_per_half = max(1, 32 // band_bits)

    @F.pandas_udf("struct<keys: array<bigint>, lo: bigint, hi: bigint>")
    def _band_payload(eqs: pd.Series) -> pd.DataFrame:
        if not len(eqs):
            return pd.DataFrame(
                {
                    "keys": pd.Series([], dtype="object"),
                    "lo": pd.Series([], dtype="int64"),
                    "hi": pd.Series([], dtype="int64"),
                }
            )
        A = np.stack(eqs.values).astype(np.int64)
        sign = (A @ planes_np.T > 0).astype(np.int64)
        keys = np.zeros((len(A), n_bands), dtype=np.int64)
        for b in range(n_bands):
            for i in range(band_bits):
                keys[:, b] |= sign[:, b * band_bits + i] << i
        lo = np.zeros(len(A), dtype=np.int64)
        hi = np.zeros(len(A), dtype=np.int64)
        for b in range(n_bands):
            if b < keys_per_half:
                lo |= keys[:, b] << (b * band_bits)
            else:
                hi |= keys[:, b] << ((b - keys_per_half) * band_bits)
        return pd.DataFrame({"keys": list(keys), "lo": lo, "hi": hi})

    # asNondeterministic (r17, guide §4.4): the function is pure, but
    # marking it non-deterministic stops the optimizer DUPLICATING it —
    # the join-key nullability inference pushed an
    # isnotnull(lo)/isnotnull(hi) filter BELOW the spread exchange,
    # which re-evaluated the whole payload kernel on the unspread scan
    # (two ArrowEvalPython nodes per join side in the committed r16
    # plan, i.e. the 64-plane matmul ran twice per vector per side).
    # The kernel never emits NULL lo/hi, so the filter was a no-op that
    # doubled the dominant map stage.
    _band_payload = _band_payload.asNondeterministic()

    # materialize the N-row payload relation BEFORE the band explode
    # (r17, guide §4.2/§2.4 — the minhash_signatures precedent): both
    # self-join sides and the verify side read it, so without it the
    # 64-plane matmul ran once per side. Pre-explode placement keeps the
    # stored footprint at N rows (vec_id, eq, keys, lo, hi — fixed
    # width); the cheap codegen explode replays per consumer. Interleaved
    # A/B at sf0.1 (6 rounds, drop-1 medians): plain 2.79s /
    # post-explode 2.71s / pre-explode 2.39s for similarity_lsh, 1.29 /
    # 1.20 / 1.08 for the highsim point. A lazy local checkpoint (built
    # by the first action) lives in the result's plan, so releasing the
    # result or any frame derived from it frees the payload.
    payload = (
        e.withColumn("eq", eq)
        .withColumn("_p", _band_payload(F.col("eq")))
        .localCheckpoint(eager=False)
    )
    hashed = payload.select(
        "vec_id",
        F.posexplode(F.col("_p.keys")).alias("band", "key"),
        F.col("_p.lo").alias("_lo"),
        F.col("_p.hi").alias("_hi"),
    )
    # Measured counter-result (round 6, sf0.1, uncontended A/B):
    # broadcasting one side of this self-join (32k rows, above a
    # repartition so no size stats) is SLOWER than the shuffle join —
    # 6.1-6.5s vs 5.3-5.4s full-query — because the join's 2M-row
    # output then feeds the verify in the stream side's stage while the
    # shuffle form spreads the post-join work across the (band, key)
    # exchange's partitions. The plain equi-join stays.
    candidates = (
        hashed.alias("x")
        .join(hashed.alias("y"), ["band", "key"])
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
    )
    if hamming_max is not None:
        hamming = F.bit_count(
            F.col("x._lo").bitwiseXOR(F.col("y._lo"))
        ) + F.bit_count(F.col("x._hi").bitwiseXOR(F.col("y._hi")))
        candidates = candidates.filter(hamming <= hamming_max)
    candidates = candidates.select(
        F.col("x.vec_id").alias("id_a"), F.col("y.vec_id").alias("id_b")
    ).distinct()
    # Verify on the QUANTIZED integer vectors with an Arrow-batched
    # numpy kernel (round 6; interleaved A/B at sf0.1: fold 2.8s vs
    # numpy 2.0s full-query — the 64-step interpreted fold over 1M+
    # pairs was the single largest stage; the broadcast attach joins
    # themselves are free, measured ±0.05s vs a trivial projection).
    # Why this stays bit-exact across engines AND summation orders:
    # every eq element is an integer < 2^21, so each product < 2^42 and
    # every partial sum < 2^48 — exact in int64 and in float64, meaning
    # numpy's einsum, a sequential SQL fold, and DuckDB's
    # list_dot_product all produce the SAME integer. The only float ops
    # are 1e6*dq / (sqrt(na)*sqrt(nb)) and floor(x+0.5), performed in
    # the identical order both sides (floor(x+0.5), not banker's
    # round, so no half-to-even divergence). sim_e6 is therefore the
    # exact cosine of the quantized vectors — within 2e-6 of the float
    # cosine, and the SQL oracle computes the identical quantity.
    # derive the verify-side vectors from the checkpointed payload relation
    # (identical eq values — same expression) instead of re-scanning and
    # re-quantizing per broadcast side
    eqn = payload.select(
        "vec_id",
        "eq",
        F.aggregate(
            F.zip_with(F.col("eq"), F.col("eq"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("nq"),
    )
    ea = eqn.select(
        F.col("vec_id").alias("id_a"), F.col("eq").alias("qa"), F.col("nq").alias("na")
    )
    eb = eqn.select(
        F.col("vec_id").alias("id_b"), F.col("eq").alias("qb"), F.col("nq").alias("nb")
    )

    @F.pandas_udf("long")
    def _sim_q(qa: pd.Series, qb: pd.Series, na: pd.Series, nb: pd.Series) -> pd.Series:
        if not len(qa):
            return pd.Series([], dtype="int64")
        A = np.stack(qa.values)
        B = np.stack(qb.values)
        dq = np.einsum("ij,ij->i", A, B)  # exact: products < 2^42, sums < 2^48
        denom = np.sqrt(na.values.astype("float64")) * np.sqrt(nb.values.astype("float64"))
        # zero-norm guard: an all-zero quantized vector gives denom 0 ->
        # nan, and floor(nan).astype(int64) is platform-arbitrary (could
        # pass the sim filter). The pre-numpy column expression yielded
        # NULL there, which the filter dropped — mirror that with a
        # sentinel strictly below any min_sim_e6.
        x = np.where(denom > 0, 1e6 * dq / np.where(denom > 0, denom, 1.0), -2e6)
        return pd.Series(np.floor(x + 0.5).astype("int64"))

    # same §4.4 duplication as _band_payload above: the sim_e6 >=
    # min_sim_e6 filter is pushed below the projection, so the
    # committed r16 plan evaluated the verify matmul TWICE over every
    # candidate pair (two ArrowEvalPython nodes). Pure function, no
    # NULLs — the pushed copy gained nothing.
    _sim_q = _sim_q.asNondeterministic()

    # the verify joins attach vectors to ~N^2/2^r candidate pairs; the
    # vector side is dimension-sized (N rows) while candidates are the
    # fact side — broadcast the vectors so the candidate stream never
    # shuffles for the verify. The explicit hint matters: upstream
    # repartition/explode lose size stats, so Catalyst won't pick the
    # broadcast on its own. At corpus scales where N no longer fits a
    # broadcast, drop the hint and these become plain shuffle equi-joins.
    return (
        candidates.join(F.broadcast(ea), "id_a")
        .join(F.broadcast(eb), "id_b")
        .select(
            "id_a",
            "id_b",
            _sim_q(F.col("qa"), F.col("qb"), F.col("na"), F.col("nb")).alias("sim_e6"),
        )
        .filter(F.col("sim_e6") >= min_sim_e6)
    )


def _dot_long(a: Column, b: Column) -> Column:
    """Exact int64 dot product over quantized vectors (fold form).

    Every product of two _QUANT_SCALE-quantized coordinates is < 2^42
    and every 64-term partial sum < 2^48, so the result is an exact
    integer — identical to DuckDB's float64 ``list_dot_product`` over
    the same values (all partials < 2^53) and to numpy's int64 einsum,
    regardless of summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )



def _quantize(embeddings: DataFrame, *keep: str) -> DataFrame:
    """How an embedding becomes ``(vec_id, *keep, eq, n)``, the one
    quantize step of the SemDeDup family: every coordinate is rounded
    to the integer ``round(x * _QUANT_SCALE)`` and ``n`` is the L2 norm
    of that integer vector (its exact int64 dot, see ``_dot_long``).
    Corpus, store and batch vectors all pass through here, so they
    compare bit-for-bit; the DuckDB oracles repeat the same rounding."""
    q = embeddings.select(
        "vec_id",
        *keep,
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * _QUANT_SCALE).cast("long"),
        ).alias("eq"),
    )
    return q.withColumn("n", F.sqrt(_dot_long(F.col("eq"), F.col("eq")).cast("double")))


def _seed_pred(seed_stride: int, seed_max_id: int | None) -> Column:
    pred = F.col("vec_id") % seed_stride == 0
    return pred if seed_max_id is None else pred & (F.col("vec_id") < seed_max_id)

def semantic_dedup(
    embeddings: DataFrame,
    *,
    seed_stride: int = 64,
    seed_max_id: int | None = None,
    tau_e6: int = 990_000,
    coarse_k: int | None = None,
    fine_salt: int = 8,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition the embedding space with a coarse
    quantizer, then mark as removable every vector whose WITHIN-CELL
    cosine to a lower-id vector is >= tau — the modern training-data
    dedup tier between MinHash (lexical near-dup) and nothing
    (semantic near-dup: paraphrases, re-encodes, translations of the
    same content that share no shingles). Composition of shipped
    parts: the IVF cell idea from ``build_ivf_index`` + the
    keep-first policy of ``incremental_dedup``/``span_dedup``.

    DETERMINISTIC BY CONSTRUCTION so a SQL oracle can mirror it
    exactly (the reason this uses seed vectors rather than the Lloyd
    quantizer in ``train_ivf_centroids``: k-means converges to
    engine-identical centroids only by luck; seed cells are a pure
    function of the data). Semantics:

    - cells: the vectors with ``vec_id % seed_stride == 0`` (and
      ``vec_id < seed_max_id`` if given, to exclude injected test
      copies) are the cell seeds; a cell is IDENTIFIED BY ITS SEED'S
      vec_id (r15 change from 0-based ordinals: the seed id is just as
      deterministic, names the representative vector, and — the scale
      reason — needs ZERO computation, where the ordinal needed a
      global rank pass over the K-row seed relation: one extra
      checkpoint + counts job per invocation, ~1.3s of pure job floor
      at bench scale).
    - assignment: every vector goes to the seed with the highest
      quantized-integer cosine (sim_e6 = floor(1e6*dot/(na*nb)+0.5)
      over _QUANT_SCALE-quantized coordinates — exact integers in
      both engines, see ``_dot_long``), ties to the lowest cell.
    - dedup: within a cell, a vector is removable (kept = 0) iff some
      SAME-CELL vector with a LOWER vec_id has sim_e6 >= tau_e6.
    - two-level routing (``coarse_k`` set, round 15): the FIRST
      ``coarse_k`` seeds (by vec_id) are additionally the COARSE
      quantizer. Every vector routes to its argmax-cosine coarse seed
      (ties to the lowest coarse cell; a coarse seed always routes to
      its OWN coarse cell, so no coarse cell is seedless), and its
      fine cell is then the argmax over ONLY the fine seeds routed to
      the same coarse cell (ties to the lowest fine cell). With
      ``coarse_k`` >= the total seed count, every fine seed is its own
      coarse cell and the assignment degenerates to the one-level form
      (each coarse cell contains one fine seed) — exactly, UNLESS two
      coarse seeds are rounded exact duplicates (mutual sim_e6 =
      1,000,000): the coarse self-override then routes each to its OWN
      cell, so they land alone and escape each other's dedup, where
      one-level assigns the higher-id seed to the lower's cell and
      removes it (ADVICE r15 corner, pinned by
      test_two_level_duplicate_coarse_seeds — the SQL oracle carries
      the same override, so engine parity holds either way); with
      ``coarse_k=1`` the degeneracy IS exact (one coarse cell
      containing all fine seeds). In between it is the standard
      IVF approximation: a vector whose globally-nearest fine seed
      lives in a different coarse cell gets its best WITHIN-ROUTE seed
      instead — same recall trade as the paper's k-means cells.

    Returns (vec_id, cell BIGINT, kept) — one row per input vector;
    ``cell`` is the assigned seed's vec_id.

    Envelope (same class as span_dedup's id-width note): (1) inputs
    must have nonzero L2 norm — a zero quantized vector makes the
    cosine 0/0 and IEEE-NaN ordering is the one place the two engines'
    argmax/ORDER BY semantics are not defined to agree (the fixture
    corpus and any real embedding table satisfy this; a caller with
    possibly-zero rows should filter them first, the lsh_bucket_pairs
    `_sim_q` sentinel precedent). (2) coordinate magnitudes must be
    < 2.0: the exact-integer argument needs every quantized product
    < 2^42, i.e. |x * 2^20| < 2^21 — beyond it Spark's int64 wraps
    silently while DuckDB's float64 loses precision DIFFERENTLY, so
    parity would break without an error (unit-normalized or bounded
    embeddings — every real embedding table — satisfy this; clamp or
    rescale first otherwise).

    EAGER: construction runs Spark jobs (the coarse-seed top-k
    collect, the eager localCheckpoint of the assigned relation)
    rather than returning a fully lazy plan — the checkpoint
    is what lets three consumers share one N-row materialization.
    Repeated invocations in one session should release the checkpoint
    blocks once the result is consumed via
    ``operators.util.release_local_checkpoints(result)`` (bench.py and
    the parity harness do; ContextCleaner reclamation alone is
    nondeterministic — see release_local_checkpoints' round-10 note).

    Scale shape (100 TB): the seed count K = N/seed_stride GROWS WITH
    THE CORPUS, so per-cell population stays ~seed_stride and the
    within-cell pair work is N*seed_stride/2 — linear in N with a
    tunable constant, never all-pairs (the plan contract: every pair
    join carries the cell equi-key). ASSIGNMENT is where the flops
    live, and its asymptotics deserve stating exactly (ADVICE r14):

    - one-level (``coarse_k=None``): N*K*dim = N^2*dim/seed_stride
      total flops — QUADRATIC in the corpus even though each flop is
      a cheap BLAS int64 multiply (the x16 curve looks linear only
      because the BLAS constant is tiny at local scale), AND the full
      K x dim seed matrix is driver-collected and serialized into
      every Python worker (K grows with N: at 10^10 vectors,
      K ~ 1.6e8 seeds x dim x 8 B is hundreds of driver GB). Use only
      when K is bounded (a fenced seed id range) or the corpus is
      model-sized.
    - two-level (``coarse_k=k``): driver/closure state is the k x dim
      COARSE matrix — O(k), INDEPENDENT of N (the fix for the r14
      weak flag). Flops: N*k*dim (coarse routing matmul) +
      N*(K/k)*dim expected (fine matmul against the ~K/k seeds of the
      routed cell) = N*dim*(k + N/(seed_stride*k)); minimized at
      k ~ sqrt(N/seed_stride), where total work is
      N^1.5*dim/sqrt(seed_stride) — the standard IVF exponent; a
      deployment sizes k ~ sqrt(K) as FAISS sizes nlist ~ sqrt(N).
      Fine routing never touches the driver: fine seeds (already
      carrying their cell id = their own vec_id, no rank pass) meet
      their vectors in a SALTED COGROUP — each
      (coarse cell, salt) group is one Arrow task holding all ~K/k
      seeds of the cell but only ~N/(k*fine_salt) vectors, so a hot
      coarse cell fans out over fine_salt tasks instead of one
      (seeds are replicated x fine_salt; vectors are not). Per-task
      peak memory is the (block x cell_seeds) score matrix, blocked
      at _ASSIGN_BLOCK rows.

    The one-level kernel history (r14, the Q5 precedent): the first
    cut scored every (vector, seed) pair with an interpreted zip_with
    fold inside a broadcast nested-loop join; the x1/x4/x16 sign-flip
    series caught the quadratic (x6.8 wall for x4 data) and the
    re-plan to one Arrow int64 matmul read x16 22.45s -> 3.52s, ratio
    24.1 -> 1.14 (SCALING_SEMDEDUP.json). All kernels keep exact
    integer dots (products < 2^42, sums < 2^48) with
    argmax-first-index == the (sim DESC, cell ASC) tie rule, so the
    DuckDB oracle mirrors every tier bit-for-bit. The assigned
    relation feeds three consumers (both pair sides + the output), so
    it is localCheckpoint'ed once at N-row grain — the
    rare_token_share precedent. Cell skew (a dense semantic region)
    lands in one shuffle partition per hot cell; AQE skew-join splits
    the probe side, and seed_stride bounds the damage by construction.
    """
    q = _quantize(embeddings)
    assigned, _ = _assign(
        q, q.filter(_seed_pred(seed_stride, seed_max_id)), coarse_k, fine_salt
    )
    if assigned is None:  # no seeds at all
        return q.sparkSession.createDataFrame(
            [], "vec_id long, cell long, kept int"
        )
    assigned = assigned.localCheckpoint(eager=True)
    return _judge(
        assigned,
        assigned,
        tau_e6=tau_e6,
        precedence=F.col("id_a") < F.col("id_b"),
        flag="kept",
    ).select("vec_id", "cell", "kept")


# rows per blocked matmul inside the nearest-seed kernel: bounds the
# (block x seeds) float64 score matrix at ~8192*K*8 B per task
_ASSIGN_BLOCK = 8192


class _Router(NamedTuple):
    """Routing seeds in ascending vec_id order: their quantized vectors
    ``S`` (k x dim int64), norms ``sn`` and ``ids`` (= cell ids, so the
    first argmax is the lowest cell on a tie)."""

    S: np.ndarray
    sn: np.ndarray
    ids: np.ndarray


def _router(ids, eqs) -> _Router:
    S = np.stack(eqs).astype(np.int64)
    sn = np.sqrt(np.einsum("ij,ij->i", S, S).astype(np.float64))
    return _Router(S, sn, np.asarray(ids, dtype=np.int64))


def _derive_router(seeds: DataFrame, coarse_k: int | None) -> _Router | None:
    """How the router is derived from a seed relation ``(vec_id, eq[,
    ccell])`` — the one collect of the SemDeDup family, shared by the
    in-corpus assignment and ``_store_router``. Two-level (``coarse_k``
    set): the first ``coarse_k`` seeds by vec_id, a distributed top-k
    (TakeOrderedAndProject, no full sort), N-independent by the limit.
    One-level: ALL K seeds in vec_id order — O(K x dim) driver state,
    the bounded-K envelope (a caller-fenced seed set; see
    semantic_dedup's asymptotics note). None if no seed exists.

    A one-level router over seeds that carry a coarse route (a
    two-level store queried one-level) would assign batch vectors by
    global argmax while the store's cells are route-local — missed
    rejections with no error — so it raises; with a metadata row
    ``_resolve_store_params`` raises first, this is the backstop for
    pre-metadata stores."""
    ordered = seeds.orderBy("vec_id")
    if coarse_k is not None:
        ordered = ordered.limit(coarse_k)
    rows = ordered.collect()
    if not rows:
        return None
    if coarse_k is None and "ccell" in seeds.columns and any(
        r["ccell"] is not None for r in rows
    ):
        raise ValueError(
            "semantic_dedup_incremental_from_store: store was built "
            "two-level (seed ccell present) — pass the same coarse_k "
            "it was built with, not None"
        )
    return _router([r["vec_id"] for r in rows], [r["eq"] for r in rows])


def _nearest_seed(eqs: pd.Series, router: _Router) -> np.ndarray:
    """The nearest-seed kernel of every SemDeDup assignment (the
    one-level UDF, the coarse router and the fine cogroup): for each
    quantized vector, the id of the router seed with the highest
    sim_e6 = floor(1e6*dot/(na*sn) + 0.5). Dots are exact int64
    (products < 2^42, dim-term sums < 2^48), identical to ``_dot_long``
    and DuckDB's list_dot_product; the e6 rounding and the
    (1e6*dot)/(na*sn) operand order mirror the SQL oracles, so rounded
    ties break identically, and np.argmax takes the FIRST maximum over
    vec_id-ordered seeds == (sim DESC, cell ASC). Blocked at
    ``_ASSIGN_BLOCK`` rows."""
    out = np.empty(len(eqs), dtype=np.int64)
    if not len(eqs):
        return out
    A = np.stack(eqs.values).astype(np.int64)  # (B, dim)
    na = np.sqrt(np.einsum("ij,ij->i", A, A).astype(np.float64))
    for lo in range(0, len(A), _ASSIGN_BLOCK):
        hi = lo + _ASSIGN_BLOCK
        dots = A[lo:hi] @ router.S.T
        sims = np.floor((1e6 * dots) / (na[lo:hi, None] * router.sn[None, :]) + 0.5)
        out[lo:hi] = router.ids[np.argmax(sims, axis=1)]
    return out


def _coarse_route_udf(S: np.ndarray, sn: np.ndarray, ids: np.ndarray):
    """Arrow-batched coarse router over the fixed (k x dim) coarse
    matrix — the O(coarse_k) closure state that replaced the r14
    K x dim driver matrix. A coarse seed routes to its OWN cell
    (searchsorted membership), so no coarse cell is seedless."""
    router = _Router(S, sn, ids)

    @F.pandas_udf("long")
    def _route_coarse(vec_id: pd.Series, eqs: pd.Series) -> pd.Series:
        out = _nearest_seed(eqs, router)
        vid = vec_id.values.astype(np.int64)
        own = ids[np.minimum(np.searchsorted(ids, vid), len(ids) - 1)] == vid
        out[own] = vid[own]
        return pd.Series(out)

    return _route_coarse


def _assign(
    vectors: DataFrame,
    seeds: DataFrame,
    coarse_k: int | None,
    fine_salt: int,
    router: _Router | None = None,
) -> tuple[DataFrame | None, _Router | None]:
    """How vectors are assigned to cells — the one assignment path of
    the SemDeDup family (see semantic_dedup's docstring for semantics,
    flop asymptotics and tie rules). ``vectors`` ``(vec_id, eq, n,
    ...)`` keep every column and gain ``cell`` (the nearest seed's
    vec_id); under two-level routing (``coarse_k`` set) also ``ccell``,
    their coarse cell. ``seeds`` ``(vec_id, eq[, ccell])`` are the fine
    seeds; the router is derived from them (``_derive_router``) unless
    given — the store path passes its memoized router with the seeds'
    coarse routes persisted at build, in-corpus seeds are routed here.

    One-level: one Arrow UDF against the K router seeds. Two-level:
    the coarse UDF routes every vector, then the fine argmax runs as a
    salted cogroup — one Arrow task per (coarse cell, salt) holding
    that cell's full seed set but only ~1/fine_salt of its vectors, so
    a hot coarse cell fans out over fine_salt tasks (seeds are
    replicated x fine_salt; vectors are not).

    Returns ``(assigned, router)``, or ``(None, None)`` without seeds.
    Lazy: a caller whose result has several consumers checkpoints it."""
    if coarse_k is not None and coarse_k < 1:
        raise ValueError(f"coarse_k must be >= 1, got {coarse_k}")
    if coarse_k is not None and fine_salt < 1:
        raise ValueError(f"fine_salt must be >= 1, got {fine_salt}")
    if router is None:
        router = _derive_router(seeds.select("vec_id", "eq"), coarse_k)
        if router is None:
            return None, None
    if coarse_k is None:

        @F.pandas_udf("long")
        def _cell(eqs: pd.Series) -> pd.Series:
            return pd.Series(_nearest_seed(eqs, router))

        return vectors.withColumn("cell", _cell("eq")), router

    route = _coarse_route_udf(*router)
    v = vectors.withColumn("ccell", route("vec_id", "eq")).withColumn(
        "salt", F.pmod(F.col("vec_id"), F.lit(fine_salt)).cast("int")
    )
    if "ccell" not in seeds.columns:
        seeds = seeds.withColumn("ccell", route("vec_id", "eq"))
    # seeds replicated over every salt so each (ccell, salt) group
    # sees the FULL seed set of its coarse cell
    s = seeds.select(
        "ccell",
        F.col("vec_id").alias("cell"),
        F.col("eq").alias("seq"),
        F.explode(F.array(*[F.lit(i).cast("int") for i in range(fine_salt)])).alias(
            "salt"
        ),
    )

    def _fine(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        out = left.drop(columns="salt")
        if left.empty:
            return out.assign(cell=np.empty(0, dtype=np.int64))
        if right.empty:
            raise ValueError(
                "semantic_dedup: vectors routed to a coarse cell with no "
                "fine seeds — the coarse-seed self-override invariant broke"
            )
        r = right.sort_values("cell")
        return out.assign(
            cell=_nearest_seed(left["eq"], _router(r["cell"].values, r["seq"].values))
        )

    schema = ", ".join(f"{c} {t}" for c, t in v.dtypes if c != "salt")
    assigned = (
        v.groupBy("ccell", "salt")
        .cogroup(s.groupBy("ccell", "salt"))
        .applyInPandas(_fine, schema + ", cell bigint")
    )
    return assigned, router


def _judge(
    pool: DataFrame,
    probe: DataFrame,
    *,
    tau_e6: int,
    precedence: Column,
    flag: str,
    broadcast_probe: bool = False,
) -> DataFrame:
    """Which same-cell vector removes which — the one pair judge of the
    SemDeDup family. Returns ``probe`` (vec_id, cell, eq, n, ...) plus
    an int ``flag`` column: 0 iff some ``pool`` row of the same cell
    that ``precedence`` puts first has sim_e6 >= ``tau_e6``, else 1.
    ``precedence`` reads the pool row's ``id_a`` (and any other pool
    column, e.g. ``is_new``) and the probe row's ``id_b``. The pair
    join carries the cell equi-key, so the work is per cell, never
    all-pairs; ``broadcast_probe`` broadcasts the (small) probe side
    so the pool streams through a BroadcastHashJoin with no exchange."""
    a = pool.select(
        F.col("vec_id").alias("id_a"),
        "cell",
        F.col("eq").alias("ea"),
        F.col("n").alias("na"),
        *[c for c in pool.columns if c not in ("vec_id", "cell", "eq", "n")],
    )
    b = probe.select(
        F.col("vec_id").alias("id_b"),
        "cell",
        F.col("eq").alias("eb"),
        F.col("n").alias("nb"),
    )
    if broadcast_probe:
        b = F.broadcast(b)
    pair_sim = F.floor(
        F.lit(1e6)
        * _dot_long(F.col("ea"), F.col("eb")).cast("double")
        / (F.col("na") * F.col("nb"))
        + F.lit(0.5)
    ).cast("long")
    dups = (
        a.join(b, "cell")
        .filter(precedence)
        .filter(pair_sim >= tau_e6)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    return (
        probe.join(dups, "vec_id", "left")
        .withColumn(flag, F.when(F.col("_dup").isNull(), 1).otherwise(0).cast("int"))
        .drop("_dup")
    )


def _corpus_first() -> Column:
    """Ingest-time precedence: any corpus vector (``is_new`` 0), else
    a batch vector with a lower vec_id (keep-first within the batch)."""
    return (F.col("is_new") == 0) | (F.col("id_a") < F.col("id_b"))


def _bootstrap(bq: DataFrame) -> DataFrame:
    """Admit-all bootstrap (no corpus seeds — see
    semantic_dedup_incremental's BOOTSTRAP note): every quantized
    batch vector admitted with cell NULL, its eq/n kept for the store."""
    return bq.select(
        "vec_id",
        F.lit(None).cast("long").alias("cell"),
        "eq",
        "n",
        F.lit(1).alias("admitted"),
    )


def semantic_dedup_incremental(
    existing: DataFrame,
    batch: DataFrame,
    *,
    seed_stride: int = 64,
    seed_max_id: int | None = None,
    tau_e6: int = 990_000,
    coarse_k: int | None = None,
    fine_salt: int = 8,
) -> DataFrame:
    """Ingest-time SemDeDup (round 15): admit or reject an incoming
    BATCH against an EXISTING corpus — the production shape of
    semantic dedup (a crawl snapshot arrives; everything already in
    the training set stays, only the new data is filtered). The
    ``incremental_dedup`` (exact-fingerprint) precedent, lifted to the
    semantic tier.

    Semantics (deterministic; ``semantic_dedup``'s quantized-int
    cosine, cell = seed vec_id, and tie rules throughout):

    - seeds are drawn from the EXISTING side only (``vec_id %
      seed_stride == 0``, ``is_new = 0``, optional ``seed_max_id``
      fence) — the incoming batch must not move the cell structure,
      or re-ingesting the same batch twice could change assignments.
    - every vector (existing and batch) is assigned to a cell
      (one-level or two-level per ``coarse_k``, identical to
      ``semantic_dedup``).
    - a batch vector is rejected (admitted = 0) iff some SAME-CELL
      vector with HIGHER PRECEDENCE has sim_e6 >= tau_e6, where
      precedence is: any existing vector, else a batch vector with a
      lower vec_id (keep-first within the batch, matching
      ``incremental_dedup``'s within-batch rule).
    - existing vectors are never re-judged (all kept by definition —
      they are the corpus); the output has one row per BATCH vector:
      (vec_id, cell BIGINT, admitted int).
    - BOOTSTRAP (no existing seeds — empty corpus, or nothing matching
      the seed predicate): the entire batch is admitted with cell NULL
      (still one row per batch vector; first ingest seeds the corpus).
      Within-batch near-dups are not judged in this one case — there
      is no cell structure to judge in. SQL_SEMDEDUP_INCREMENTAL
      mirrors the same branch.

    Envelope: vec_ids must be globally unique ACROSS both inputs (the
    precedence rule cannot break existing-vs-batch ties); plus
    ``semantic_dedup``'s nonzero-norm and |x| < 2.0 bounds.

    Scale shape: identical to ``semantic_dedup`` (same assignment
    plan, same cell-keyed pair join) except the pair probe side is
    batch-only — at a steady-state pipeline where |batch| << |corpus|
    the pair stage is corpus-rows x ~stride/cell work on the build
    side but only batch-rows on the probe/output side. EAGER like
    semantic_dedup; release via release_local_checkpoints.
    """
    q = _quantize(
        existing.select("vec_id", "embedding", F.lit(0).alias("is_new")).unionByName(
            batch.select("vec_id", "embedding", F.lit(1).alias("is_new"))
        ),
        "is_new",
    )
    seeds = q.filter(_seed_pred(seed_stride, seed_max_id) & (F.col("is_new") == 0))
    assigned, _ = _assign(q, seeds, coarse_k, fine_salt)
    if assigned is None:
        # BOOTSTRAP (ADVICE r15): no existing seeds — empty corpus, or no
        # existing vec_id % seed_stride == 0 — means no cell structure to
        # judge in. The contract is still one row per BATCH vector, so the
        # whole batch is ADMITTED (cell NULL): first ingest seeds the
        # corpus rather than silently vanishing. Within-batch near-dups
        # are NOT judged here (there are no cells to judge in) — the next
        # batch sees this one as corpus and dedups normally.
        bq = q.filter(F.col("is_new") == 1)
        return _bootstrap(bq).select("vec_id", "cell", "admitted")
    assigned = assigned.localCheckpoint(eager=True)
    return _judge(
        assigned,
        assigned.filter(F.col("is_new") == 1),
        tau_e6=tau_e6,
        precedence=_corpus_first(),
        flag="admitted",
    ).select("vec_id", "cell", "admitted")


# ---------------------------------------------------------------------------
# Persisted corpus-side state for ingest-time semantic dedup (round 16)
# ---------------------------------------------------------------------------

# the materialized relation build_semdedup_store produces and
# semantic_dedup_incremental_from_store consumes
SEMDEDUP_STORE_DDL = (
    "vec_id long, cell long, eq array<long>, n double, is_seed int, ccell long"
)

# --- store metadata channel (round 17, VERDICT r16 #2 / ADVICE r16) ----------
#
# The r16 store carried no record of its own build parameters, so querying
# with a different coarse_k than the build's silently judged batch vectors
# against the wrong cell structure (missed rejections, no error) — the one
# mismatch the r16 guards could not see. The store now carries ONE metadata
# row inside its own schema (no sidecar file — the channel survives any
# medium the relation does: parquet, partitionBy("cell"), unions):
#
#   vec_id = -1 (STORE_META_VEC_ID — reserved; corpus vec_ids are >= 0),
#   cell   = -1 (never a real cell id: cells are seed vec_ids >= 0, so the
#                meta row is invisible to the cell equi-join and lands in
#                its own cell=-1 directory under partitionBy("cell")),
#   is_seed = -1 (excluded by the is_seed == 1 seed filter),
#   eq     = [format_version, seed_stride, seed_max_id (-1 = None),
#             coarse_k (-1 = one-level), fine_salt, quant_scale],
#   n / ccell = NULL.
#
# Readers validate coarse_k against it (correctness-by-construction) or
# ADOPT the recorded parameters outright; see read_semdedup_store_meta.
SEMDEDUP_STORE_FORMAT_VERSION = 1
STORE_META_VEC_ID = -1
_STORE_META_CELL = -1


class _AdoptFromStoreMeta:
    def __repr__(self) -> str:  # pragma: no cover - repr only
        return "<ADOPT_FROM_STORE: read the parameter from store metadata>"


# default for semantic_dedup_incremental_from_store / append_to_semdedup_store
# parameters: adopt the value the store was built with (from its metadata
# row). Pass an explicit value instead to have it VALIDATED against the
# store's metadata (mismatch raises) — or, on a pre-metadata store, to
# supply the parameters the legacy caller contract required.
ADOPT_FROM_STORE = _AdoptFromStoreMeta()

# --- the store router (round 17; one memoized derivation) -------------------
#
# A judge call routes a batch against the store's build parameters (its
# metadata row) and seed router (``_derive_router``): the coarse matrix
# (two-level) or every seed (one-level). Deriving them from the relation costs two
# serial driver jobs, the metadata read and the seed collect, so
# _store_router derives them once per store version and records them in
# SESSION_MEMO under the store's leaf signature (checked with sameResult:
# a filtered relation over the same files can see another seed set).
# build_semdedup_store, append_to_semdedup_store and the streaming tier's
# open_semdedup_stream_store record the router they already know under
# their result's key instead: appended rows are never seeds and never a
# metadata row, so an extended store's router IS its base's. A store
# without a metadata row is never memoized (its router depends on the
# caller's coarse_k). One-level routers hold the K seed rows, the
# bounded-K envelope the one-level tier already requires.


class _StoreRouter(NamedTuple):
    meta: dict | None
    # the store's _derive_router result: the coarse seeds of a
    # two-level store, every seed of a one-level store (whose router is
    # the whole assignment); None without seeds
    coarse: _Router | None


def _record_router(store: DataFrame, router: _StoreRouter) -> None:
    sig = leaf_signature(store)
    if sig is not None and router.meta is not None:
        plan = store._jdf.queryExecution().analyzed()
        SESSION_MEMO.put(store.sparkSession, "semdedup.router", sig, router, plan)


def _store_router(store: DataFrame, coarse_k=ADOPT_FROM_STORE) -> _StoreRouter:
    """The store's router: the memo's entry, or one derivation from the
    relation (metadata read, then ``_derive_router`` over the store's
    seed rows). ``coarse_k`` only matters for a store without a
    metadata row, whose router is then empty unless ``coarse_k`` is
    given (``_resolve_store_params`` raises for it)."""
    sig = leaf_signature(store)
    if sig is not None:
        plan = store._jdf.queryExecution().analyzed()
        hit = SESSION_MEMO.get(store.sparkSession, "semdedup.router", sig, plan=plan)
        if hit is not None:
            return hit
    meta = read_semdedup_store_meta(store)
    if meta is not None:
        coarse_k = meta["coarse_k"]
    elif coarse_k is ADOPT_FROM_STORE:
        return _StoreRouter(None, None)
    seeds = store.filter(
        (F.col("vec_id") != STORE_META_VEC_ID) & (F.col("is_seed") == 1)
    ).select("vec_id", "eq", "ccell")
    router = _StoreRouter(meta, _derive_router(seeds, coarse_k))
    _record_router(store, router)
    return router


def _meta_eq(
    seed_stride: int, seed_max_id: int | None, coarse_k: int | None, fine_salt: int
) -> list[int]:
    """The metadata row's ``eq`` payload (layout above)."""
    return [
        SEMDEDUP_STORE_FORMAT_VERSION,
        seed_stride,
        -1 if seed_max_id is None else seed_max_id,
        -1 if coarse_k is None else coarse_k,
        fine_salt,
        _QUANT_SCALE,
    ]


def _meta_of(eq: list[int]) -> dict:
    return {
        "format_version": int(eq[0]),
        "seed_stride": int(eq[1]),
        "seed_max_id": None if eq[2] == -1 else int(eq[2]),
        "coarse_k": None if eq[3] == -1 else int(eq[3]),
        "fine_salt": int(eq[4]),
        "quant_scale": int(eq[5]),
    }


def read_semdedup_store_meta(store: DataFrame) -> dict | None:
    """Read the store's build parameters from its metadata row (round
    17). Returns ``{format_version, seed_stride, seed_max_id, coarse_k,
    fine_salt, quant_scale}`` (None where the build passed None), or
    None for a pre-metadata store (r16 layout, or a hand-assembled
    relation). O(1) driver rows; the (cell, vec_id) filter pushes to
    the scan — on a cell-partitioned store it prunes to the single
    cell=-1 directory.

    r18 (guide §5, VERDICT r17 #3): ONE single-pass aggregate job
    instead of ``limit(2).collect()``. The limit ran under
    executeTake's escalating partition scans, and because a well-formed
    store has exactly ONE metadata row the take never filled, so every
    read re-scanned the whole (filtered) relation in ~4 escalation
    rounds of serial driver jobs. The aggregate reads the same filtered
    relation once; >1-row detection (the unioned-stores guard) comes
    from the count for free."""
    agg = (
        store.filter(
            (F.col("cell") == _STORE_META_CELL)
            & (F.col("vec_id") == STORE_META_VEC_ID)
        )
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_meta"),
            F.collect_list("eq").alias("eqs"),
        )
        .collect()[0]
    )
    if agg["n_meta"] == 0:
        return None
    if agg["n_meta"] > 1:
        raise ValueError(
            "semdedup store carries more than one metadata row (vec_id=-1) "
            "— was a store unioned with another store instead of appended "
            "via append_to_semdedup_store?"
        )
    # collect_list drops NULL arrays, so a malformed NULL-eq meta row
    # surfaces as the same empty list the limit path produced
    eq = list(agg["eqs"][0] if agg["eqs"] else [])
    if len(eq) != 6:
        raise ValueError(
            f"semdedup store metadata row is malformed (expected 6 fields, "
            f"got {len(eq)}): {eq}"
        )
    if eq[0] != SEMDEDUP_STORE_FORMAT_VERSION:
        raise ValueError(
            f"semdedup store format version {eq[0]} is not supported "
            f"(this build reads version {SEMDEDUP_STORE_FORMAT_VERSION})"
        )
    return _meta_of(eq)


def _resolve_store_params(meta: dict | None, coarse_k, fine_salt):
    """Resolve/validate the query-side (coarse_k, fine_salt) against the
    store's metadata. coarse_k determines the CELL STRUCTURE, so an
    explicit value that contradicts the metadata raises (the r16
    'mismatch no cheap check can see', now caught by construction);
    fine_salt is an execution knob only (each vector is judged against
    its coarse cell's FULL seed set whatever the salt), so it is
    adopted but never validated."""
    if meta is None:
        if coarse_k is ADOPT_FROM_STORE:
            raise ValueError(
                "this semdedup store carries no metadata row (pre-r17 "
                "layout or hand-built relation): pass coarse_k "
                "explicitly, matching the store build"
            )
        if fine_salt is ADOPT_FROM_STORE:
            fine_salt = 8  # legacy default — execution knob, not structure
        return coarse_k, fine_salt
    if coarse_k is ADOPT_FROM_STORE:
        coarse_k = meta["coarse_k"]
    elif coarse_k != meta["coarse_k"]:
        built = (
            f"two-level (coarse_k={meta['coarse_k']})"
            if meta["coarse_k"] is not None
            else "one-level (coarse_k=None)"
        )
        raise ValueError(
            f"semdedup store metadata mismatch: the store was built "
            f"{built} but the caller passed coarse_k={coarse_k!r} — the "
            f"cell structure is a function of the build's coarse_k, so "
            f"querying with a different value silently mis-assigns the "
            f"batch (omit the parameter to adopt the store's)"
        )
    if fine_salt is ADOPT_FROM_STORE:
        fine_salt = meta["fine_salt"]
    return coarse_k, fine_salt


def build_semdedup_store(
    existing: DataFrame,
    *,
    seed_stride: int = 64,
    seed_max_id: int | None = None,
    coarse_k: int | None = None,
    fine_salt: int = 8,
) -> DataFrame:
    """Materialize the corpus-side state of ingest-time SemDeDup — the
    semantic tier's ``fingerprint_store`` (round 16, VERDICT r15 #1):
    instead of re-assigning the WHOLE corpus on every batch
    (``semantic_dedup_incremental``'s recompute shape, O(|corpus|)
    flops per batch), a pipeline builds this relation ONCE per corpus
    version, writes it cell-partitioned (e.g. ``materialize_access_path``
    bucketed by ``cell``), and each batch runs
    ``semantic_dedup_incremental_from_store`` against it — paying only
    O(|batch|) assignment flops plus one store-side streamed join.

    Columns (``SEMDEDUP_STORE_DDL``):

    - ``vec_id, cell`` — the corpus assignment, IDENTICAL to what
      ``semantic_dedup_incremental`` computes for the existing side
      (same seed rule, same one-/two-level routing, same tie rules).
    - ``eq, n`` — the quantized vector and its norm, persisted so a
      batch NEVER re-reads or re-quantizes corpus embeddings.
    - ``is_seed`` — the seed predicate (``vec_id % seed_stride == 0``,
      optional ``seed_max_id`` fence), pinned at build time so the
      store owns its seed set.
    - ``ccell`` — for seed rows under two-level routing, the seed's
      coarse cell (NULL otherwise / under one-level): persisting it
      means a batch routes ONLY its own vectors — the K corpus seeds
      arrive pre-routed.

    The store records its own build parameters in a METADATA ROW
    (round 17 — see the channel comment above ``STORE_META_VEC_ID``):
    readers adopt or validate ``coarse_k``/``fine_salt`` against it
    instead of relying on a docstring contract. Corpus vec_ids must be
    >= 0 (vec_id -1 is the reserved metadata sentinel).

    Empty corpus (or no vec_id matching the seed rule): returns a
    metadata-only store (zero data rows), and the batch path
    bootstraps (admit-all, cell NULL) exactly like
    ``semantic_dedup_incremental``.

    EAGER: the finished store relation (data + metadata row) is
    localCheckpoint'ed ONCE at store grain (r17 — the shared
    ``_assign`` never checkpoints, so the corpus is materialized once,
    not twice). The store-grain leaf is the scale point: every consumer of
    a store relation (the metadata read, the seed collect, the pair
    probe of EACH judged batch) previously re-evaluated the lazy
    assignment→seed-route-join→union pipeline per reference — ~5 plan
    evaluations per judge call, each re-scanning the corpus for the
    seed route. Now they all read one materialized leaf, which also
    mirrors what the parquet round-trip (materialize_semdedup_store)
    gives a production deployment for free. Release via
    ``release_local_checkpoints`` once written/consumed.
    """
    q = _quantize(existing)
    seed_pred = _seed_pred(seed_stride, seed_max_id)
    eq = _meta_eq(seed_stride, seed_max_id, coarse_k, fine_salt)
    meta = q.sparkSession.createDataFrame(
        [(STORE_META_VEC_ID, _STORE_META_CELL, eq, None, -1, None)],
        SEMDEDUP_STORE_DDL,
    )
    # the router derived for the assignment is the store's (r17):
    # recorded under the store's key, judge calls against it skip the
    # metadata-read and seed-collect driver jobs
    assigned, router = _assign(q, q.filter(seed_pred), coarse_k, fine_salt)
    router = _StoreRouter(_meta_of(eq), router)
    if assigned is None:
        _record_router(meta, router)
        return meta
    # ccell is persisted for SEED rows only (NULL otherwise / one-level):
    # the two-level assignment carries each vector's coarse route, so
    # the store plan needs no seed-route join (guide §2.4)
    ccell = F.lit(None) if coarse_k is None else F.when(seed_pred, F.col("ccell"))
    data = assigned.select(
        "vec_id",
        "cell",
        "eq",
        "n",
        F.when(seed_pred, 1).otherwise(0).cast("int").alias("is_seed"),
        ccell.cast("long").alias("ccell"),
    )
    store = data.unionByName(meta).localCheckpoint(eager=True)
    _record_router(store, router)
    return store


def _store_is_cell_partitioned(store: DataFrame) -> bool:
    """Detect whether ``store`` scans a file source PARTITIONED BY
    ``cell`` — the auto-enable signal for ``prune_store_cells`` (round
    17, VERDICT r16 #3). Reads the analyzed plan's leaves and looks for
    a HadoopFsRelation whose partition schema contains ``cell``; a store
    without one (in-memory, or no readable plan) is False — i.e. the
    streamed-scan default, never a wrong answer (pruning is a
    performance path; the cell filter it pushes is exact by
    construction either way)."""
    for leaf in plan_leaves(store):
        if (
            leaf.getClass().getSimpleName() == "LogicalRelation"
            and "HadoopFsRelation" in leaf.relation().getClass().getName()
            and "cell" in list(leaf.relation().partitionSchema().fieldNames())
        ):
            return True
    return False


def _judge_batch_against_store(
    store: DataFrame,
    batch: DataFrame,
    *,
    tau_e6: int,
    coarse_k=ADOPT_FROM_STORE,
    fine_salt=ADOPT_FROM_STORE,
    broadcast_batch: bool = True,
    prune_store_cells: bool | None = None,
    prune_cell_cap: int = 10_000,
) -> tuple[DataFrame, DataFrame | None, _StoreRouter]:
    """The store-path judge shared by ``semantic_dedup_incremental_from_store``
    (see it for the semantics and scale contract),
    ``append_to_semdedup_store`` and the streaming handler. Resolves
    the store's router and parameters, then returns ``(judged,
    assigned, router)``: ``judged`` has one row per batch vector with
    (vec_id, cell, eq, n, admitted) — the decisions PLUS the quantized
    vector, so ``_decisions_and_store_rows`` derives both outputs from
    one materialization; ``assigned`` is the batch assignment's
    checkpoint that ``judged`` reads, None on the bootstrap branch (no
    store seeds: ``judged`` admits every batch vector, cell NULL)."""
    router = _store_router(store, coarse_k)
    coarse_k, fine_salt = _resolve_store_params(router.meta, coarse_k, fine_salt)
    bq = _quantize(batch)
    if router.coarse is None:
        return _bootstrap(bq), None, router
    # the metadata row (vec_id = -1) is control state, not corpus data:
    # keep it out of the seed set (is_seed = -1 already does) AND the
    # pair probe side
    data_store = store.filter(F.col("vec_id") != STORE_META_VEC_ID)
    assigned, _ = _assign(
        bq, data_store.filter(F.col("is_seed") == 1), coarse_k, fine_salt, router.coarse
    )
    assigned = assigned.localCheckpoint(eager=True)
    if prune_store_cells is None:
        # auto (VERDICT r16 #3): prune when the store scan is actually
        # cell-partitioned — the only case where the IN-list becomes a
        # partition filter and saves I/O
        prune_store_cells = _store_is_cell_partitioned(store)
    pair_store = data_store
    if prune_store_cells:
        # O(|batch|) driver rows (distinct cells <= batch size — the
        # broadcast_batch smallness premise made explicit), pushed as a
        # STATIC partition filter so a cell-partitioned store scans
        # only the touched directories
        cells = [r["cell"] for r in assigned.select("cell").distinct().collect()]
        if cells and len(cells) <= prune_cell_cap:
            pair_store = data_store.filter(F.col("cell").isin(cells))
        # else (ADVICE r16): an empty batch touches no cells (the join
        # output is empty regardless — skip the degenerate empty IN),
        # and a batch touching more distinct cells than prune_cell_cap
        # would bloat the Catalyst plan with the literal list for
        # little pruning gain — fall back to the streamed full scan
    pool = pair_store.select("vec_id", "cell", "eq", "n", F.lit(0).alias("is_new"))
    pool = pool.unionByName(
        assigned.select("vec_id", "cell", "eq", "n", F.lit(1).alias("is_new"))
    )
    judged = _judge(
        pool,
        assigned,
        tau_e6=tau_e6,
        precedence=_corpus_first(),
        flag="admitted",
        broadcast_probe=broadcast_batch,
    ).select("vec_id", "cell", "eq", "n", "admitted")
    return judged, assigned, router


def _decisions_and_store_rows(
    judged: DataFrame, assigned: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """How a judged batch becomes its outputs, shared by the append and
    the streaming handler: ONE batch-sized eager checkpoint of
    ``judged`` (r18, VERDICT r17 #3), then the decisions (vec_id, cell,
    admitted) and the admitted rows in store schema as projections of
    it, so neither output re-runs the pair join. Store rows reuse the
    judge's eq/n (no re-quantization), are never seeds (``is_seed`` 0,
    the frozen build-time cell structure) and never a metadata row
    (vec_id -1 is no batch vector). The batch assignment's checkpoint
    ``assigned`` is released here: nothing reads it afterwards."""
    judged = judged.localCheckpoint(eager=True)
    if assigned is not None:
        release_local_checkpoints(assigned)
    rows = judged.filter(F.col("admitted") == 1).select(
        "vec_id",
        "cell",
        "eq",
        "n",
        F.lit(0).cast("int").alias("is_seed"),
        F.lit(None).cast("long").alias("ccell"),
    )
    return judged.select("vec_id", "cell", "admitted"), rows


def semantic_dedup_incremental_from_store(
    store: DataFrame,
    batch: DataFrame,
    *,
    tau_e6: int = 990_000,
    coarse_k=ADOPT_FROM_STORE,
    fine_salt=ADOPT_FROM_STORE,
    broadcast_batch: bool = True,
    prune_store_cells: bool | None = None,
    prune_cell_cap: int = 10_000,
) -> DataFrame:
    """Ingest-time SemDeDup against a MATERIALIZED corpus store — the
    steady-state production shape (round 16, VERDICT r15 #1; the
    ``incremental_dedup``-vs-``fingerprint_store`` precedent lifted to
    the semantic tier). Output and semantics are IDENTICAL to
    ``semantic_dedup_incremental(existing, batch, ...)`` when ``store
    = build_semdedup_store(existing, ...)`` with matching parameters
    (parity-pinned by test_round16_ops); the difference is the cost
    model:

    - recompute path: every batch re-quantizes and re-assigns the
      WHOLE corpus — O(|corpus|) flops + an |corpus|-row checkpoint
      per batch.
    - store path: assignment touches ONLY batch vectors (coarse
      routing against the O(coarse_k) matrix collected from store
      seeds; fine routing in the salted cogroup against the store's
      PRE-ROUTED seed rows), then one join where the corpus-sized
      store is the STREAMED probe side — scanned once, never shuffled
      and never re-computed. With ``broadcast_batch`` (default) the
      assigned batch is broadcast, so the pair stage is a
      BroadcastHashJoin on ``cell``: zero exchange of store rows. Set
      it False when a batch is too large to broadcast — the join
      falls back to a cell-keyed shuffle of both sides.

    ``coarse_k`` / ``fine_salt`` default to ``ADOPT_FROM_STORE``: they
    are read from the store's METADATA ROW (round 17 — see
    ``read_semdedup_store_meta``), so the cell structure the batch is
    judged in is the one the store was built with BY CONSTRUCTION.
    Passing an explicit ``coarse_k`` validates it against the metadata
    (mismatch raises — the r16 'silent mis-assignment no cheap check
    can see' is now loud); on a pre-metadata store both must be passed
    explicitly (the legacy caller contract). ``fine_salt`` is an
    execution knob only (task fan-out of the fine cogroup — every
    vector is judged against its coarse cell's full seed set whatever
    the salt), so it is adopted but never validated. Empty store ->
    bootstrap admit-all, mirroring the recompute path.

    ``prune_store_cells`` (tri-state, default None = AUTO): collect
    the assigned batch's DISTINCT cell ids (O(|batch|) driver rows —
    the same smallness premise ``broadcast_batch`` already makes) and
    push them as a static IN-filter on the store's pair side. On a
    store written ``partitionBy("cell")`` (materialize_semdedup_store)
    this becomes a PARTITION FILTER at scan planning: only the cell
    directories the batch actually touches are read — the 100-TB
    shape where a small batch reads MBs of a TB-scale store. Spark's
    dynamic partition pruning does not fire here on its own (the
    build side carries no selective filter, so the DPP heuristic
    skips), hence the explicit path; exact by construction (a batch
    row can only be rejected by a same-cell row). AUTO enables it
    exactly when the store scan is detected cell-partitioned
    (``_store_is_cell_partitioned``); an unpartitioned store gains
    nothing over the streamed scan, so auto stays off there. Above
    ``prune_cell_cap`` distinct cells the literal IN-list would bloat
    the plan for little gain, so the path falls back to the streamed
    scan (ADVICE r16).

    Scale shape at 100 TB: per-batch driver state is O(coarse_k); the
    only corpus-sized work is the streamed store scan in the pair
    join (columnar, pre-quantized, prunable by cell partitioning when
    the store is written partitioned/bucketed on cell). EAGER on the
    batch side only (the batch assignment localCheckpoints);
    release via ``release_local_checkpoints``.
    """
    judged, _, _ = _judge_batch_against_store(
        store,
        batch,
        tau_e6=tau_e6,
        coarse_k=coarse_k,
        fine_salt=fine_salt,
        broadcast_batch=broadcast_batch,
        prune_store_cells=prune_store_cells,
        prune_cell_cap=prune_cell_cap,
    )
    return judged.select("vec_id", "cell", "admitted")


def append_to_semdedup_store(
    store: DataFrame,
    batch: DataFrame,
    *,
    tau_e6: int = 990_000,
    coarse_k=ADOPT_FROM_STORE,
    fine_salt=ADOPT_FROM_STORE,
    broadcast_batch: bool = True,
    prune_store_cells: bool | None = None,
    prune_cell_cap: int = 10_000,
) -> tuple[DataFrame, DataFrame]:
    """Judge ``batch`` against ``store`` AND fold its admitted rows
    back in — the store-maintenance half of ingest-time SemDeDup
    (round 17, VERDICT r16 #1; the reference's append-loop model,
    hhek2sqlite.go:235-273, lifted to the semantic tier; exact-fp
    precedent ``incremental_dedup``'s caller-maintained fingerprint
    store, operators/dedup.py:91). Without this, steady-state
    multi-batch ingest either rebuilt the store per batch (O(corpus))
    or silently stopped deduping new batches against previously
    admitted ones.

    Returns ``(decisions, new_store)``:

    - ``decisions`` — one row per batch vector ``(vec_id, cell,
      admitted)``, IDENTICAL to ``semantic_dedup_incremental_from_store``
      on the same inputs. Backed by ONE batch-sized eager
      localCheckpoint of the judged relation (r18) that also feeds the
      admitted-row extraction, so neither consumer re-runs the pair
      join; release via ``release_local_checkpoints`` once consumed —
      NOTE the returned ``new_store`` reads the same checkpoint, so
      release only after the store union is no longer needed (same
      lifetime coupling as the r17 shape).
    - ``new_store`` — ``store`` plus the admitted batch rows in store
      schema (``eq``/``n`` reused from the batch assignment — no
      re-quantization), LAZY: judging the next batch against it scans
      the old store plus the appended in-memory rows; persist deltas
      via ``materialize_semdedup_store(..., mode="append")`` when the
      store lives in parquet.

    SEED POLICY (pinned): appended rows are NEVER seeds (``is_seed =
    0``) — the cell structure is FROZEN at build time. Consequences:

    - with a ``seed_max_id`` fence at build (recorded in the store
      metadata), append-then-judge is EXACTLY equivalent to
      ``semantic_dedup_incremental`` recompute over (corpus +
      previously admitted rows) under the same fence — pinned by
      test_round17_ops' K-batch sequence parity test;
    - without a fence, the recompute path would PROMOTE new
      ``vec_id % seed_stride == 0`` rows to seeds and shift cells
      (the documented cell-split recall mechanism); the append path
      deliberately does not — its structure stays the build's. Rebuild
      the store (O(corpus), amortized over many batches) when enough
      mass has been appended that frozen cells grow too coarse; the
      metadata row records ``seed_stride``/``seed_max_id`` so a
      rebuild reproduces or re-fences the seed rule explicitly.

    A store with NO seeds (bootstrap/empty) refuses loudly: appended
    rows can never become seeds, so appending into a seedless store
    would admit everything forever while looking like it dedups —
    build the store from the first corpus slice instead.
    """
    judged, assigned, router = _judge_batch_against_store(
        store,
        batch,
        tau_e6=tau_e6,
        coarse_k=coarse_k,
        fine_salt=fine_salt,
        broadcast_batch=broadcast_batch,
        prune_store_cells=prune_store_cells,
        prune_cell_cap=prune_cell_cap,
    )
    if assigned is None:
        raise ValueError(
            "append_to_semdedup_store: the store has no seeds (empty or "
            "bootstrap store) — appended rows are never seeds (frozen "
            "build-time structure), so appending here would admit every "
            "future batch unjudged; build_semdedup_store over the first "
            "corpus slice instead"
        )
    decisions, rows = _decisions_and_store_rows(judged, assigned)
    new_store = store.unionByName(rows)
    # the appended rows are never seeds (frozen build-time cell
    # structure), so the store's router holds verbatim for new_store
    _record_router(new_store, router)
    return decisions, new_store


def materialize_semdedup_store(
    store: DataFrame, path: str, *, mode: str = "overwrite"
) -> DataFrame:
    """Write ``store`` to ``path`` as cell-partitioned parquet and
    return the reopened relation — the one-call production setup of
    the store path (round 17, VERDICT r16 #4): the reopened store
    carries the metadata row (it is a data row in the cell=-1
    directory, so it survives the medium), and
    ``semantic_dedup_incremental_from_store``'s AUTO pruning detects
    the cell partitioning, so a small batch judged against the
    reopened store reads only its touched cell directories with ZERO
    caller flags.

    ``mode="append"`` persists a delta — e.g. the admitted rows of
    ``append_to_semdedup_store`` (pass ``new_store_minus_old``, or
    rewrite the whole union with "overwrite"; the metadata row must be
    appended at most once, which holds when the delta is admitted rows
    only, since those never carry vec_id -1).

    The reopened relation is read with an EXPLICIT schema
    (``SEMDEDUP_STORE_DDL``) so the partition column ``cell`` comes
    back as BIGINT (partition-value type inference would make it INT)
    and the column order matches the DDL."""
    store.write.mode(mode).partitionBy("cell").parquet(path)
    reopened = store.sparkSession.read.schema(SEMDEDUP_STORE_DDL).parquet(path)
    return reopened.select("vec_id", "cell", "eq", "n", "is_seed", "ccell")
