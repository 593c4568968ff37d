"""Training-data pipeline operators: edit-distance near-dup, leakage-safe
dataset splits, document chunking, PII redaction, benchmark-contamination
checks.

These extend the dedup/similarity/text families (SURVEY.md section 7 M4)
with the remaining steps an LLM-corpus pipeline runs between "raw crawl"
and "training shards". Scale rules are the same as everywhere else in
this repo: row-local column expressions wherever possible (zero
shuffles), candidate generation by bucket equi-joins (never a cross
join), broadcast for genuinely small sides, and integer/md5 outputs so
every operator here is oracle-pairable cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hhek2sqlite_spark.operators.dedup import bucket_pairs, rare_shingle_buckets, shingles
from hhek2sqlite_spark.operators.text import char_ngrams, let_once, normalized
from hhek2sqlite_spark.operators.util import spread

# ---------------------------------------------------------------------------
# Edit-distance (Levenshtein) near-dup
# ---------------------------------------------------------------------------


def edit_distance_pairs(
    documents: DataFrame,
    *,
    max_dist: int = 40,
    n: int = 8,
    max_df: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs by exact edit distance over the normalized
    text, for the tier where token/shingle overlap is too coarse (small
    in-place edits, OCR noise).

    Candidates come from the rare-shingle buckets (shared df-capped
    shingle => candidate), so the quadratic work is bounded exactly like
    ngram_jaccard — no all-pairs. Each candidate then passes a free
    length bound (|len_a - len_b| <= max_dist is a lower bound on edit
    distance) before the O(len^2) Levenshtein verify; the verify uses
    Spark's thresholded form (returns -1 above max_dist), which
    early-outs instead of filling the full DP matrix. Returns
    (id_a, id_b, edit_dist) with edit_dist <= max_dist.

    ``spread`` decouples the CPU-heavy shingle stage from the scan's
    split count (measured 4.7s -> 2.1s at sf0.1 on the
    single-row-group fixture; ``SPARK_GRAFT_SPREAD=0`` turns it off at
    cluster scale, where the input already has >= cores splits). The
    text-attach sides read the
    UNSPREAD scan (r17, guide §2.3): their rows meet the candidate
    pairs in broadcast joins, so the two extra RoundRobin exchanges
    bought nothing — the levenshtein verify runs at PAIR grain
    (df-capped, hundreds of rows), not at corpus grain, and the pair
    relation inherits its parallelism from the join's stream side
    either way.
    """
    cand = bucket_pairs(
        rare_shingle_buckets(spread(documents), n=n, max_df=max_df, id_col=id_col)
    ).distinct()
    norm = documents.select(F.col(id_col), normalized("text").alias("t"))
    ta = norm.select(
        F.col(id_col).alias("id_a"), F.col("t").alias("ta"), F.length("t").alias("la")
    )
    tb = norm.select(
        F.col(id_col).alias("id_b"), F.col("t").alias("tb"), F.length("t").alias("lb")
    )
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(F.abs(F.col("la") - F.col("lb")) <= max_dist)
        .select(
            "id_a",
            "id_b",
            F.levenshtein("ta", "tb", max_dist).cast("long").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") >= 0)
    )


# ---------------------------------------------------------------------------
# Deterministic content-hash dataset split
# ---------------------------------------------------------------------------

# hex-prefix boundaries on md5(normalized text): 204/26/26 of 256 buckets
SPLIT_TRAIN_MAX = "cb"  # ~79.7%
SPLIT_VAL_MAX = "e5"  # ~10.2%


def dataset_split(documents: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Assign train/val/test by the first md5 byte of the NORMALIZED
    content (not the row id): row-local, zero shuffle, stable across
    runs/engines/partitionings — and leakage-safe by construction,
    because exact duplicates hash to the same bucket and therefore land
    in the same split (splitting on doc_id sends copies of one document
    to both train and test). Returns (id, bucket_hex, split)."""
    # coalesce BEFORE hashing: md5(NULL) is NULL, which would dump every
    # NULL-text document into the 'test' split via the CASE fallthrough;
    # treating NULL as empty content routes them with the empty docs
    b = F.substring(F.md5(F.coalesce(normalized("text"), F.lit(""))), 1, 2)
    return documents.select(
        F.col(id_col),
        b.alias("bucket_hex"),
        F.when(b <= SPLIT_TRAIN_MAX, "train")
        .when(b <= SPLIT_VAL_MAX, "val")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# Document chunking (fixed window + overlap)
# ---------------------------------------------------------------------------


def _last_chunk(ln: Column, size: int, overlap: int) -> tuple[Column, Column]:
    """(index, length) of the last ``size``-char chunk of a text of
    length ``ln`` at stride ``size - overlap``: every chunk before it is
    exactly ``size`` chars, so these two fix every chunk's extent. A
    text no longer than ``size`` (empty included) is one chunk."""
    stride = size - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than size")
    # n_chunks-1 = ceil((ln-size)/stride) via integer-exact floor
    idx = F.when(ln <= size, F.lit(0).cast("long")).otherwise(
        F.floor((ln - size + (stride - 1)) / F.lit(stride)).cast("long")
    )
    return idx, F.least(F.lit(size).cast("long"), ln - idx * stride)


def doc_chunks(
    documents: DataFrame,
    *,
    size: int = 200,
    overlap: int = 40,
    id_col: str = "doc_id",
    norm_col: str | None = None,
) -> DataFrame:
    """Split each normalized document into ``size``-char windows with
    ``overlap``-char overlap (stride = size - overlap) — the standard
    context-window packing step. Row-local sequence+transform+explode,
    zero shuffles; emits (id, chunk_idx, chunk_len, chunk_fp) with the
    md5 fingerprint standing in for the chunk body so the output stays
    narrow (downstream shard writers re-derive the text by offset).
    A document shorter than ``size`` yields exactly one chunk.

    ``norm_col`` names an ALREADY-normalized text column: composed
    pipelines that computed the normal form upstream (corpus curation)
    pass it so the normalization regex is not re-run; references to a
    real column are slot reads, so no let-binding is needed either.
    Packing needs only the chunk extents: ``pack_doc_chunks`` derives
    them from the length and never cuts a chunk string."""
    stride = size - overlap

    def chunks_of(t: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0).cast("long"), _last_chunk(F.length(t), size, overlap)[0]),
            lambda i: F.struct(
                i.alias("chunk_idx"),
                t.substr((i * stride + 1).cast("int"), F.lit(size)).alias("chunk"),
            ),
        )

    chunked = (
        chunks_of(F.col(norm_col))
        if norm_col is not None
        else let_once(normalized("text"), chunks_of)
    )
    return (
        documents.select(F.col(id_col), F.explode(chunked).alias("c"))
        .select(
            id_col,
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.length("c.chunk").cast("long").alias("chunk_len"),
            F.md5("c.chunk").alias("chunk_fp"),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# RE2-safe patterns (no lookaround/backrefs): identical semantics in Java
# regex (Spark) and RE2 (DuckDB). Applied to the normalized (lowercased)
# form, so no case classes needed.
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
URL_RE = r"https?://[^\s]+"


def pii_redact(documents: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Count and redact emails/URLs in the normalized text. Counts are
    measured independently on the original normalized form; redaction
    replaces emails first, then URLs (fixed order => identical output in
    any engine). Emits the redacted text's md5 + length rather than the
    body. Row-local, zero shuffles.

    The normalized form and the redacted form are materialized as
    intermediate columns (CollapseProject keeps non-cheap multiply-
    referenced aliases in their own projection), so the normalization
    regex runs once per row, not once per signal."""
    staged = documents.select(F.col(id_col), normalized("text").alias("_t"))
    redacted = staged.select(
        id_col,
        "_t",
        F.regexp_replace(
            F.regexp_replace("_t", EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
        ).alias("_red"),
    )
    return redacted.select(
        id_col,
        F.size(F.regexp_extract_all("_t", F.lit(EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("_t", F.lit(URL_RE), F.lit(0)))
        .cast("long")
        .alias("n_urls"),
        F.length("_red").cast("long").alias("redacted_len"),
        F.md5("_red").alias("redacted_fp"),
    )


# ---------------------------------------------------------------------------
# Sequence packing (context-window filling)
# ---------------------------------------------------------------------------


def pack_chunks(
    chunks: DataFrame,
    *,
    budget: int = 2000,
    n_shards: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Concat-and-split sequence packing: chunks are laid end-to-end in a
    deterministic order and cut into ``budget``-char packs — the step
    that turns variable-length chunks into fixed-size training sequences
    (boundaries may straddle a chunk, exactly like GPT-style token-stream
    packing; padding-free by construction).

    Scale shape: a GLOBAL running sum would funnel the corpus through
    one reducer, so the stream is sharded by ``doc_id % n_shards``
    (engine-portable, unlike a seeded hash) and each shard packs
    independently — one window per shard, reducer-bounded, and shards
    are exactly the parallel writers a 100 TB shard-writer wants. Emits
    (shard, id, chunk_idx, chunk_len, offset_in_shard, pack_id) where
    pack_id = offset_in_shard DIV budget, numbered within the shard."""
    from pyspark.sql.window import Window

    sharded = chunks.withColumn("shard", F.col(id_col) % n_shards)
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col).asc(), F.col("chunk_idx").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sharded.select(
        "shard",
        id_col,
        "chunk_idx",
        "chunk_len",
        (F.sum("chunk_len").over(w) - F.col("chunk_len")).alias("offset_in_shard"),
    ).withColumn(
        "pack_id", F.expr(f"offset_in_shard DIV {budget}")
    )


def group_sample_k(
    documents: DataFrame,
    *,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "eval",
) -> DataFrame:
    """Deterministic fixed-k per-group sample — "k eval examples per
    language/source", the complement of the RATE-based stratified
    samplers (those keep a fraction; this caps an absolute count, which
    is what held-out eval sets and few-shot prompt pools need). The
    rank is a hash order (md5(id:salt)), so the choice is reproducible
    on any engine and independent of input partitioning/row order;
    changing ``salt`` redraws the sample.

    Scale shape: one exchange keyed by the group column; within each
    group a row_number over the hash order. For the pathological case
    of one giant group, rank-then-filter is still a single window pass
    (no global sort); if k is tiny relative to group size a
    min_by-top-k aggregate would bound state harder, but the window
    keeps exact rank numbers in the output, which eval tooling wants.

    Emits (group, rank 0-based, id)."""
    from pyspark.sql.window import Window

    keyed = documents.select(
        F.col(group_col).alias("grp"),
        F.col(id_col),
        F.md5(
            F.concat_ws(":", F.col(id_col).cast("string"), F.lit(salt))
        ).alias("_k"),
    )
    w = Window.partitionBy("grp").orderBy(F.col("_k").asc(), F.col(id_col).asc())
    return (
        keyed.withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .filter(F.col("rank") < k)
        .select("grp", "rank", id_col)
    )


def epoch_shuffle(
    documents: DataFrame,
    *,
    epoch: int,
    n_shards: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic training-epoch permutation: every epoch reorders
    the corpus by md5(id || ':' || epoch), sharded so no global sort
    exists anywhere — the epoch-shuffling step every training-data
    loader needs, as a reproducible engine-portable artifact (same
    epoch => same order on any engine, resume mid-epoch is a seek).

    Scale shape: shard = hash % n_shards balances by construction
    (md5 uniformity), ONE exchange on shard, and each shard sorts only
    its own slice — the per-shard sort is the shuffle-file sort a
    distributed sort-merge would do anyway, and shards are exactly the
    parallel readers the training job fans out to. No skew possible:
    the key is a hash, not data.

    Emits (shard, pos, id) with pos the 0-based position within the
    shard in hash order (doc_id tiebreak for identical hashes — md5
    collisions are not expected but determinism must not depend on
    that)."""
    from pyspark.sql.window import Window

    keyed = documents.select(
        F.col(id_col),
        F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(epoch)))).alias(
            "_k"
        ),
    )
    h = F.expr("cast(conv(substring(_k, 1, 15), 16, 10) as bigint)")
    sharded = keyed.withColumn("shard", h % n_shards)
    w = Window.partitionBy("shard").orderBy(F.col("_k").asc(), F.col(id_col).asc())
    return sharded.select(
        "shard",
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
        id_col,
    )


def pack_doc_chunks(
    documents: DataFrame,
    *,
    size: int,
    overlap: int,
    budget: int,
    n_shards: int,
    id_col: str = "doc_id",
    norm_col: str = "_norm",
) -> DataFrame:
    """Fused ``pack_chunks(doc_chunks(...))`` with the running sum
    computed over DOCUMENTS instead of chunks: because every chunk but a
    document's last is exactly ``size`` chars, a document's packed
    extent is arithmetic in its length, so the per-shard cumulative
    offset windows over one row per document and the chunks are exploded
    AFTER the window. Output is row-identical to the composed operators
    (asserted in tests).

    Measured (round 7, sf0.1, interleaved): equal wall time to the
    composed form — at 8.4k chunks both are stage-floor-bound, not
    sort-bound. Adopted anyway for the scale shape: window sort state is
    per-document (~size/stride x fewer rows than per-chunk), which is
    what survives when shards carry billions of chunks."""
    from pyspark.sql.window import Window

    last, last_len = _last_chunk(F.length(norm_col).cast("long"), size, overlap)
    d = (
        documents.select(F.col(id_col), last.alias("_last"), last_len.alias("_lastlen"))
        .withColumn("_total", F.col("_last") * size + F.col("_lastlen"))
        .withColumn("shard", F.col(id_col) % n_shards)
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("_base", F.sum("_total").over(w) - F.col("_total"))
    out = d.select(
        "shard",
        id_col,
        "_last",
        "_lastlen",
        "_base",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("_last"))).alias(
            "chunk_idx"
        ),
    ).select(
        "shard",
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.when(F.col("chunk_idx") < F.col("_last"), F.lit(size).cast("long"))
        .otherwise(F.col("_lastlen"))
        .alias("chunk_len"),
        (F.col("_base") + F.col("chunk_idx") * size).alias("offset_in_shard"),
    )
    return out.withColumn("pack_id", F.expr(f"offset_in_shard DIV {budget}"))


# ---------------------------------------------------------------------------
# Intra-document repetition scoring
# ---------------------------------------------------------------------------


def repetition_profile(
    documents: DataFrame, *, n: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """Boilerplate/repetition signal: total vs distinct character
    n-grams per document. A high repeated share marks template spam,
    scraped boilerplate, and generation loops — a standard quality
    filter before training. Row-local (the shingle arrays never leave
    their row), zero shuffles.

    The bucket is decided by integer cross-multiplication (no float
    ratio, engine-exact): repeated share > 20% <=> 5*(total-distinct) >
    total. Emits (id, n_shingles, n_distinct_shingles, rep_bucket)."""
    c = F.col(id_col)

    def counts_of(norm: Column) -> Column:
        # the shingle array is used twice, so it is let-bound too: each
        # reference would otherwise rebuild it over every character
        return let_once(
            char_ngrams(norm, n),
            lambda grams: F.struct(
                F.size(grams).alias("t"),
                F.size(F.array_distinct(grams)).alias("d"),
            ),
        )

    staged = documents.select(
        c, let_once(normalized("text"), counts_of).alias("_c")
    ).select(
        id_col,
        F.col("_c.t").cast("long").alias("n_shingles"),
        F.col("_c.d").cast("long").alias("n_distinct_shingles"),
    )
    return staged.withColumn(
        "rep_bucket",
        F.when(F.col("n_shingles") == 0, "empty")
        .when(
            (F.col("n_shingles") - F.col("n_distinct_shingles")) * 5
            > F.col("n_shingles"),
            "repetitive",
        )
        .otherwise("ok"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------


def _hash_prefilter(
    staged: DataFrame,
    stratum_col: str,
    counts: dict,
    targets: dict,
    oversample: float,
    id_col: str,
) -> DataFrame:
    """The two-pass samplers' survivor prefilter over ``staged`` (id,
    stratum, sample_key): keep the rows whose 60-bit key prefix falls
    under a per-stratum threshold ~ oversample*target/count of the key
    space, recount the survivors, and give any under-filled stratum
    (survivors < min(target, count)) its full row set back. The
    ``target`` smallest keys of a stratum therefore always survive, so
    ranking the survivors keeps exactly what ranking ``staged`` keeps."""
    import math

    key_space = 1 << 60  # first 15 hex chars -> non-negative long
    key60 = F.conv(F.substring("sample_key", 1, 15), 16, 10).cast("long")
    thr_rows = [
        (
            s,
            key_space
            if oversample * targets[s] >= n
            else math.ceil(key_space * oversample * targets[s] / n),
        )
        for s, n in counts.items()
    ]
    thr = F.broadcast(
        staged.sparkSession.createDataFrame(thr_rows, f"{stratum_col} string, _thr long")
    )
    survivors = staged.join(thr, stratum_col).filter(key60 < F.col("_thr")).drop("_thr")
    kept = {
        r[0]: r[1]
        for r in survivors.groupBy(stratum_col).agg(F.count(F.lit(1))).collect()
    }
    under = [s for s, n in counts.items() if kept.get(s, 0) < min(targets[s], n)]
    if under:  # exactness guard: rank the full stratum instead
        survivors = survivors.filter(~F.col(stratum_col).isin(under)).unionByName(
            staged.filter(F.col(stratum_col).isin(under))
        )
    # the equi-join reordered columns (join key first) — restore the
    # staged projection order so both forms are column-identical
    return survivors.select(id_col, stratum_col, "sample_key")


def stratified_sample(
    documents: DataFrame,
    *,
    n_per_stratum: int = 25,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    two_pass: bool = False,
    oversample: float = 2.0,
) -> DataFrame:
    """Equal-size deterministic sample per stratum (source): within each
    stratum, order documents by the md5 of their NORMALIZED content (a
    content-derived uniform order — stable across runs, engines and
    partitionings, and duplicate-consistent like dataset_split) and keep
    the first ``n_per_stratum``. The source-balancing step a training
    mix runs before weighting.

    Scale shape: one shuffle on the stratum; the per-stratum window
    means one reducer per stratum. ``two_pass=True`` is the refinement
    for strata too large for one reducer: estimate per-stratum counts
    (tiny aggregate — one row per SOURCE, driver-safe like the IVF
    centroids), pre-filter to rows whose key falls under a per-stratum
    hash threshold ~ oversample*n/N scaled to the 60-bit key space, and
    rank only the surviving ~oversample*n rows. The output is BIT-EXACT
    equal to the one-pass form (the n smallest keys always survive a
    threshold that keeps >= n rows); hash fluctuation can only
    undershoot with probability ~exp(-n(o-1)^2/2o), and that tail is
    made EXACT, not probabilistic, by a per-stratum survivor recount:
    any under-filled stratum (survivors < min(n, N)) falls back to its
    full row set for the ranking pass. Cost: two extra scans of the
    staged projection (count estimate + survivor recount — persist the
    staged projection first when the corpus scan is expensive); the
    window reducer drops from O(N_stratum) to O(oversample*n) rows.

    Returns (id, stratum, sample_key, sample_rank <= n_per_stratum)."""
    from pyspark.sql.window import Window

    staged = documents.select(
        F.col(id_col),
        F.col(stratum_col),
        F.md5(normalized("text")).alias("sample_key"),
    )
    if two_pass:
        counts = {
            r[0]: r[1]
            for r in staged.groupBy(stratum_col).agg(F.count(F.lit(1))).collect()
        }
        targets = dict.fromkeys(counts, n_per_stratum)
        staged = _hash_prefilter(staged, stratum_col, counts, targets, oversample, id_col)
    w = Window.partitionBy(stratum_col).orderBy(
        F.col("sample_key").asc(), F.col(id_col).asc()
    )
    return staged.withColumn("sample_rank", F.row_number().over(w)).filter(
        F.col("sample_rank") <= n_per_stratum
    )


# ---------------------------------------------------------------------------
# URL / domain statistics
# ---------------------------------------------------------------------------

# host part of a URL: scheme://HOST[/...]; RE2-safe, applied to the
# normalized (lowercased) form like the PII patterns
DOMAIN_RE = r"https?://([a-z0-9.-]+)"


def domain_stats(documents: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-domain crawl statistics: how many link mentions and how many
    distinct documents reference each domain — the input to domain-level
    quality weighting / blocklisting. One explode over the extracted
    hosts (regex runs once per row), one shuffle on the domain key.
    Returns (domain, n_mentions, n_docs)."""
    hosts = documents.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(normalized("text"), F.lit(DOMAIN_RE), 1)
        ).alias("domain"),
    )
    return hosts.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct(id_col).alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination check
# ---------------------------------------------------------------------------


def contamination_pairs(
    documents: DataFrame,
    *,
    eval_max_id: int = 50,
    n: int = 8,
    min_shared: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus documents sharing >= min_shared distinct character
    n-grams with any document of the eval set (here: id < eval_max_id
    stands in for a benchmark suite). The decontamination step every
    training pipeline runs before shipping a corpus.

    Scale shape: the EVAL side is broadcast — benchmark suites are tiny
    relative to the corpus, so the corpus streams through one scan and
    the only shuffle is the (doc, eval) pair count. No df cap is needed:
    fan-out per corpus shingle is bounded by the eval set's size.
    Returns (doc_id, eval_id, n_shared).

    Only the CORPUS side is spread (measured 3.1s -> 0.6s at sf0.1): the
    eval filter stays directly over the scan so its predicate pushes
    down, and spreading it would shuffle corpus rows just to discard
    them."""
    ev = shingles(
        documents.filter(F.col(id_col) < eval_max_id), n, id_col
    ).select(F.col(id_col).alias("eval_id"), "shingle")
    corpus = shingles(spread(documents.filter(F.col(id_col) >= eval_max_id)), n, id_col)
    return (
        corpus.join(F.broadcast(ev), "shingle")
        .groupBy(id_col, "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def temperature_sample(
    documents: DataFrame,
    *,
    boost: int = 64,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    two_pass: bool = False,
    oversample: float = 2.0,
) -> DataFrame:
    """Temperature-style language rebalancing — the multilingual mixing
    step (e.g. the alpha-sampling multilingual corpora use): flatten the
    language distribution by keeping ``n_l = min(f_l, ceil(sqrt(boost *
    f_l)))`` documents of a language with ``f_l`` documents. That is
    exactly alpha = 0.5 temperature sampling with a size multiplier —
    chosen over an arbitrary-alpha ``pow(f, a)`` deliberately: IEEE
    sqrt is CORRECTLY ROUNDED in every engine while pow is not, and the
    target formula is per-language (no cross-language normalizing sum
    whose float summation order could differ), so the kept set is
    bit-identical in any engine. Within a language, documents are kept
    in md5(normalized text) order (content-derived, stable,
    duplicate-consistent — same key discipline as stratified_sample /
    dataset_split).

    Scale shape: the language targets are a tiny aggregate (one row per
    language) joined back as a broadcast; the ranking window partitions
    by language, which is LOW-cardinality — fine at fixture scale,
    documented hot at corpus scale, so ``two_pass=True`` applies the
    stratified_sample survivor-threshold refinement (pre-filter to
    ~oversample*n_l rows per language by a hash threshold, recount,
    fall back to the full language on undershoot) and is BIT-EXACT
    equal to the one-pass form for the same reason given there.

    Returns (id, lang, sample_key, sample_rank <= n_l)."""
    import math

    from pyspark.sql.window import Window

    staged = documents.select(
        F.col(id_col),
        F.col(lang_col),
        F.md5(normalized("text")).alias("sample_key"),
    )
    spark = documents.sparkSession
    counts = {
        r[0]: r[1]
        for r in staged.groupBy(lang_col).agg(F.count(F.lit(1))).collect()
    }
    targets = {
        lang: min(f, math.ceil(math.sqrt(boost * f))) for lang, f in counts.items()
    }
    if two_pass:
        staged = _hash_prefilter(staged, lang_col, counts, targets, oversample, id_col)
    tgt = F.broadcast(
        spark.createDataFrame(
            list(targets.items()), f"{lang_col} string, _n_keep long"
        )
    )
    w = Window.partitionBy(lang_col).orderBy(
        F.col("sample_key").asc(), F.col(id_col).asc()
    )
    return (
        staged.withColumn("sample_rank", F.row_number().over(w))
        .join(tgt, lang_col)
        .filter(F.col("sample_rank") <= F.col("_n_keep"))
        .select(id_col, lang_col, "sample_key", "sample_rank")
    )
