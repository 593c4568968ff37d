"""Text-analysis operators for training-data pipelines: token counting,
quality signals, language-ID heuristic, document fingerprinting.

Design rules (100 TB):
- Everything is a native column expression over one scan of ``documents``
  — no UDFs, no collect, embarrassingly parallel per row, then at most
  one shuffle for the aggregated views.
- Outputs are integers / strings / md5 hex only: exact in any engine, so
  every operator here is oracle-pairable (no float ratios whose summation
  order could differ).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Marker stopwords per language for the n-gram/token heuristic. Tokens are
# lowercase exact matches; ties break alphabetically (deterministic).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "nicht", "das", "ist"),
    "en": ("the", "and", "is", "of", "to", "in"),
    "es": ("el", "la", "que", "los", "una", "es"),
    "fr": ("le", "la", "les", "des", "est", "une"),
    "sv": ("och", "att", "det", "som", "en", "är"),
}


def normalized(text: Column | str) -> Column:
    """Canonical text form shared by fingerprint/shingle operators:
    lowercase, whitespace collapsed to single spaces, trimmed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of the normalized form."""
    return F.split(normalized(text), " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def word_ngrams(toks: Column, n: int) -> Column:
    """The space-joined word ``n``-grams of a token array, in position
    order: one per start position, so ``posexplode`` positions are the
    1-based start minus one. Empty below ``n`` tokens, NULL on a NULL
    array. The slice length is clamped at 0, so any array size is safe
    (a negative ``slice`` length raises). ``toks`` is referenced inside
    the lambda: pass a column or a lambda variable, not a computed
    expression (see ``let_once``)."""
    return F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0))),
        lambda _, i: F.array_join(F.slice(toks, i + 1, n), " "),
    )


def char_ngrams(norm: Column, n: int) -> Column:
    """The ``n``-character substrings of a string, one per start
    position (duplicates kept). Spark's ``sequence(1, 0)`` counts down,
    so below ``n`` characters the positions yield short substrings that
    the length filter drops: the result is empty then, and on NULL."""
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - (n - 1), F.lit(0))),
        lambda i: norm.substr(i, F.lit(n)),
    )
    return F.filter(grams, lambda g: F.length(g) == n)


def ratio_e6(num: Column | str, den: Column | str) -> Column:
    """``round(1e6 * num / den)`` as BIGINT — the exact integer-ratio
    encoding of the ranked and fractional outputs: for integer operands
    the product is an exact integer < 2^53 and the one division is IEEE
    correctly rounded, so the value is bit-identical in any engine."""
    num = F.col(num) if isinstance(num, str) else num
    den = F.col(den) if isinstance(den, str) else den
    return F.round(F.lit(1000000.0) * num / den).cast("long")


PUNCT_CHARS = ".,;:!?'\"()[]{}-"


def digit_count(text: Column | str) -> Column:
    # translate (a char-map delete) counts the same characters the regex
    # class [0-9] would, minus the regex engine: measurably cheaper on
    # the profile hot path, value-identical
    c = F.col(text) if isinstance(text, str) else text
    return F.length(c) - F.length(F.translate(c, "0123456789", ""))


def punct_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.length(c) - F.length(F.translate(c, PUNCT_CHARS, ""))


def marker_hits(text: Column | str, markers: tuple[str, ...]) -> Column:
    """Count of tokens that are marker stopwords for one language."""
    return F.size(F.filter(tokens(text), lambda t: t.isin(*markers)))


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: argmax of marker-token hits, 'und' when no
    marker occurs. Deterministic tiebreak: higher count wins, then
    alphabetical language code (via greatest over struct ordering)."""
    scored = [
        F.struct(
            marker_hits(text, m).alias("hits"),
            # invert code ordering so greatest() prefers alphabetically
            # earlier codes on equal hits
            F.lit(-ord(code[0]) * 256 - ord(code[1])).alias("inv"),
            F.lit(code).alias("code"),
        )
        for code, m in sorted(LANG_MARKERS.items())
    ]
    best = F.greatest(*scored)
    return F.when(best["hits"] > 0, best["code"]).otherwise(F.lit("und"))


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized form — stable across
    engines and runs, usable as an exact-dedup / shard-assignment key."""
    return F.md5(normalized(text))


# Rolling-hash constants shared verbatim with the SQL oracle: base 31,
# modulus 2^57 (keeps acc*31 + codepoint < 2^62, no int64 overflow in
# either engine; DuckDB BIGINT errors on overflow rather than wrapping).
ROLLING_BASE = 31
ROLLING_MOD = 1 << 57

# BPE-ish pre-tokenization over the normalized (lowercased) form: letter
# runs, digit runs, single non-alphanumeric marks — the same class shape
# GPT-2-style pre-tokenizers use, restricted to constructs whose regex
# semantics are identical in Java (Spark) and RE2 (DuckDB).
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9 ]"


def let_once(value: Column, body) -> Column:
    """Let-binding for column expressions: evaluate ``value`` ONCE and
    feed it to ``body`` as a higher-order-function lambda variable.

    Spark SQL has no LET, and neither CollapseProject nor runtime
    subexpression elimination dedupes a non-trivial subexpression that
    is referenced from inside a higher-order lambda — each reference
    re-evaluates it. A 1-element ``transform`` is the workaround: the
    lambda variable is bound to the computed value, so every reference
    in ``body`` is a slot read. Measured on ``rolling_fingerprint`` at
    sf0.1 (round 2): the fold references the normalized form ~len(text)
    times; unbound it re-ran the normalization regex per character
    (1.39s), bound it is 0.24s — the fold itself was never the cost.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def rolling_fingerprint(text: Column | str) -> Column:
    """Polynomial rolling hash of the normalized form's code points:
    h = (h*31 + codepoint) mod 2^57, left-to-right. An order-sensitive
    integer fingerprint (md5's cheap cousin) computable identically in
    any engine with a fold; used for shard assignment and cheap equality
    pre-screening. Row-local, no shuffle. The normalized form is
    let-bound (see ``let_once``) so the normalization regex runs once
    per row, not once per character."""

    def fold(norm: Column) -> Column:
        chars = F.transform(
            F.sequence(F.lit(1), F.length(norm)),
            lambda i: F.ascii(norm.substr(i, F.lit(1))),
        )
        folded = F.aggregate(
            chars,
            F.lit(0).cast("long"),
            lambda acc, cp: F.pmod(acc * F.lit(ROLLING_BASE) + cp, F.lit(ROLLING_MOD)),
        )
        # sequence(1, 0) would count DOWN in Spark — guard the empty string
        return F.when(F.length(norm) == 0, F.lit(0).cast("long")).otherwise(folded)

    return let_once(normalized(text), fold)


def bpe_token_count(text: Column | str) -> Column:
    """Count of BPE-ish pre-tokens (letter runs / digit runs / single
    marks) in the normalized form."""
    return F.size(F.regexp_extract_all(normalized(text), F.lit(BPE_PATTERN), 0))


def quality_bucket(text: Column | str) -> Column:
    """Quality scoring without float ratios: integer comparisons on
    length/token/punct counts (scaled-integer cross-multiplication in
    place of division), bucketed for downstream filtering."""
    c = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(c)
    n_tok = token_count(c)
    n_punct = punct_count(c)
    n_digit = digit_count(c)
    return (
        # NULL text first: every comparison below is NULL on it, so
        # without this branch a NULL document falls through to 'ok' —
        # the one grade it must never get
        F.when(c.isNull(), "null")
        .when(n_chars < 20, "too_short")
        .when(n_tok < 5, "too_few_tokens")
        # punct ratio > 20%: 5*punct > chars
        .when(n_punct * 5 > n_chars, "punct_heavy")
        # digit ratio > 30%: 10*digits > 3*chars
        .when(n_digit * 10 > n_chars * 3, "digit_heavy")
        # avg token length > 15: chars > 15*tokens (whitespace slop ok)
        .when(n_chars > n_tok * 16, "tokens_too_long")
        .otherwise("ok")
    )


def document_profile(documents: DataFrame) -> DataFrame:
    """Per-document profile: one scan, all signals.

    The normalization regex and the tokenizer are materialized ONCE as
    intermediate columns and every signal reads those — the naive form
    (each signal calling normalized()/tokens() itself) re-ran the
    regexp_replace ~10x and the split ~8x per row; Spark's subexpression
    elimination does not reliably dedupe across when-branches and
    higher-order lambdas. Measured 2.2x at sf0.1, bit-identical output."""
    base = documents.select(
        "doc_id",
        "source",
        F.col("lang").alias("lang_labeled"),
        "text",
        normalized("text").alias("_norm"),
    ).withColumn("_toks", F.split("_norm", " "))
    codes = sorted(LANG_MARKERS)
    staged = base.select(
        "*",
        F.length("text").alias("_nc"),
        F.size("_toks").alias("_nt"),
        digit_count("text").alias("_nd"),
        punct_count("text").alias("_np"),
        *[
            F.expr(
                "size(filter(_toks, t -> t IN ({}))) AS _h_{}".format(
                    ", ".join(f"'{m}'" for m in LANG_MARKERS[c]), c
                )
            )
            for c in codes
        ],
    )
    best = F.greatest(
        *[
            F.struct(
                F.col(f"_h_{c}").alias("hits"),
                F.lit(-ord(c[0]) * 256 - ord(c[1])).alias("inv"),
                F.lit(c).alias("code"),
            )
            for c in codes
        ]
    )
    quality = (
        # NULL-text guard first (same reason as quality_bucket: every
        # numeric comparison is NULL on it and would fall through to 'ok')
        F.when(F.col("_nc").isNull(), "null")
        .when(F.col("_nc") < 20, "too_short")
        .when(F.col("_nt") < 5, "too_few_tokens")
        .when(F.col("_np") * 5 > F.col("_nc"), "punct_heavy")
        .when(F.col("_nd") * 10 > F.col("_nc") * 3, "digit_heavy")
        .when(F.col("_nc") > F.col("_nt") * 16, "tokens_too_long")
        .otherwise("ok")
    )
    return staged.select(
        "doc_id",
        "source",
        "lang_labeled",
        F.col("_nc").alias("n_chars"),
        F.col("_nt").alias("n_tokens"),
        F.size(F.array_distinct("_toks")).alias("n_uniq_tokens"),
        F.col("_nd").alias("n_digits"),
        F.col("_np").alias("n_punct"),
        F.when(best["hits"] > 0, best["code"]).otherwise(F.lit("und")).alias("lang_pred"),
        quality.alias("quality"),
        F.md5("_norm").alias("fp"),
    )


def token_topk(
    documents: DataFrame,
    *,
    k: int = 100,
    min_len: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus vocabulary mining: the ``k`` most frequent tokens (length
    >= ``min_len``) with occurrence and document-frequency counts — the
    stopword-discovery / vocabulary-building step of a corpus pipeline.

    Scale shape: one shuffle on the token for the count, then the global
    top-k goes through ``orderBy().limit(k)`` which Spark compiles to
    ``TakeOrderedAndProject`` — each partition keeps its local top-k heap
    and only k rows per partition reach the driver-side merge, so this
    never sorts the vocabulary globally (a window over an unpartitioned
    ORDER BY would run the whole vocab through ONE reducer). The final
    rank is a row_number over just k rows. Deterministic tiebreak:
    (count desc, token asc)."""
    from pyspark.sql.window import Window

    tok = documents.select(
        F.col(id_col), F.explode(tokens("text")).alias("token")
    ).filter(F.length("token") >= min_len)
    # two-level aggregation instead of countDistinct: the distinct-expand
    # rewrite would double-shuffle the token stream ON THE TOKEN (the hot
    # key); aggregating (token, doc) first shuffles on the pair — no hot
    # key — and makes the doc frequency a plain count. Measured -20% at
    # sf0.1, bit-identical; the skew shape is the real win at corpus scale.
    per_doc = tok.groupBy("token", id_col).agg(F.count(F.lit(1)).alias("_c"))
    counts = per_doc.groupBy("token").agg(
        F.sum("_c").alias("n_occurrences"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    top = counts.orderBy(F.col("n_occurrences").desc(), F.col("token").asc()).limit(k)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(w))


def tfidf_topk(
    documents: DataFrame,
    *,
    k: int = 5,
    min_len: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-``k`` terms by TF-IDF — the keyword-extraction /
    relevance-weighting step. IDF here is the LINEAR form N/df (constant
    N drops out of a per-document ranking), so the score is the rational
    tf/df — computed as ``round(1e6 * tf / df)``: the product is an
    exact integer < 2^53 and the single division is IEEE
    correctly-rounded, so the BIGINT score is bit-identical in any
    engine (a log-idf's libm ``ln`` has no such guarantee at the last
    ulp, which could flip a round() on a .5 boundary).

    Scale shape (round 8 — skew-safe df): tf is one shuffle on
    (doc, token) — a pair key, never hot. df is a ``groupBy(token)``
    COUNT over tf joined back, NOT a COUNT window partitioned by token:
    a window partition is indivisible, so a stopword-grade token with
    df ~ N_docs would pin its entire group on ONE reducer at corpus
    scale, while the groupBy form absorbs hot keys in map-side partial
    aggregation and the join-back is AQE-splittable (skew-join splits a
    hot shuffle-join partition; it can never split a window partition)
    and AQE-broadcastable when the vocabulary is small. The round-6
    window form was adopted because the naive join-back re-evaluated
    the scan+tokenize+tf subtree twice (2 FileScans, 7 Exchanges, zero
    ReusedExchange — column pruning makes the two tf subtrees differ,
    defeating ReuseExchange); persisting tf keeps ONE scan+tokenize:
    both the df aggregate and the join probe read the same
    InMemoryRelation. df counts rows of tf (distinct (doc,token)
    pairs), so the count is exactly the document frequency. The top-k
    window partitions by doc — per-doc term lists are bounded, so that
    window is safe. Deterministic tiebreak: (score desc, token asc).

    The shared tf relation is materialized with
    ``localCheckpoint(eager=True)`` rather than ``persist()`` (round
    10): a persisted plan pins a CacheManager entry until an explicit
    unpersist — which cannot happen here because the returned lazy plan
    still references it — so repeated registry sweeps accumulated
    cached relations. A local checkpoint gives the same
    single-materialization sharing (both the df aggregate and the join
    probe read the checkpointed partitions), registers nothing in the
    CacheManager, and its blocks are freed either explicitly —
    ``operators.util.release_local_checkpoints(result)`` once a caller
    is done with the result (what bench/parity sweeps do; deterministic)
    — or by Spark's ContextCleaner when the result is dropped. The
    cleaner path is best-effort only: a measured round-10 failure mode
    is a stale reference in an idle JVM thread's stack frame pinning the
    RDD graph through arbitrarily many System.gc() cycles, so long-lived
    sweep sessions must use the explicit release. Cost: the
    materialization happens at query-construction time instead of first
    action — the same work, moved earlier.

    Measured counter-result (round 8, interleaved A/B at sf0.1, 4 reps
    each): join form median 0.99s vs window form 0.84s — the join form
    pays one extra stage (cache materialization barrier) at a scale
    where the whole query is stage-floor-bound (~0.1-0.15s/stage on
    this box). Kept anyway on the skew bound: the window form's worst
    single task processes an indivisible token partition of df_hot rows
    (df_hot ~ N_docs for a stopword — unbounded in corpus size), while
    the join form's worst task is bounded by the AQE target partition
    size regardless of token skew, and the executed plan (verified
    round 8) broadcasts the vocabulary side: the ONLY token-keyed
    exchange feeds the map-side-combined groupBy, which a hot key
    cannot overload."""
    from pyspark.sql.window import Window

    tok = documents.select(
        F.col(id_col), F.explode(tokens("text")).alias("token")
    ).filter(F.length("token") >= min_len)
    tf = (
        tok.groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    df_rel = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_rel, "token").select(
        id_col,
        "token",
        "tf",
        "df",
    ).select(
        id_col,
        "token",
        "tf",
        "df",
        ratio_e6("tf", "df").alias("score_e6"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_e6").desc(), F.col("token").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def inverted_index(
    documents: DataFrame,
    *,
    min_len: int = 6,
    min_df: int = 5,
    max_df: int = 500,
    k_postings: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Inverted-index construction: token -> (document frequency, capped
    posting list) — the retrieval-index / keyword-lookup structure a
    corpus pipeline materializes next to the training shards. Postings
    are the ``k_postings`` LOWEST doc ids ascending, serialized as a
    comma-joined string so the result is hashable in any engine.

    Scale shape — skew-safe by construction, because the hot keys here
    are exactly the stopwords: (1) distinct (doc, token) pairs shuffle
    on the PAIR (no hot key — pairs are unique); (2) df per token via
    groupBy, where map-side partial aggregation absorbs a stopword's
    fan-in before the wire; (3) the df-window [min_df, max_df] filter is
    applied by broadcast-joining the surviving vocabulary back onto the
    pairs — hot-token pairs die MAP-SIDE, before any token-keyed
    shuffle; (4) only then does the posting-rank window shuffle on the
    token, and every window group is now <= max_df rows, so no reducer
    ever sees an unbounded group. ``k_postings`` caps the materialized
    list, ``min_df`` drops the hapax tail. (If the mid-df vocabulary
    outgrows broadcast at extreme scale, the join degrades to a
    shuffle-hash join and stays correct — the skew guard it provides is
    then partial, but the dominant stopword keys are dropped either
    way since the filtered vocab no longer contains them.)"""
    from pyspark.sql.window import Window

    pairs = (
        documents.select(F.col(id_col).alias("doc_id"), F.explode(tokens("text")).alias("token"))
        .filter(F.length("token") >= min_len)
        .distinct()
    )
    vocab = (
        pairs.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= min_df) & (F.col("df") <= max_df))
    )
    kept = pairs.join(F.broadcast(vocab), "token")
    w_rank = Window.partitionBy("token").orderBy(F.col("doc_id").asc())
    return (
        kept.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= k_postings)
        .groupBy("token", "df")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("doc_id")), lambda x: x.cast("string")),
                ",",
            ).alias("postings")
        )
        .select("token", F.col("df").cast("long").alias("n_docs"), "postings")
    )


def ngram_lm_counts(
    documents: DataFrame,
    *,
    n_max: int = 3,
    min_count: int = 2,
) -> DataFrame:
    """Word n-gram count tables for n = 1..``n_max`` — the counting step
    of n-gram language modeling (the inputs Kneser-Ney smoothing and
    contamination n-gram screens consume). All orders are built in ONE
    row-local pass (one struct array per document, flattened), so the
    scan is read once, then a single shuffle on the gram counts
    everything; stopword-grade unigrams are hot values but map-side
    partial aggregation collapses them before the wire. ``min_count``
    drops the singleton tail that dominates the raw table (Zipf) and is
    useless for smoothing anyway. Returns (n, gram, cnt)."""
    def grams_for(arr: Column, n: int) -> Column:
        return F.transform(
            word_ngrams(arr, n),
            lambda g: F.struct(F.lit(n).cast("int").alias("n"), g.alias("gram")),
        )

    all_grams = let_once(
        tokens("text"),
        lambda arr: F.flatten(F.array(*[grams_for(arr, k) for k in range(1, n_max + 1)])),
    )
    return (
        documents.select(F.explode(all_grams).alias("g"))
        .select(F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
        .groupBy("n", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def source_stats(documents: DataFrame) -> DataFrame:
    """Aggregated per-source corpus stats (one shuffle on ``source``)."""
    p = document_profile(documents)
    return p.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("lang_labeled").alias("n_langs"),
        F.countDistinct("fp").alias("n_distinct_fp"),
        F.sum(F.when(F.col("quality") == "ok", 1).otherwise(0)).alias("n_quality_ok"),
    )


def bigram_repetition(
    documents: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """Per-document top-bigram repetition metrics — the Gopher/C4-style
    repetition filter signal a corpus pipeline computes before training
    (a document whose single most frequent word bigram covers a large
    fraction of all bigrams is boilerplate or generation-loop junk).
    Complements pipeline.repetition_profile, which measures the
    CHARACTER-n-gram distinct share; this one identifies the dominant
    WORD bigram and its exact coverage fraction.
    Output per document: ``n_bigrams``, the winning ``top_bigram``
    (most frequent, ties broken lexicographically ascending for
    determinism), its ``top_count``, and ``rep_frac_e6`` =
    round(1e6 * top_count / n_bigrams) — the exact-integer-ratio
    encoding tfidf_topk established (products < 2^53, one IEEE
    division, half-up round: bit-identical in any engine).

    Scale shape: bigram assembly is row-local array work inside
    whole-stage codegen; the only corpus-wide shuffle keys on the
    (doc, bigram) PAIR — never hot, map-side combined. The winner is
    then picked by ONE more aggregation at document grain (round 17,
    guide §2.3/§2.4): ``min(struct(-cnt, bigram))`` reproduces the
    (cnt DESC, bigram ASC) tie rule of the retired per-doc rank
    window exactly, and because the aggregate is map-side combined,
    only one row per document per map partition crosses the second
    exchange — the window form shuffled and SORTED the whole
    (doc, bigram) count grain twice (sum-over-partition + row_number)
    to keep one row per doc."""
    bigrams = documents.select(F.col(id_col), tokens("text").alias("toks")).select(
        id_col, F.explode(word_ngrams(F.col("toks"), 2)).alias("bigram")
    )
    counts = bigrams.groupBy(id_col, "bigram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # min(struct(-cnt, bigram)) == the (cnt DESC, bigram ASC) argmin:
    # struct ordering is lexicographic, cnt >= 1 so -cnt never overflows
    top = counts.groupBy(id_col).agg(
        F.sum("cnt").cast("int").alias("n_bigrams"),
        F.min(
            F.struct((-F.col("cnt")).alias("neg_cnt"), F.col("bigram"))
        ).alias("top"),
    )
    return top.select(
        id_col,
        "n_bigrams",
        F.col("top.bigram").alias("top_bigram"),
        (-F.col("top.neg_cnt")).cast("int").alias("top_count"),
        ratio_e6(-F.col("top.neg_cnt"), "n_bigrams").alias("rep_frac_e6"),
    )


def boilerplate_shingles(
    documents: DataFrame,
    *,
    shingle_n: int = 3,
    max_df: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document boilerplate exposure: the fraction of a document's
    DISTINCT word ``shingle_n``-grams that occur in more than
    ``max_df`` documents corpus-wide — the CCNet-style signal for
    template/navigation text that repeats across a crawl (distinct
    from contamination(), which compares against an eval set, and from
    inverted_index(), which keeps postings). Output: ``n_shingles``,
    ``n_boilerplate``, ``bp_frac_e6`` (exact integer ratio, see
    repetition_profile).

    Scale shape: (doc, shingle) pairs are deduped on the PAIR key (one
    never-hot shuffle); the corpus document frequency is a
    ``groupBy(shingle)`` whose map-side partial aggregation absorbs
    hot template shingles, and the join-back is AQE-skew-splittable —
    the same skew argument written out at tfidf_topk. The final
    rollup keys on the document."""
    grams = (
        documents.select(F.col(id_col), tokens("text").alias("toks"))
        .select(id_col, F.explode(word_ngrams(F.col("toks"), shingle_n)).alias("shingle"))
        .distinct()
        # shared by the df aggregate AND the join probe: checkpoint so
        # the scan+shingle+distinct subtree runs ONCE (the same
        # re-evaluation trap and fix as tfidf_topk — see its docstring;
        # self-cleaning, no CacheManager entry)
        .localCheckpoint(eager=True)
    )
    df_rel = grams.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("df")
    )
    return (
        grams.join(df_rel, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_shingles"),
            F.sum(F.when(F.col("df") > max_df, 1).otherwise(0))
            .cast("int")
            .alias("n_boilerplate"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_boilerplate",
            ratio_e6("n_boilerplate", "n_shingles").alias("bp_frac_e6"),
        )
    )


def vocab_growth(
    documents: DataFrame, *, n_buckets: int = 20, id_col: str = "doc_id"
) -> DataFrame:
    """Heaps-law vocabulary-growth curve: corpus docs are split into
    ``n_buckets`` equal-width ``doc_id`` ranges and each bucket reports
    how many NEW token types it introduces (tokens whose corpus-first
    occurrence falls in the bucket), plus the running vocabulary and
    running token-occurrence totals. The curve is what a tokenizer /
    dedup team reads to size vocabularies and spot templated segments
    (a flat stretch = near-zero novelty = heavy duplication).

    All outputs are exact integers; bucketing uses integer DIV so both
    engines bucket identically (no float floor).

    Scale shape (r18 re-plan — guide §2.3 "aggregate before you
    shuffle", VERDICT r17 #8): the exploded occurrences are reduced to
    (bucket, token) COUNTS by ONE map-side-combined shuffle and that
    vocab-scale relation is checkpointed; both consumers (the bucket
    totals and the token-first-bucket mins) aggregate the REDUCED
    relation instead of each re-running the explode + a full
    occurrence-grain shuffle (the r17 plan held two token-grain
    exchanges because Catalyst re-derives a shared subplan per
    consumer). bucket_tokens = sum(c) and min-bucket-per-token are
    identical over the reduced grain by construction. The checkpoint
    is |vocab x buckets-touched| rows — bounded-width, a fraction of
    the occurrence stream (unlike span_dedup's rejected corpus-sized
    checkpoint). Interleaved A/B at sf0.1 (6 rounds): 1.087 -> 1.020s
    median, re-plan faster in 5/6 (`git show
    4035b00:scripts/ab_vocab_r18.py`); at scale
    the win is one occurrence-grain exchange instead of two. The final
    cumulative window runs over exactly ``n_buckets`` rows,
    driver-scale by construction. No UDFs, no collect."""
    from pyspark.sql.window import Window

    occ = documents.select(
        F.col(id_col), F.explode(tokens("text")).alias("w")
    )
    mx = documents.agg((F.max(id_col) + 1).alias("m"))
    occ = occ.crossJoin(F.broadcast(mx)).withColumn(
        "bucket", F.expr(f"CAST(({id_col} * {n_buckets}) DIV m AS INT)")
    )
    bw = (
        occ.groupBy("bucket", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    per_bucket = bw.groupBy("bucket").agg(F.sum("c").alias("bucket_tokens"))
    firsts = (
        bw.groupBy("w")
        .agg(F.min("bucket").alias("fb"))
        .groupBy(F.col("fb").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    w = Window.orderBy("bucket")
    return (
        per_bucket.join(firsts, "bucket", "left")
        .na.fill({"new_types": 0})
        .select(
            "bucket",
            F.col("new_types").cast("int").alias("new_types"),
            F.col("bucket_tokens").cast("long").alias("bucket_tokens"),
            F.sum("new_types").over(w).cast("long").alias("cum_vocab"),
            F.sum("bucket_tokens").over(w).cast("long").alias("cum_tokens"),
        )
    )


def dice_collocations(
    documents: DataFrame, *, min_count: int = 5, k: int = 50
) -> DataFrame:
    """Top-k collocations (word bigrams) ranked by the Dice coefficient
    dice = 2*c(w1 w2) / (c(w1) + c(w2)) — the classic association
    measure for multi-word-expression extraction. Dice is chosen over
    PMI deliberately: it needs no logarithm (ln is not
    correctly-rounded across engines) and its integer form
    ``2*c_bg <= 2*N`` never overflows, so ``dice_e6`` is the exact
    integer-ratio encoding every ranked operator here uses
    (one IEEE division + half-up round, bit-identical anywhere).
    Ties break on the bigram string ascending.

    Scale shape: bigram assembly is row-local; corpus counts are two
    map-side-combined groupBys (token and bigram keys); the
    count-attach joins key on single tokens — hot keys are exactly the
    stopwords whose partial aggregates already collapsed, and the
    ``min_count`` filter runs BEFORE the joins so the joined relation
    is the rare tail, not the raw stream. Global top-k orders a
    pre-filtered relation."""
    toks = tokens("text")
    base = documents.select(toks.alias("toks"))
    uni = (
        base.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = base.filter(F.size("toks") >= 2).select(
        F.explode(
            F.transform(
                F.slice("toks", 1, F.size("toks") - 1),
                lambda x, i: F.struct(
                    x.alias("w1"),
                    F.element_at(F.col("toks"), i + F.lit(2)).alias("w2"),
                ),
            )
        ).alias("p")
    )
    bg = (
        pairs.select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_bg"))
        .filter(F.col("c_bg") >= min_count)
    )
    c1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    c2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        bg.join(c1, "w1")
        .join(c2, "w2")
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("c_bg").cast("int").alias("c_bg"),
            F.col("c1").cast("int").alias("c1"),
            F.col("c2").cast("int").alias("c2"),
            ratio_e6(2 * F.col("c_bg"), F.col("c1") + F.col("c2")).alias("dice_e6"),
        )
        .orderBy(F.col("dice_e6").desc(), F.col("bigram").asc())
        .limit(k)
    )


def ngram_novelty(
    documents: DataFrame, *, n: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """Per-document novelty: the share of a document's DISTINCT word
    ``n``-grams whose corpus-FIRST appearance (minimum doc_id) is this
    document. Low novelty on a high-doc_id document = its content
    already existed earlier in the corpus — the streaming-order
    complement of boilerplate_shingles (which needs no order) and the
    cheap pre-screen before MinHash when ingest order is meaningful.
    Output: ``n_grams``, ``n_novel``, ``novelty_e6`` (exact integer
    ratio). Documents shorter than ``n`` tokens are excluded.

    Scale shape: (doc, gram) pairs dedup on the pair key; the
    corpus-first table is a map-side-combined min over the gram key;
    the join-back is AQE-skew-splittable (same argument as
    boilerplate_shingles); final rollup keys on the document."""
    grams = (
        documents.select(F.col(id_col), tokens("text").alias("toks"))
        .select(id_col, F.explode(word_ngrams(F.col("toks"), n)).alias("g"))
        .distinct()
    )
    firsts = grams.groupBy("g").agg(F.min(id_col).alias("first_doc"))
    return (
        grams.join(firsts, "g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_grams"),
            F.sum(F.when(F.col("first_doc") == F.col(id_col), 1).otherwise(0))
            .cast("int")
            .alias("n_novel"),
        )
        .select(
            id_col,
            "n_grams",
            "n_novel",
            ratio_e6("n_novel", "n_grams").alias("novelty_e6"),
        )
    )


def source_vocab_overlap(documents: DataFrame) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus sources: for every
    unordered source pair, the distinct-token intersection size and
    ``jaccard_e6`` = |A∩B| / |A∪B| as the exact integer-ratio encoding.
    This is the corpus-mixing diagnostic (which crawls/snapshots share
    vocabulary, hence likely content) run before assigning mixture
    weights. Pairs with an empty intersection are kept at 0.

    Scale shape: the (source, token) relation is deduped on its pair
    key (one shuffle, map-side combine absorbs hot stopwords); the
    intersection self-join keys on the TOKEN and fans out at most
    |sources|² rows per token, so the join output is bounded by
    |vocab| x |sources|² — fine for a bounded source taxonomy (this
    operator's contract). For web-scale domain counts, bucket the
    domains through minhash_lsh instead; this is documented, not
    hidden."""
    sv = (
        documents.select(
            F.col("source"), F.explode(tokens("text")).alias("w")
        )
        .distinct()
    )
    vocab = sv.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    a = sv.select(F.col("source").alias("source_a"), "w")
    b = sv.select(F.col("source").alias("source_b"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    va = vocab.select(F.col("source").alias("source_a"), F.col("v").alias("va"))
    vb = vocab.select(F.col("source").alias("source_b"), F.col("v").alias("vb"))
    pairs = (
        va.crossJoin(vb)
        .filter(F.col("source_a") < F.col("source_b"))
        .join(inter, ["source_a", "source_b"], "left")
        .na.fill({"inter": 0})
    )
    return pairs.select(
        "source_a",
        "source_b",
        F.col("inter").cast("int").alias("inter"),
        ratio_e6("inter", F.col("va") + F.col("vb") - F.col("inter")).alias(
            "jaccard_e6"
        ),
    )


def rare_token_share(
    documents: DataFrame, *, max_count: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """Per-document share of token OCCURRENCES whose corpus-wide count
    is at most ``max_count`` — the hapax/dis-legomenon rate at the
    default. High rare-share flags OCR noise, codes/IDs, mangled
    encodings and boilerplate-free junk; it is the frequency-tier
    complement of quality_bucket's shape heuristics and a standard
    corpus-linguistics statistic. Output: ``n_tokens``, ``n_rare``,
    ``rare_share_e6`` (exact integer ratio, one boundary division).

    Scale shape: occurrences reduce to (doc, token) counts FIRST — one
    map-side-combined shuffle at document-bounded grain, so a hot
    stopword contributes one row per carrying document, never an
    occurrence row. Corpus counts re-aggregate that REDUCED relation
    on the token key, and the flag attaches by a token-keyed join of
    the two (the rare SET is most of a Zipfian vocabulary, so a
    broadcast would not scale — but both join inputs already share the
    token partitioning). The shared (doc, token) relation is
    localCheckpoint'ed (the tfidf / revenue_share_parts rule: Catalyst
    re-executes a shared subplan on both sides of a self-join —
    unchecked, the explode and its shuffle would run twice). Final
    rollup keys on the document."""
    occ = documents.select(F.col(id_col), F.explode(tokens("text")).alias("w"))
    per_dt = (
        occ.groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("c_dt"))
        .localCheckpoint(eager=True)
    )
    corpus = per_dt.groupBy("w").agg(F.sum("c_dt").alias("c_w"))
    return (
        per_dt.join(corpus, "w")
        .groupBy(id_col)
        .agg(
            F.sum("c_dt").cast("long").alias("n_tokens"),
            F.sum(
                F.when(F.col("c_w") <= max_count, F.col("c_dt")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_rare"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_rare",
            F.floor(
                F.lit(1000000.0) * F.col("n_rare") / F.col("n_tokens")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("rare_share_e6"),
        )
    )
