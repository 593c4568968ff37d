"""Extension-operator queries for the driver contract: dedup, similarity
search, text analysis, multimodal metadata, event-time windows
(SURVEY.md section 7 M4 — the training-data-pipeline tier).

Oracle SQL is *generated from the same constants* as the Spark plans
(marker words, shingle width, thresholds), so the two sides cannot
drift. Operators built on Spark-specific hashes (xxhash64/hash) have no
SQL oracle — the driver records a rows-only check for them, by design.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hhek2sqlite_spark.operators import dedup, pipeline, similarity
from hhek2sqlite_spark.operators.asof import as_of_join
from hhek2sqlite_spark.operators.multimodal import binary_metadata, decode_features, with_binary_payload
from hhek2sqlite_spark.operators.sessionize import sessionize
from hhek2sqlite_spark.operators.util import spread
from hhek2sqlite_spark.operators.text import (
    BPE_PATTERN,
    LANG_MARKERS,
    ROLLING_BASE,
    ROLLING_MOD,
    bpe_token_count,
    document_profile,
    rolling_fingerprint,
    source_stats,
)
from hhek2sqlite_spark.session import SESSION_MEMO
from hhek2sqlite_spark.sources.parquet import _file_signature, load_table
from hhek2sqlite_spark.streaming import events as ev

# shared SQL fragments -------------------------------------------------------

_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
# SQL e6 discounted price / SQL cents (reference.py's _SD6/_SC, restated
# here so the module-level oracle f-strings don't need a cross-module
# import)
_SD6_EXT = (
    "CAST(ROUND({0}*100) AS BIGINT) * (10000 - CAST(ROUND({1}*10000) AS BIGINT))"
)
_SC_EXT = "CAST(ROUND({0}*100) AS BIGINT)"
_TOKS = f"string_split({_NORM}, ' ')"


def _hits(markers: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({_TOKS}, x -> x IN ({lst})))"


def _lang_case() -> str:
    codes = sorted(LANG_MARKERS)
    hits = {c: f"hits_{c}" for c in codes}
    whens = []
    for c in codes:
        conds = [f"{hits[c]} >= {hits[o]}" for o in codes if o != c]
        conds.append(f"{hits[c]} > 0")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{c}'")
    return "CASE " + " ".join(whens) + " ELSE 'und' END"


_PUNCT_CLASS = "[.,;:!?''\"()\\[\\]{}-]"  # '' = escaped quote inside SQL literal

_PROFILE_CTE = f"""
WITH base AS (
    SELECT doc_id, source, lang AS lang_labeled, text,
           {_NORM} AS norm,
           {_TOKS} AS toks,
           length(text) AS n_chars,
           CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct({_TOKS})) AS INTEGER) AS n_uniq_tokens,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INTEGER) AS n_digits,
           CAST(length(text) - length(regexp_replace(text, '{_PUNCT_CLASS}', '', 'g')) AS INTEGER) AS n_punct,
           {" ".join(f"{_hits(m)} AS hits_{c}," for c, m in sorted(LANG_MARKERS.items()))[:-1]}
    FROM documents
), profile AS (
    SELECT doc_id, source, lang_labeled,
           CAST(n_chars AS INTEGER) AS n_chars,
           n_tokens, n_uniq_tokens, n_digits, n_punct,
           {_lang_case()} AS lang_pred,
           CASE WHEN n_chars IS NULL THEN 'null'
                WHEN n_chars < 20 THEN 'too_short'
                WHEN n_tokens < 5 THEN 'too_few_tokens'
                WHEN n_punct * 5 > n_chars THEN 'punct_heavy'
                WHEN n_digits * 10 > n_chars * 3 THEN 'digit_heavy'
                WHEN n_chars > n_tokens * 16 THEN 'tokens_too_long'
                ELSE 'ok' END AS quality,
           md5(norm) AS fp
    FROM base
)
"""


# text analysis --------------------------------------------------------------

def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the profile's regex/tokenize work is CPU-bound and the
    # fixture scans as ONE task (single row group) — measured 2x at sf0.1
    prof = document_profile(spread(load_table(spark, sf_dir, "documents")))
    return prof.withColumn("n_chars", F.col("n_chars").cast("int")) \
               .withColumn("n_tokens", F.col("n_tokens").cast("int")) \
               .withColumn("n_uniq_tokens", F.col("n_uniq_tokens").cast("int")) \
               .withColumn("n_digits", F.col("n_digits").cast("int")) \
               .withColumn("n_punct", F.col("n_punct").cast("int"))


SQL_TEXT_PROFILE = _PROFILE_CTE + "SELECT * FROM profile"


def q_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_stats(spread(load_table(spark, sf_dir, "documents")))


SQL_SOURCE_STATS = _PROFILE_CTE + """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
       CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS total_tokens,
       COUNT(DISTINCT lang_labeled) AS n_langs,
       COUNT(DISTINCT fp) AS n_distinct_fp,
       CAST(SUM(CASE WHEN quality = 'ok' THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok
FROM profile GROUP BY source
"""


_VOCAB_K = 100
_VOCAB_MIN_LEN = 2
_TFIDF_K = 5
_TFIDF_MIN_LEN = 4
_STRAT_N = 25


def q_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hhek2sqlite_spark.operators.text import token_topk

    return token_topk(
        spread(load_table(spark, sf_dir, "documents")),
        k=_VOCAB_K,
        min_len=_VOCAB_MIN_LEN,
    )


SQL_TOKEN_TOPK = f"""
WITH n AS (SELECT doc_id, {_NORM} AS t FROM documents),
tok AS (
    SELECT doc_id, tk AS token
    FROM n, LATERAL unnest(string_split(t, ' ')) u(tk)
    WHERE length(tk) >= {_VOCAB_MIN_LEN}
),
counts AS (
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM tok GROUP BY token
),
top AS (
    SELECT * FROM counts ORDER BY n_occurrences DESC, token ASC LIMIT {_VOCAB_K}
)
SELECT token, n_occurrences, n_docs,
       CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token ASC) AS INTEGER) AS rank
FROM top
"""


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hhek2sqlite_spark.operators.text import tfidf_topk

    return tfidf_topk(
        spread(load_table(spark, sf_dir, "documents")),
        k=_TFIDF_K,
        min_len=_TFIDF_MIN_LEN,
    )


SQL_TFIDF_TOPK = f"""
WITH n AS (SELECT doc_id, {_NORM} AS t FROM documents),
tok AS (
    SELECT doc_id, tk AS token
    FROM n, LATERAL unnest(string_split(t, ' ')) u(tk)
    WHERE length(tk) >= {_TFIDF_MIN_LEN}
),
tf AS (
    SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok GROUP BY doc_id, token
),
idf AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
),
scored AS (
    SELECT tf.doc_id, tf.token, tf.tf, idf.df,
           CAST(ROUND(1000000.0 * tf.tf / idf.df) AS BIGINT) AS score_e6
    FROM tf JOIN idf USING (token)
),
ranked AS (
    SELECT doc_id, token, tf, df, score_e6,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_e6 DESC, token ASC) AS INTEGER) AS rank
    FROM scored
)
SELECT * FROM ranked WHERE rank <= {_TFIDF_K}
"""

# constants sized so every pruning path is LIVE at sf0.01: the fixture
# vocabulary has ~24 tokens of length >= 4, df up to 402 — max_df=400
# actually drops the stopword-grade token and k_postings=16 actually
# truncates posting lists
_IDX_MIN_LEN = 4
_IDX_MIN_DF = 3
_IDX_MAX_DF = 400
_IDX_K_POSTINGS = 16


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hhek2sqlite_spark.operators.text import inverted_index

    return inverted_index(
        spread(load_table(spark, sf_dir, "documents")),
        min_len=_IDX_MIN_LEN,
        min_df=_IDX_MIN_DF,
        max_df=_IDX_MAX_DF,
        k_postings=_IDX_K_POSTINGS,
    )


SQL_INVERTED_INDEX = f"""
WITH n AS (SELECT doc_id, {_NORM} AS t FROM documents),
tok AS (
    SELECT DISTINCT doc_id, tk AS token
    FROM n, LATERAL unnest(string_split(t, ' ')) u(tk)
    WHERE length(tk) >= {_IDX_MIN_LEN}
),
ranked AS (
    SELECT token, doc_id,
           ROW_NUMBER() OVER (PARTITION BY token ORDER BY doc_id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY token) AS df
    FROM tok
)
SELECT token, CAST(df AS BIGINT) AS n_docs,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id ASC) AS postings
FROM ranked
WHERE df BETWEEN {_IDX_MIN_DF} AND {_IDX_MAX_DF} AND rn <= {_IDX_K_POSTINGS}
GROUP BY token, df
"""


_PR_ITERS = 5
_PR_DAMP_NUM = 85
_PR_DAMP_DEN = 100


def q_supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier co-purchase graph (suppliers linked
    when they supply the same order). Fixed 5 integer-quantized rounds
    — exactly what the unrolled-CTE oracle computes."""
    from hhek2sqlite_spark.operators.graph import cooccurrence_edges, pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = cooccurrence_edges(li, group_col="l_orderkey", item_col="l_suppkey")
    pr = pagerank(
        edges,
        iterations=_PR_ITERS,
        damping_num=_PR_DAMP_NUM,
        damping_den=_PR_DAMP_DEN,
    )
    return pr.select(F.col("node").alias("s_suppkey"), "rank_micros")


def _pagerank_oracle_sql() -> str:
    from hhek2sqlite_spark.operators.graph import RANK_SCALE

    base = ((_PR_DAMP_DEN - _PR_DAMP_NUM) * RANK_SCALE) // _PR_DAMP_DEN
    ctes = [
        "base AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)",
        "edges AS (SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst"
        " FROM base a JOIN base b USING (l_orderkey)"
        " WHERE a.l_suppkey <> b.l_suppkey)",
        "deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src)",
        f"r0 AS (SELECT src AS node, CAST({RANK_SCALE} AS BIGINT) AS rank_micros FROM deg)",
    ]
    for i in range(_PR_ITERS):
        ctes.append(
            f"r{i + 1} AS (SELECT e.dst AS node,"
            f" CAST({base} + ({_PR_DAMP_NUM} * SUM(r.rank_micros // d.out_deg))"
            f" // {_PR_DAMP_DEN} AS BIGINT) AS rank_micros"
            f" FROM edges e JOIN deg d ON e.src = d.src"
            f" JOIN r{i} r ON r.node = e.src GROUP BY e.dst)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node AS s_suppkey, rank_micros FROM r{_PR_ITERS}"
    )


SQL_SUPPLIER_PAGERANK = _pagerank_oracle_sql()

_SCD_BASE_FROM = "1992-01-01"
_SCD_EFF1 = "1996-06-01"
_SCD_EFF2 = "1997-03-01"


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension history for customer market segment. The update
    feed is derived deterministically from the snapshot (the fixture
    has no CDC feed): batch 1 re-segments every 5th customer to
    MIGRATED — except every 10th, whose update is a NO-OP (same value,
    must collapse); batch 2 moves every 15th to PREMIUM. Identical
    derivation in the SQL twin, so both change-detection paths (real
    change, no-op collapse) are live under the oracle."""
    from hhek2sqlite_spark.operators.scd import scd2_merge

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    u1 = cust.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, F.col("c_mktsegment"))
        .otherwise(F.lit("MIGRATED"))
        .alias("c_mktsegment"),
        F.lit(_SCD_EFF1).alias("eff"),
    )
    u2 = cust.filter(F.col("c_custkey") % 15 == 0).select(
        "c_custkey",
        F.lit("PREMIUM").alias("c_mktsegment"),
        F.lit(_SCD_EFF2).alias("eff"),
    )
    return scd2_merge(
        cust,
        u1.unionByName(u2),
        key="c_custkey",
        attr="c_mktsegment",
        base_from=_SCD_BASE_FROM,
    )


SQL_SCD2_HISTORY = f"""
WITH base AS (
    SELECT c_custkey, c_mktsegment, '{_SCD_BASE_FROM}' AS eff FROM customer
),
u1 AS (
    SELECT c_custkey,
           CASE WHEN c_custkey % 10 = 0 THEN c_mktsegment ELSE 'MIGRATED' END AS c_mktsegment,
           '{_SCD_EFF1}' AS eff
    FROM customer WHERE c_custkey % 5 = 0
),
u2 AS (
    SELECT c_custkey, 'PREMIUM' AS c_mktsegment, '{_SCD_EFF2}' AS eff
    FROM customer WHERE c_custkey % 15 = 0
),
rows_ AS (
    SELECT * FROM base UNION ALL SELECT * FROM u1 UNION ALL SELECT * FROM u2
),
marked AS (
    SELECT c_custkey, c_mktsegment, eff,
           ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY eff ASC, c_mktsegment ASC NULLS FIRST) AS rn,
           LAG(c_mktsegment) OVER (PARTITION BY c_custkey ORDER BY eff ASC, c_mktsegment ASC NULLS FIRST) AS prev
    FROM rows_
),
kept AS (
    -- null-safe, mirrors the Spark-side eqNullSafe + first-row marker
    SELECT c_custkey, c_mktsegment, eff FROM marked
    WHERE rn = 1 OR prev IS DISTINCT FROM c_mktsegment
),
v AS (
    SELECT c_custkey, c_mktsegment, eff AS valid_from,
           COALESCE(LEAD(eff) OVER (PARTITION BY c_custkey ORDER BY eff ASC, c_mktsegment ASC NULLS FIRST), '9999-12-31') AS valid_to
    FROM kept
)
SELECT c_custkey, c_mktsegment, valid_from, valid_to,
       valid_to = '9999-12-31' AS is_current
FROM v
"""

_UPSERT_NEWKEY_OFFSET = 10_000_000


def q_customer_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO over the customer dimension. The changeset is derived
    deterministically from the snapshot (no CDC feed in the fixture):
    every 7th customer is UPDATED (segment + acctbal bump — the matched
    path), and every 997th spawns a new key far above the domain (the
    not-matched insert path). Identical derivation in the SQL twin."""
    from hhek2sqlite_spark.operators.scd import merge_upsert

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    updates = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.lit("UPDATED").alias("c_mktsegment"),
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
    )
    inserts = cust.filter(F.col("c_custkey") % 997 == 0).select(
        (F.col("c_custkey") + _UPSERT_NEWKEY_OFFSET).alias("c_custkey"),
        F.lit("INSERTED").alias("c_mktsegment"),
        "c_acctbal",
    )
    return merge_upsert(cust, updates.unionByName(inserts), key="c_custkey")


SQL_CUSTOMER_UPSERT = f"""
WITH tgt AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
src AS (
    SELECT c_custkey, 'UPDATED' AS c_mktsegment, c_acctbal + 100.0 AS c_acctbal
    FROM customer WHERE c_custkey % 7 = 0
    UNION ALL
    SELECT c_custkey + {_UPSERT_NEWKEY_OFFSET}, 'INSERTED', c_acctbal
    FROM customer WHERE c_custkey % 997 = 0
),
marked AS (SELECT *, TRUE AS has_src FROM src)
SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
       CASE WHEN s.has_src THEN s.c_mktsegment ELSE t.c_mktsegment END AS c_mktsegment,
       CASE WHEN s.has_src THEN s.c_acctbal ELSE t.c_acctbal END AS c_acctbal
FROM tgt t FULL OUTER JOIN marked s ON t.c_custkey = s.c_custkey
"""

_OUTLIER_Z = 2
_OUTLIER_QUANT = 1000


def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hhek2sqlite_spark.operators.stats import value_outliers

    out = value_outliers(
        load_table(spark, sf_dir, "events"),
        z=_OUTLIER_Z,
        quant=_OUTLIER_QUANT,
    )
    return out.select("event_id", "event_type", "value")


SQL_VALUE_OUTLIERS = f"""
WITH q AS (
    SELECT event_id, event_type, value,
           CAST(FLOOR(value * {_OUTLIER_QUANT}) AS BIGINT) AS qv
    FROM events
),
stats AS (
    SELECT event_type,
           CAST(COUNT(qv) AS BIGINT) AS n,
           CAST(SUM(qv) AS BIGINT) AS s,
           CAST(SUM(qv * qv) AS BIGINT) AS s2
    FROM q GROUP BY event_type
)
SELECT q.event_id, q.event_type, q.value
FROM q JOIN stats USING (event_type)
WHERE CAST(n * qv - s AS DOUBLE) * CAST(n * qv - s AS DOUBLE)
      > {_OUTLIER_Z * _OUTLIER_Z} * (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
"""

_QUANT_BITS = 8


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.quantize_profile(
        load_table(spark, sf_dir, "embeddings"), bits=_QUANT_BITS
    )


SQL_EMBEDDING_QUANTIZE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
s AS (SELECT vec_id, ed, list_max(list_transform(ed, x -> abs(x))) AS sc FROM e)
SELECT vec_id,
       CAST(ROUND(sc * 1000000) AS BIGINT) AS scale_e6,
       CAST(ROUND(list_max(list_transform(ed,
            x -> abs(x - round(x / sc * {(1 << (_QUANT_BITS - 1)) - 1}) * sc / {(1 << (_QUANT_BITS - 1)) - 1})))
            * 1000000000) AS BIGINT) AS max_err_e9
FROM s
"""

_LM_N_MAX = 3
_LM_MIN_COUNT = 2


def q_ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hhek2sqlite_spark.operators.text import ngram_lm_counts

    return ngram_lm_counts(
        spread(load_table(spark, sf_dir, "documents")),
        n_max=_LM_N_MAX,
        min_count=_LM_MIN_COUNT,
    )


SQL_NGRAM_LM_COUNTS = f"""
WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM norm),
grams AS (
    SELECT g.n AS n, array_to_string(list_slice(toks, i, i + g.n - 1), ' ') AS gram
    FROM tok,
         LATERAL unnest([{", ".join(str(k) for k in range(1, _LM_N_MAX + 1))}]) g(n),
         LATERAL unnest(generate_series(1, len(toks) - g.n + 1)) s(i)
)
SELECT n, gram, CAST(COUNT(*) AS BIGINT) AS cnt
FROM grams GROUP BY n, gram
HAVING COUNT(*) >= {_LM_MIN_COUNT}
"""

# BIGINT/VARCHAR columns only: their string rendering is identical in
# both engines, where a DOUBLE min/max would hash-differ ('1.0E7' vs
# '10000000.0')
_STATS_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")


def q_daily_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hhek2sqlite_spark.operators.timeseries import daily_ohlc

    out = daily_ohlc(load_table(spark, sf_dir, "events"))
    return out.withColumn("day", F.date_format("day", "yyyy-MM-dd"))


SQL_DAILY_OHLC = """
WITH staged AS (
    SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
           CAST(FLOOR(value * 1000) AS BIGINT) AS q
    FROM events
),
marked AS (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY ts ASC, event_id ASC) AS ra,
           ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY ts DESC, event_id DESC) AS rd
    FROM staged
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       CAST(MAX(CASE WHEN ra = 1 THEN q END) AS BIGINT) AS open_q,
       CAST(MAX(q) AS BIGINT) AS high_q,
       CAST(MIN(q) AS BIGINT) AS low_q,
       CAST(MAX(CASE WHEN rd = 1 THEN q END) AS BIGINT) AS close_q,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM marked GROUP BY event_type, day
"""

_GAPFILL_QUANT = 1000


def q_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hhek2sqlite_spark.operators.timeseries import daily_gapfill_locf

    out = daily_gapfill_locf(
        load_table(spark, sf_dir, "events"), quant=_GAPFILL_QUANT
    )
    # boundary type: DATE reaches pandas as datetime64 from DuckDB but
    # as date objects from Spark — ISO strings are the hash-stable form
    return out.withColumn("day", F.date_format("day", "yyyy-MM-dd"))


SQL_DAILY_GAPFILL = f"""
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(FLOOR(value * {_GAPFILL_QUANT}) AS BIGINT)) AS BIGINT) AS sq,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY user_id, day
),
span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id),
grid AS (
    SELECT user_id, CAST(u.d AS DATE) AS day
    FROM span, LATERAL unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) u(d)
),
j AS (
    SELECT g.user_id, g.day, d.sq, COALESCE(d.n, 0) AS n
    FROM grid g LEFT JOIN daily d USING (user_id, day)
),
marked AS (
    SELECT *, COUNT(sq) OVER (PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING) AS island
    FROM j
)
SELECT user_id, strftime(CAST(day AS DATE), '%Y-%m-%d') AS day,
       CAST(n AS BIGINT) AS n_events,
       MAX(sq) OVER (PARTITION BY user_id, island) AS sum_q_filled,
       sq IS NULL AS is_gap
FROM marked
"""


def q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hhek2sqlite_spark.operators.stats import table_stats

    return table_stats(load_table(spark, sf_dir, "orders"), columns=_STATS_COLS)


def _table_stats_sql() -> str:
    parts = [
        f"SELECT '{c}' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,"
        f" CAST(COUNT({c}) AS BIGINT) AS n_nonnull,"
        f" CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,"
        f" CAST(MIN({c}) AS VARCHAR) AS min_value,"
        f" CAST(MAX({c}) AS VARCHAR) AS max_value FROM orders"
        for c in _STATS_COLS
    ]
    return "\nUNION ALL\n".join(parts)


SQL_TABLE_STATS = _table_stats_sql()


def q_value_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hhek2sqlite_spark.operators.stats import equi_depth_bins

    return equi_depth_bins(load_table(spark, sf_dir, "events"))


SQL_VALUE_BINNED = """
WITH ranked AS (
    -- non-null only, mirroring the Spark fit: NULLs in rn/n would push
    -- the quartile ranks into the NULL tail (round-5 advice)
    SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events WHERE value IS NOT NULL
),
fences AS (
    SELECT event_type,
           MIN(CASE WHEN rn = CAST(CEIL(n * 25 / 100.0) AS BIGINT) THEN value END) AS p25,
           MIN(CASE WHEN rn = CAST(CEIL(n * 50 / 100.0) AS BIGINT) THEN value END) AS p50,
           MIN(CASE WHEN rn = CAST(CEIL(n * 75 / 100.0) AS BIGINT) THEN value END) AS p75
    FROM ranked GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       CASE WHEN e.value IS NULL THEN 'null'
            WHEN e.value <= f.p25 THEN 'q1'
            WHEN e.value <= f.p50 THEN 'q2'
            WHEN e.value <= f.p75 THEN 'q3'
            ELSE 'q4' END AS bucket
FROM events e LEFT JOIN fences f USING (event_type)
"""


def q_user_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hhek2sqlite_spark.operators.stats import key_skew_profile

    return key_skew_profile(load_table(spark, sf_dir, "events"), key_col="user_id")


SQL_USER_KEY_SKEW = """
WITH counts AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY user_id
)
SELECT CAST(length(bin(cnt)) - 1 AS INTEGER) AS log2_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(MAX(cnt) AS BIGINT) AS max_cnt
FROM counts GROUP BY log2_bucket
"""

_CMS_DEPTH = 4
_CMS_WIDTH = 1024
_CMS_MIN_LEN = 2


def q_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream — the mergeable
    frequency summary a fleet of ingest workers would each build and
    add cell-wise. The driver compares the full counter matrix."""
    from hhek2sqlite_spark.operators.stats import cms_sketch
    from hhek2sqlite_spark.operators.text import tokens

    tok = (
        spread(load_table(spark, sf_dir, "documents"))
        .select(F.explode(tokens("text")).alias("token"))
        .filter(F.length("token") >= _CMS_MIN_LEN)
    )
    return cms_sketch(tok, item_col="token", depth=_CMS_DEPTH, width=_CMS_WIDTH)


SQL_CMS_TOKEN_COUNTS = f"""
WITH n AS (SELECT {_NORM} AS t FROM documents),
tok AS (
    SELECT tk AS token
    FROM n, LATERAL unnest(string_split(t, ' ')) u(tk)
    WHERE length(tk) >= {_CMS_MIN_LEN}
),
halves AS (
    -- one md5 per token, split into two 60-bit halves (double hashing),
    -- mirroring cms_sketch exactly
    SELECT CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS h1,
           CAST('0x' || substr(md5(token), 16, 15) AS BIGINT) AS h2
    FROM tok
),
cells AS (
    SELECT r AS hash_row, (h1 + r * h2) % {_CMS_WIDTH} AS cell
    FROM halves, LATERAL unnest([{", ".join(str(r) for r in range(_CMS_DEPTH))}]) u(r)
)
SELECT hash_row, cell, CAST(COUNT(*) AS BIGINT) AS cnt
FROM cells GROUP BY hash_row, cell
"""

def q_bloom_doc_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter over document fingerprint keys (normalized text),
    materialized as its set-bit positions — the persistable ingest-dedup
    probe (a new batch tests membership before paying the LEFT ANTI
    join against the corpus store). Mergeable: filters OR together as a
    DISTINCT union of bit rows. Exact cross-engine arithmetic (one md5,
    Kirsch-Mitzenmacher bit derivation), so the driver compares the bit
    set bit for bit."""
    from hhek2sqlite_spark.operators.stats import bloom_sketch
    from hhek2sqlite_spark.operators.text import normalized

    docs = spread(load_table(spark, sf_dir, "documents"))
    items = docs.select(normalized("text").alias("norm"))
    return bloom_sketch(items, item_col="norm")


def _sql_bloom_doc_bits() -> str:
    # rendered from the SAME constants as bloom_sketch
    from hhek2sqlite_spark.operators.stats import BLOOM_K, BLOOM_M_BITS

    ks = ", ".join(str(r) for r in range(BLOOM_K))
    return f"""
WITH n AS (SELECT {_NORM} AS t FROM documents),
halves AS (
    SELECT CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h1,
           CAST('0x' || substr(md5(t), 16, 15) AS BIGINT) AS h2
    FROM n WHERE t IS NOT NULL
)
SELECT DISTINCT (h1 + r * h2) % {BLOOM_M_BITS} AS bit
FROM halves, LATERAL unnest([{ks}]) u(r)
"""


SQL_BLOOM_DOC_BITS = _sql_bloom_doc_bits()

_EVAL_K = 20


def q_eval_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-language eval sample (absolute-count cap,
    complementing the rate-based stratified samplers) — hash-ranked so
    the chosen set is reproducible on any engine
    (operators/pipeline.py group_sample_k)."""
    from hhek2sqlite_spark.operators.pipeline import group_sample_k

    docs = spread(load_table(spark, sf_dir, "documents"))
    return group_sample_k(docs, group_col="lang", k=_EVAL_K)


SQL_EVAL_SAMPLE_PER_LANG = f"""
WITH r AS (
    SELECT lang AS grp, doc_id,
           md5(CAST(doc_id AS VARCHAR) || ':eval') AS _k
    FROM documents
),
ranked AS (
    SELECT grp, doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY _k, doc_id) - 1
                AS BIGINT) AS rank
    FROM r
)
SELECT grp, rank, doc_id FROM ranked WHERE rank < {_EVAL_K}
"""

_EPOCH = 3
_SHUFFLE_SHARDS = 16


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-epoch permutation of the corpus: sharded
    hash order with within-shard positions — reproducible on any
    engine, no global sort anywhere (operators/pipeline.py
    epoch_shuffle)."""
    from hhek2sqlite_spark.operators.pipeline import epoch_shuffle

    docs = spread(load_table(spark, sf_dir, "documents"))
    return epoch_shuffle(docs, epoch=_EPOCH, n_shards=_SHUFFLE_SHARDS)


SQL_EPOCH_SHUFFLE = f"""
WITH k AS (
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR) || ':' || '{_EPOCH}') AS _k
    FROM documents
),
s AS (
    SELECT doc_id, _k,
           CAST('0x' || substr(_k, 1, 15) AS BIGINT) % {_SHUFFLE_SHARDS} AS shard
    FROM k
)
SELECT shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY _k, doc_id) - 1
            AS BIGINT) AS pos,
       doc_id
FROM s
"""


_DECAY_MAX_AGE = 30
_DECAY_UNIT_BITS = 30


def q_decayed_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hhek2sqlite_spark.operators.stats import decayed_counts

    return decayed_counts(
        load_table(spark, sf_dir, "events"),
        max_age_days=_DECAY_MAX_AGE,
        unit_bits=_DECAY_UNIT_BITS,
    )


SQL_DECAYED_TYPE_COUNTS = f"""
WITH anchor AS (SELECT MAX(CAST(ts AS DATE)) AS a FROM events),
aged AS (
    SELECT event_type, datediff('day', CAST(ts AS DATE), anchor.a) AS age
    FROM events, anchor
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN age <= {_DECAY_MAX_AGE}
                     THEN CAST(1 AS BIGINT) << ({_DECAY_UNIT_BITS} - age)
                     ELSE 0 END) AS BIGINT) AS decayed_units
FROM aged GROUP BY event_type
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.stratified_sample(
        load_table(spark, sf_dir, "documents"), n_per_stratum=_STRAT_N
    )


SQL_STRATIFIED_SAMPLE = f"""
WITH s AS (SELECT doc_id, source, md5({_NORM}) AS sample_key FROM documents),
r AS (
    SELECT doc_id, source, sample_key,
           CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY sample_key ASC, doc_id ASC) AS INTEGER) AS sample_rank
    FROM s
)
SELECT * FROM r WHERE sample_rank <= {_STRAT_N}
"""


# dedup ----------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_keepers(load_table(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = f"""
SELECT md5({_NORM}) AS fp, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""

_NGRAM_N = 8
_NGRAM_MAX_DF = 20
_J_NUM, _J_DEN = 1, 10


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread (r18): the shingle explode + per-doc distinct ran glued to
    # the documents scan's split count (ONE task on the single-row-group
    # fixture) — invisible before r18 because the timed rep was served
    # from the warm rep's CacheManager entry (the declared r18
    # measurement fix); honest interleaved A/B at sf0.1: 4.58 -> 1.48s
    # median, identical pairs. Same decoupling every other shingle/
    # fingerprint query already had (minhash/simhash/similarity_lsh);
    # SPARK_GRAFT_SPREAD=0 still disables it for >=cores-splits layouts.
    return dedup.ngram_jaccard_pairs(
        spread(load_table(spark, sf_dir, "documents")),
        n=_NGRAM_N,
        max_df=_NGRAM_MAX_DF,
        threshold_num=_J_NUM,
        threshold_den=_J_DEN,
    )


SQL_NGRAM_JACCARD = f"""
WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
sh AS (
    SELECT DISTINCT doc_id, substr(t, CAST(i AS INTEGER), {_NGRAM_N}) AS shingle
    FROM norm, LATERAL unnest(generate_series(1, greatest(length(t) - {_NGRAM_N - 1}, 0))) u(i)
    WHERE length(substr(t, CAST(i AS INTEGER), {_NGRAM_N})) = {_NGRAM_N}
),
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {_NGRAM_MAX_DF}),
shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shr GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
    FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT s.id_a, s.id_b, s.shared, sa.n_shingles AS na, sb.n_shingles AS nb
FROM shared s
JOIN sizes sa ON s.id_a = sa.doc_id
JOIN sizes sb ON s.id_b = sb.doc_id
WHERE s.shared * {_J_DEN} >= {_J_NUM} * (sa.n_shingles + sb.n_shingles - s.shared)
"""


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # engine-portable hashes since round 3 — fully DuckDB-oracle-paired
    return dedup.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # engine-portable hashes since round 3 — fully DuckDB-oracle-paired
    return dedup.simhash_pairs(load_table(spark, sf_dir, "documents"))


# --- DuckDB twins of the MinHash/SimHash pipelines, generated from the
# SAME constants the Spark operators use (permutation params, band
# packing, chunk widths), so the two sides cannot drift. ---

_MINHASH_K = 64
_MINHASH_BANDS = 16
_MINHASH_ROWS = _MINHASH_K // _MINHASH_BANDS
_MINHASH_MIN_EST = 16
_M61_MASK = (1 << 61) - 1


def _sql_minhash_lsh() -> str:
    perms = dedup._perm_params(_MINHASH_K)
    h32 = dedup.shingle_hash32_sql("shingle", _NGRAM_N, char_fn="ord")
    mins = ",\n           ".join(
        f"MIN(((h * {a}) + {b}) & {_M61_MASK}) AS s{i}"
        for i, (a, b) in enumerate(perms)
    )
    keys = ", ".join(
        dedup.band_key_sql(
            [f"s{b * _MINHASH_ROWS + i}" for i in range(_MINHASH_ROWS)]
        )
        for b in range(_MINHASH_BANDS)
    )
    est = " + ".join(
        f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(_MINHASH_K)
    )
    return f"""
WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
sh AS (
    SELECT DISTINCT doc_id, substr(t, CAST(i AS INTEGER), {_NGRAM_N}) AS shingle
    FROM norm, LATERAL unnest(generate_series(1, greatest(length(t) - {_NGRAM_N - 1}, 0))) u(i)
    WHERE length(substr(t, CAST(i AS INTEGER), {_NGRAM_N})) = {_NGRAM_N}
),
h AS (SELECT doc_id, {h32} AS h FROM sh),
sigs AS (
    SELECT doc_id,
           {mins}
    FROM h GROUP BY doc_id
),
banded AS (
    SELECT doc_id, bnd AS band,
           ([{keys}])[bnd + 1] AS band_hash
    FROM sigs, LATERAL unnest(generate_series(0, {_MINHASH_BANDS - 1})) u(bnd)
),
cand AS (
    SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
    FROM banded x
    JOIN banded y ON x.band = y.band AND x.band_hash = y.band_hash
               AND x.doc_id < y.doc_id
)
SELECT c.id_a, c.id_b, CAST({est} AS INTEGER) AS est_matches
FROM cand c
JOIN sigs a ON c.id_a = a.doc_id
JOIN sigs b ON c.id_b = b.doc_id
WHERE ({est}) >= {_MINHASH_MIN_EST}
"""


SQL_MINHASH_LSH = _sql_minhash_lsh()


def q_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash pairs -> connected components: the dedup endgame (one
    canonical doc per cluster). Same pair generation as minhash_lsh,
    then iterative min-label propagation (operators/dedup.py::
    neardup_clusters)."""
    pairs = dedup.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))
    return dedup.neardup_clusters(pairs)


def _sql_minhash_clusters() -> str:
    # transitive closure via recursive CTE over the SAME pair SQL the
    # minhash_lsh oracle uses (nested WITH inside a derived table);
    # cluster_id = min reachable id, exactly the fixpoint the Spark
    # label propagation converges to
    return f"""
WITH RECURSIVE pairs AS (
    SELECT id_a, id_b FROM ({SQL_MINHASH_LSH}) q
),
edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION
    SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, v) AS (
    SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges) t
    UNION
    SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
)
SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u
"""


SQL_MINHASH_CLUSTERS = _sql_minhash_clusters()

_SIMHASH_MAX_HAMMING = 3
_SIMHASH_CHUNK_MASK = (1 << 15) - 1


def _sql_simhash_pairs() -> str:
    bits = dedup.SIMHASH_BITS
    votes = ",\n           ".join(
        f"SUM((h >> {i}) & 1) AS b{i}" for i in range(bits)
    )
    fp = " + ".join(
        f"((CASE WHEN 2 * b{i} > n_tok THEN 1 ELSE 0 END)::BIGINT << {i})"
        for i in range(bits)
    )
    return f"""
WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
tok AS (SELECT DISTINCT doc_id, unnest(string_split(t, ' ')) AS tok FROM norm),
h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tok),
votes AS (
    SELECT doc_id,
           {votes},
           COUNT(*) AS n_tok
    FROM h GROUP BY doc_id
),
fps AS (SELECT doc_id, ({fp}) AS simhash FROM votes),
chunked AS (
    SELECT doc_id, simhash, CAST(c AS INTEGER) AS chunk,
           (simhash >> (15 * c)) & {_SIMHASH_CHUNK_MASK} AS chunk_val
    FROM fps, LATERAL unnest(generate_series(0, 3)) u(c)
),
pairs AS (
    SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
           x.simhash AS fp_a, y.simhash AS fp_b
    FROM chunked x
    JOIN chunked y ON x.chunk = y.chunk AND x.chunk_val = y.chunk_val
                AND x.doc_id < y.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS INTEGER) AS hamming
FROM pairs
WHERE bit_count(xor(fp_a, fp_b)) <= {_SIMHASH_MAX_HAMMING}
"""


SQL_SIMHASH_PAIRS = _sql_simhash_pairs()


# similarity search ----------------------------------------------------------

_TOPK_QUERIES = 10
_TOPK_K = 5


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.brute_force_topk(
        spread(load_table(spark, sf_dir, "embeddings")),
        n_queries=_TOPK_QUERIES,
        k=_TOPK_K,
    )


SQL_SIMILARITY_TOPK = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
scored AS (
    SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
           CAST(ROUND(1e6 * list_dot_product(q.e, c.e)
                / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)))) AS BIGINT) AS sim_e6
    FROM e q, e c
    WHERE q.vec_id < {_TOPK_QUERIES} AND c.vec_id <> q.vec_id
),
ranked AS (
    SELECT q_id, vec_id, sim_e6,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim_e6 DESC, vec_id ASC) AS rnk
    FROM scored
)
SELECT q_id, vec_id, sim_e6, CAST(rnk AS INTEGER) AS rank FROM ranked WHERE rnk <= {_TOPK_K}
"""


_IVF_CELLS = 16

# Quantizer training and the index build (n_cells fold-distances per
# corpus vector) are offline, amortized work in any real ANN deployment:
# an index is trained once and served for millions of queries, so neither
# may sit on the query path (round 4 retrained per execution: hash-init +
# 2 Lloyd passes = 3 full corpus scans per query, 5.4s vs a 0.017s
# oracle). Both are SESSION_MEMO entries keyed on the embeddings file's
# signature: the centroids are driver-side model state (n_cells x dim
# floats), the index a cached DataFrame (executor memory, distributed),
# unpersisted when it is evicted or the file is rewritten.
def _ivf_serving(spark: SparkSession, sf_dir: str) -> tuple[list[list[float]], DataFrame]:
    path = os.path.join(sf_dir, "embeddings.parquet")
    sig = ((path, _file_signature(path)),)

    def train() -> list[list[float]]:
        emb = spread(load_table(spark, sf_dir, "embeddings"))
        return similarity.train_ivf_centroids(emb, n_cells=_IVF_CELLS)

    def build_index() -> DataFrame:
        emb = spread(load_table(spark, sf_dir, "embeddings"))
        idx = similarity.build_ivf_index(emb, centroids=centroids).cache()
        idx.count()  # materialize the build once, eagerly
        return idx

    centroids = SESSION_MEMO.get(spark, "ivf.centroids", sig, train)
    return centroids, SESSION_MEMO.get(spark, "ivf.index", sig, build_index)


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF with a PRETRAINED coarse quantizer (see _ivf_serving) run at
    # FULL probe: every query probes all 16 cells and each corpus vector
    # lives in exactly one cell, so the scored set is the complete corpus
    # and the output is exactly the brute-force top-k — which makes
    # SQL_SIMILARITY_TOPK a true oracle (centroids only route vectors to
    # cells; at full probe routing cannot change the result, so caching
    # them cannot either). The production pruned-probe path (n_probe=4)
    # is covered by the recall test
    # (tests/test_extensions.py::test_similarity_ivf_recall_and_exactness_at_full_probe).
    centroids, indexed = _ivf_serving(spark, sf_dir)
    return similarity.ivf_topk(
        spread(load_table(spark, sf_dir, "embeddings")),
        n_queries=_TOPK_QUERIES,
        k=_TOPK_K,
        n_cells=_IVF_CELLS,
        n_probe=_IVF_CELLS,
        centroids=centroids,
        indexed=indexed,
    )


def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # oracle-paired since round 3: the sign bits are integer-quantized
    # dots against a literal plane matrix embedded in BOTH the Spark plan
    # and the generated SQL twin (bit-exact in any engine). spread: sign
    # bits + candidate verify off the one-task scan (2.2x at sf0.1)
    return similarity.lsh_bucket_pairs(spread(load_table(spark, sf_dir, "embeddings")))


_LSH_BANDS = 16
_LSH_BAND_BITS = 4
_LSH_DIM = 64
_LSH_MIN_SIM = 400_000
_LSH_HAMMING_MAX = 34  # keep in sync with lsh_bucket_pairs' default


def _sql_similarity_lsh(
    n_bands: int = _LSH_BANDS,
    band_bits: int = _LSH_BAND_BITS,
    *,
    min_sim: int = _LSH_MIN_SIM,
    hamming_max: int = _LSH_HAMMING_MAX,
    prelude: str = "",
    source_sql: str = "SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings",
) -> str:
    """SQL twin of ``lsh_bucket_pairs`` for any (n_bands, band_bits)
    operating point with n_bands*band_bits == 64 (the fp halves assume
    it); ``prelude`` lets a caller prepend extra CTEs that ``source_sql``
    (the body of the ``e`` CTE) can reference."""
    assert n_bands * band_bits == 64 and 32 % band_bits == 0
    planes = similarity._hyperplanes(n_bands * band_bits, _LSH_DIM)
    scale = similarity._QUANT_SCALE
    # integer plane coeffs ride as DOUBLE[] literals: every product is an
    # integer < 2^42 and the 64-term sum an integer < 2^48, both exactly
    # representable, so list_dot_product is EXACT here and the sign
    # matches Spark's int64 fold bit-for-bit
    bit_cols = ",\n           ".join(
        "(CASE WHEN list_dot_product(eq, [{}]::DOUBLE[]) > 0 THEN 1 ELSE 0 END) AS t{}".format(
            ", ".join(str(c) for c in p), i
        )
        for i, p in enumerate(planes)
    )
    keys = ", ".join(
        " + ".join(
            f"{1 << i} * t{b * band_bits + i}" for i in range(band_bits)
        )
        for b in range(n_bands)
    )
    # SimHash fingerprint halves, same bit packing as the Spark side
    # (two 32-bit halves keep every term in signed-BIGINT range)
    n_bits = n_bands * band_bits
    fp_lo = " + ".join(f"{1 << i} * t{i}" for i in range(32))
    fp_hi = " + ".join(f"{1 << (i - 32)} * t{i}" for i in range(32, n_bits))
    return f"""
WITH {prelude}e AS ({source_sql}),
q AS (
    SELECT vec_id, e,
           list_transform(e, x -> CAST(round(x * {scale}) AS BIGINT))::DOUBLE[] AS eq
    FROM e
),
bits AS (
    SELECT vec_id,
           {bit_cols}
    FROM q
),
banded AS (
    SELECT vec_id, bnd AS band, ([{keys}])[bnd + 1] AS key,
           CAST({fp_lo} AS BIGINT) AS fp_lo, CAST({fp_hi} AS BIGINT) AS fp_hi
    FROM bits, LATERAL unnest(generate_series(0, {n_bands - 1})) u(bnd)
),
cand AS (
    -- Hamming prefilter mirrors the Spark plan exactly (same integer
    -- sign bits), so the candidate sets are identical by construction
    SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
    FROM banded x
    JOIN banded y ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id
    WHERE bit_count(xor(x.fp_lo, y.fp_lo)) + bit_count(xor(x.fp_hi, y.fp_hi)) <= {hamming_max}
)
SELECT c.id_a, c.id_b,
       -- quantized-integer cosine, mirroring the Spark verify exactly:
       -- eq products < 2^42 and sums < 2^48 are EXACT in float64, so
       -- list_dot_product here equals numpy's int64 einsum regardless
       -- of summation order; floor(x+0.5) (not ROUND) matches numpy.
       CAST(FLOOR(1e6 * list_dot_product(a.eq, b.eq)
            / (sqrt(list_dot_product(a.eq, a.eq)) * sqrt(list_dot_product(b.eq, b.eq))) + 0.5) AS BIGINT) AS sim_e6
FROM cand c
JOIN q a ON c.id_a = a.vec_id
JOIN q b ON c.id_b = b.vec_id
WHERE CAST(FLOOR(1e6 * list_dot_product(a.eq, b.eq)
      / (sqrt(list_dot_product(a.eq, a.eq)) * sqrt(list_dot_product(b.eq, b.eq))) + 0.5) AS BIGINT) >= {min_sim}
"""


SQL_SIMILARITY_LSH = _sql_similarity_lsh()


# --- high-similarity LSH operating point (round 8, VERDICT r7 #6) ----
# The DEDUP tier: cosine >= 0.9 with 8 bands x 8 bits. Wider bands
# collapse bucket sizes (~N/256 per band vs ~N/16 at 4 bits), so the
# candidate volume drops ~16x while recall at the high-sim operating
# point stays high (1-(1-p^8)^8: 93.5% at c=0.90, >99.9% at c>=0.97 —
# near-duplicate copies sit at ~0.999). The synthetic corpus has NO
# organic pairs above cosine 0.60 (measured: max sim_e6 512838 at
# sf0.01 / 600856 at sf0.1), so to keep the check non-vacuous the query
# injects deterministic near-duplicate copies — every vec_id % 10 == 0
# vector reappears as vec_id + 10_000_000 with each element scaled by
# (1 + 0.01*(((vec_id + i) % 5) - 2)), i.e. +-2% elementwise, cosine
# ~0.9996 to its original — the exact workload shape of corpus-crawl
# near-dup detection. Both engines build the identical augmentation
# (IEEE double ops in the same order), so parity stays exact by
# construction. Measured at sf0.1 (numpy ground truth): 200 injected
# true pairs, 8x8 banding finds ALL 200 (recall 1.0), their hamming
# max is 3; hamming_max=18 = E[ham at the 0.9 boundary] (64*arccos(.9)/pi
# ~ 9.2) + 3 sigma (~2.8) — zero measured loss with headroom for
# organic boundary pairs, pruning the 89k pre-filter candidates to ~2k.
_LSH_HS_BANDS = 8
_LSH_HS_BAND_BITS = 8
_LSH_HS_MIN_SIM = 900_000
_LSH_HS_HAMMING_MAX = 18
_NEARDUP_COPY_OFFSET = 10_000_000


def _augment_near_dups(embeddings: DataFrame) -> DataFrame:
    """Deterministic near-duplicate injection (see the operating-point
    note above); the SQL oracle mirrors it in `_SQL_LSH_HS_SOURCE`."""
    base = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    copies = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + _NEARDUP_COPY_OFFSET).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x
            * (
                F.lit(1.0)
                + F.lit(0.01)
                * ((F.col("vec_id") + i) % 5 - 2).cast("double")
            ),
        ).alias("embedding"),
    )
    return base.unionByName(copies)


def q_similarity_lsh_highsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no spread(): the round-8 numpy band kernel removed the CPU-heavy
    # per-row fold that spread() existed to parallelize, and the extra
    # RoundRobin exchange (x2 union branches -> 64 partitions) measured
    # STRICTLY SLOWER here (interleaved A/B at sf0.1: plain 1.47s
    # median vs spread 2.45s)
    return similarity.lsh_bucket_pairs(
        _augment_near_dups(load_table(spark, sf_dir, "embeddings")),
        n_bands=_LSH_HS_BANDS,
        band_bits=_LSH_HS_BAND_BITS,
        min_sim_e6=_LSH_HS_MIN_SIM,
        hamming_max=_LSH_HS_HAMMING_MAX,
    )


SQL_SIMILARITY_LSH_HIGHSIM = _sql_similarity_lsh(
    _LSH_HS_BANDS,
    _LSH_HS_BAND_BITS,
    min_sim=_LSH_HS_MIN_SIM,
    hamming_max=_LSH_HS_HAMMING_MAX,
    prelude=(
        "base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),\n"
    ),
    source_sql=f"""
    SELECT vec_id, e FROM base
    UNION ALL
    SELECT vec_id + {_NEARDUP_COPY_OFFSET} AS vec_id,
           list_transform(e, (x, i) ->
               x * (1.0 + 0.01 * CAST(((vec_id + i - 1) % 5) - 2 AS DOUBLE))) AS e
    FROM base WHERE vec_id % 10 = 0
""",
)


# --- SemDeDup-style semantic dedup (round 14) ---------------------------------
# The modern training-data dedup tier between MinHash (lexical) and
# nothing: within-cell cosine >= tau marks paraphrase-grade duplicates
# (Abbas et al. 2023, arXiv:2303.09540). Composition of shipped parts —
# the IVF cell idea + the keep-first policy — made DETERMINISTIC (seed
# cells instead of Lloyd centroids) so DuckDB mirrors the assignment
# exactly; see operators/similarity.py::semantic_dedup. Reuses the
# highsim near-dup injection (same corpus fact: no organic pairs above
# cosine 0.60, so tau=0.99 would be vacuous without it) — injected
# copies sit at cosine ~0.9996 to their originals, land in the same
# seed cell, and are marked kept=0; originals and all organic vectors
# are kept. Seeds are drawn from the ORIGINAL id range only
# (vec_id < offset) so the cell structure is identical with and
# without the injection.
_SEMDEDUP_STRIDE = 64
_SEMDEDUP_TAU = 990_000
# two-level routing (round 15, the r14 weak-flag fix): driver/closure
# state is the 16 x dim coarse matrix, independent of the corpus. 16
# ~ sqrt(K) at the sf0.01-0.1 operating range (79-782 fine seeds); a
# deployment sizes it ~ sqrt(N/stride) — the FAISS nlist rule (see
# operators/similarity.py::semantic_dedup's asymptotics note). At
# sf0.001 (8 seeds) every fine seed is coarse and the assignment
# degenerates EXACTLY to the r14 one-level form.
_SEMDEDUP_COARSE_K = 16


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.semantic_dedup(
        _augment_near_dups(load_table(spark, sf_dir, "embeddings")),
        seed_stride=_SEMDEDUP_STRIDE,
        seed_max_id=_NEARDUP_COPY_OFFSET,
        tau_e6=_SEMDEDUP_TAU,
        coarse_k=_SEMDEDUP_COARSE_K,
    )


SQL_SEMANTIC_DEDUP = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
aug AS (
    SELECT vec_id, e FROM base
    UNION ALL
    SELECT vec_id + {_NEARDUP_COPY_OFFSET} AS vec_id,
           list_transform(e, (x, i) ->
               x * (1.0 + 0.01 * CAST(((vec_id + i - 1) % 5) - 2 AS DOUBLE))) AS e
    FROM base WHERE vec_id % 10 = 0
),
q AS (
    SELECT vec_id,
           list_transform(e, x -> CAST(round(x * {1 << 20}) AS BIGINT))::DOUBLE[] AS eq
    FROM aug
),
qn AS (SELECT vec_id, eq, sqrt(list_dot_product(eq, eq)) AS n FROM q),
seeds AS (
    -- quantized coordinates: every product < 2^42 and 64-term sum
    -- < 2^48, so list_dot_product is EXACT here and the assignment
    -- matches Spark's int64 fold bit-for-bit. A cell is identified
    -- by its seed's vec_id (r15 — no ordinal rank pass, either engine)
    SELECT vec_id AS cell, eq AS seq, n AS sn
    FROM qn WHERE vec_id % {_SEMDEDUP_STRIDE} = 0 AND vec_id < {_NEARDUP_COPY_OFFSET}
),
-- two-level routing (round 15): the first COARSE_K seeds (by vec_id)
-- are the coarse quantizer; every vector routes to its argmax-cosine
-- coarse seed (ties to the lowest coarse cell id, a coarse seed to
-- its OWN cell), then takes the argmax over only the fine seeds
-- routed to the same coarse cell — mirrors _assign_two_level exactly
coarse AS (
    SELECT cell AS ccell, seq AS cq, sn AS cn
    FROM seeds ORDER BY cell LIMIT {_SEMDEDUP_COARSE_K}
),
cscored AS (
    SELECT v.vec_id, c.ccell,
           CAST(FLOOR(1e6 * list_dot_product(v.eq, c.cq) / (v.n * c.cn) + 0.5)
                AS BIGINT) AS s
    FROM qn v CROSS JOIN coarse c
),
cargmax AS (
    SELECT vec_id, ccell FROM (
        SELECT vec_id, ccell,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ccell ASC) AS rn
        FROM cscored) WHERE rn = 1
),
cassign AS (
    SELECT a.vec_id, COALESCE(c.ccell, a.ccell) AS ccell
    FROM cargmax a LEFT JOIN coarse c ON a.vec_id = c.ccell
),
fine AS (
    SELECT s.cell, s.seq, s.sn, ca.ccell
    FROM seeds s JOIN cassign ca ON s.cell = ca.vec_id
),
fscored AS (
    SELECT v.vec_id, f.cell,
           CAST(FLOOR(1e6 * list_dot_product(v.eq, f.seq) / (v.n * f.sn) + 0.5)
                AS BIGINT) AS s
    FROM (SELECT q2.vec_id, q2.eq, q2.n, ca.ccell
          FROM qn q2 JOIN cassign ca ON q2.vec_id = ca.vec_id) v
    JOIN fine f ON v.ccell = f.ccell
),
assigned AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
        FROM fscored) WHERE rn = 1
),
cellv AS (SELECT a.vec_id, a.cell, v.eq, v.n FROM assigned a JOIN qn v USING (vec_id)),
dups AS (
    SELECT DISTINCT b.vec_id
    FROM cellv a JOIN cellv b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE CAST(FLOOR(1e6 * list_dot_product(a.eq, b.eq) / (a.n * b.n) + 0.5)
               AS BIGINT) >= {_SEMDEDUP_TAU}
)
SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM cellv c LEFT JOIN dups d ON c.vec_id = d.vec_id
"""


def q_semdedup_cell_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell population / removal profile of the semantic_dedup
    operating point — the monitoring query a production semantic-dedup
    pipeline runs next to the dedup itself: a cell with outsized
    n_vectors is a dense semantic region (skew flag — one shuffle
    partition absorbs its pair work), a cell with removal share ~1 is
    a near-duplicate cluster (boilerplate/mirror signature). One extra
    fixed-width groupBy on the dedup output; scale shape inherited
    from semantic_dedup (round 15, two-level assignment)."""
    out = similarity.semantic_dedup(
        _augment_near_dups(load_table(spark, sf_dir, "embeddings")),
        seed_stride=_SEMDEDUP_STRIDE,
        seed_max_id=_NEARDUP_COPY_OFFSET,
        tau_e6=_SEMDEDUP_TAU,
        coarse_k=_SEMDEDUP_COARSE_K,
    )
    return out.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(F.when(F.col("kept") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.min(F.when(F.col("kept") == 1, F.col("vec_id"))).alias("first_kept_id"),
    )


SQL_SEMDEDUP_CELL_PROFILE = f"""
WITH dedup AS ({SQL_SEMANTIC_DEDUP})
SELECT cell,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN kept = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       MIN(CASE WHEN kept = 1 THEN vec_id END) AS first_kept_id
FROM dedup GROUP BY cell
"""


def _semdedup_ingest_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(existing corpus, incoming batch) for the ingest-time semdedup
    queries: the original embeddings table is the EXISTING corpus, the
    injected near-dup copies (the _augment_near_dups recipe — the same
    ground truth the recall artifact uses) are the incoming BATCH."""
    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    batch = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + _NEARDUP_COPY_OFFSET).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x
            * (
                F.lit(1.0)
                + F.lit(0.01)
                * ((F.col("vec_id") + i) % 5 - 2).cast("double")
            ),
        ).alias("embedding"),
    )
    return base, batch


def q_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time SemDeDup (operators/similarity.py::
    semantic_dedup_incremental): ~98% of the batch should be rejected
    against the corpus, and the organic remainder admitted. Seeds come
    from the existing side only, so re-ingesting a batch can never
    move the cell structure. This is the RECOMPUTE shape (the whole
    corpus is re-assigned per invocation); semdedup_incremental_store
    is the same semantics against a materialized store."""
    base, batch = _semdedup_ingest_inputs(spark, sf_dir)
    return similarity.semantic_dedup_incremental(
        base,
        batch,
        seed_stride=_SEMDEDUP_STRIDE,
        tau_e6=_SEMDEDUP_TAU,
        coarse_k=_SEMDEDUP_COARSE_K,
    )


def q_semdedup_incremental_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time SemDeDup the PRODUCTION way (round 16, VERDICT r15
    #1): the corpus-side assignment is materialized ONCE via
    build_semdedup_store and each batch is judged against the store —
    O(|batch|) assignment flops plus one streamed store-side join per
    batch, instead of re-assigning the whole corpus per invocation
    (semdedup_incremental's recompute shape). Output is IDENTICAL by
    construction, so it shares SQL_SEMDEDUP_INCREMENTAL as its oracle —
    the parity gate is an independent proof that store-path ==
    recompute-path == the hand-written SQL. In a real pipeline the
    store would round-trip through cell-partitioned parquet between
    batches (test_round16_ops pins that roundtrip + the
    zero-corpus-scan plan contract)."""
    base, batch = _semdedup_ingest_inputs(spark, sf_dir)
    store = similarity.build_semdedup_store(
        base, seed_stride=_SEMDEDUP_STRIDE, coarse_k=_SEMDEDUP_COARSE_K
    )
    return similarity.semantic_dedup_incremental_from_store(
        store, batch, tau_e6=_SEMDEDUP_TAU, coarse_k=_SEMDEDUP_COARSE_K
    )


def q_semdedup_store_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-batch ingest WITHOUT rebuilds (round 17, VERDICT r16 #1 —
    operators/similarity.py::append_to_semdedup_store): the corpus
    store is built once, batch A is judged and its ADMITTED rows are
    folded back in (is_seed=0 — the frozen build-time cell structure),
    then batch B is judged against the extended store, so B's
    near-dups of A's admitted rows are rejected with zero O(corpus)
    recompute. Output: one decision row per batch vector, gen 1 = the
    appended wave, gen 2 = the wave judged after the append. The
    oracle mirrors the exact precedence chain (corpus > admitted-A >
    lower-id within wave; REJECTED A rows reject nobody), so the gate
    independently proves append-then-judge == recompute with the same
    frozen seed set."""
    base, batch = _semdedup_ingest_inputs(spark, sf_dir)
    batch_a = batch.filter(F.col("vec_id") % 20 == 0)
    batch_b = batch.filter(F.col("vec_id") % 20 != 0)
    store = similarity.build_semdedup_store(
        base, seed_stride=_SEMDEDUP_STRIDE, coarse_k=_SEMDEDUP_COARSE_K
    )
    dec_a, store2 = similarity.append_to_semdedup_store(
        store, batch_a, tau_e6=_SEMDEDUP_TAU
    )
    dec_b = similarity.semantic_dedup_incremental_from_store(
        store2, batch_b, tau_e6=_SEMDEDUP_TAU
    )
    return dec_a.withColumn("gen", F.lit(1).cast("int")).unionByName(
        dec_b.withColumn("gen", F.lit(2).cast("int"))
    )


def q_semdedup_store_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The store's METADATA CHANNEL (round 17, VERDICT r16 #2): the
    build parameters ride inside the store relation itself (vec_id=-1
    row — survives parquet, partitionBy('cell'), unions), so the query
    side validates or adopts them by construction instead of by
    docstring contract. This query proves the channel end-to-end: the
    recorded parameters plus the store's data/seed cardinality,
    oracle-checked against the raw embeddings table."""
    base, _ = _semdedup_ingest_inputs(spark, sf_dir)
    store = similarity.build_semdedup_store(
        base, seed_stride=_SEMDEDUP_STRIDE, coarse_k=_SEMDEDUP_COARSE_K
    )
    m = F.col("vec_id") == similarity.STORE_META_VEC_ID
    return store.agg(
        F.max(F.when(m, F.col("eq")[0])).cast("long").alias("format_version"),
        F.max(F.when(m, F.col("eq")[1])).cast("long").alias("seed_stride"),
        F.max(F.when(m, F.col("eq")[3])).cast("long").alias("coarse_k"),
        F.max(F.when(m, F.col("eq")[4])).cast("long").alias("fine_salt"),
        F.sum(F.when(~m, 1).otherwise(0)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("is_seed") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_seeds"),
    )


SQL_SEMDEDUP_STORE_META = f"""
SELECT CAST(1 AS BIGINT) AS format_version,
       CAST({_SEMDEDUP_STRIDE} AS BIGINT) AS seed_stride,
       CAST({_SEMDEDUP_COARSE_K} AS BIGINT) AS coarse_k,
       CAST(8 AS BIGINT) AS fine_salt,
       (SELECT COUNT(*) FROM embeddings) AS n_rows,
       (SELECT COUNT(*) FROM embeddings
         WHERE vec_id % {_SEMDEDUP_STRIDE} = 0) AS n_seeds
"""


# keep structurally in sync with SQL_SEMANTIC_DEDUP (same quantize /
# seed / coarse-route / fine-route CTE chain); the deltas are: is_new
# tags, seeds drawn from is_new=0 only, the precedence rule in dups
# (existing always outranks batch), and batch-only output rows
SQL_SEMDEDUP_INCREMENTAL = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
u AS (
    SELECT vec_id, e, 0 AS is_new FROM base
    UNION ALL
    SELECT vec_id + {_NEARDUP_COPY_OFFSET} AS vec_id,
           list_transform(e, (x, i) ->
               x * (1.0 + 0.01 * CAST(((vec_id + i - 1) % 5) - 2 AS DOUBLE))) AS e,
           1 AS is_new
    FROM base WHERE vec_id % 10 = 0
),
q AS (
    SELECT vec_id, is_new,
           list_transform(e, x -> CAST(round(x * {1 << 20}) AS BIGINT))::DOUBLE[] AS eq
    FROM u
),
qn AS (SELECT vec_id, is_new, eq, sqrt(list_dot_product(eq, eq)) AS n FROM q),
seeds AS (
    SELECT vec_id AS cell, eq AS seq, n AS sn
    FROM qn WHERE vec_id % {_SEMDEDUP_STRIDE} = 0 AND is_new = 0
),
coarse AS (
    SELECT cell AS ccell, seq AS cq, sn AS cn
    FROM seeds ORDER BY cell LIMIT {_SEMDEDUP_COARSE_K}
),
cscored AS (
    SELECT v.vec_id, c.ccell,
           CAST(FLOOR(1e6 * list_dot_product(v.eq, c.cq) / (v.n * c.cn) + 0.5)
                AS BIGINT) AS s
    FROM qn v CROSS JOIN coarse c
),
cargmax AS (
    SELECT vec_id, ccell FROM (
        SELECT vec_id, ccell,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ccell ASC) AS rn
        FROM cscored) WHERE rn = 1
),
cassign AS (
    SELECT a.vec_id, COALESCE(c.ccell, a.ccell) AS ccell
    FROM cargmax a LEFT JOIN coarse c ON a.vec_id = c.ccell
),
fine AS (
    SELECT s.cell, s.seq, s.sn, ca.ccell
    FROM seeds s JOIN cassign ca ON s.cell = ca.vec_id
),
fscored AS (
    SELECT v.vec_id, f.cell,
           CAST(FLOOR(1e6 * list_dot_product(v.eq, f.seq) / (v.n * f.sn) + 0.5)
                AS BIGINT) AS s
    FROM (SELECT q2.vec_id, q2.eq, q2.n, ca.ccell
          FROM qn q2 JOIN cassign ca ON q2.vec_id = ca.vec_id) v
    JOIN fine f ON v.ccell = f.ccell
),
assigned AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
        FROM fscored) WHERE rn = 1
),
cellv AS (
    SELECT a.vec_id, a.cell, v.eq, v.n, v.is_new
    FROM assigned a JOIN qn v USING (vec_id)
),
dups AS (
    SELECT DISTINCT b.vec_id
    FROM cellv a JOIN cellv b
      ON a.cell = b.cell AND b.is_new = 1
     AND (a.is_new = 0 OR a.vec_id < b.vec_id)
    WHERE CAST(FLOOR(1e6 * list_dot_product(a.eq, b.eq) / (a.n * b.n) + 0.5)
               AS BIGINT) >= {_SEMDEDUP_TAU}
)
SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS admitted
FROM cellv c LEFT JOIN dups d ON c.vec_id = d.vec_id
WHERE c.is_new = 1
UNION ALL
-- bootstrap branch (ADVICE r15), mirroring the operator: with NO existing
-- seeds there is no cell structure, and the whole batch is admitted with
-- cell NULL (unreachable at this fixture — seeds always exist — but the
-- semantics are part of the contract)
SELECT u.vec_id, CAST(NULL AS BIGINT) AS cell, CAST(1 AS INTEGER) AS admitted
FROM u
WHERE u.is_new = 1 AND NOT EXISTS (SELECT 1 FROM seeds)
"""


# the append-path oracle (round 17): same quantize / seed / coarse-route /
# fine-route chain as SQL_SEMDEDUP_INCREMENTAL, with is_new generalized to a
# GENERATION tag (0 = corpus, 1 = the appended wave, 2 = the wave judged
# after the append). The two dups CTEs encode the append path's exact
# precedence: wave 1 is rejected by corpus or lower-id wave-1 rows; wave 2
# by corpus, by ADMITTED wave-1 rows (rejected ones never enter the store,
# so they reject nobody), or by lower-id wave-2 rows. Cells for ALL
# generations come from the corpus-only seed set — the frozen build-time
# structure the append path pins (appended rows are never seeds).
SQL_SEMDEDUP_STORE_APPEND = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
u AS (
    SELECT vec_id, e, 0 AS gen FROM base
    UNION ALL
    SELECT vec_id + {_NEARDUP_COPY_OFFSET} AS vec_id,
           list_transform(e, (x, i) ->
               x * (1.0 + 0.01 * CAST(((vec_id + i - 1) % 5) - 2 AS DOUBLE))) AS e,
           CASE WHEN vec_id % 20 = 0 THEN 1 ELSE 2 END AS gen
    FROM base WHERE vec_id % 10 = 0
),
q AS (
    SELECT vec_id, gen,
           list_transform(e, x -> CAST(round(x * {1 << 20}) AS BIGINT))::DOUBLE[] AS eq
    FROM u
),
qn AS (SELECT vec_id, gen, eq, sqrt(list_dot_product(eq, eq)) AS n FROM q),
seeds AS (
    SELECT vec_id AS cell, eq AS seq, n AS sn
    FROM qn WHERE vec_id % {_SEMDEDUP_STRIDE} = 0 AND gen = 0
),
coarse AS (
    SELECT cell AS ccell, seq AS cq, sn AS cn
    FROM seeds ORDER BY cell LIMIT {_SEMDEDUP_COARSE_K}
),
cscored AS (
    SELECT v.vec_id, c.ccell,
           CAST(FLOOR(1e6 * list_dot_product(v.eq, c.cq) / (v.n * c.cn) + 0.5)
                AS BIGINT) AS s
    FROM qn v CROSS JOIN coarse c
),
cargmax AS (
    SELECT vec_id, ccell FROM (
        SELECT vec_id, ccell,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ccell ASC) AS rn
        FROM cscored) WHERE rn = 1
),
cassign AS (
    SELECT a.vec_id, COALESCE(c.ccell, a.ccell) AS ccell
    FROM cargmax a LEFT JOIN coarse c ON a.vec_id = c.ccell
),
fine AS (
    SELECT s.cell, s.seq, s.sn, ca.ccell
    FROM seeds s JOIN cassign ca ON s.cell = ca.vec_id
),
fscored AS (
    SELECT v.vec_id, f.cell,
           CAST(FLOOR(1e6 * list_dot_product(v.eq, f.seq) / (v.n * f.sn) + 0.5)
                AS BIGINT) AS s
    FROM (SELECT q2.vec_id, q2.eq, q2.n, ca.ccell
          FROM qn q2 JOIN cassign ca ON q2.vec_id = ca.vec_id) v
    JOIN fine f ON v.ccell = f.ccell
),
assigned AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
        FROM fscored) WHERE rn = 1
),
cellv AS (
    SELECT a.vec_id, a.cell, v.eq, v.n, v.gen
    FROM assigned a JOIN qn v USING (vec_id)
),
dups1 AS (
    SELECT DISTINCT b.vec_id
    FROM cellv a JOIN cellv b
      ON a.cell = b.cell AND b.gen = 1
     AND (a.gen = 0 OR (a.gen = 1 AND a.vec_id < b.vec_id))
    WHERE CAST(FLOOR(1e6 * list_dot_product(a.eq, b.eq) / (a.n * b.n) + 0.5)
               AS BIGINT) >= {_SEMDEDUP_TAU}
),
dups2 AS (
    SELECT DISTINCT b.vec_id
    FROM cellv a JOIN cellv b
      ON a.cell = b.cell AND b.gen = 2
     AND (a.gen = 0
          OR (a.gen = 1
              AND a.vec_id NOT IN (SELECT vec_id FROM dups1))
          OR (a.gen = 2 AND a.vec_id < b.vec_id))
    WHERE CAST(FLOOR(1e6 * list_dot_product(a.eq, b.eq) / (a.n * b.n) + 0.5)
               AS BIGINT) >= {_SEMDEDUP_TAU}
)
SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS admitted,
       CAST(1 AS INTEGER) AS gen
FROM cellv c LEFT JOIN dups1 d ON c.vec_id = d.vec_id
WHERE c.gen = 1
UNION ALL
SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS admitted,
       CAST(2 AS INTEGER) AS gen
FROM cellv c LEFT JOIN dups2 d ON c.vec_id = d.vec_id
WHERE c.gen = 2
"""


_CENTROID_SCALE = 1 << 20


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.label_centroids(
        spread(load_table(spark, sf_dir, "embeddings")), scale=_CENTROID_SCALE
    )


SQL_LABEL_CENTROIDS = f"""
WITH q AS (
    SELECT label, i - 1 AS dim,
           CAST(round(embedding[i] * {_CENTROID_SCALE}) AS BIGINT) AS qx
    FROM embeddings,
         LATERAL unnest(generate_series(1, len(embedding))) u(i)
)
SELECT label, CAST(dim AS INTEGER) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(qx) AS BIGINT) AS sum_q
FROM q GROUP BY label, dim
"""


# multimodal -----------------------------------------------------------------

def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    return binary_metadata(load_table(spark, sf_dir, "documents")).withColumn(
        "byte_len", F.col("byte_len").cast("int")
    )


SQL_MULTIMODAL_METADATA = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
       sha256(text) AS content_sha256
FROM documents
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas plumbing with the deterministic fake decoder. The
    feature vector is flattened to scalar BIGINT columns at the query
    boundary — an ``array<float>`` output crashes the driver's pandas
    canonicalizer (unhashable list, CORRECTNESS_r01), and every fake
    feature is integral byte math, so BIGINT is the lossless hash-stable
    rendering. The array form stays available internally via
    operators.multimodal.decode_features."""
    mm = with_binary_payload(load_table(spark, sf_dir, "documents"))
    feats = decode_features(mm, decoder="fake")
    return feats.select(
        "doc_id",
        "n_bytes",
        *[F.col("features")[i].cast("long").alias(f"f{i}") for i in range(8)],
    )


def q_image_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container decode (round 6): per document, synthesize an
    actual BMP / PNG (all 4 non-trivial scanline filters) / PPM whose
    pixels follow an analytic formula of doc_id, then DECODE THE BYTES
    with the stdlib codecs (operators/multimodal.py bmp/png/ppm_decode)
    and aggregate pixel statistics. The oracle computes the same stats
    straight from the formula — so the container round-trip (stride
    padding, bottom-up BMP rows, PNG filter reconstruction, zlib) is
    the thing under test; px_moment is order-sensitive precisely so a
    row-order or stride bug cannot hide behind sum/min/max."""
    from hhek2sqlite_spark.operators.multimodal import (
        image_pixel_stats,
        synthesize_images,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    return image_pixel_stats(synthesize_images(docs))


def q_audio_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio container decode (round 6 twin of image_pixel_stats):
    per document, synthesize a genuine 16-bit PCM WAV (stdlib wave
    module; mono/stereo and sample rate vary by doc_id) whose samples
    follow an analytic integer formula, then decode the RIFF bytes with
    the HAND-ROLLED parser (operators/multimodal.py wav_decode — an
    independent implementation, so encoder and decoder bugs cannot
    cancel) and aggregate. zero_crossings is sample-order-sensitive, so
    interleaving or endianness mistakes break parity."""
    from hhek2sqlite_spark.operators.multimodal import (
        audio_sample_stats,
        synthesize_audio,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    return audio_sample_stats(synthesize_audio(docs))


SQL_AUDIO_SAMPLE_STATS = """
WITH p AS (
    SELECT doc_id,
           50 + doc_id % 50 AS n,
           1 + doc_id % 2 AS nch,
           CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS rate
    FROM documents
),
smp AS (
    SELECT doc_id, n, nch, rate, i, ch,
           (doc_id * 7 + i * 17 + ch * 29) % 65536 - 32768 AS s
    FROM p,
         LATERAL unnest(generate_series(0, n - 1)) ui(i),
         LATERAL unnest(generate_series(0, nch - 1)) uc(ch)
),
zc AS (
    SELECT doc_id,
           SUM(CASE WHEN prev IS NOT NULL AND (prev < 0) != (s < 0)
                    THEN 1 ELSE 0 END) AS crossings
    FROM (
        SELECT doc_id, s,
               LAG(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM smp WHERE ch = 0
    ) GROUP BY doc_id
)
SELECT smp.doc_id,
       CAST(MAX(n) AS BIGINT) AS n_frames,
       CAST(MAX(nch) AS BIGINT) AS n_channels,
       CAST(MAX(rate) AS BIGINT) AS sample_rate,
       CAST(SUM(s) AS BIGINT) AS s_sum,
       CAST(MIN(s) AS BIGINT) AS s_min,
       CAST(MAX(s) AS BIGINT) AS s_max,
       CAST(MAX(zc.crossings) AS BIGINT) AS zero_crossings
FROM smp JOIN zc ON smp.doc_id = zc.doc_id
GROUP BY smp.doc_id
"""


def q_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video container decode (round 7, completing the image/audio/
    video triad): per document, synthesize a genuine uncompressed AVI
    (RIFF tree with avih/strh/strf headers and bottom-up stride-padded
    24-bit DIB frames) whose pixels follow an analytic formula of
    (doc_id, frame, x, y), demux+decode the bytes with the INDEPENDENT
    RIFF walker (operators/multimodal.py avi_decode — no code shared
    with the encoder), sample every 2nd frame, and emit per-frame
    statistics. px_moment is order-sensitive within a frame and the
    formula varies per frame, so stride, row-order, chunk-order and
    frame-indexing bugs all break parity."""
    from hhek2sqlite_spark.operators.multimodal import (
        synthesize_videos,
        video_frame_stats,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    return video_frame_stats(synthesize_videos(docs), every_nth=2)


SQL_VIDEO_FRAME_STATS = """
WITH dims AS (
    SELECT doc_id,
           4 + doc_id % 3 AS w,
           2 + doc_id % 2 AS h,
           2 + doc_id % 3 AS n
    FROM documents
),
px AS (
    SELECT doc_id, w, h, n, f, x, y,
           (doc_id * 31 + f * 19 + x * 7 + y * 13) % 256 AS b
    FROM dims,
         LATERAL unnest(generate_series(0, n - 1)) uf(f),
         LATERAL unnest(generate_series(0, w - 1)) ux(x),
         LATERAL unnest(generate_series(0, h - 1)) uy(y)
    WHERE f % 2 = 0
)
SELECT doc_id,
       CAST(f AS BIGINT) AS frame_idx,
       CAST(MAX(w) AS BIGINT) AS width,
       CAST(MAX(h) AS BIGINT) AS height,
       CAST(MAX(n) AS BIGINT) AS n_frames,
       CAST(SUM(b + (b + 85) % 256 + (b + 170) % 256) AS BIGINT) AS px_sum,
       CAST(SUM((y * w + x) * b) AS BIGINT) AS px_moment
FROM px GROUP BY doc_id, f
"""


SQL_IMAGE_PIXEL_STATS = """
WITH dims AS (
    SELECT doc_id, 4 + doc_id % 4 AS w, 3 + doc_id % 3 AS h FROM documents
),
px AS (
    SELECT doc_id, w, h, x, y, (doc_id * 31 + x * 7 + y * 13) % 256 AS g
    FROM dims,
         LATERAL unnest(generate_series(0, w - 1)) ux(x),
         LATERAL unnest(generate_series(0, h - 1)) uy(y)
)
SELECT doc_id,
       CAST(MAX(w) AS BIGINT) AS width,
       CAST(MAX(h) AS BIGINT) AS height,
       CAST(SUM(g + (g + 85) % 256 + (g + 170) % 256) AS BIGINT) AS px_sum,
       CAST(MIN(LEAST(g, (g + 85) % 256, (g + 170) % 256)) AS BIGINT) AS px_min,
       CAST(MAX(GREATEST(g, (g + 85) % 256, (g + 170) % 256)) AS BIGINT) AS px_max,
       CAST(SUM((y * w + x) * g) AS BIGINT) AS px_moment
FROM px GROUP BY doc_id
"""


# DuckDB twin of _fake_decode_row (operators/multimodal.py): byte values
# recovered from hex(encode(text)) nibble pairs; s = sum of first 256 bytes.
_HEXPOS = "strpos('0123456789ABCDEF', substr(h, CAST({j} AS INTEGER), 1)) - 1"
_BYTE_AT = f"(16 * ({_HEXPOS.format(j='2*{i} - 1')}) + ({_HEXPOS.format(j='2*{i}')}))"

SQL_MULTIMODAL_FEATURES = f"""
WITH b AS (
    SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
    FROM documents
), f AS (
    SELECT doc_id, n,
           CASE WHEN n > 0 THEN {_BYTE_AT.format(i='1')} ELSE 0 END AS head,
           CASE WHEN n > 0 THEN {_BYTE_AT.format(i='n')} ELSE 0 END AS tail,
           COALESCE(list_sum(list_transform(generate_series(1, least(n, 256)),
                     i -> {_BYTE_AT.format(i='i')})), 0) AS s
    FROM b
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_bytes,
       CAST(n AS BIGINT) AS f0,
       CAST(head AS BIGINT) AS f1,
       CAST(tail AS BIGINT) AS f2,
       CAST(s % 997 AS BIGINT) AS f3,
       CAST(n % 256 AS BIGINT) AS f4,
       CAST((head + tail) % 256 AS BIGINT) AS f5,
       CAST(s % 256 AS BIGINT) AS f6,
       CAST(least(n, 255) AS BIGINT) AS f7
FROM f
"""


# document fingerprints / BPE-ish tokens -------------------------------------

def q_fingerprint_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the rolling-hash fold is an interpreted higher-order expression
    # (~len(text) steps/row) — spread the cheap doc rows across cores
    # first so the CPU-bound map is not glued to the scan's split count
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        rolling_fingerprint("text").alias("fp_rolling"),
        bpe_token_count("text").cast("int").alias("n_bpe_tokens"),
    )


SQL_FINGERPRINT_TOKENS = f"""
WITH n AS (SELECT doc_id, {_NORM} AS norm FROM documents)
SELECT doc_id,
       list_reduce(
           list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, length(norm)),
                              i -> CAST(ord(substr(norm, CAST(i AS INTEGER), 1)) AS BIGINT))),
           (a, b) -> (a * {ROLLING_BASE} + b) % {ROLLING_MOD}
       ) AS fp_rolling,
       CAST(len(regexp_extract_all(norm, '{BPE_PATTERN}')) AS INTEGER) AS n_bpe_tokens
FROM n
"""


# embedding near-dup (exact tier; LSH is the scale path) ----------------------

_NEARDUP_MIN_SIM = 400_000


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the O(N^2) verify otherwise runs as ONE task on the
    # single-row-group scan (measured 9.4s -> 0.9s at sf0.1)
    return similarity.brute_force_neardup_pairs(
        spread(load_table(spark, sf_dir, "embeddings")), min_sim_e6=_NEARDUP_MIN_SIM
    )


SQL_EMBEDDING_NEARDUP = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(ROUND(1e6 * list_dot_product(a.e, b.e)
            / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))) AS BIGINT) AS sim_e6
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE CAST(ROUND(1e6 * list_dot_product(a.e, b.e)
      / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))) AS BIGINT) >= {_NEARDUP_MIN_SIM}
"""


# as-of join ------------------------------------------------------------------

def q_asof_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase event joined as-of to the user's most recent signup
    (inclusive). Emits epoch-micros so timestamps hash-match engines."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = events.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("value").alias("signup_value")
    )
    joined = as_of_join(
        purchases,
        signups,
        on=["user_id"],
        value_cols=["signup_value"],
        matched_ts_col="signup_ts",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("signup_ts").alias("signup_ts_us"),
        # decimal(18,4) snaps the float fixture value to exact 4-dp money,
        # then the boundary cast renders it hash-stably as double
        F.col("signup_value").cast("decimal(18,4)").cast("double").alias("signup_value"),
    )


SQL_ASOF_SIGNUP = """
SELECT p.event_id AS event_id,
       p.user_id AS user_id,
       epoch_us(p.ts) AS ts_us,
       epoch_us(s.ts) AS signup_ts_us,
       CAST(CAST(s.value AS DECIMAL(18,4)) AS DOUBLE) AS signup_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'signup') s
ON p.user_id = s.user_id AND p.ts >= s.ts
"""


# sessionization --------------------------------------------------------------

_SESSION_GAP_MIN = 30


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sessionize(
        load_table(spark, sf_dir, "events"), gap_minutes=_SESSION_GAP_MIN
    )
    # boundary cast only: session math is exact-decimal inside the operator
    return out.withColumn("total_value", F.col("total_value").cast("double"))


SQL_SESSIONIZE = f"""
WITH marked AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {_SESSION_GAP_MIN * 60 * 1_000_000}
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
    SELECT user_id, ts, value,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS session_seq
    FROM marked
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       MIN(epoch_us(ts)) AS session_start_us,
       MAX(epoch_us(ts)) AS session_end_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM numbered GROUP BY user_id, session_seq
"""


# interval join ---------------------------------------------------------------

def q_event_session_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every event to its containing session with the bucketized
    interval join (points x intervals, no cross join). The ORACLE derives
    the same assignment through a completely different plan (per-event
    lag/cumsum numbering), so parity here cross-checks both operators."""
    from hhek2sqlite_spark.operators.rangejoin import interval_join

    events = load_table(spark, sf_dir, "events")
    points = events.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    sessions = sessionize(events, gap_minutes=_SESSION_GAP_MIN).select(
        "user_id", "session_seq", "session_start_us", "session_end_us"
    )
    return interval_join(
        points,
        sessions.withColumnRenamed("user_id", "user_id"),
        on=["user_id"],
        point_ts_us="ts_us",
        start_us="session_start_us",
        end_us="session_end_us",
    ).select("event_id", "user_id", "session_seq")


SQL_EVENT_SESSION_ASSIGN = f"""
WITH marked AS (
    SELECT user_id, event_id, ts,
           CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {_SESSION_GAP_MIN * 60 * 1_000_000}
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id,
       CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1
            AS BIGINT) AS session_seq
FROM marked
"""


# skew-resilient salted join --------------------------------------------------

def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events joined to a per-user dimension through operators/util.py::
    salted_join — the hot-key-resilient path (a user holding 10^9 events
    spreads over ``salt`` tasks; AQE's skew-join splits oversized
    partitions but not a single hot key inside one). The ORACLE is a
    plain join, so parity proves salting is semantics-preserving."""
    from hhek2sqlite_spark.operators.util import salted_join

    events = load_table(spark, sf_dir, "events")
    big = events.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    dim = events.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("first_seen_us")
    )
    # event_id as the salt row-id: layout-independent spreading (see
    # salted_join — the partition-id fallback no-ops on key-clustered input)
    return salted_join(big, dim, "user_id", salt=8, row_id_cols=("event_id",))


SQL_SKEW_SALTED_JOIN = """
WITH dim AS (
    SELECT user_id, MIN(epoch_us(ts)) AS first_seen_us FROM events GROUP BY user_id
)
SELECT e.event_id AS event_id, e.user_id AS user_id,
       epoch_us(e.ts) AS ts_us, d.first_seen_us AS first_seen_us
FROM events e JOIN dim d USING (user_id)
"""


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture corpus contains NO URLs (verified: zero 'http'
    matches at every sf), so running the extractor raw would be a
    0-row check proving nothing. The driver query therefore runs over a
    deterministic URL AUGMENTATION of the corpus — one per-source URL
    per doc plus a shared CDN URL on every third doc — identically
    applied in the SQL twin, so the regex extraction, explode and
    per-domain aggregation are exercised over real data volumes with
    non-trivial counts. The operator itself (pipeline.domain_stats) is
    fixture-agnostic; unit tests cover genuine URL-bearing text."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" https://"),
            F.lower("source"),
            F.lit(".example.com/a"),
            F.when(F.col("doc_id") % 3 == 0, " https://cdn.example.org/x").otherwise(
                ""
            ),
        ),
    )
    return pipeline.domain_stats(aug)


SQL_DOMAIN_STATS = f"""
WITH aug AS (
    SELECT doc_id,
           text || ' https://' || lower(source) || '.example.com/a' ||
           CASE WHEN doc_id % 3 = 0 THEN ' https://cdn.example.org/x' ELSE '' END AS text
    FROM documents
),
n AS (SELECT doc_id, {_NORM} AS t FROM aug),
hosts AS (
    SELECT doc_id, h AS domain
    FROM n, LATERAL unnest(regexp_extract_all(t, '{pipeline.DOMAIN_RE}', 1)) u(h)
)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_mentions,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM hosts GROUP BY domain
"""


_QUANT_PCTS = (25, 50, 75)


def q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type p25/p50/p75 of value in ONE window pass: rank and
    group size come from the same user-keyed sort, each quantile is the
    row at rank ceil(n*p/100) (type-1 quantile — an EXISTING value, so
    the double is exact in any engine; n*p is an exact integer and the
    /100.0 + ceil are deterministic IEEE ops). The exact-median pattern
    of plans/reference.py::q_median_order_value generalized to a
    multi-quantile profile."""
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    # asc_nulls_last: Spark ASC defaults to NULLS FIRST, DuckDB to NULLS
    # LAST — pin the order explicitly on BOTH sides so a null value can
    # never shift the ranks between the plan and its oracle
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_last(), F.col("event_id").asc()
    )
    ranked = events.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n"),
    )
    aggs = [
        F.min(
            F.when(
                F.col("rn")
                == F.ceil(F.col("n") * F.lit(p) / F.lit(100.0)).cast("long"),
                F.col("value"),
            )
        ).alias(f"p{p}")
        for p in _QUANT_PCTS
    ]
    return ranked.groupBy("event_type").agg(
        F.max("n").alias("n_events"), *aggs
    )


SQL_VALUE_QUANTILES = f"""
WITH ranked AS (
    SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value ASC NULLS LAST, event_id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_events,
       {", ".join(f"MIN(CASE WHEN rn = CAST(ceil(n * {p} / 100.0) AS BIGINT) THEN value END) AS p{p}" for p in _QUANT_PCTS)}
FROM ranked GROUP BY event_type
"""


# JSON property extraction ----------------------------------------------------

def q_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from the JSON props column + grouped rollup —
    get_json_object stays JVM-side (no Python UDF)."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


SQL_PROPS_EXTRACT = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
       MIN(CAST(props->>'k' AS INTEGER)) AS min_k,
       MAX(CAST(props->>'k' AS INTEGER)) AS max_k
FROM events GROUP BY event_type
"""


# event-time windows ---------------------------------------------------------

def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ev.tumbling(load_table(spark, sf_dir, "events"))
    return out.withColumn("sum_value", F.col("sum_value").cast("double"))


SQL_EVENTS_TUMBLING = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ev.sliding(load_table(spark, sf_dir, "events"))
    return out.withColumn("sum_value", F.col("sum_value").cast("double"))


SQL_EVENTS_SLIDING = """
WITH e AS (
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
           + CASE WHEN minute(ts) >= 30 THEN 1800 ELSE 0 END AS grid,
           event_type, value
    FROM events
),
fanned AS (
    SELECT grid - o.off AS window_start, event_type, value
    FROM e, (VALUES (0), (1800)) o(off)
)
SELECT window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM fanned GROUP BY 1, 2
"""


def q_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ev.user_activity(load_table(spark, sf_dir, "events"))
    return out.withColumn("total_value", F.col("total_value").cast("double"))


SQL_USER_ACTIVITY = """
SELECT user_id,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_type) AS n_types,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS last_seen_epoch
FROM events GROUP BY user_id
"""


# pipeline tier: edit-distance dedup, splits, chunking, PII, contamination ---

_EDIT_MAX_DIST = 40
_CONTAM_EVAL_MAX_ID = 50
# >= 100 shared 8-grams separates genuine cross-boundary duplicates from
# shared-vocabulary noise in the fixture (measured distribution at
# sf0.01: n_shared >= 100 flags 5 pairs, >= 5 would flag 20k of 22.5k)
_CONTAM_MIN_SHARED = 100
_CHUNK_SIZE = 200
_CHUNK_OVERLAP = 40
_CHUNK_STRIDE = _CHUNK_SIZE - _CHUNK_OVERLAP

# shared candidate CTEs (same shingle constants as ngram_jaccard, so the
# two operators share one candidate definition)
_SHINGLE_CTE = f"""
norm AS (SELECT doc_id, {{norm_expr}} AS t FROM documents),
sh AS (
    SELECT DISTINCT doc_id, substr(t, CAST(i AS INTEGER), {{n}}) AS shingle
    FROM norm, LATERAL unnest(generate_series(1, greatest(length(t) - {{n_minus1}}, 0))) u(i)
    WHERE length(substr(t, CAST(i AS INTEGER), {{n}})) = {{n}}
)"""


def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.edit_distance_pairs(
        load_table(spark, sf_dir, "documents"),
        max_dist=_EDIT_MAX_DIST,
        n=_NGRAM_N,
        max_df=_NGRAM_MAX_DF,
    )


SQL_EDIT_DISTANCE_PAIRS = f"""
WITH {_SHINGLE_CTE.format(norm_expr=_NORM, n=_NGRAM_N, n_minus1=_NGRAM_N - 1)},
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {_NGRAM_MAX_DF}),
shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b, CAST(levenshtein(na.t, nb.t) AS BIGINT) AS edit_dist
FROM cand c
JOIN norm na ON c.id_a = na.doc_id
JOIN norm nb ON c.id_b = nb.doc_id
WHERE abs(length(na.t) - length(nb.t)) <= {_EDIT_MAX_DIST}
  AND levenshtein(na.t, nb.t) <= {_EDIT_MAX_DIST}
"""


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.dataset_split(load_table(spark, sf_dir, "documents"))


SQL_DATASET_SPLIT = f"""
SELECT doc_id,
       substr(md5(COALESCE({_NORM}, '')), 1, 2) AS bucket_hex,
       CASE WHEN substr(md5(COALESCE({_NORM}, '')), 1, 2) <= '{pipeline.SPLIT_TRAIN_MAX}' THEN 'train'
            WHEN substr(md5(COALESCE({_NORM}, '')), 1, 2) <= '{pipeline.SPLIT_VAL_MAX}' THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.doc_chunks(
        spread(load_table(spark, sf_dir, "documents")),
        size=_CHUNK_SIZE,
        overlap=_CHUNK_OVERLAP,
    )


SQL_DOC_CHUNKS = f"""
WITH n AS (SELECT doc_id, {_NORM} AS t FROM documents),
c AS (
    SELECT doc_id, i AS chunk_idx,
           substr(t, CAST(i * {_CHUNK_STRIDE} + 1 AS INTEGER), {_CHUNK_SIZE}) AS chunk
    FROM n, LATERAL unnest(generate_series(0,
         CASE WHEN length(t) <= {_CHUNK_SIZE} THEN 0
              ELSE CAST(floor((length(t) - {_CHUNK_SIZE} + {_CHUNK_STRIDE - 1}) / {_CHUNK_STRIDE}.0) AS BIGINT)
         END)) u(i)
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(length(chunk) AS BIGINT) AS chunk_len,
       md5(chunk) AS chunk_fp
FROM c
"""



_PACK_BUDGET = 2000
_PACK_SHARDS = 16


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the fused pack, row-identical to pack_chunks(doc_chunks(...)) (the
    # oracle's composed form): chunk extents come from the normalized
    # length, so no chunk string is ever cut
    from hhek2sqlite_spark.operators.text import normalized

    docs = spread(load_table(spark, sf_dir, "documents"))
    return pipeline.pack_doc_chunks(
        docs.select("doc_id", normalized("text").alias("_norm")),
        size=_CHUNK_SIZE,
        overlap=_CHUNK_OVERLAP,
        budget=_PACK_BUDGET,
        n_shards=_PACK_SHARDS,
    )


def _sql_pack_chunks() -> str:
    return f"""
WITH chunks AS (SELECT doc_id, chunk_idx, chunk_len FROM ({{chunks_sql}}) c),
packed AS (
    SELECT doc_id % {_PACK_SHARDS} AS shard, doc_id, chunk_idx, chunk_len,
           CAST(SUM(chunk_len) OVER (PARTITION BY doc_id % {_PACK_SHARDS}
                                     ORDER BY doc_id ASC, chunk_idx ASC
                                     ROWS UNBOUNDED PRECEDING) - chunk_len
                AS BIGINT) AS offset_in_shard
    FROM chunks
)
SELECT shard, doc_id, chunk_idx, chunk_len, offset_in_shard,
       CAST(offset_in_shard // {_PACK_BUDGET} AS BIGINT) AS pack_id
FROM packed
"""


# rendered after the function because it nests the doc_chunks SQL
SQL_PACK_CHUNKS = _sql_pack_chunks().format(chunks_sql=SQL_DOC_CHUNKS)


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation capstone — exact dedup (keep-first) →
    quality filter → leakage-safe content-hash split (train only) →
    chunk → pack into fixed budgets, as ONE single-pass plan.

    All three selection signals (fingerprint, quality bucket, split key)
    are row-local functions of the SAME normalized text, so they are
    computed in one projection over one scan — the round-4 form ran the
    normalization regex three times and self-joined the scan back on
    doc_id per stage (measured 6.7x the oracle; this form is the same
    shape as the SQL twin). The split filter is applied BEFORE the
    keep-first window: the split key is derived from the fingerprint, so
    every member of an fp group shares it and group membership is
    unchanged — the dedup shuffle then moves only the ~80% train rows.
    Keep-first itself is a min-over-fp window (one Exchange carrying
    (doc_id, norm, fp, quality_ok)); quality is evaluated on the KEPT
    row (duplicates may differ in raw whitespace), matching the staged
    pipeline's semantics and the oracle."""
    from hhek2sqlite_spark.operators.text import digit_count, normalized, punct_count

    docs = spread(load_table(spark, sf_dir, "documents"))
    staged = docs.select(
        "doc_id",
        normalized("text").alias("_norm"),
        F.length("text").alias("_nc"),
        digit_count("text").alias("_nd"),
        punct_count("text").alias("_np"),
    ).select(
        "doc_id",
        "_norm",
        "_nc",
        "_nd",
        "_np",
        # token count = spaces + 1 on the collapsed form (split would
        # materialize the token array just to take its size); "" gives
        # 0 - 0 + 1 = 1, same as size(split('', ' ')) = [""] -> 1
        (F.length("_norm") - F.length(F.translate("_norm", " ", "")) + 1).alias(
            "_nt"
        ),
        F.md5("_norm").alias("fp"),
    )
    # quality == 'ok' <=> no reject branch fires (same integer
    # comparisons as text.document_profile, conjugated)
    quality_ok = (
        (F.col("_nc") >= 20)
        & (F.col("_nt") >= 5)
        & (F.col("_np") * 5 <= F.col("_nc"))
        & (F.col("_nd") * 10 <= F.col("_nc") * 3)
        & (F.col("_nc") <= F.col("_nt") * 16)
    )
    # Pushdown barrier on the split filter: left bare, Catalyst copies
    # substring(md5(norm),1,2) <= train_max into the scan's DataFilters,
    # re-running the normalization regex + md5 per row a SECOND time
    # (verified: regexp_replace appeared in both the pushed filter and
    # the projection). Wrapping the predicate in a when() on a
    # non-deterministic (always-true) guard makes it non-pushable and
    # non-splittable, so fp is computed once in the projection and the
    # filter just reads it. Cost: the pre-filter rows ride the spread()
    # round-robin exchange (~20% more rows) — far cheaper than a per-row
    # regex pass at 100 TB.
    split_pred = F.when(
        F.monotonically_increasing_id() >= 0,
        F.substring("fp", 1, 2) <= pipeline.SPLIT_TRAIN_MAX,
    ).otherwise(F.lit(False))
    train = staged.select(
        "doc_id", "_norm", "fp", quality_ok.alias("_q")
    ).filter(split_pred)
    # keep-first as an ARG-MIN aggregate (min_by on the unique doc_id),
    # not a window: one hash Exchange with map-side partials and no sort
    kept = (
        train.groupBy("fp")
        .agg(F.min_by(F.struct("doc_id", "_norm", "_q"), "doc_id").alias("_k"))
        .filter(F.col("_k._q"))
        .select(F.col("_k.doc_id").alias("doc_id"), F.col("_k._norm").alias("_norm"))
    )
    # fused chunk+pack (round 7): the running sum windows over DOCS and
    # chunks explode after it — row-identical to
    # pack_chunks(doc_chunks(...)), measured equal at sf0.1 (both forms
    # stage-floor-bound at 8.4k chunks), adopted for the at-scale sort
    # state (per-doc, not per-chunk). See pipeline.pack_doc_chunks.
    return pipeline.pack_doc_chunks(
        kept,
        size=_CHUNK_SIZE,
        overlap=_CHUNK_OVERLAP,
        budget=_PACK_BUDGET,
        n_shards=_PACK_SHARDS,
        norm_col="_norm",
    )


def _sql_corpus_curation() -> str:
    # compose the existing SQL fragments: keepers (dedup), quality from
    # the shared profile CTE, split threshold, then chunk+pack — all
    # rendered from the same constants as the Spark plan
    profile_body = _PROFILE_CTE.replace("WITH ", "", 1)
    return f"""
WITH keepers AS (
    SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5({_NORM})
),
{profile_body},
ok_train AS (
    SELECT p.doc_id
    FROM profile p
    JOIN keepers k ON p.doc_id = k.doc_id
    JOIN documents d ON d.doc_id = p.doc_id
    WHERE p.quality = 'ok'
      AND substr(md5({_NORM.replace("text", "d.text")}), 1, 2) <= '{pipeline.SPLIT_TRAIN_MAX}'
),
n AS (
    SELECT d.doc_id, {_NORM.replace("text", "d.text")} AS t
    FROM documents d JOIN ok_train USING (doc_id)
),
c AS (
    SELECT doc_id, i AS chunk_idx,
           substr(t, CAST(i * {_CHUNK_STRIDE} + 1 AS INTEGER), {_CHUNK_SIZE}) AS chunk
    FROM n, LATERAL unnest(generate_series(0,
         CASE WHEN length(t) <= {_CHUNK_SIZE} THEN 0
              ELSE CAST(floor((length(t) - {_CHUNK_SIZE} + {_CHUNK_STRIDE - 1}) / {_CHUNK_STRIDE}.0) AS BIGINT)
         END)) u(i)
),
chunks AS (
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(length(chunk) AS BIGINT) AS chunk_len
    FROM c
),
packed AS (
    SELECT doc_id % {_PACK_SHARDS} AS shard, doc_id, chunk_idx, chunk_len,
           CAST(SUM(chunk_len) OVER (PARTITION BY doc_id % {_PACK_SHARDS}
                                     ORDER BY doc_id ASC, chunk_idx ASC
                                     ROWS UNBOUNDED PRECEDING) - chunk_len
                AS BIGINT) AS offset_in_shard
    FROM chunks
)
SELECT shard, doc_id, chunk_idx, chunk_len, offset_in_shard,
       CAST(offset_in_shard // {_PACK_BUDGET} AS BIGINT) AS pack_id
FROM packed
"""


SQL_CORPUS_CURATION = _sql_corpus_curation()


_REP_N = 8


def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.repetition_profile(
        spread(load_table(spark, sf_dir, "documents")), n=_REP_N
    )


SQL_REPETITION_PROFILE = f"""
WITH n AS (SELECT doc_id, {_NORM} AS t FROM documents),
sh AS (
    SELECT doc_id,
           CAST(len(g) AS BIGINT) AS n_shingles,
           CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct_shingles
    FROM (
        SELECT doc_id,
               list_filter(
                   list_transform(generate_series(1, greatest(length(t) - {_REP_N - 1}, 0)),
                                  i -> substr(t, CAST(i AS INTEGER), {_REP_N})),
                   s -> length(s) = {_REP_N}) AS g
        FROM n
    )
)
SELECT doc_id, n_shingles, n_distinct_shingles,
       CASE WHEN n_shingles = 0 THEN 'empty'
            WHEN (n_shingles - n_distinct_shingles) * 5 > n_shingles THEN 'repetitive'
            ELSE 'ok' END AS rep_bucket
FROM sh
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.pii_redact(spread(load_table(spark, sf_dir, "documents")))


SQL_PII_REDACT = f"""
WITH n AS (SELECT doc_id, {_NORM} AS t FROM documents),
r AS (
    SELECT doc_id, t,
           regexp_replace(regexp_replace(t, '{pipeline.EMAIL_RE}', '<EMAIL>', 'g'),
                          '{pipeline.URL_RE}', '<URL>', 'g') AS red
    FROM n
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{pipeline.EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{pipeline.URL_RE}')) AS BIGINT) AS n_urls,
       CAST(length(red) AS BIGINT) AS redacted_len,
       md5(red) AS redacted_fp
FROM r
"""


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.contamination_pairs(
        load_table(spark, sf_dir, "documents"),
        eval_max_id=_CONTAM_EVAL_MAX_ID,
        n=_NGRAM_N,
        min_shared=_CONTAM_MIN_SHARED,
    )


SQL_CONTAMINATION = f"""
WITH {_SHINGLE_CTE.format(norm_expr=_NORM, n=_NGRAM_N, n_minus1=_NGRAM_N - 1)},
ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id < {_CONTAM_EVAL_MAX_ID}),
corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= {_CONTAM_EVAL_MAX_ID})
SELECT c.doc_id AS doc_id, e.eval_id AS eval_id, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM corpus c JOIN ev e USING (shingle)
GROUP BY 1, 2
HAVING COUNT(*) >= {_CONTAM_MIN_SHARED}
"""


_INC_BATCH_MAX = 250


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: docs with doc_id < _INC_BATCH_MAX play
    the NEW BATCH, the rest play the already-ingested corpus whose
    fingerprint store the batch is checked against (keep-first within
    the batch, anti-join against the store). The continuous-feed shape
    of dedup_exact — nothing re-scans the ingested corpus itself.

    The fixture corpus is overlap-free (every doc unique, verified:
    raw batch survives 250/250), so the raw shape would prove the
    plumbing but never exercise a drop. The batch is therefore
    AUGMENTED — identically in the SQL twin — with (a) re-id'd copies
    of 50 INGESTED docs (must all be dropped by the history anti-join)
    and (b) re-id'd copies of 10 BATCH docs (must all lose keep-first
    to their lower-id originals): survivors == the original 250, with
    both drop paths live."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    cols = ("doc_id", "text", "lang", "source", "n_chars")
    base = docs.filter(F.col("doc_id") < _INC_BATCH_MAX).select(*cols)
    history_dups = (
        docs.filter(
            (F.col("doc_id") >= _INC_BATCH_MAX)
            & (F.col("doc_id") < _INC_BATCH_MAX + 50)
        ).select((F.col("doc_id") + 10000).alias("doc_id"), *cols[1:])
    )
    batch_dups = (
        docs.filter(F.col("doc_id") < 10)
        .select((F.col("doc_id") + 20000).alias("doc_id"), *cols[1:])
    )
    # localCheckpoint (r17, the sparse_cosine_pairs precedent): the
    # augmented batch is referenced by BOTH sides of exact_dedup's
    # semi-join and by the store anti-join, and Catalyst pushes those
    # joins THROUGH the 3-way union — the committed r16 plan held 15
    # parquet scans / 21 Exchanges, with the keepers aggregate and the
    # store distinct each rebuilt once per union branch
    # (git show 4035b00:plans/r17/incremental_dedup_before.txt). The
    # batch is batch-sized by definition (the operator's whole
    # premise), so the materialization is tiny; release via owned_result.
    batch = (
        base.unionByName(history_dups)
        .unionByName(batch_dups)
        .localCheckpoint(eager=True)
    )
    store = dedup.fingerprint_store(docs.filter(F.col("doc_id") >= _INC_BATCH_MAX))
    return dedup.incremental_dedup(batch, store).select(
        "doc_id", "lang", "source", "n_chars"
    )


SQL_INCREMENTAL_DEDUP = f"""
WITH n AS (SELECT doc_id, text, lang, source, n_chars, md5({_NORM}) AS fp FROM documents),
batch AS (
    SELECT doc_id, lang, source, n_chars, fp FROM n WHERE doc_id < {_INC_BATCH_MAX}
    UNION ALL
    SELECT doc_id + 10000, lang, source, n_chars, fp FROM n
    WHERE doc_id >= {_INC_BATCH_MAX} AND doc_id < {_INC_BATCH_MAX} + 50
    UNION ALL
    SELECT doc_id + 20000, lang, source, n_chars, fp FROM n WHERE doc_id < 10
),
store AS (SELECT DISTINCT fp FROM n WHERE doc_id >= {_INC_BATCH_MAX}),
keepers AS (SELECT fp, MIN(doc_id) AS keeper FROM batch GROUP BY fp)
SELECT b.doc_id, b.lang, b.source, b.n_chars
FROM batch b
JOIN keepers k ON b.fp = k.fp AND b.doc_id = k.keeper
WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.fp = b.fp)
"""


_ATTRIB_HORIZON_HOURS = 72


def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the watermarked stream-stream interval join
    (streaming/joins.py): purchases attributed to a same-user signup
    within the horizon. The streaming form is availableNow-parity-tested
    against exactly this plan (test_stream_stream_join_matches_batch);
    registering the batch twin puts the JOIN SEMANTICS — equi-key plus
    event-time interval — under the DuckDB oracle gate too."""
    from hhek2sqlite_spark.streaming.joins import batch_purchase_attribution

    return batch_purchase_attribution(
        load_table(spark, sf_dir, "events"), horizon_hours=_ATTRIB_HORIZON_HOURS
    )


SQL_PURCHASE_ATTRIBUTION = f"""
WITH s AS (
    SELECT user_id, ts AS signup_ts, event_id AS signup_event_id
    FROM events WHERE event_type = 'signup'
),
p AS (
    SELECT user_id, ts AS purchase_ts, event_id AS purchase_event_id,
           value AS purchase_value
    FROM events WHERE event_type = 'purchase'
)
SELECT p.purchase_event_id AS purchase_id,
       s.signup_event_id AS signup_id,
       p.user_id AS user_id,
       epoch_us(p.purchase_ts) AS purchase_us,
       epoch_us(s.signup_ts) AS signup_us,
       p.purchase_value AS purchase_value
FROM p JOIN s ON p.user_id = s.user_id
 AND p.purchase_ts >= s.signup_ts
 AND p.purchase_ts <= s.signup_ts + INTERVAL {_ATTRIB_HORIZON_HOURS} HOUR
"""


def q_stratified_sample_2p(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass hash-threshold stratified sample (the bounded-reducer
    scale path, operators/pipeline.py::stratified_sample two_pass=True).
    Bit-exact equal to the one-pass form by construction, so it shares
    SQL_STRATIFIED_SAMPLE as its oracle — the parity gate proves the
    threshold+recount refinement end-to-end, not just in unit tests."""
    return pipeline.stratified_sample(
        load_table(spark, sf_dir, "documents"),
        n_per_stratum=_STRAT_N,
        two_pass=True,
    )


# --- temperature language rebalancing (round 10) ----------------------------

_TEMP_BOOST = 64


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """alpha=0.5 temperature language mix
    (operators/pipeline.py::temperature_sample)."""
    return pipeline.temperature_sample(
        load_table(spark, sf_dir, "documents"), boost=_TEMP_BOOST
    )


SQL_TEMPERATURE_SAMPLE = f"""
WITH n AS (
    SELECT doc_id, lang, md5({_NORM}) AS sample_key FROM documents
),
cnt AS (SELECT lang, COUNT(*) AS f FROM n GROUP BY lang),
tgt AS (
    SELECT lang,
           LEAST(f, CAST(CEIL(SQRT({_TEMP_BOOST} * f)) AS BIGINT)) AS n_keep
    FROM cnt
),
ranked AS (
    SELECT doc_id, lang, sample_key,
           ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY sample_key ASC, doc_id ASC
           ) AS rn
    FROM n
)
SELECT r.doc_id, r.lang, r.sample_key, CAST(r.rn AS INTEGER) AS sample_rank
FROM ranked r JOIN tgt ON r.lang = tgt.lang
WHERE r.rn <= tgt.n_keep
"""


# --- repetition / boilerplate quality signals (round 10) --------------------

_BP_SHINGLE_N = 3
_BP_MAX_DF = 4


def q_bigram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style top-bigram repetition signal
    (operators/text.py::bigram_repetition)."""
    from hhek2sqlite_spark.operators.text import bigram_repetition

    return bigram_repetition(spread(load_table(spark, sf_dir, "documents")))


SQL_BIGRAM_REPETITION = f"""
WITH n AS (SELECT doc_id, {_NORM} AS t FROM documents),
tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM n),
big AS (
    SELECT doc_id, bg
    FROM tok, LATERAL unnest(
        list_transform(toks[1:len(toks)-1], (x, i) -> x || ' ' || toks[i+1])
    ) u(bg)
    WHERE len(toks) >= 2
),
counts AS (
    SELECT doc_id, bg, COUNT(*) AS cnt FROM big GROUP BY doc_id, bg
),
ranked AS (
    SELECT doc_id, bg, cnt,
           CAST(SUM(cnt) OVER (PARTITION BY doc_id) AS INTEGER) AS n_bigrams,
           ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY cnt DESC, bg ASC
           ) AS rn
    FROM counts
)
SELECT doc_id, n_bigrams, bg AS top_bigram, CAST(cnt AS INTEGER) AS top_count,
       CAST(FLOOR(1e6 * cnt / n_bigrams + 0.5) AS BIGINT) AS rep_frac_e6
FROM ranked WHERE rn = 1
"""


def q_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-document boilerplate exposure
    (operators/text.py::boilerplate_shingles)."""
    from hhek2sqlite_spark.operators.text import boilerplate_shingles

    return boilerplate_shingles(
        spread(load_table(spark, sf_dir, "documents")),
        shingle_n=_BP_SHINGLE_N,
        max_df=_BP_MAX_DF,
    )


SQL_BOILERPLATE_SHINGLES = f"""
WITH n AS (SELECT doc_id, {_NORM} AS t FROM documents),
tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM n),
grams AS (
    SELECT DISTINCT doc_id, g
    FROM tok, LATERAL unnest(
        list_transform(
            toks[1:len(toks)-{_BP_SHINGLE_N - 1}],
            (x, i) -> x || ' ' || toks[i+1] || ' ' || toks[i+2]
        )
    ) u(g)
    WHERE len(toks) >= {_BP_SHINGLE_N}
),
freq AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g)
SELECT grams.doc_id,
       CAST(COUNT(*) AS INTEGER) AS n_shingles,
       CAST(SUM(CASE WHEN freq.df > {_BP_MAX_DF} THEN 1 ELSE 0 END) AS INTEGER)
           AS n_boilerplate,
       CAST(FLOOR(1e6 * SUM(CASE WHEN freq.df > {_BP_MAX_DF} THEN 1 ELSE 0 END)
            / COUNT(*) + 0.5) AS BIGINT) AS bp_frac_e6
FROM grams JOIN freq ON grams.g = freq.g
GROUP BY grams.doc_id
"""


# --- corpus-analysis signals (round 11) --------------------------------------

_VG_BUCKETS = 20
_DICE_MIN_COUNT = 5
_DICE_K = 50
_NOVELTY_N = 3


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve over doc_id-range buckets
    (operators/text.py::vocab_growth)."""
    from hhek2sqlite_spark.operators.text import vocab_growth

    return vocab_growth(
        spread(load_table(spark, sf_dir, "documents")), n_buckets=_VG_BUCKETS
    )


SQL_VOCAB_GROWTH = f"""
WITH n AS (SELECT doc_id, {_NORM} AS t FROM documents),
occ AS (
    SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM n
),
mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
bucketed AS (
    SELECT CAST((doc_id * {_VG_BUCKETS}) // m AS INTEGER) AS bucket, w
    FROM occ, mx
),
per_bucket AS (
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS bucket_tokens
    FROM bucketed GROUP BY bucket
),
firsts AS (
    SELECT w, MIN(bucket) AS fb FROM bucketed GROUP BY w
),
news AS (
    SELECT fb AS bucket, CAST(COUNT(*) AS INTEGER) AS new_types
    FROM firsts GROUP BY fb
)
SELECT p.bucket,
       CAST(COALESCE(n2.new_types, 0) AS INTEGER) AS new_types,
       p.bucket_tokens,
       CAST(SUM(COALESCE(n2.new_types, 0)) OVER (ORDER BY p.bucket)
            AS BIGINT) AS cum_vocab,
       CAST(SUM(p.bucket_tokens) OVER (ORDER BY p.bucket) AS BIGINT)
           AS cum_tokens
FROM per_bucket p LEFT JOIN news n2 ON p.bucket = n2.bucket
"""


def q_dice_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k word-bigram collocations by Dice coefficient
    (operators/text.py::dice_collocations)."""
    from hhek2sqlite_spark.operators.text import dice_collocations

    return dice_collocations(
        spread(load_table(spark, sf_dir, "documents")),
        min_count=_DICE_MIN_COUNT,
        k=_DICE_K,
    )


SQL_DICE_COLLOCATIONS = f"""
WITH n AS (SELECT doc_id, {_NORM} AS t FROM documents),
tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM n),
uni AS (
    SELECT w, COUNT(*) AS c
    FROM (SELECT unnest(toks) AS w FROM tok)
    GROUP BY w
),
big AS (
    SELECT p.w1, p.w2, COUNT(*) AS c_bg
    FROM tok, LATERAL unnest(
        list_transform(
            toks[1:len(toks)-1],
            (x, i) -> struct_pack(w1 := x, w2 := toks[i+1])
        )
    ) u(p)
    WHERE len(toks) >= 2
    GROUP BY p.w1, p.w2
    HAVING COUNT(*) >= {_DICE_MIN_COUNT}
)
SELECT big.w1 || ' ' || big.w2 AS bigram,
       CAST(c_bg AS INTEGER) AS c_bg,
       CAST(u1.c AS INTEGER) AS c1,
       CAST(u2.c AS INTEGER) AS c2,
       CAST(FLOOR(1e6 * 2 * c_bg / (u1.c + u2.c) + 0.5) AS BIGINT)
           AS dice_e6
FROM big
JOIN uni u1 ON big.w1 = u1.w
JOIN uni u2 ON big.w2 = u2.w
ORDER BY dice_e6 DESC, bigram ASC
LIMIT {_DICE_K}
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document share of corpus-first n-grams
    (operators/text.py::ngram_novelty)."""
    from hhek2sqlite_spark.operators.text import ngram_novelty

    return ngram_novelty(
        spread(load_table(spark, sf_dir, "documents")), n=_NOVELTY_N
    )


SQL_NGRAM_NOVELTY = f"""
WITH n AS (SELECT doc_id, {_NORM} AS t FROM documents),
tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM n),
grams AS (
    SELECT DISTINCT doc_id, g
    FROM tok, LATERAL unnest(
        list_transform(
            toks[1:len(toks)-{_NOVELTY_N - 1}],
            (x, i) -> x{"".join(f" || ' ' || toks[i+{j}]" for j in range(1, _NOVELTY_N))}
        )
    ) u(g)
    WHERE len(toks) >= {_NOVELTY_N}
),
firsts AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g)
SELECT grams.doc_id,
       CAST(COUNT(*) AS INTEGER) AS n_grams,
       CAST(SUM(CASE WHEN firsts.first_doc = grams.doc_id THEN 1 ELSE 0 END)
            AS INTEGER) AS n_novel,
       CAST(FLOOR(1e6 * SUM(CASE WHEN firsts.first_doc = grams.doc_id
                                 THEN 1 ELSE 0 END) / COUNT(*) + 0.5)
            AS BIGINT) AS novelty_e6
FROM grams JOIN firsts ON grams.g = firsts.g
GROUP BY grams.doc_id
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard
    (operators/text.py::source_vocab_overlap)."""
    from hhek2sqlite_spark.operators.text import source_vocab_overlap

    return source_vocab_overlap(spread(load_table(spark, sf_dir, "documents")))


SQL_SOURCE_OVERLAP = f"""
WITH n AS (SELECT source, {_NORM} AS t FROM documents),
sv AS (
    SELECT DISTINCT source, w
    FROM (SELECT source, unnest(string_split(t, ' ')) AS w FROM n)
),
vocab AS (SELECT source, COUNT(*) AS v FROM sv GROUP BY source),
inter AS (
    SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS i
    FROM sv a JOIN sv b ON a.w = b.w AND a.source < b.source
    GROUP BY a.source, b.source
)
SELECT va.source AS source_a, vb.source AS source_b,
       CAST(COALESCE(inter.i, 0) AS INTEGER) AS inter,
       CAST(FLOOR(1e6 * COALESCE(inter.i, 0)
            / (va.v + vb.v - COALESCE(inter.i, 0)) + 0.5) AS BIGINT)
           AS jaccard_e6
FROM vocab va
JOIN vocab vb ON va.source < vb.source
LEFT JOIN inter
  ON inter.source_a = va.source AND inter.source_b = vb.source
"""


def q_supplier_wait_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped "blocking supplier" rollup (reference parity
    tier: exercises the EXISTS + NOT-EXISTS self-join shape the
    reference's orphan/equivalence checks combine —
    hhek2sqlite.go:1090-1120's read-back verification joins). A
    supplier "blocks" a multi-supplier order when its latest line ships
    last (no other supplier ships later); ``numwait`` counts blocked
    orders per supplier.

    Spark-first plan note: the textbook Q21 uses EXISTS + NOT EXISTS
    self-joins; this implementation collapses both into one keyed
    aggregation (per-(order,supplier) max shipdate) and a per-order
    window over that already-reduced relation — the semantics are
    identical (ties: every supplier whose max equals the order max
    qualifies, exactly NOT EXISTS strictly-later) but the plan is ONE
    lineitem scan and two map-side-combinable shuffles instead of two
    O(n²)-risk self-joins (a join-back formulation was tried first and
    its .explain showed lineitem scanned twice — Spark does not reuse
    the shared groupBy subplan across a self-join). The per-order
    window group is bounded by suppliers-per-order, so it is skew-safe
    at any corpus size. The oracle mirrors the aggregation formulation,
    so the pair also documents the rewrite's equivalence."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("ms")
    )
    w = Window.partitionBy("l_orderkey")
    return (
        per.withColumn("mx", F.max("ms").over(w))
        .withColumn("nsupp", F.count(F.lit(1)).over(w))
        .filter((F.col("nsupp") > 1) & (F.col("ms") == F.col("mx")))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .select(F.col("l_suppkey").alias("suppkey"), "numwait")
    )


SQL_SUPPLIER_WAIT_CHAIN = """
WITH per AS (
    SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS ms
    FROM lineitem GROUP BY l_orderkey, l_suppkey
),
per_order AS (
    SELECT l_orderkey, MAX(ms) AS mx, COUNT(*) AS nsupp
    FROM per GROUP BY l_orderkey
)
SELECT per.l_suppkey AS suppkey, CAST(COUNT(*) AS BIGINT) AS numwait
FROM per JOIN per_order USING (l_orderkey)
WHERE nsupp > 1 AND ms = mx
GROUP BY per.l_suppkey
"""


# --- product analytics + dedup keep-policy (round 11) ------------------------


def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel conversion
    (operators/funnel.py::funnel_stages)."""
    from hhek2sqlite_spark.operators.funnel import funnel_stages

    return funnel_stages(load_table(spark, sf_dir, "events"))


SQL_FUNNEL_STAGES = """
WITH s1 AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
    FROM events GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, MIN(e.ts) AS t2
    FROM events e JOIN s1 ON e.user_id = s1.user_id
    WHERE e.event_type = 'click' AND e.ts > s1.t1
    GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, MIN(e.ts) AS t3
    FROM events e JOIN s2 ON e.user_id = s2.user_id
    WHERE e.event_type = 'purchase' AND e.ts > s2.t2
    GROUP BY e.user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS users_total,
       CAST(COUNT(s1.t1) AS BIGINT) AS users_view,
       CAST(COUNT(s2.t2) AS BIGINT) AS users_click,
       CAST(COUNT(s3.t3) AS BIGINT) AS users_purchase
FROM s1
LEFT JOIN s2 ON s1.user_id = s2.user_id
LEFT JOIN s3 ON s1.user_id = s3.user_id
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle over first-event cohorts
    (operators/funnel.py::retention_cohorts)."""
    from hhek2sqlite_spark.operators.funnel import retention_cohorts

    return retention_cohorts(load_table(spark, sf_dir, "events"))


SQL_RETENTION_COHORTS = """
WITH wk AS (
    SELECT user_id,
           CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
                AS INTEGER) AS w
    FROM events
),
cohorts AS (SELECT user_id, MIN(w) AS cohort_week FROM wk GROUP BY user_id),
activity AS (SELECT DISTINCT user_id, w AS activity_week FROM wk)
SELECT cohort_week, activity_week,
       CAST(activity_week - cohort_week AS INTEGER) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS active_users
FROM activity JOIN cohorts USING (user_id)
GROUP BY cohort_week, activity_week
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster keep-policy: one representative per MinHash
    cluster, highest n_chars wins (ties: lowest doc_id); singletons
    keep themselves (operators/dedup.py::dedup_keep_best). This is the
    dedup ENDGAME a curation pipeline actually ships — minhash_clusters
    names the components, this query decides which document survives."""
    from hhek2sqlite_spark.operators import dedup
    from hhek2sqlite_spark.operators.dedup import dedup_keep_best

    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup.neardup_clusters(dedup.minhash_lsh_pairs(docs))
    return dedup_keep_best(docs, clusters)


SQL_DEDUP_KEEP_BEST = f"""
WITH j AS (
    SELECT d.doc_id, d.n_chars,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d
    LEFT JOIN ({SQL_MINHASH_CLUSTERS}) c ON d.doc_id = c.doc_id
)
SELECT doc_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS INTEGER)
           AS cluster_size,
       CAST(CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY cluster_id
                ORDER BY n_chars DESC, doc_id ASC) = 1
            THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM j
"""


# --- TPC-H planner shapes Q7 / Q11 / Q22 (round 11) ---------------------------

_SHARE_K = 2000  # Q11-ish: keep parts with revenue share > 1/K of global
_CHURN_CUTOFF = "2001-01-01"  # Q22-ish: last order strictly before this


def q_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped five-table join: discounted revenue between
    customer-nation / supplier-nation pairs per order year, cross-nation
    only. Exercises the planner shape the reference tier lacked — a
    fact table joined through two INDEPENDENT dimension chains (order →
    customer → nation and lineitem → supplier → nation).

    Scale shape: the customer chain is folded into orders FIRST
    (orders ⋈ customer ⋈ nation produces an order-keyed relation of
    three columns), so the FACT table meets exactly one shuffle — on
    l_orderkey. The first-cut join order (li⋈orders⋈customer⋈…)
    shuffled the fact twice (orderkey, then custkey) and the x8 scaling
    point jumped 3.4x for 2x data when orders outgrew the broadcast
    threshold; this ordering removes the second fact shuffle. nation
    (25 rows) is broadcast on both chains; supplier is dimension-sized
    and broadcast-or-shuffle at AQE's discretion. Catalyst does not
    reorder joins without CBO stats, so the order is written
    deliberately. Aggregates are exact e6 integers before the boundary
    division (reference.py money rules)."""
    from hhek2sqlite_spark.plans.reference import _disc_e6, _out1e6

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cn = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
        )
    )
    sn = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
        )
    )
    ord_enriched = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(cn, F.col("c_nationkey") == F.col("c_nk"))
        .select(
            "o_orderkey",
            "cust_nation",
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
    )
    # supplier is left UNFORCED: AQE broadcasts it at dimension scale
    # and falls back to a suppkey shuffle if a deployment's supplier
    # relation outgrows the threshold (forcing broadcast would OOM there)
    sp_enriched = supp.join(sn, F.col("s_nationkey") == F.col("s_nk")).select(
        "s_suppkey", "supp_nation"
    )
    return (
        li.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(sp_enriched, li.l_suppkey == F.col("s_suppkey"))
        .join(ord_enriched, li.l_orderkey == F.col("o_orderkey"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation", "order_year")
        .agg(
            _out1e6(F.sum(_disc_e6("l_extendedprice", "l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


SQL_NATION_TRADE_FLOWS = """
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                * (10000 - CAST(ROUND(l_discount*10000) AS BIGINT)))
            AS BIGINT) / 1000000.0 AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE cn.n_name <> sn.n_name
GROUP BY cn.n_name, sn.n_name, year(o_orderdate)
"""


def q_revenue_share_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped global-threshold filter: parts whose discounted
    revenue exceeds 1/K of TOTAL revenue. The scalar subquery becomes a
    broadcast cross join of a one-row aggregate; the comparison is
    rev_e6 > total_e6 DIV K in exact integers (a float fraction
    multiply would be engine-rounding-dependent, and the cross-multiply
    rev_e6 * K overflows BIGINT on scaled fixtures).

    Scale shape: the per-part rollup is localCheckpoint'ed (the tfidf
    pattern) because Catalyst does not reuse a shared subplan across a
    self-cross-join — without it .explain showed the FACT TABLE scanned
    and aggregated twice; checkpointing materializes only the
    part-sized relation and both the total and the filter read it."""
    from hhek2sqlite_spark.plans.reference import _disc_e6, _out1e6

    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(_disc_e6("l_extendedprice", "l_discount")).alias("rev_e6")
    ).localCheckpoint(eager=True)
    total = per_part.agg(F.sum("rev_e6").alias("total_e6"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("rev_e6") > F.expr(f"total_e6 DIV {_SHARE_K}"))
        .select(
            F.col("l_partkey").alias("partkey"),
            _out1e6(F.col("rev_e6")).alias("revenue"),
        )
    )


SQL_REVENUE_SHARE_PARTS = f"""
WITH pr AS (
    SELECT l_partkey,
           SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
               * (10000 - CAST(ROUND(l_discount*10000) AS BIGINT))) AS rev_e6
    FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT SUM(rev_e6) AS total_e6 FROM pr)
SELECT l_partkey AS partkey,
       CAST(rev_e6 AS BIGINT) / 1000000.0 AS revenue
FROM pr, tot
WHERE rev_e6 > total_e6 // {_SHARE_K}
"""


def q_churned_high_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped churn rollup: customers whose account balance
    beats the positive-balance average and whose LAST order predates
    the cutoff, rolled up per market segment. The average threshold is
    the exact cross-multiplication acctbal_cents * n > sum_cents — no
    float average ever materializes (a double AVG's summation order is
    engine-defined)."""
    from hhek2sqlite_spark.plans.reference import _cents, _out100

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(_cents("c_acctbal")).alias("s"), F.count(F.lit(1)).alias("n")
    )
    last = orders.groupBy("o_custkey").agg(F.max("o_orderdate").alias("md"))
    return (
        cust.join(last, cust.c_custkey == last.o_custkey)
        .crossJoin(F.broadcast(pos))
        .filter(
            (_cents("c_acctbal") * F.col("n") > F.col("s"))
            & (F.col("md") < F.lit(_CHURN_CUTOFF).cast("timestamp"))
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_custs"),
            _out100(F.sum(_cents("c_acctbal"))).alias("total_acctbal"),
        )
    )


SQL_CHURNED_HIGH_VALUE = f"""
WITH pos AS (
    SELECT SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS s, COUNT(*) AS n
    FROM customer WHERE c_acctbal > 0
),
last AS (SELECT o_custkey, MAX(o_orderdate) AS md FROM orders GROUP BY o_custkey)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_custs,
       CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS BIGINT) / 100.0
           AS total_acctbal
FROM customer c
JOIN last ON c.c_custkey = last.o_custkey, pos
WHERE CAST(ROUND(c_acctbal*100) AS BIGINT) * pos.n > pos.s
  AND last.md < TIMESTAMP '{_CHURN_CUTOFF} 00:00:00'
GROUP BY c_mktsegment
"""


# --- sparse cosine pairs + grouped OLS (round 11, batch 4) -------------------

_COS_MAX_DF = 40  # rare-feature cutoff: tokens in more docs are pruned
_COS_MIN_SCORE_E6 = 250000  # cosine^2 >= 0.25  <=>  cosine >= 0.5
_COS_ENT_BUCKETS = 37  # driver-query entity augmentation (see below)


def q_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sparse TF-cosine document pairs over the RARE-FEATURE
    subspace via inverted-list join — the classic IR all-pairs
    similarity without MinHash approximation: candidate pairs share at
    least one rare token (df <= max_df), the dot product is an exact
    integer sum of tf_a*tf_b over that subspace, and the score is
    cosine² in the e6 integer-ratio encoding (dot² and the norm²
    product are exact integers, so no square root is ever taken).
    Scoring on the pruned subspace is the practical candidate-gen form:
    discriminative features only, stopword mass excluded by
    construction.

    Driver-query augmentation (the domain_stats precedent): the fixture
    corpus draws from a ~31-token uniform vocabulary, so NO token is
    rare (min df ~ corpus size) and the raw query is a dead 0-row
    check. Two deterministic entity tokens derived from doc_id are
    appended — identically in the SQL twin — giving every doc a rare
    signature whose collisions produce live pairs at every sf. The
    bucket count scales with the corpus (n_docs DIV 13, floored at 37)
    so entity document frequency stays ~26 regardless of sf — a fixed
    bucket count would push df past max_df at sf0.1 and the check
    would go dead again.

    Scale shape: tf and df are map-side-combined keyed groupBys; the
    df <= max_df prune (broadcast-joined back BEFORE the self-join)
    bounds every token's pair fan-out at max_df² — the same
    stopword-kill argument as inverted_index. The pair rollup keys on
    the (doc_a, doc_b) pair; norms key on the doc.

    r17: the pruned ``rare`` relation is localCheckpoint'ed (eager)
    before fanning out to its THREE consumers (norms, both self-join
    sides). Lazily composed, Catalyst re-derived the whole
    scan→tf→df→prune pipeline once per reference — the committed plan
    held 32 parquet scans and 108 Exchanges (`git show
    4035b00:plans/r17/sparse_cosine_pairs_before.txt`) and planning
    itself was a visible cost. The checkpoint is the tfidf_topk
    precedent: the materialized relation is the RARE-token subspace
    (per-token rows bounded by max_df, stopword mass already dropped),
    so the intermediate is far
    smaller than the corpus — unlike span_dedup's rejected
    corpus-sized checkpoint. Release via owned_result (guide §3.3:
    truncate a plan whose width, not depth, is the problem)."""
    from hhek2sqlite_spark.operators.text import tokens

    base = spread(load_table(spark, sf_dir, "documents"))
    nb_rel = base.agg(
        F.greatest(
            F.lit(_COS_ENT_BUCKETS), F.expr("COUNT(*) DIV 13")
        ).alias("nbuckets")
    )
    docs = base.crossJoin(F.broadcast(nb_rel)).select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("text"),
            F.concat(F.lit("ent"), F.col("doc_id") % F.col("nbuckets")),
            F.concat(
                F.lit("ent"),
                (F.col("doc_id") * 11 + 3) % F.col("nbuckets"),
            ),
        ).alias("text"),
    )
    tf = (
        docs.select(F.col("doc_id"), F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_rel = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    rare = tf.join(
        F.broadcast(df_rel.filter(F.col("df") <= _COS_MAX_DF)), "tok"
    ).localCheckpoint(eager=True)
    norms = rare.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("norm2")
    )
    a = rare.select(
        F.col("tok"), F.col("doc_id").alias("id_a"), F.col("tf").alias("tf_a")
    )
    b = rare.select(
        F.col("tok"), F.col("doc_id").alias("id_b"), F.col("tf").alias("tf_b")
    )
    dots = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("norm2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("norm2").alias("nb2"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("dot").cast("long").alias("dot"),
            F.round(
                F.lit(1000000.0)
                * F.col("dot")
                * F.col("dot")
                / (F.col("na2") * F.col("nb2"))
            )
            .cast("long")
            .alias("cos2_e6"),
        )
        .filter(F.col("cos2_e6") >= _COS_MIN_SCORE_E6)
    )


SQL_SPARSE_COSINE_PAIRS = f"""
WITH nb AS (
    SELECT GREATEST({_COS_ENT_BUCKETS}, COUNT(*) // 13) AS nbuckets
    FROM documents
),
aug AS (
    SELECT doc_id,
           -- COALESCE matches Spark concat_ws's NULL-skip: a NULL text
           -- must still yield the doc's two entity tokens, not a NULL
           -- that drops the doc from tf entirely.
           COALESCE(text, '') || ' ent' || CAST(doc_id % nbuckets AS VARCHAR)
                || ' ent' || CAST((doc_id * 11 + 3) % nbuckets
                                  AS VARCHAR) AS text
    FROM documents, nb
),
n AS (SELECT doc_id, {_NORM} AS t FROM aug),
tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM n),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok),
dfr AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
rare AS (
    SELECT tf.doc_id, tf.tok, tf.tf
    FROM tf JOIN dfr ON tf.tok = dfr.tok
    WHERE dfr.df <= {_COS_MAX_DF}
),
norms AS (SELECT doc_id, SUM(tf * tf) AS norm2 FROM rare GROUP BY doc_id),
dots AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.tf * b.tf) AS dot
    FROM rare a JOIN rare b ON a.tok = b.tok AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, CAST(dot AS BIGINT) AS dot,
       CAST(FLOOR(1e6 * dot * dot / (na.norm2 * nb.norm2) + 0.5) AS BIGINT)
           AS cos2_e6
FROM dots
JOIN norms na ON dots.id_a = na.doc_id
JOIN norms nb ON dots.id_b = nb.doc_id
WHERE CAST(FLOOR(1e6 * dot * dot / (na.norm2 * nb.norm2) + 0.5) AS BIGINT)
      >= {_COS_MIN_SCORE_E6}
"""

_OLS_EPOCH = "2024-01-01"


def q_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type least-squares trend of value over time — grouped
    OLS from the five integer moment sums (n, Σx, Σy, Σxy, Σx²), never
    a float accumulation: x is the integer day index from a fixed
    epoch, y is value in cents, so both engines aggregate identical
    BIGINTs and the slope/intercept are each ONE IEEE division at the
    boundary. slope_e6 is in cents/day * 1e6. Overflow envelope: the
    closed forms are O(n * Σxy) — with x <= 10⁴ days and y <= 10⁸
    cents, BIGINT holds past 10⁹ rows per group; document-scale
    corpora with bigger groups would move the sums to DECIMAL(38,0),
    noted here rather than silently truncated.

    Scale shape: one map-side-combined shuffle on the group key; five
    integer aggregates fuse into one HashAggregate."""
    events = load_table(spark, sf_dir, "events")
    x = F.datediff(F.to_date("ts"), F.to_date(F.lit(_OLS_EPOCH))).cast("long")
    y = F.round(F.col("value") * 100).cast("long")
    m = events.select(F.col("event_type"), x.alias("x"), y.alias("y")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # Degenerate groups (n == 1, or all events on one day) have
    # den == 0; both engines must drop them identically or Spark's
    # non-ANSI 0.0/0 -> NaN -> 0 cast silently diverges from DuckDB's
    # CAST(NaN) error. Cauchy-Schwarz gives den >= 0, so > 0 is the
    # exact non-degenerate condition.
    m = m.filter(m.n * m.sxx > m.sx * m.sx)
    num = m.n * m.sxy - m.sx * m.sy
    den = m.n * m.sxx - m.sx * m.sx
    # FLOOR(x + 0.5) on both sides: F.round is HALF_UP away from zero
    # (-2.5 -> -3) while the oracle's FLOOR(x+0.5) rounds half toward
    # +inf (-2.5 -> -2); slope/intercept are the first registered e6
    # outputs that can be negative, so the convention must match.
    slope_e6 = F.floor(F.lit(1000000.0) * num / den + F.lit(0.5)).cast("long")
    # intercept = (sy - slope*sx) / n, reported in cents (e2 of dollars)
    intercept_e2 = F.floor(
        (m.sy - (F.lit(1.0) * num / den) * m.sx) / m.n + F.lit(0.5)
    ).cast("long")
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        slope_e6.alias("slope_e6"),
        intercept_e2.alias("intercept_cents"),
    )


SQL_GROUPED_OLS = f"""
WITH m AS (
    SELECT event_type,
           COUNT(*) AS n,
           SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * y) AS sxy, SUM(x * x) AS sxx
    FROM (
        SELECT event_type,
               CAST(date_diff('day', DATE '{_OLS_EPOCH}', CAST(ts AS DATE))
                    AS BIGINT) AS x,
               CAST(ROUND(value * 100) AS BIGINT) AS y
        FROM events
    )
    GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       CAST(FLOOR(1e6 * (n * sxy - sx * sy) / (n * sxx - sx * sx) + 0.5)
            AS BIGINT) AS slope_e6,
       CAST(FLOOR((sy - (1.0 * (n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                  / n + 0.5) AS BIGINT) AS intercept_cents
FROM m
WHERE n * sxx > sx * sx
"""


# --- TPC-H planner shapes Q4 / Q20 + budget variance (round 12) --------------

_Q4_START = "1997-01-01"  # one quarter, Q4's date-range-on-outer predicate
_Q4_END = "1997-04-01"
_Q4_LAG_DAYS = 60  # a line is "late" if it ships > lag after the order date


def _conf_bytes(raw: str) -> int:
    """Parse a Spark byte-size conf value ('10MB', '10485760b', '-1')."""
    s = raw.strip().lower()
    for suffix, mult in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("tb", 1 << 40),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40),
        ("b", 1),
    ):
        if s.endswith(suffix):
            return int(s[: -len(suffix)]) * mult
    return int(s)
_Q20_SHARE_MULT = 4  # dominant = supplier share > MULT x fair share
_BV_BUDGET_YEAR = 1995  # budget-vs-actual: prior year is the budget
_BV_ACTUAL_YEAR = 1996


def q_late_priority_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped correlated EXISTS with a date range on the
    OUTER: count orders per priority, within one quarter, that have at
    least one late line (shipped > _Q4_LAG_DAYS after the order date).
    This is the remaining decorrelation shape the planner tier had not
    exercised — the EXISTS predicate references BOTH sides
    (l_shipdate vs o_orderdate), so it cannot be pushed into either
    scan; it must ride the semi-join as a residual condition.

    Spark-first plan (round-12 rewrite, caught by its own scaling
    curve): the naive decorrelation is a left-semi join with ORDERS on
    the probe side — which puts the FACT on the build side, where it
    can never broadcast, so both sides shuffle full rows and the x8
    scaling point degraded (spark 4.94x for 8x data, ratio 15 -> 26).
    The committed plan collapses EXISTS into aggregation instead (the
    Q21 precedent): EXISTS(a line with shipdate > cutoff) is exactly
    MAX(l_shipdate) > cutoff, so the quarter's orders (a ~4%
    date-pushdown slice) broadcast-INNER-join into lineitem — dropping
    non-quarter lines map-side, no fact shuffle of full rows — then one
    map-side-combined per-order MAX, the residual compare, and the
    5-group rollup. The oracle keeps the textbook correlated-EXISTS
    form, documenting the rewrite's equivalence.

    Broadcast gating (ADVICE r12): an UNCONDITIONAL F.broadcast() hint
    bypasses autoBroadcastJoinThreshold and AQE's size checks — a
    deployment whose quarter slice outgrows executor memory would OOM
    instead of falling back, contradicting the old docstring's claim.
    Catalyst can't save us either way: without CBO stats a Filter's
    size estimate equals its child's, so the un-hinted static plan is
    a sort-merge join even when the slice is tiny (AQE only converts
    it AFTER paying lineitem's map-side shuffle write). So the hint is
    GATED on the slice's measured size: one cheap count over the
    date-pruned two-column orders scan (predicate pushdown makes this
    a metadata-light job), ~48 B/row on the wire. Under the threshold
    the hinted broadcast keeps the measured-fast plan (x8 A/B 3.20s ->
    0.84s); over it the hint is omitted and AQE picks the strategy on
    the already-pruned slice. At 100 TB: one exchange of (orderkey,
    priority, date, max) for matched lines only, never a full-row
    fact shuffle, and never an un-checked broadcast."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(_Q4_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q4_END).cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    slice_df = orders.select("o_orderkey", "o_orderdate", "o_orderpriority")
    thresh = _conf_bytes(
        str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
    )
    build = (
        F.broadcast(slice_df)
        if thresh > 0 and slice_df.count() * 48 <= thresh
        else slice_df
    )
    j = li.join(build, li.l_orderkey == F.col("o_orderkey"))
    per_order = j.groupBy("o_orderkey", "o_orderpriority", "o_orderdate").agg(
        F.max("l_shipdate").alias("ms")
    )
    return (
        per_order.filter(
            F.to_date("ms") > F.date_add(F.to_date("o_orderdate"), _Q4_LAG_DAYS)
        )
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )


SQL_LATE_PRIORITY_ORDERS = f"""
SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '{_Q4_START}'
  AND o_orderdate < TIMESTAMP '{_Q4_END}'
  AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND CAST(l_shipdate AS DATE)
            > CAST(o_orderdate AS DATE) + {_Q4_LAG_DAYS}
  )
GROUP BY o_orderpriority
"""


def q_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped nested IN with an aggregate threshold:
    suppliers whose shipped quantity of some CONTESTED part (>= 2
    suppliers) exceeds _Q20_SHARE_MULT x the fair per-supplier share of
    that part's total volume.  Q20's inner query compares a supplier's
    aggregate against a per-part threshold; with no partsupp table in
    this data model the threshold is the fair-share multiple, which
    keeps the shape (IN over a HAVING-style aggregate comparison)
    while staying scale-invariant — shares are ratios, so replication
    and sf growth leave the qualifying tail distribution unchanged.

    Spark-first plan: lineitem reduces FIRST to one row per
    (part, supplier) — a map-side-combinable integer-cents sum — then
    a per-part window over that already-reduced relation computes the
    total and the supplier count (bounded by suppliers-per-part, skew
    safe), exactly the Q21 rewrite precedent.  The IN decorrelates to
    a distinct + left-semi join against the 100-row supplier dim.
    The comparison q*nsupp > MULT*t is kept in exact integers — no
    division crosses an engine boundary."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    per = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("q")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("l_partkey")
    dominant = (
        per.withColumn("t", F.sum("q").over(w))
        .withColumn("nsupp", F.count(F.lit(1)).over(w))
        .filter(
            (F.col("nsupp") > 1)
            & (F.col("q") * F.col("nsupp") > F.lit(_Q20_SHARE_MULT) * F.col("t"))
        )
        .select("l_suppkey")
        .distinct()
    )
    return supplier.join(
        dominant, supplier.s_suppkey == dominant.l_suppkey, "left_semi"
    ).select(
        "s_suppkey",
        "s_name",
        F.round(F.col("s_acctbal") * 100).cast("long").alias("acctbal_c"),
    )


SQL_DOMINANT_PART_SUPPLIERS = f"""
WITH per AS (
    SELECT l_partkey, l_suppkey,
           SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS q
    FROM lineitem GROUP BY l_partkey, l_suppkey
),
w AS (
    SELECT l_suppkey, q,
           SUM(q) OVER (PARTITION BY l_partkey) AS t,
           COUNT(*) OVER (PARTITION BY l_partkey) AS nsupp
    FROM per
)
SELECT s_suppkey, s_name,
       CAST(ROUND(s_acctbal * 100) AS BIGINT) AS acctbal_c
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey FROM w
    WHERE nsupp > 1 AND q * nsupp > {_Q20_SHARE_MULT} * t
)
"""


def q_budget_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-vs-actual variance per category x month — the query the
    original app's Budget table exists FOR (SURVEY §2.4/§2.5: the
    reference materializes Budget Jan..Dec per category,
    hhek2sqlite.go's Budget DDL; the user-facing point of that pivot
    is comparing it against Transaktioner actuals).  Mapped onto the
    driver tables the same way budget_pivot is: category =
    o_orderpriority, budget = the prior year's monthly revenue,
    actual = the current year's.

    Spark-first plan: the naive form is Budget⋈Actual — two scans of
    the fact and a join.  This plan is ONE orders scan with the year
    filter pushed down, one map-side-combinable groupBy on
    (category, month), and the year split done by conditional
    aggregation (pivot-on-year) — no join at all, and months missing
    from either year coalesce to 0 inside the same aggregate row.
    At 100 TB: a single fact shuffle at (category x 12) granularity."""
    orders = load_table(spark, sf_dir, "orders")
    y = F.year("o_orderdate")
    base = orders.filter(y.isin(_BV_BUDGET_YEAR, _BV_ACTUAL_YEAR)).select(
        F.col("o_orderpriority").alias("typ"),
        F.month("o_orderdate").cast("int").alias("m"),
        y.alias("y"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    agg = base.groupBy("typ", "m").agg(
        F.coalesce(
            F.sum(F.when(F.col("y") == _BV_BUDGET_YEAR, F.col("c"))), F.lit(0)
        )
        .cast("long")
        .alias("budget_c"),
        F.coalesce(
            F.sum(F.when(F.col("y") == _BV_ACTUAL_YEAR, F.col("c"))), F.lit(0)
        )
        .cast("long")
        .alias("actual_c"),
    )
    return agg.withColumn(
        "variance_c", (F.col("actual_c") - F.col("budget_c")).cast("long")
    )


SQL_BUDGET_VARIANCE = f"""
SELECT o_orderpriority AS typ,
       CAST(month(o_orderdate) AS INTEGER) AS m,
       CAST(COALESCE(SUM(CASE WHEN year(o_orderdate) = {_BV_BUDGET_YEAR}
                THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END), 0)
            AS BIGINT) AS budget_c,
       CAST(COALESCE(SUM(CASE WHEN year(o_orderdate) = {_BV_ACTUAL_YEAR}
                THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END), 0)
            AS BIGINT) AS actual_c,
       CAST(COALESCE(SUM(CASE WHEN year(o_orderdate) = {_BV_ACTUAL_YEAR}
                THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END), 0)
            - COALESCE(SUM(CASE WHEN year(o_orderdate) = {_BV_BUDGET_YEAR}
                THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END), 0)
            AS BIGINT) AS variance_c
FROM orders
WHERE year(o_orderdate) IN ({_BV_BUDGET_YEAR}, {_BV_ACTUAL_YEAR})
GROUP BY o_orderpriority, month(o_orderdate)
"""


# --- TPC-H planner shapes Q2 / Q13 / Q15 (round 12, batch 2) ------------------

_Q2_PART_SIZE = 15  # Q2's part-dimension prefilter
_Q15_START = "1997-01-01"  # Q15's revenue-view half year
_Q15_END = "1997-07-01"
_Q13_EXCLUDED_PRIORITY = "1-URGENT"  # Q13's NOT-LIKE analog


def q_cheapest_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped correlated SCALAR-MIN subquery: for each part of
    a given size, every supplier whose cheapest line for that part
    equals the part's global minimum (ties all qualify, exactly Q2's
    semantics). The oracle keeps the textbook CORRELATED form
    (cost_c = (SELECT MIN ... WHERE same part)) so the pair documents
    the decorrelation rewrite's equivalence.

    Spark-first plan: lineitem reduces to one integer-cents MIN per
    (part, supplier) — map-side combinable; the 1/50-selective part
    dimension broadcast-joins BEFORE the per-part window, so the window
    (group bounded by suppliers-per-part) runs on ~2% of the pairs; the
    correlated subquery never becomes a self-join. At 100 TB: one fact
    shuffle, two broadcast dims, one bounded window."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_size") == _Q2_PART_SIZE
    )
    supplier = load_table(spark, sf_dir, "supplier")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "cost_c"
        )
    )
    sized = cost.join(
        F.broadcast(part.select("p_partkey")),
        cost.l_partkey == F.col("p_partkey"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("p_partkey")
    best = sized.withColumn("mn", F.min("cost_c").over(w)).filter(
        F.col("cost_c") == F.col("mn")
    )
    return (
        best.join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            best.l_suppkey == F.col("s_suppkey"),
        )
        .select(
            "p_partkey",
            "s_suppkey",
            "s_name",
            F.col("cost_c").alias("min_cost_c"),
        )
    )


SQL_CHEAPEST_SUPPLIER_PARTS = f"""
WITH cost AS (
    SELECT l_partkey, l_suppkey,
           MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cost_c
    FROM lineitem GROUP BY l_partkey, l_suppkey
)
SELECT p.p_partkey, s.s_suppkey, s.s_name, c.cost_c AS min_cost_c
FROM cost c
JOIN part p ON c.l_partkey = p.p_partkey
JOIN supplier s ON c.l_suppkey = s.s_suppkey
WHERE p.p_size = {_Q2_PART_SIZE}
  AND c.cost_c = (SELECT MIN(c2.cost_c) FROM cost c2
                  WHERE c2.l_partkey = c.l_partkey)
"""


def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (custdist): distribution of customers by order count,
    INCLUDING zero-order customers — the left-outer-join +
    two-level-aggregation shape (the zero bucket is unreachable from
    any inner-join plan). The o_orderpriority exclusion plays Q13's
    NOT-LIKE comment filter: a predicate on the PRESERVED-side join
    partner that must ride the join condition (as a WHERE it would
    turn the outer join inner).

    Spark-first plan (round 16 re-plan, `git show
    4035b00:scripts/decompose_q13.py`): count
    orders per custkey FIRST — the partial aggregate is map-side
    combinable, so the wide exchange carries ~|custkeys| x partitions
    partial-count rows instead of FULL ORDER ROWS — then LEFT join
    customer to the counts (coalesce 0 = the zero bucket) and run the
    final distribution agg over the ~100-value count domain. The
    r15-r16 committed form (join-then-count) exchanged every order
    row through the join before counting; the interleaved A/B
    measurement (`git show 4035b00:Q13_DECOMP.json`) read the pre-agg
    form 0.78 vs 0.65s
    at x1 (one extra stage at the job floor) but ALREADY ahead at x8
    (0.84 vs 0.87s) — and at 100 TB the delta is the whole fact
    exchange, so the floor-side 0.13s buys the scale-correct plan.
    The exclusion filter is a plain pushed scan filter here (the
    pre-agg side is inner — no outer-join trap), which is also
    simpler than riding the join condition."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    counts = (
        orders.filter(F.col("o_orderpriority") != _Q13_EXCLUDED_PRIORITY)
        .groupBy("o_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("n_orders"))
    )
    per = cust.join(
        counts, F.col("c_custkey") == F.col("o_custkey"), "left"
    ).select(
        F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("c_count")
    )
    return per.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


SQL_ORDER_COUNT_DISTRIBUTION = f"""
WITH pc AS (
    SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
    FROM customer c
    LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey
     AND o.o_orderpriority <> '{_Q13_EXCLUDED_PRIORITY}'
    GROUP BY c.c_custkey
)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM pc GROUP BY c_count
"""


def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped scalar GLOBAL-MAX subquery: the supplier(s)
    whose half-year discounted revenue equals the maximum over the
    revenue view (ties all qualify — Q15's documented semantics).
    Revenue is the exact e6 integer (cents x (1e4 - disc_e4)), so the
    max-equality compare is engine-exact where a float SUM's order-
    dependence could split ties.

    Spark-first plan: the date range pushes into the scan; revenue is
    one map-side-combined shuffle per supplier; the scalar max is a
    ONE-ROW broadcast crossed back against the per-supplier rows; the
    supplier dim broadcasts. The per-supplier rollup is
    localCheckpoint'ed (the tfidf / revenue_share_parts rule: Catalyst
    does not reuse a shared subplan across a self-cross-join — without
    it the FACT would be scanned and aggregated twice, once for the
    rows and once for their max), so the final plan reads the fact
    exactly once and both consumers read the supplier-sized relation."""
    from hhek2sqlite_spark.plans.reference import _disc_e6

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_Q15_START).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_Q15_END).cast("timestamp"))
    )
    supplier = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(_disc_e6("l_extendedprice", "l_discount")).alias("rev_e6")
    ).localCheckpoint(eager=True)
    mx = rev.agg(F.max("rev_e6").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_e6") == F.col("mx"))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey", "s_name", F.col("rev_e6").cast("long").alias("rev_e6")
        )
    )


SQL_TOP_REVENUE_SUPPLIER = f"""
WITH rev AS (
    SELECT l_suppkey,
           SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
               * (10000 - CAST(ROUND(l_discount * 10000) AS BIGINT)))
               AS rev_e6
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{_Q15_START}'
      AND l_shipdate < TIMESTAMP '{_Q15_END}'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(rev_e6 AS BIGINT) AS rev_e6
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE rev_e6 = (SELECT MAX(rev_e6) FROM rev)
"""


_Q8_REGION = "ASIA"  # the market
_Q8_NATION = "NATION_7"  # the supplier nation whose share is measured


def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: within one customer-REGION's
    purchases, the fraction of discounted revenue supplied by one
    NATION, per order year — the conditional-share aggregation over
    the Q7 dual-dimension-chain join (numerator = CASE inside the same
    SUM as the denominator; never two scans, never a self-join).

    Scale shape: same deliberate join order as nation_trade_flows —
    region⋈nation⋈customer folds into orders FIRST, so the fact meets
    exactly ONE shuffle on orderkey; the supplier chain carries only an
    is-target-nation flag. Share is the exact integer-ratio e6
    encoding: both moment sums are exact BIGINTs and the single IEEE
    division happens at the output boundary (FLOOR(x+0.5) both
    engines)."""
    from hhek2sqlite_spark.plans.reference import _disc_e6

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    region_nations = F.broadcast(
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == _Q8_REGION)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("c_nk"))
    )
    ord_in_market = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(region_nations, F.col("c_nationkey") == F.col("c_nk"), "left_semi")
        .select(
            "o_orderkey", F.year("o_orderdate").cast("int").alias("order_year")
        )
    )
    target_nk = F.broadcast(
        nation.filter(F.col("n_name") == _Q8_NATION).select(
            F.col("n_nationkey").alias("t_nk")
        )
    )
    sp = supp.join(
        target_nk, F.col("s_nationkey") == F.col("t_nk"), "left_semi"
    ).select(F.col("s_suppkey").alias("target_suppkey"))
    rev = _disc_e6("l_extendedprice", "l_discount")
    flagged = li.join(
        F.broadcast(sp), li.l_suppkey == F.col("target_suppkey"), "left"
    ).select(
        "l_orderkey",
        rev.alias("rev_e6"),
        F.when(F.col("target_suppkey").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_target"),
    )
    per_year = (
        flagged.join(ord_in_market, flagged.l_orderkey == F.col("o_orderkey"))
        .groupBy("order_year")
        .agg(
            F.sum(F.col("rev_e6") * F.col("is_target")).alias("num"),
            F.sum("rev_e6").alias("den"),
        )
    )
    return per_year.select(
        "order_year",
        F.floor(F.lit(1000000.0) * F.col("num") / F.col("den") + F.lit(0.5))
        .cast("long")
        .alias("mkt_share_e6"),
        F.col("den").cast("long").alias("market_rev_e6"),
    )


SQL_NATION_MARKET_SHARE = f"""
WITH market AS (
    SELECT year(o_orderdate) AS order_year,
           CAST(ROUND(l_extendedprice*100) AS BIGINT)
               * (10000 - CAST(ROUND(l_discount*10000) AS BIGINT)) AS rev_e6,
           CASE WHEN sn.n_name = '{_Q8_NATION}' THEN 1 ELSE 0 END AS is_target
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region   ON cn.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE r_name = '{_Q8_REGION}'
)
SELECT CAST(order_year AS INTEGER) AS order_year,
       CAST(FLOOR(1e6 * SUM(rev_e6 * is_target) / SUM(rev_e6) + 0.5)
            AS BIGINT) AS mkt_share_e6,
       CAST(SUM(rev_e6) AS BIGINT) AS market_rev_e6
FROM market
GROUP BY order_year
"""


_NTILE_N = 4  # quartiles


def q_order_value_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE distribution bucketing — the window primitive the
    registry's rank/row_number/lag/rolling-sum tier lacked: orders
    split into _NTILE_N equal buckets per priority by value, rolled up
    to per-(priority, quartile) count and exact cents bounds. ANSI
    NTILE is engine-identical (earlier buckets take the remainder) as
    long as the ORDER BY is a total order — (cents, orderkey) makes the
    assignment deterministic where a value-only order would tie-break
    by engine whim.

    Scale shape (round-13 re-plan, VERDICT r12 'weak set' item): the
    naive form — ntile() OVER (PARTITION BY o_orderpriority ORDER BY
    ...) — partitions the window on a FIVE-value key, and unlike
    row_number-top-k, NTILE gets no WindowGroupLimit pushdown (it
    needs the whole group), so each reducer sorts ~20% of the fact in
    one indivisible partition: parallelism capped at 5 regardless of
    cluster size. The committed plan derives the GLOBAL per-priority
    rank in two passes instead (the stratified_sample_2p /
    value_binned pattern):

    1. repartitionByRange on (priority, cents, orderkey) — a total
       order (orderkey is unique), so earlier range partitions hold
       strictly smaller keys; localCheckpoint freezes the partition
       assignment (tfidf/Q15 rule) so the counts job and the final
       job see identical pids.
    2. One tiny per-(pid, priority) count aggregate (<= P*5 rows,
       driver-safe like the per-stratum counts) yields, per (pid,
       priority), the number of same-priority rows in EARLIER range
       partitions — the broadcast prefix offset — plus the per-pid
       earlier-priority prefix and the per-priority totals.
    3. row_number over a window partitioned by PID (P-way parallel,
       ~N/P rows per sort, scales with the cluster — never 5), local
       rank within (pid, priority) = rn_pid - earlier-priority prefix,
       global rank = that + broadcast offset.
    4. The NTILE bucket is pure integer arithmetic on the global rank
       (ANSI remainder rule: first n_total % k buckets take one extra
       row) — no second fact shuffle for the assignment; the rollup's
       partial aggregation reduces map-side.

    Cost at bench scale: one extra fact exchange (range + pid-window
    vs the naive single hash) and a tiny counts job — the price of
    unbounded parallelism; SCALING.json's order_value_ntile entry
    records the x1->x8 trajectory (ratio 29.0 -> 7.6, wall x1.10
    for x8 data)."""
    from pyspark.sql.window import Window

    nt = _NTILE_N
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
        F.col("o_orderkey").alias("okey"),
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    ranged = (
        base.repartitionByRange(n_part, "priority", "c", "okey")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    # tiny aggregate: rows per (range partition, priority)
    cnt_rows = ranged.groupBy("pid", "priority").count().collect()
    per_prio_total: dict[str, int] = {}
    for r in sorted(cnt_rows, key=lambda r: (r["pid"], r["priority"])):
        per_prio_total[r["priority"]] = (
            per_prio_total.get(r["priority"], 0) + r["count"]
        )
    # offset = same-priority rows in earlier pids; intra = earlier-
    # priority rows in the same pid (both from the one counts job)
    seen_prio: dict[str, int] = {}
    off_rows = []
    for pid in sorted({r["pid"] for r in cnt_rows}):
        in_pid = sorted(
            (r for r in cnt_rows if r["pid"] == pid),
            key=lambda r: r["priority"],
        )
        intra = 0
        for r in in_pid:
            off_rows.append(
                (
                    pid,
                    r["priority"],
                    seen_prio.get(r["priority"], 0),
                    intra,
                    per_prio_total[r["priority"]],
                )
            )
            seen_prio[r["priority"]] = (
                seen_prio.get(r["priority"], 0) + r["count"]
            )
            intra += r["count"]
    offsets = F.broadcast(
        spark.createDataFrame(
            off_rows,
            "pid int, priority string, _off long, _intra long, _n long",
        )
    )
    w = Window.partitionBy("pid").orderBy(
        F.col("priority").asc(), F.col("c").asc(), F.col("okey").asc()
    )
    ranked = (
        ranged.withColumn("_rn", F.row_number().over(w))
        .join(offsets, ["pid", "priority"])
        .withColumn("_rank", F.col("_rn") - F.col("_intra") + F.col("_off"))
    )
    # ANSI NTILE from the global 1-based rank: q = n DIV k, rem = n % k;
    # the first rem buckets hold q+1 rows. Integer DIV throughout (the
    # r11 exactness rule — float division truncates wrong at scale);
    # CaseWhen short-circuits per row, so the q==0 division in the
    # otherwise-arm is never evaluated (q==0 => big == n >= rank).
    qq = F.expr(f"_n DIV {nt}")
    rem = F.col("_n") % nt
    big = rem * (qq + 1)
    quartile = F.when(
        F.col("_rank") <= big,
        F.expr(f"(_rank - 1) DIV ((_n DIV {nt}) + 1)") + 1,
    ).otherwise(
        rem
        + F.expr(
            f"(_rank - (_n % {nt}) * ((_n DIV {nt}) + 1) - 1)"
            f" DIV (_n DIV {nt})"
        )
        + 1
    )
    assigned = ranked.select(
        "priority",
        "c",
        quartile.cast("int").alias("quartile"),
    )
    return assigned.groupBy("priority", "quartile").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min("c").alias("min_c"),
        F.max("c").alias("max_c"),
    )


SQL_ORDER_VALUE_NTILE = f"""
WITH a AS (
    SELECT o_orderpriority AS priority,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c,
           NTILE({_NTILE_N}) OVER (
               PARTITION BY o_orderpriority
               ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT) ASC,
                        o_orderkey ASC
           ) AS quartile
    FROM orders
)
SELECT priority, CAST(quartile AS INTEGER) AS quartile,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(c) AS BIGINT) AS min_c,
       CAST(MAX(c) AS BIGINT) AS max_c
FROM a GROUP BY priority, quartile
"""


# --- TPC-H Q16 shape: NOT-IN anti-join into a count-distinct rollup ---------

_Q16_EXCL_BRAND = "Brand#21"
_Q16_TYPE_PREFIX = "MEDIUM"  # p_type NOT LIKE 'MEDIUM%'
_Q16_SIZES = (1, 4, 9, 14, 23, 36, 45, 49)


def q_part_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — the NOT-IN + distinct-supplier-count
    distribution (the planner pattern the matrix lacked, VERDICT r12
    ask #4): how many DISTINCT suppliers ship each surviving (brand,
    type, size) bucket, excluding a supplier denylist. Adapted to this
    corpus: the part-supplier relation is lineitem's (l_partkey,
    l_suppkey) pairs (no partsupp table here), and the Q16 complaints
    predicate becomes s_acctbal < 0 (no s_comment column).

    Spark-first: NOT IN compiles to a LEFT ANTI join — exactly
    equivalent here because s_suppkey is non-null (the null-poisoning
    NOT-IN footgun the oracle's textbook form documents cannot fire).
    The part predicate set (<> brand, NOT LIKE prefix, size IN list)
    is all scan-pushable. No explicit broadcast hints (the ADVICE r12
    lesson): part and supplier are SF-scaled dimensions, so AQE picks
    broadcast when they fit and shuffle when they don't.

    100 TB shape: one fact exchange keyed by (brand, type, size,
    suppkey) for the distinct expansion (Catalyst's two-phase distinct
    aggregate — partial distinct map-side first), anti-join and dim
    join both AQE-sized. No window, no driver state."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != _Q16_EXCL_BRAND)
            & (~F.col("p_type").startswith(_Q16_TYPE_PREFIX))
            & (F.col("p_size").isin(*_Q16_SIZES))
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    pairs = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    ok = pairs.join(
        bad_supp, pairs.l_suppkey == F.col("s_suppkey"), "left_anti"
    )
    return (
        ok.join(part, ok.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(
            F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt")
        )
    )


SQL_PART_SUPPLIER_DIVERSITY = f"""
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> '{_Q16_EXCL_BRAND}'
  AND p_type NOT LIKE '{_Q16_TYPE_PREFIX}%'
  AND p_size IN {_Q16_SIZES}
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


# --- TPC-H Q19 shape: disjunctive OR-of-conjunctions predicate --------------

# (brand, size_lo, size_hi, qty_lo, qty_hi) — three arms, Q19's shape
_Q19_ARMS = (
    ("Brand#12", 1, 5, 1, 11),
    ("Brand#16", 1, 10, 10, 20),
    ("Brand#10", 1, 15, 20, 30),
)


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — revenue under an OR of three multi-column
    conjunctions mixing part attributes (brand, size) and lineitem
    attributes (quantity). The planner test: a naive engine evaluates
    this as a UNION of three scans (or worse, three joins); the right
    plan keeps ONE scan of each table, pushes the join key as the only
    join condition, and carries the disjunction as a residual filter —
    plus the CNF-derivable per-side implications (every arm bounds
    l_quantity and p_size, so a covering range reaches each scan).

    Spark-first: express the OR directly over the joined relation and
    let Catalyst do the rest; the plan contract (tests) asserts no
    Union and exactly two scans. Money is exact-e6 discount arithmetic
    (the F11 rule). No broadcast hint — AQE sizes the part side.

    100 TB shape: one fact scan with the quantity range pushed, one
    equi-join exchange (or broadcast under AQE), one scalar partial
    aggregate. The disjunction adds zero exchanges."""
    from hhek2sqlite_spark.plans.reference import _disc_e6, _out1e6

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )

    def arm(brand, s_lo, s_hi, q_lo, q_hi):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(s_lo, s_hi)
            & F.col("l_quantity").between(float(q_lo), float(q_hi))
        )

    pred = arm(*_Q19_ARMS[0]) | arm(*_Q19_ARMS[1]) | arm(*_Q19_ARMS[2])
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(pred)
        .agg(
            _out1e6(
                F.sum(_disc_e6("l_extendedprice", "l_discount"))
            ).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


def _q19_arm_sql(brand, s_lo, s_hi, q_lo, q_hi) -> str:
    return (
        f"(p_brand = '{brand}' AND p_size BETWEEN {s_lo} AND {s_hi}"
        f" AND l_quantity BETWEEN {q_lo} AND {q_hi})"
    )


SQL_DISJUNCTIVE_REVENUE = f"""
SELECT CAST(SUM({_SD6_EXT.format('l_extendedprice', 'l_discount')}) AS BIGINT)
           / 1000000.0 AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE {_q19_arm_sql(*_Q19_ARMS[0])}
   OR {_q19_arm_sql(*_Q19_ARMS[1])}
   OR {_q19_arm_sql(*_Q19_ARMS[2])}
"""


# --- exact substring-level (span) dedup --------------------------------------

_SPAN_W = 8  # tokens per span; the corpus' docs are 10-99 tokens
_SPAN_BOILER = "spandup one two three four five six seven"  # 8 tokens


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup (operators/dedup.py::span_dedup) over
    a deterministic boilerplate AUGMENTATION: every 4th doc gets the
    same 8-token sentence appended (the q_domain_stats pattern —
    identically applied in the SQL twin), so the shared-span detection
    path is exercised with non-trivial counts on a corpus whose
    natural text may not repeat whole spans. The pure-boilerplate span
    is then a corpus-wide duplicate: its first carrier keeps it, every
    later carrier counts >= 1 duplicated span; the boundary-straddling
    spans stay doc-unique (they mix each doc's own tail tokens)."""
    from hhek2sqlite_spark.operators.dedup import span_dedup

    docs = spread(load_table(spark, sf_dir, "documents"))
    aug = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.col("text"), F.lit(" " + _SPAN_BOILER)),
        ).otherwise(F.col("text")),
    )
    return span_dedup(aug, window=_SPAN_W)


SQL_SPAN_DEDUP = f"""
WITH aug AS (
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 0 THEN text || ' {_SPAN_BOILER}'
                ELSE text END AS text
    FROM documents
),
n AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM aug),
occs AS (
    SELECT doc_id,
           md5(array_to_string(list_slice(toks, i, i + {_SPAN_W} - 1), ' ')) AS fp,
           doc_id * 4294967296 + i AS occ
    FROM n, LATERAL unnest(generate_series(1, len(toks) - {_SPAN_W} + 1)) u(i)
),
firsts AS (SELECT fp, MIN(occ) AS first_occ FROM occs GROUP BY fp)
SELECT o.doc_id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN o.occ > f.first_occ THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_spans,
       CAST(FLOOR(1e6 * SUM(CASE WHEN o.occ > f.first_occ THEN 1 ELSE 0 END)
                  / COUNT(*) + 0.5) AS BIGINT) AS dup_frac_e6
FROM occs o JOIN firsts f USING (fp)
GROUP BY o.doc_id
"""


# --- TPC-H Q5 shape: join CYCLE (customer-nation == supplier-nation) --------

_Q5_REGION = "ASIA"
_Q5_START = "1996-01-01"
_Q5_END = "1997-01-01"


def q_regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the JOIN-CYCLE planner pattern the matrix
    lacked: revenue per nation where the ordering CUSTOMER and the
    line's SUPPLIER share a nation inside one region. The cycle
    (customer->nation<-supplier joined through the fact) cannot be
    expressed as a tree of independent dimension lookups — the
    c_nationkey = s_nationkey equality must ride a join as a second
    hash key.

    Spark-first plan: region -> nation prefilter is a broadcast chain
    into supplier; lineitem is SEMI-FILTERED by the region's supplier
    keys BEFORE the orderkey exchange (r13 scaling-harness finding:
    Q5 was the steepest Spark-growth curve in SCALING.json because the
    full fact rode the big exchange and only met the region filter
    after it — the semi prefilter cuts shuffled fact bytes by the
    region's supplier selectivity; interleaved A/B at x8:
    3.0-3.3s -> 2.2s, results identical since the downstream inner
    join already enforces membership). The fact path folds customer
    into orders FIRST (Q7/Q8's proven order) carrying c_nationkey to
    order grain, meets the filtered lineitem on orderkey (the only
    big-fact exchange), then joins the region's suppliers on the
    COMPOSITE key (l_suppkey, c_nationkey) = (s_suppkey, s_nationkey)
    — Spark hashes both equalities, so the cycle costs zero residual
    filtering. Exact-e6 money; final rollup on the tiny nation key.

    100 TB: one lineitem exchange (orderkey, ~1/|regions| of the
    fact), one orders exchange (custkey); the supplier semi side and
    the composite join are both AQE-sized (unforced, the Q7 rule —
    supplier grows with business size, not fact rows); the cycle adds
    no exchange."""
    from hhek2sqlite_spark.plans.reference import _disc_e6, _out1e6

    nat = (
        load_table(spark, sf_dir, "nation")
        .join(
            load_table(spark, sf_dir, "region").filter(
                F.col("r_name") == _Q5_REGION
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(_Q5_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q5_END).cast("timestamp"))
    )
    cust_orders = orders.join(
        load_table(spark, sf_dir, "customer"),
        orders.o_custkey == F.col("c_custkey"),
    ).select("o_orderkey", "c_nationkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    li = li.join(
        supp.select("s_suppkey"),
        li.l_suppkey == F.col("s_suppkey"),
        "left_semi",
    )
    j = li.join(cust_orders, li.l_orderkey == F.col("o_orderkey")).join(
        supp,
        (F.col("l_suppkey") == F.col("s_suppkey"))
        & (F.col("c_nationkey") == F.col("s_nationkey")),
    )
    return j.groupBy("n_name").agg(
        _out1e6(F.sum(_disc_e6("l_extendedprice", "l_discount"))).alias(
            "revenue"
        ),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


SQL_REGIONAL_SUPPLIER_VOLUME = f"""
SELECT n_name,
       CAST(SUM({_SD6_EXT.format('l_extendedprice', 'l_discount')}) AS BIGINT)
           / 1000000.0 AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{_Q5_REGION}'
  AND o_orderdate >= TIMESTAMP '{_Q5_START}'
  AND o_orderdate < TIMESTAMP '{_Q5_END}'
GROUP BY n_name
"""


# --- TPC-H Q18 shape: HAVING-threshold join-back -----------------------------

_Q18_MIN_QTY = 200  # per-order quantity sum threshold (absolute, like Q18)


def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — the HAVING-threshold join-back: orders whose
    TOTAL line quantity exceeds an absolute threshold, re-joined to
    order and customer attributes. The planner pattern: the heavy
    per-order aggregate must reduce the fact BEFORE any dimension
    joins (never join first and aggregate the widened rows), and the
    join back to orders is 1:1 at order grain.

    Spark-first: one map-side-combined groupBy(l_orderkey) is the only
    lineitem exchange; the HAVING filter drops ~94% of orders before
    the joins; orders/customer attach by AQE-sized joins. Quantity is
    summed in exact cents (the F11 rule: the fixture column is a
    double). 100 TB: threshold selectivity is what Q18 exists to
    exploit — the post-filter relation is tiny, so everything after
    the one fact exchange is dimension-sized."""
    from hhek2sqlite_spark.plans.reference import _cents

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_cents("l_quantity")).alias("sum_qty_c"))
        .filter(F.col("sum_qty_c") > _Q18_MIN_QTY * 100)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("o_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            _cents("o_totalprice").alias("totalprice_c"),
            F.col("sum_qty_c"),
        )
    )


SQL_LARGE_ORDER_CUSTOMERS = f"""
WITH big AS (
    SELECT l_orderkey,
           CAST(SUM({_SC_EXT.format('l_quantity')}) AS BIGINT) AS sum_qty_c
    FROM lineitem GROUP BY l_orderkey
    HAVING SUM({_SC_EXT.format('l_quantity')}) > {_Q18_MIN_QTY} * 100
)
SELECT c_custkey, c_name, o_orderkey AS orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       {_SC_EXT.format('o_totalprice')} AS totalprice_c,
       sum_qty_c
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# --- TPC-H Q6 shape: single-scan range-predicate aggregate -------------------

_Q6_START = "1997-01-01"
_Q6_END = "1998-01-01"
_Q6_DISC_LO = 0.04
_Q6_DISC_HI = 0.06
_Q6_MAX_QTY = 24


def q_discount_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — the pure scan-efficiency pattern: revenue that
    WOULD be forfeited by dropping small-quantity discounts in a year
    band. No joins at all; the whole query is three range predicates
    and one sum, so the plan quality IS the pushdown: all three
    ranges (shipdate, discount, quantity) must reach the parquet scan
    as PushedFilters and the projection must prune to four columns.

    Exactness: discount values are parquet doubles in both engines, so
    the raw-double range compare is bit-identical; the forfeited
    revenue price*discount is summed in exact e6 integers (cents x
    discount-e4 — the _disc_e6 family's units).

    100 TB: zero exchanges before the final one-row reduce; with the
    year band as a partition column this prunes to ~1/7 of files, and
    row-group min/max statistics skip most of the rest. The F11 rule
    keeps the sum exact at any scale (e6 envelope: 9.2e12 currency
    units per group)."""
    from hhek2sqlite_spark.plans.reference import _cents

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_Q6_START).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_Q6_END).cast("timestamp"))
        & (F.col("l_discount") >= _Q6_DISC_LO)
        & (F.col("l_discount") <= _Q6_DISC_HI)
        & (F.col("l_quantity") < _Q6_MAX_QTY)
    )
    d_e4 = F.round(F.col("l_discount") * 10000).cast("long")
    return li.agg(
        F.sum(_cents("l_extendedprice") * d_e4).cast("long").alias(
            "forfeited_rev_e6"
        ),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


SQL_DISCOUNT_REVENUE_FORECAST = f"""
SELECT CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                * CAST(ROUND(l_discount*10000) AS BIGINT)) AS BIGINT)
           AS forfeited_rev_e6,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{_Q6_START}'
  AND l_shipdate < TIMESTAMP '{_Q6_END}'
  AND l_discount >= {_Q6_DISC_LO}
  AND l_discount <= {_Q6_DISC_HI}
  AND l_quantity < {_Q6_MAX_QTY}
"""


# --- TPC-H Q9 shape: multi-dimension profit rollup ---------------------------

_Q9_PART_WORD = "red"  # p_name substring filter (Q9's '%green%')
_Q9_COST_PCT = 60  # cost proxy: 60% of retail price (fixture has no partsupp)


def q_product_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — the many-dimension profit rollup: for every
    line selling a part whose name contains _Q9_PART_WORD, profit =
    discounted revenue minus cost, grouped by the SUPPLIER's nation
    and the order year. The planner pattern Q9 exists to test: three
    dimension attaches on one fact (part by partkey, supplier->nation
    by suppkey, orders by orderkey) where only the orders attach is
    fact-sized — the plan must broadcast the two true dimensions and
    spend exactly ONE big exchange (lineitem joins orders on orderkey).

    The fixture has no partsupp table, so cost is a deterministic
    proxy: _Q9_COST_PCT% of p_retailprice per unit (documented in the
    oracle with the same constant — the two sides cannot drift). All
    money stays exact-integer e6: rev = cents(ext)x(1e4-disc_e4),
    cost = cents(retail) x cents(qty) x _Q9_COST_PCT / 100 scaled to
    e6 (= cents x cents x pct x 0.01 x 100 — pure int multiply).

    100 TB: the '%red%' name filter prunes the part broadcast ~1/7;
    the broadcast part join then prunes the FACT before the one
    orderkey exchange; supplier/nation fold to a suppkey->n_name map
    broadcast. Group key (nation, year) is tiny — final agg map-side
    combines to ~25x7 rows."""
    from hhek2sqlite_spark.plans.reference import _cents, _disc_e6

    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains(_Q9_PART_WORD))
        .select("p_partkey", "p_retailprice")
    )
    supp_nat = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    )
    rev_e6 = _disc_e6("l_extendedprice", "l_discount")
    cost_e6 = _cents("p_retailprice") * _cents("l_quantity") * F.lit(
        _Q9_COST_PCT
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("order_year")
    )
    j = (
        li.join(part, li.l_partkey == F.col("p_partkey"))
        .join(supp_nat, li.l_suppkey == F.col("s_suppkey"))
        .join(orders, li.l_orderkey == F.col("o_orderkey"))
    )
    return (
        j.groupBy("n_name", "order_year")
        .agg(
            F.sum(rev_e6 - cost_e6).cast("long").alias("profit_e6"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


SQL_PRODUCT_PROFIT_BY_NATION = f"""
SELECT n_name,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(SUM({_SD6_EXT.format('l_extendedprice', 'l_discount')}
                - {_SC_EXT.format('p_retailprice')}
                  * {_SC_EXT.format('l_quantity')} * {_Q9_COST_PCT})
            AS BIGINT) AS profit_e6,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%{_Q9_PART_WORD}%'
GROUP BY n_name, order_year
"""


# --- TPC-H Q10 shape: returned-item top-k report ------------------------------

_Q10_START = "1996-01-01"
_Q10_END = "1996-04-01"
_Q10_TOPK = 20


def q_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — the aggregate-then-decorate top-k report: the
    _Q10_TOPK customers who returned the most revenue in one quarter,
    with their name / nation / balance attached. The planner pattern:
    the heavy rollup must run at BARE KEY grain (custkey only) and the
    global top-k must CUT the relation to k rows BEFORE any decoration
    join — aggregating over rows pre-widened by customer x nation (the
    textbook SQL shape) drags the attribute bytes through the shuffle
    and sorts the whole aggregate for a 20-row answer.

    Spark-first: the quarter slice of orders meets lineitem('R') on
    orderkey — the one fact exchange; groupBy(o_custkey) map-side
    combines; orderBy+limit compiles to TakeOrderedAndProject (a
    per-partition top-k + k-row merge, never a global sort); the
    20-row result then broadcast-joins customer and nation. The tie
    rule (revenue_e6 DESC, custkey ASC over exact integers) makes the
    k-row SET engine-identical, so the oracle can mirror it exactly.

    100 TB: both fact scans carry range/equality pushdowns; exchange
    bytes are (custkey, rev_e6) pairs; the decoration side touches 20
    rows regardless of scale."""
    from hhek2sqlite_spark.plans.reference import _cents, _disc_e6

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(_Q10_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q10_END).cast("timestamp"))
    )
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(_disc_e6("l_extendedprice", "l_discount"))
            .cast("long")
            .alias("returned_rev_e6")
        )
        .orderBy(F.col("returned_rev_e6").desc(), F.col("o_custkey"))
        .limit(_Q10_TOPK)
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    return (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == F.col("n_nationkey"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            _cents("c_acctbal").alias("acctbal_c"),
            "returned_rev_e6",
        )
    )


SQL_RETURNED_ITEM_CUSTOMERS = f"""
WITH per_cust AS (
    SELECT o_custkey,
           CAST(SUM({_SD6_EXT.format('l_extendedprice', 'l_discount')})
                AS BIGINT) AS returned_rev_e6
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '{_Q10_START}'
      AND o_orderdate < TIMESTAMP '{_Q10_END}'
    GROUP BY o_custkey
    ORDER BY returned_rev_e6 DESC, o_custkey
    LIMIT {_Q10_TOPK}
)
SELECT c_custkey, c_name, n_name,
       {_SC_EXT.format('c_acctbal')} AS acctbal_c,
       returned_rev_e6
FROM per_cust
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
"""


# --- TPC-H Q14 shape: conditional-share single-scan ratio ---------------------

_Q14_START = "1997-09-01"
_Q14_END = "1997-10-01"
_Q14_PROMO_TYPE = "PROMO"


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — the conditional-share ratio over a broadcast
    dimension flag: the fraction of one ship-month's discounted
    revenue sold under promo-typed parts. Like Q8, the numerator is a
    CASE inside the SAME sum as the denominator — one fact pass, never
    two scans or a self-join — but where Q8's flag rides a fact-sized
    join chain, Q14's flag is a pure broadcast dimension attach, so
    the whole query is scan -> broadcast hash join -> one-row reduce:
    ZERO exchanges on the fact.

    Exactness: both moment sums are exact e6 BIGINTs; the single IEEE
    division happens at the output boundary (FLOOR(1e6*x + 0.5), the
    Q8/Q11 rule — correctly-rounded, bit-identical in both engines).

    100 TB: the month predicate prunes the scan; the part dim
    broadcasts at any scale (it grows with SKU count, not fact rows);
    the aggregate is one row."""
    from hhek2sqlite_spark.plans.reference import _disc_e6

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_Q14_START).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_Q14_END).cast("timestamp"))
    )
    part = F.broadcast(
        load_table(spark, sf_dir, "part").select(
            "p_partkey",
            # TPC-H Q14 is LIKE 'PROMO%' (prefix, not equality): the
            # fixture's single-word types make both read identically,
            # but equality silently zeroes the share on composite
            # types like 'PROMO BURNISHED COPPER'.
            F.col("p_type")
            .startswith(_Q14_PROMO_TYPE)
            .cast("long")
            .alias("is_promo"),
        )
    )
    rev = _disc_e6("l_extendedprice", "l_discount")
    agg = li.join(part, li.l_partkey == F.col("p_partkey")).agg(
        F.sum(rev * F.col("is_promo")).alias("num"),
        F.sum(rev).alias("den"),
    )
    return agg.select(
        F.col("num").cast("long").alias("promo_rev_e6"),
        F.col("den").cast("long").alias("total_rev_e6"),
        F.floor(F.lit(1000000.0) * F.col("num") / F.col("den") + F.lit(0.5))
        .cast("long")
        .alias("promo_share_e6"),
    )


SQL_PROMO_REVENUE_SHARE = f"""
WITH m AS (
    SELECT {_SD6_EXT.format('l_extendedprice', 'l_discount')} AS rev_e6,
           CASE WHEN p_type LIKE '{_Q14_PROMO_TYPE}%' THEN 1 ELSE 0 END AS is_promo
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '{_Q14_START}'
      AND l_shipdate < TIMESTAMP '{_Q14_END}'
)
SELECT CAST(SUM(rev_e6 * is_promo) AS BIGINT) AS promo_rev_e6,
       CAST(SUM(rev_e6) AS BIGINT) AS total_rev_e6,
       CAST(FLOOR(1e6 * SUM(rev_e6 * is_promo) / SUM(rev_e6) + 0.5)
            AS BIGINT) AS promo_share_e6
FROM m
"""


# --- rare-token (hapax) share: frequency-tier quality signal ------------------

_RARE_MAX_COUNT = 2  # <=2 corpus occurrences = hapax/dis legomenon


def q_rare_token_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document hapax/rare-token occurrence share
    (operators/text.py::rare_token_share) — the frequency-tier quality
    signal (OCR noise / ID soup detector) the text tier lacked.

    The fixture vocabulary is ~31 uniform tokens, each with corpus
    count in the thousands — raw, NOTHING is rare and the check is a
    dead all-zeros pass. The driver query therefore runs over a
    deterministic doc_id-derived AUGMENTATION (the domain_stats /
    sparse_cosine_pairs pattern), identically applied in the SQL twin:
    every 3rd doc gains a unique 'uid<doc_id>' token (a guaranteed
    hapax), every 2nd doc a 'grp<doc_id DIV 40>' cohort token (~20
    occurrences — never rare, except genuinely-small tail groups,
    which both engines bucket identically)."""
    from hhek2sqlite_spark.operators.text import rare_token_share

    docs = spread(load_table(spark, sf_dir, "documents"))
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" uid"), F.col("doc_id").cast("string")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" grp"),
                    F.expr("CAST(doc_id DIV 40 AS STRING)"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    return rare_token_share(aug, max_count=_RARE_MAX_COUNT)


SQL_RARE_TOKEN_SHARE = f"""
WITH aug AS (
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 3 = 0
                   THEN ' uid' || CAST(doc_id AS VARCHAR) ELSE '' END
           || CASE WHEN doc_id % 2 = 0
                   THEN ' grp' || CAST(doc_id // 40 AS VARCHAR) ELSE '' END
               AS text
    FROM documents
),
n AS (SELECT doc_id, {_NORM} AS t FROM aug),
occ AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM n),
per_dt AS (
    SELECT doc_id, w, COUNT(*) AS c_dt FROM occ GROUP BY doc_id, w
),
corpus AS (SELECT w, SUM(c_dt) AS c_w FROM per_dt GROUP BY w)
SELECT doc_id,
       CAST(SUM(c_dt) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN c_w <= {_RARE_MAX_COUNT} THEN c_dt ELSE 0 END)
            AS BIGINT) AS n_rare,
       CAST(FLOOR(1e6 * SUM(CASE WHEN c_w <= {_RARE_MAX_COUNT} THEN c_dt
                                 ELSE 0 END) / SUM(c_dt) + 0.5)
            AS BIGINT) AS rare_share_e6
FROM per_dt JOIN corpus USING (w)
GROUP BY doc_id
"""


# registry -------------------------------------------------------------------

EXT_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "funnel_stages": q_funnel_stages,
    "late_priority_orders": q_late_priority_orders,
    "dominant_part_suppliers": q_dominant_part_suppliers,
    "budget_variance": q_budget_variance,
    "cheapest_supplier_parts": q_cheapest_supplier_parts,
    "order_count_distribution": q_order_count_distribution,
    "top_revenue_supplier": q_top_revenue_supplier,
    "order_value_ntile": q_order_value_ntile,
    "part_supplier_diversity": q_part_supplier_diversity,
    "disjunctive_revenue": q_disjunctive_revenue,
    "span_dedup": q_span_dedup,
    "regional_supplier_volume": q_regional_supplier_volume,
    "large_order_customers": q_large_order_customers,
    "discount_revenue_forecast": q_discount_revenue_forecast,
    "product_profit_by_nation": q_product_profit_by_nation,
    "returned_item_customers": q_returned_item_customers,
    "promo_revenue_share": q_promo_revenue_share,
    "rare_token_share": q_rare_token_share,
    "nation_market_share": q_nation_market_share,
    "sparse_cosine_pairs": q_sparse_cosine_pairs,
    "grouped_ols": q_grouped_ols,
    "nation_trade_flows": q_nation_trade_flows,
    "revenue_share_parts": q_revenue_share_parts,
    "churned_high_value": q_churned_high_value,
    "retention_cohorts": q_retention_cohorts,
    "dedup_keep_best": q_dedup_keep_best,
    "vocab_growth": q_vocab_growth,
    "dice_collocations": q_dice_collocations,
    "ngram_novelty": q_ngram_novelty,
    "source_overlap": q_source_overlap,
    "supplier_wait_chain": q_supplier_wait_chain,
    "bigram_repetition": q_bigram_repetition,
    "boilerplate_shingles": q_boilerplate_shingles,
    "temperature_sample": q_temperature_sample,
    "text_profile": q_text_profile,
    "source_stats": q_source_stats,
    "dedup_exact": q_dedup_exact,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_lsh": q_minhash_lsh,
    "simhash_pairs": q_simhash_pairs,
    "similarity_topk": q_similarity_topk,
    "similarity_lsh": q_similarity_lsh,
    "similarity_lsh_highsim": q_similarity_lsh_highsim,
    "semantic_dedup": q_semantic_dedup,
    "semdedup_cell_profile": q_semdedup_cell_profile,
    "semdedup_incremental": q_semdedup_incremental,
    "semdedup_incremental_store": q_semdedup_incremental_store,
    "semdedup_store_append": q_semdedup_store_append,
    "semdedup_store_meta": q_semdedup_store_meta,
    "similarity_ivf": q_similarity_ivf,
    "embedding_neardup": q_embedding_neardup,
    "fingerprint_tokens": q_fingerprint_tokens,
    "asof_signup": q_asof_signup,
    "sessionize": q_sessionize,
    "event_session_assign": q_event_session_assign,
    "skew_salted_join": q_skew_salted_join,
    "props_extract": q_props_extract,
    "multimodal_metadata": q_multimodal_metadata,
    "multimodal_features": q_multimodal_features,
    "image_pixel_stats": q_image_pixel_stats,
    "audio_sample_stats": q_audio_sample_stats,
    "video_frame_stats": q_video_frame_stats,
    "events_tumbling": q_events_tumbling,
    "events_sliding": q_events_sliding,
    "user_activity": q_user_activity,
    "edit_distance_pairs": q_edit_distance_pairs,
    "dataset_split": q_dataset_split,
    "doc_chunks": q_doc_chunks,
    "pii_redact": q_pii_redact,
    "contamination": q_contamination,
    "token_topk": q_token_topk,
    "inverted_index": q_inverted_index,
    "supplier_pagerank": q_supplier_pagerank,
    "scd2_history": q_scd2_history,
    "customer_upsert": q_customer_upsert,
    "value_outliers": q_value_outliers,
    "decayed_type_counts": q_decayed_type_counts,
    "cms_token_counts": q_cms_token_counts,
    "bloom_doc_bits": q_bloom_doc_bits,
    "epoch_shuffle": q_epoch_shuffle,
    "eval_sample_per_lang": q_eval_sample_per_lang,
    "user_key_skew": q_user_key_skew,
    "value_binned": q_value_binned,
    "table_stats": q_table_stats,
    "daily_gapfill": q_daily_gapfill,
    "daily_ohlc": q_daily_ohlc,
    "ngram_lm_counts": q_ngram_lm_counts,
    "embedding_quantize": q_embedding_quantize,
    "tfidf_topk": q_tfidf_topk,
    "stratified_sample": q_stratified_sample,
    "minhash_clusters": q_minhash_clusters,
    "pack_chunks": q_pack_chunks,
    "repetition_profile": q_repetition_profile,
    "domain_stats": q_domain_stats,
    "value_quantiles": q_value_quantiles,
    "label_centroids": q_label_centroids,
    "corpus_curation": q_corpus_curation,
    "purchase_attribution": q_purchase_attribution,
    "stratified_sample_2p": q_stratified_sample_2p,
    "incremental_dedup": q_incremental_dedup,
}

EXT_ORACLE_SQL: dict[str, str] = {
    "funnel_stages": SQL_FUNNEL_STAGES,
    "late_priority_orders": SQL_LATE_PRIORITY_ORDERS,
    "dominant_part_suppliers": SQL_DOMINANT_PART_SUPPLIERS,
    "budget_variance": SQL_BUDGET_VARIANCE,
    "cheapest_supplier_parts": SQL_CHEAPEST_SUPPLIER_PARTS,
    "order_count_distribution": SQL_ORDER_COUNT_DISTRIBUTION,
    "top_revenue_supplier": SQL_TOP_REVENUE_SUPPLIER,
    "order_value_ntile": SQL_ORDER_VALUE_NTILE,
    "part_supplier_diversity": SQL_PART_SUPPLIER_DIVERSITY,
    "disjunctive_revenue": SQL_DISJUNCTIVE_REVENUE,
    "span_dedup": SQL_SPAN_DEDUP,
    "regional_supplier_volume": SQL_REGIONAL_SUPPLIER_VOLUME,
    "large_order_customers": SQL_LARGE_ORDER_CUSTOMERS,
    "discount_revenue_forecast": SQL_DISCOUNT_REVENUE_FORECAST,
    "product_profit_by_nation": SQL_PRODUCT_PROFIT_BY_NATION,
    "returned_item_customers": SQL_RETURNED_ITEM_CUSTOMERS,
    "promo_revenue_share": SQL_PROMO_REVENUE_SHARE,
    "rare_token_share": SQL_RARE_TOKEN_SHARE,
    "nation_market_share": SQL_NATION_MARKET_SHARE,
    "sparse_cosine_pairs": SQL_SPARSE_COSINE_PAIRS,
    "grouped_ols": SQL_GROUPED_OLS,
    "nation_trade_flows": SQL_NATION_TRADE_FLOWS,
    "revenue_share_parts": SQL_REVENUE_SHARE_PARTS,
    "churned_high_value": SQL_CHURNED_HIGH_VALUE,
    "retention_cohorts": SQL_RETENTION_COHORTS,
    "dedup_keep_best": SQL_DEDUP_KEEP_BEST,
    "vocab_growth": SQL_VOCAB_GROWTH,
    "dice_collocations": SQL_DICE_COLLOCATIONS,
    "ngram_novelty": SQL_NGRAM_NOVELTY,
    "source_overlap": SQL_SOURCE_OVERLAP,
    "supplier_wait_chain": SQL_SUPPLIER_WAIT_CHAIN,
    "bigram_repetition": SQL_BIGRAM_REPETITION,
    "boilerplate_shingles": SQL_BOILERPLATE_SHINGLES,
    "temperature_sample": SQL_TEMPERATURE_SAMPLE,
    "text_profile": SQL_TEXT_PROFILE,
    "source_stats": SQL_SOURCE_STATS,
    "dedup_exact": SQL_DEDUP_EXACT,
    "ngram_jaccard": SQL_NGRAM_JACCARD,
    "minhash_lsh": SQL_MINHASH_LSH,
    "simhash_pairs": SQL_SIMHASH_PAIRS,
    "similarity_topk": SQL_SIMILARITY_TOPK,
    # full-probe IVF == exact top-k (see q_similarity_ivf), so the
    # brute-force SQL is a genuine oracle for it
    "similarity_ivf": SQL_SIMILARITY_TOPK,
    "similarity_lsh": SQL_SIMILARITY_LSH,
    "similarity_lsh_highsim": SQL_SIMILARITY_LSH_HIGHSIM,
    "semantic_dedup": SQL_SEMANTIC_DEDUP,
    "semdedup_cell_profile": SQL_SEMDEDUP_CELL_PROFILE,
    "semdedup_incremental": SQL_SEMDEDUP_INCREMENTAL,
    # store-path == recompute-path by construction (test_round16_ops
    # parity pins it), so the same SQL is a genuine oracle for both
    "semdedup_incremental_store": SQL_SEMDEDUP_INCREMENTAL,
    "semdedup_store_append": SQL_SEMDEDUP_STORE_APPEND,
    "semdedup_store_meta": SQL_SEMDEDUP_STORE_META,
    "embedding_neardup": SQL_EMBEDDING_NEARDUP,
    "fingerprint_tokens": SQL_FINGERPRINT_TOKENS,
    "asof_signup": SQL_ASOF_SIGNUP,
    "sessionize": SQL_SESSIONIZE,
    "event_session_assign": SQL_EVENT_SESSION_ASSIGN,
    "skew_salted_join": SQL_SKEW_SALTED_JOIN,
    "props_extract": SQL_PROPS_EXTRACT,
    "multimodal_metadata": SQL_MULTIMODAL_METADATA,
    "multimodal_features": SQL_MULTIMODAL_FEATURES,
    "image_pixel_stats": SQL_IMAGE_PIXEL_STATS,
    "audio_sample_stats": SQL_AUDIO_SAMPLE_STATS,
    "video_frame_stats": SQL_VIDEO_FRAME_STATS,
    "events_tumbling": SQL_EVENTS_TUMBLING,
    "events_sliding": SQL_EVENTS_SLIDING,
    "user_activity": SQL_USER_ACTIVITY,
    "edit_distance_pairs": SQL_EDIT_DISTANCE_PAIRS,
    "dataset_split": SQL_DATASET_SPLIT,
    "doc_chunks": SQL_DOC_CHUNKS,
    "pii_redact": SQL_PII_REDACT,
    "contamination": SQL_CONTAMINATION,
    "token_topk": SQL_TOKEN_TOPK,
    "inverted_index": SQL_INVERTED_INDEX,
    "supplier_pagerank": SQL_SUPPLIER_PAGERANK,
    "scd2_history": SQL_SCD2_HISTORY,
    "customer_upsert": SQL_CUSTOMER_UPSERT,
    "value_outliers": SQL_VALUE_OUTLIERS,
    "decayed_type_counts": SQL_DECAYED_TYPE_COUNTS,
    "cms_token_counts": SQL_CMS_TOKEN_COUNTS,
    "bloom_doc_bits": SQL_BLOOM_DOC_BITS,
    "epoch_shuffle": SQL_EPOCH_SHUFFLE,
    "eval_sample_per_lang": SQL_EVAL_SAMPLE_PER_LANG,
    "user_key_skew": SQL_USER_KEY_SKEW,
    "value_binned": SQL_VALUE_BINNED,
    "table_stats": SQL_TABLE_STATS,
    "daily_gapfill": SQL_DAILY_GAPFILL,
    "daily_ohlc": SQL_DAILY_OHLC,
    "ngram_lm_counts": SQL_NGRAM_LM_COUNTS,
    "embedding_quantize": SQL_EMBEDDING_QUANTIZE,
    "tfidf_topk": SQL_TFIDF_TOPK,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "minhash_clusters": SQL_MINHASH_CLUSTERS,
    "pack_chunks": SQL_PACK_CHUNKS,
    "repetition_profile": SQL_REPETITION_PROFILE,
    "domain_stats": SQL_DOMAIN_STATS,
    "value_quantiles": SQL_VALUE_QUANTILES,
    "label_centroids": SQL_LABEL_CENTROIDS,
    "corpus_curation": SQL_CORPUS_CURATION,
    "purchase_attribution": SQL_PURCHASE_ATTRIBUTION,
    # the two-pass refinement is bit-exact equal to the one-pass form,
    # so it shares the same oracle — that equality IS the check
    "stratified_sample_2p": SQL_STRATIFIED_SAMPLE,
    "incremental_dedup": SQL_INCREMENTAL_DEDUP,
}
