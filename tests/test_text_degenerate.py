"""Oracle parity of the text-pipeline tier on degenerate documents.

The sf fixtures hold 10-99-token documents, so the n-gram, shingle,
chunk and sampling queries never see the inputs where their length
bounds decide the answer: empty and whitespace-only text, a single
token, and exactly ``n`` / ``n - 1`` tokens or characters for every
``n`` the registry uses, plus duplicated rows. This module writes such a
corpus as the only table of a scale-factor directory (same schema as
the fixture ``documents``) and runs each query against its DuckDB
oracle there.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from hhek2sqlite_spark.plans import extensions as ext
from hhek2sqlite_spark.testing.parity import run_parity

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

NAMES = [
    "ngram_lm_counts",
    "bigram_repetition",
    "boilerplate_shingles",
    "ngram_novelty",
    "span_dedup",
    "repetition_profile",
    "ngram_jaccard",
    "edit_distance_pairs",
    "contamination",
    "tfidf_topk",
    "dice_collocations",
    "source_overlap",
    "doc_chunks",
    "pack_chunks",
    "corpus_curation",
    "stratified_sample",
    "stratified_sample_2p",
    "temperature_sample",
]

WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
# token counts: n and n - 1 for every word-n-gram width of the registry
# (bigrams are n = 2)
WORD_NS = {2, ext._LM_N_MAX, ext._BP_SHINGLE_N, ext._NOVELTY_N, ext._SPAN_W}
# character counts: n and n - 1 for every character-shingle width
CHAR_NS = {ext._NGRAM_N, ext._REP_N}


def _texts() -> list[str]:
    texts = ["", "   \t  ", "alpha"]
    for n in sorted(WORD_NS):
        texts += [" ".join(WORDS[: n - 1]), " ".join(WORDS[:n])]
    for n in sorted(CHAR_NS):
        texts += ["q" * (n - 1), "abcdefghijkl"[:n]]
    return texts


def _rows() -> list[dict]:
    texts = _texts()
    # every text twice (the second copy differs only in case and
    # spacing, so normalization makes it a duplicate), ids on both sides
    # of the contamination eval boundary
    copies = texts + [f"  {t.upper()}  " for t in texts]
    return [
        {
            "doc_id": i * 7,
            "text": t,
            "lang": ("en", "de", "sv")[i % 3],
            "source": f"src{i % 2}",
            "n_chars": len(t),
        }
        for i, t in enumerate(copies)
    ]


@pytest.fixture(scope="module")
def degenerate_sf(tmp_path_factory):
    sf = tmp_path_factory.mktemp("sf_degenerate")
    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    pq.write_table(
        pa.Table.from_pylist(_rows(), schema=schema), str(sf / "documents.parquet")
    )
    return str(sf)


def test_corpus_covers_every_bound():
    lengths = {len(t.split()) for t in _texts()}
    for n in WORD_NS:
        assert {n - 1, n} <= lengths
    chars = {len(t) for t in _texts()}
    for n in CHAR_NS:
        assert {n - 1, n} <= chars
    assert max(r["doc_id"] for r in _rows()) >= ext._CONTAM_EVAL_MAX_ID


@pytest.mark.parametrize("name", NAMES)
def test_degenerate_parity(spark, degenerate_sf, name):
    res = run_parity(spark, name, QUERIES[name], ORACLES[name], degenerate_sf)
    assert res.ok, str(res)
