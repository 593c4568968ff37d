"""SemDeDup on degenerate inputs: the stream handler's bootstrap branch
(a root whose base store has no seeds) and the six registered SemDeDup
queries on an empty corpus.

The empty-corpus rule: a corpus with no seeds has no cell structure, so
``semantic_dedup`` returns no rows, the ingest-time judges admit the
whole batch with ``cell`` NULL (here the batch is empty too), the store
carries only its metadata row, and ``append_to_semdedup_store`` refuses
a seedless store with a ``ValueError`` (appended rows never become
seeds, so such a store would admit every later batch unjudged)."""

from __future__ import annotations

import math
import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow.parquet as pq
import pytest

from hhek2sqlite_spark.operators.similarity import (
    build_semdedup_store,
    materialize_semdedup_store,
)
from hhek2sqlite_spark.plans import extensions
from hhek2sqlite_spark.streaming.semdedup import judge_semdedup_batch
from hhek2sqlite_spark.testing.parity import run_parity

SCHEMA = "vec_id long, embedding array<double>"


def _quantized(embedding):
    """``eq``/``n`` as the store defines them: round-half-up of
    x * 2^20 (exact, as Spark's ``round`` rounds the double's exact
    value) and the square root of the exact integer dot."""
    eq = [
        int(Decimal(x * (1 << 20)).to_integral_value(rounding=ROUND_HALF_UP))
        for x in embedding
    ]
    return eq, math.sqrt(float(sum(v * v for v in eq)))


def test_stream_bootstrap_admits_the_batch_with_its_quantized_rows(spark, tmp_path):
    """``init_semdedup_stream_store`` refuses a seedless base, so the
    root is assembled by hand: the handler must admit every batch row
    with cell NULL and persist each one's quantized vector."""
    root = str(tmp_path / "semstore")
    empty = spark.createDataFrame([], SCHEMA)
    materialize_semdedup_store(
        build_semdedup_store(empty, seed_stride=4, coarse_k=4),
        os.path.join(root, "base"),
    )
    rng = np.random.default_rng(11)
    rows = [(1000 + i, [float(x) for x in rng.normal(0, 0.5, 6)]) for i in range(10)]
    batch = spark.createDataFrame(rows, SCHEMA)

    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    judge_semdedup_batch(batch, 0, root=root)
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after <= before, f"left RDDs {sorted(after - before)}"

    decisions = spark.read.parquet(os.path.join(root, "decisions", "ingest_batch=0"))
    assert sorted(tuple(r) for r in decisions.select("vec_id", "cell", "admitted").collect()) == [
        (vid, None, 1) for vid, _ in rows
    ]
    delta = spark.read.parquet(os.path.join(root, "delta", "ingest_batch=0"))
    got = {r["vec_id"]: r for r in delta.collect()}
    assert sorted(got) == [vid for vid, _ in rows]
    for vid, emb in rows:
        eq, n = _quantized(emb)
        r = got[vid]
        assert list(r["eq"]) == eq and r["n"] == n
        assert r["cell"] is None and r["is_seed"] == 0 and r["ccell"] is None


_PARITY_ON_EMPTY = [
    "semantic_dedup",
    "semdedup_cell_profile",
    "semdedup_incremental",
    "semdedup_incremental_store",
    "semdedup_store_meta",
]


@pytest.fixture(scope="module")
def empty_sf(sf_dir, tmp_path_factory):
    """An sf dir holding only a zero-row ``embeddings.parquet`` with the
    fixture's schema (the oracle views only the files that exist)."""
    sf = tmp_path_factory.mktemp("empty_sf")
    schema = pq.read_schema(f"{sf_dir}/embeddings.parquet")
    pq.write_table(schema.empty_table(), sf / "embeddings.parquet")
    return str(sf)


@pytest.mark.parametrize("name", _PARITY_ON_EMPTY)
def test_semdedup_queries_match_the_oracle_on_an_empty_corpus(spark, empty_sf, name):
    res = run_parity(
        spark, name, extensions.EXT_QUERIES[name], extensions.EXT_ORACLE_SQL[name], empty_sf
    )
    assert res.ok, str(res)


def test_store_append_refuses_an_empty_corpus(spark, empty_sf):
    with pytest.raises(ValueError, match="store has no seeds"):
        extensions.EXT_QUERIES["semdedup_store_append"](spark, empty_sf)
