"""Every queries()/oracle_sql() pair must match the DuckDB oracle exactly
(row count + columns + order-insensitive canonical values) — a local
emulation of the driver's sf0.01 correctness gate, run at sf0.001 for
speed.

Each run doubles as a registry-wide leak sweep: once ``run_parity`` has
released the result, the persistent RDDs and the CacheManager are back
where they were before the query. Only declared serving state (the IVF
index behind ``similarity_ivf``, built once per session) may outlive it.
"""

import pytest

import __spark_entry__ as entrymod
from hhek2sqlite_spark.testing.parity import run_parity

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()
SERVING_STATE = {"similarity_ivf"}


def test_every_query_has_callable():
    assert QUERIES, "queries() must not be empty"
    for name, fn in QUERIES.items():
        assert callable(fn), name


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, sf_dir, lifetime_state, name):
    assert name in QUERIES, f"oracle_sql has {name} but queries() does not"
    rdds, cached = lifetime_state()
    res = run_parity(spark, name, QUERIES[name], ORACLES[name], sf_dir)
    assert res.ok, str(res)
    if name not in SERVING_STATE:
        rdds_after, cached_after = lifetime_state()
        assert rdds_after <= rdds, f"{name} left RDDs {sorted(rdds_after - rdds)}"
        assert cached_after == cached, f"{name} left {cached_after - cached} cached relations"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0  # driver contract: entry() must produce rows
    assert df.schema.fieldNames()
