"""Fixture-drift canary: every driver fixture table must load and present
the canonical POST-normalization schema.

The round-3 regression (driver refreshed events.parquet from
TIMESTAMP(NANOS) to plain timestamp[us] -> Spark TIMESTAMP_NTZ) broke 4
queries, 3 streaming modules and the bench before any test named the root
cause. This file exists so the NEXT driver-side fixture refresh fails
loudly, here, at load time.
"""

import pytest
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegralType,
    LongType,
    StringType,
    TimestampType,
)

from hhek2sqlite_spark.sources.parquet import TABLES, load_table

# column -> required Spark type (post-normalization), per table. Only the
# columns the query tier depends on are pinned; extra columns are allowed
# (a fixture ADDING a column must not fail the canary).
CANONICAL = {
    "region": {"r_regionkey": IntegralType, "r_name": StringType},
    "nation": {"n_nationkey": IntegralType, "n_regionkey": IntegralType, "n_name": StringType},
    "customer": {
        "c_custkey": LongType,
        "c_nationkey": IntegralType,
        "c_acctbal": DoubleType,
        "c_mktsegment": StringType,
    },
    "supplier": {"s_suppkey": LongType, "s_nationkey": IntegralType},
    "part": {"p_partkey": LongType, "p_retailprice": DoubleType},
    "orders": {
        "o_orderkey": LongType,
        "o_custkey": LongType,
        "o_totalprice": DoubleType,
        "o_orderdate": None,  # DateType or StringType both handled downstream
        "o_orderpriority": StringType,
    },
    "lineitem": {
        "l_orderkey": LongType,
        "l_partkey": LongType,
        "l_suppkey": LongType,
        "l_quantity": DoubleType,
        "l_extendedprice": DoubleType,
        "l_discount": DoubleType,
        "l_returnflag": StringType,
    },
    # the round-3 breakage: ts MUST normalize to TimestampType (not NTZ,
    # not a raw long) so unix_micros()/watermarks work
    "events": {
        "event_id": LongType,
        "ts": TimestampType,
        "user_id": LongType,
        "event_type": StringType,
        "value": DoubleType,
        "props": StringType,
    },
    "documents": {"doc_id": LongType, "text": StringType, "source": StringType},
    "embeddings": {"vec_id": LongType, "embedding": ArrayType},
}


@pytest.mark.parametrize("table", TABLES)
def test_fixture_canonical_schema(spark, sf_dir, table):
    df = load_table(spark, sf_dir, table)
    fields = {f.name: f.dataType for f in df.schema.fields}
    for col, want in CANONICAL[table].items():
        assert col in fields, f"{table}.{col} missing from fixture"
        if want is None:
            continue
        got = fields[col]
        if want is ArrayType:
            assert isinstance(got, ArrayType), f"{table}.{col}: {got}"
            assert isinstance(got.elementType, (FloatType, DoubleType)), (
                f"{table}.{col} element: {got.elementType}"
            )
        else:
            assert isinstance(got, want), (
                f"{table}.{col}: expected {want.__name__}, got {got} — "
                "fixture layout drifted; update sources/parquet.py "
                "normalization"
            )


def test_events_normalizer_rejects_unknown_layout(spark):
    """_normalize_events must RAISE on an unrecognized ts type, not
    silently pass it through (the silent no-op is how round 3 broke)."""
    from pyspark.sql import functions as F

    from hhek2sqlite_spark.sources.parquet import _normalize_events

    bad = spark.range(1).select(F.col("id").cast("string").alias("ts"))
    with pytest.raises(TypeError, match="unrecognized"):
        _normalize_events(bad)


def test_events_normalizer_accepts_all_known_layouts(spark):
    """Raw nanos LONG, TIMESTAMP_NTZ, and TIMESTAMP all normalize to the
    same TIMESTAMP value (session TZ is pinned UTC)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    from hhek2sqlite_spark.sources.parquet import _normalize_events

    us = 1_700_000_000_123_456  # epoch micros
    nanos = spark.range(1).select((F.lit(us) * 1000).alias("ts"))
    ntz = spark.range(1).select(
        F.timestamp_micros(F.lit(us)).cast("timestamp_ntz").alias("ts")
    )
    tst = spark.range(1).select(F.timestamp_micros(F.lit(us)).alias("ts"))
    for layout in (nanos, ntz, tst):
        out = _normalize_events(layout)
        assert isinstance(out.schema["ts"].dataType, TimestampType)
        assert out.select(F.unix_micros("ts")).collect()[0][0] == us


def test_schema_cache_sees_a_rewritten_table(spark, tmp_path, count_jobs):
    """The session schema cache is keyed on the table files' (size,
    mtime_ns): an unchanged table is served without a Spark job, and a
    table rewritten with another schema in the same session is read with
    the new one instead of a stale schema that would read NULLs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    df, jobs = count_jobs(lambda: load_table(spark, str(tmp_path), "region"))
    assert jobs == 0
    assert df.columns == ["r_regionkey", "r_name"]

    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"], "r_comment": ["x", "y"]}), path
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r.r_comment for r in df.collect()) == ["x", "y"]
