"""Scale-utility tests: salted join correctness, access-path layout."""

from __future__ import annotations

from pyspark.sql import functions as F

from hhek2sqlite_spark.operators.util import materialize_access_path, salted_join
from hhek2sqlite_spark.sources.parquet import load_table


def test_salted_join_matches_plain_join(spark, sf_dir):
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    ).withColumnRenamed("o_orderkey", "l_orderkey")

    plain = lineitem.join(orders, "l_orderkey").groupBy("o_orderstatus").count()
    salted = (
        salted_join(lineitem, orders, "l_orderkey", salt=4)
        .groupBy("o_orderstatus")
        .count()
    )
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_salted_join_outer_preserves_unmatched(spark):
    big = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    small = spark.createDataFrame([(1, "x")], "k long, w string")
    out = salted_join(big, small, "k", salt=4, how="left").collect()
    assert len(out) == 3
    assert {r.k: r.w for r in out} == {1: "x", 2: None, 3: None}


def test_materialize_access_path_prunes_partitions(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_by_status")
    materialize_access_path(
        orders,
        path,
        partition_cols=["o_orderstatus"],
        sort_cols=["o_orderdate"],
        target_partitions=2,
    )
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    # the layout must let the reader prune: a status filter becomes a
    # PartitionFilter (directory skip), not a data filter
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.filter(F.col("o_orderstatus") == "F").explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan


def test_spread_env_disable(spark, monkeypatch):
    """SPARK_GRAFT_SPREAD=0 (the multirg/cluster-layout run protocol)
    must make spread() a true no-op — same DataFrame object, no
    repartition node — while the default keeps the pre-shuffle."""
    from hhek2sqlite_spark.operators.util import spread

    df = spark.range(10)
    monkeypatch.setenv("SPARK_GRAFT_SPREAD", "0")
    assert spread(df) is df
    monkeypatch.setenv("SPARK_GRAFT_SPREAD", "1")
    assert spread(df) is not df
