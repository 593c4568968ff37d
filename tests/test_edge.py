"""The Arrow edge (sources/edge.py) every driver-side container crosses:
readers hand Spark a JVM local relation, writers collect in one job,
and a naive timestamp keeps its local wall time both ways."""

from __future__ import annotations

import time

import pytest

from hhek2sqlite_spark.schema.fixtures import golden_tables
from hhek2sqlite_spark.sources import jet2, jet3, jet4, sqlite_io
from hhek2sqlite_spark.sources.edge import df_to_rows, per_table
from hhek2sqlite_spark.streaming import sink
from tests.jet3_fixture import build_jet3
from tests.jet4_fixture import build_jet4


@pytest.fixture
def stockholm_tz(monkeypatch):
    """Python's local time zone set to one with DST and a non-zero UTC
    offset, the case where reading naive datetimes as UTC shows."""
    monkeypatch.setenv("TZ", "Europe/Stockholm")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_jet3_timestamps_keep_local_wall_time(spark, tmp_path, stockholm_tz):
    mdb = str(tmp_path / "jet3.mdb")
    build_jet3(mdb)
    want = {r["Id"]: r["När"] for r in jet3.Jet3File(mdb).read_rows("Typer")}
    df = jet3.jet3_read_database(spark, mdb)["Typer"]
    assert {r.Id: r["När"] for r in df.collect()} == want
    assert dict(df_to_rows(df.select("Id", "När"))) == want


def _read_sqlite(spark, tmp_path):
    db = str(tmp_path / "golden.db")
    sqlite_io.write_database(golden_tables(spark), db)
    return sqlite_io.read_database(spark, db)


def _read_jet2(spark, tmp_path):
    mdb = str(tmp_path / "golden.mdb")
    jet2.jet2_write_database(golden_tables(spark), mdb)
    return jet2.jet2_read_database(spark, mdb)


def _read_jet3(spark, tmp_path):
    mdb = str(tmp_path / "jet3.mdb")
    build_jet3(mdb)
    return jet3.jet3_read_database(spark, mdb)


def _read_jet4(spark, tmp_path):
    mdb = str(tmp_path / "jet4.mdb")
    build_jet4(mdb)
    return jet4.jet4_read_database(spark, mdb)


@pytest.mark.parametrize(
    "read",
    [_read_sqlite, _read_jet2, _read_jet3, _read_jet4],
    ids=["sqlite", "jet2", "jet3", "jet4"],
)
def test_every_reader_returns_a_local_relation(spark, tmp_path, read):
    tables = read(spark, tmp_path)
    assert tables
    plans = {
        name: df._jdf.queryExecution().analyzed().getClass().getSimpleName()
        for name, df in tables.items()
    }
    assert set(plans.values()) == {"LocalRelation"}, plans


def test_jet2_writer_roundtrips_through_the_edge(spark, tmp_path):
    mdb = str(tmp_path / "golden.mdb")
    tables = golden_tables(spark)
    counts = jet2.jet2_write_database(tables, mdb)
    f = jet2.Jet2File(mdb)
    for name, df in tables.items():
        assert counts[name] == f.row_count(name) == df.count(), name
    (konto,) = f.read_rows("Konton")
    assert konto["Saldo"] == tables["Konton"].first()["Saldo"]
    assert jet2.jet2_write_table(tables["Personer"], str(tmp_path / "p.mdb"), "Personer") == 3


def test_sink_writes_a_multi_partition_batch_in_one_job(spark, tmp_path, count_jobs):
    df = spark.range(0, 30, numPartitions=3).selectExpr("id", "CAST(id AS STRING) AS s")
    assert df.rdd.getNumPartitions() == 3
    db = str(tmp_path / "sink.db")
    n, jobs = count_jobs(
        lambda: sink.write_batch_idempotent(df, 0, db_path=db, table="t")
    )
    assert n == 30
    assert jobs == 1


def test_jet2_writer_runs_one_job_per_table(spark, tmp_path, count_jobs):
    tables = golden_tables(spark)
    counts, jobs = count_jobs(
        lambda: jet2.jet2_write_database(tables, str(tmp_path / "golden.mdb"))
    )
    assert list(counts) == list(tables)
    assert jobs == len(tables)


def test_per_table_yields_in_input_order_with_the_callers_job_group(spark):
    """The slowest name comes first and still comes out first; every
    thread sees the job description the caller set."""
    sc = spark.sparkContext
    names = ["c", "b", "a"]
    delay = {"c": 0.3, "b": 0.15, "a": 0.0}

    def fn(name):
        time.sleep(delay[name])
        return name, sc.getLocalProperty("spark.job.description")

    sc.setJobGroup("per-table-test", "per-table description")
    try:
        got = list(per_table(spark, fn, names))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == [(n, "per-table description") for n in names]
