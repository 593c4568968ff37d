"""Roundtrip property: read(write(df)) == df per table, including the
reference's defect cases as *fixed* behavior (SURVEY.md 2.12 — the bugs
become tests): Betalningar keeps a non-empty Text (the reference drops
the 15th value), OvrUtg stays exact decimal (reference quotes it as a
string), Överföringar's NULL Kontrollnr survives, quotes and non-ASCII
survive without escaping machinery.
"""

import sqlite3
import threading
from decimal import Decimal

import pytest

from hhek2sqlite_spark.plans import hhek
from hhek2sqlite_spark.schema.fixtures import golden_tables
from hhek2sqlite_spark.schema.registry import COPY_ORDER, HHEK_TABLES
from hhek2sqlite_spark.sources import sqlite_io
from hhek2sqlite_spark.streaming import sink

D = Decimal


@pytest.fixture(scope="module")
def extra_tables(spark):
    """Rows exercising the defect-shaped paths on the tables the golden
    fixture leaves empty."""
    t = golden_tables(spark)
    t["Betalningar"] = spark.createDataFrame(
        [
            # non-empty Text: the reference's 14-of-15-columns INSERT bug
            # (/root/reference/hhek2sqlite.go:521-536) would lose this
            (1, "Plånboken", "Plats Ett", "Bet", "2020-12-24", "Hyra",
             "Person Ett", D("100.0000"), 'O\'Brien "quoted" text', D("1.2500"),
             D("0.0000"), D("0.0000"), D("9.9900"), None, ""),
            (2, "Plånboken", "Plats Ett", "Bet", "2020-12-25", "Lån",
             "Person Två", D("200.0000"), "", D("0.0000"),
             D("50.0000"), D("25.0000"), D("0.0001"), 1, "G"),
        ],
        HHEK_TABLES["Betalningar"].spark_schema(),
    )
    t["Överföringar"] = spark.createDataFrame(
        [
            # NULL Kontrollnr: empty-bytes -> NULL path (hhek2sqlite.go:639-643)
            (1, "Plånboken", "Sparkonto", D("500.0000"), "2020-12-01",
             "Månadsvis", "Sparande", "Gemensamt", None, "2021-12-01", "N"),
            (2, "Sparkonto", "Plånboken", D("0.5000"), "2020-12-15",
             "En gång", "Återföring", "Gemensamt", 42, "", "J"),
        ],
        HHEK_TABLES["Överföringar"].spark_schema(),
    )
    t["LÅN"] = spark.createDataFrame(
        [
            (1, "Banken AB", "Bolån", "L-123", D("1000000.0000"), "2015-01-01",
             "2015-01-02", "2025-01-01", "2045-01-01", D("800000.0000"),
             D("300000.0000"), D("500000.0000"), 1.25, 2.5, "M",
             D("1500.0000"), D("1000.0000"), D("500.0000"), D("25.0000"),
             "J", "Gemensamt", "Plånboken", "", "Anteckning med å ä ö €",
             "BudgetR", "BudgetA", "BudgetÖ"),
        ],
        HHEK_TABLES["LÅN"].spark_schema(),
    )
    t["Budget"] = spark.createDataFrame(
        [
            (1, "Mat", "N", 1, "Januari",
             D("100.0000"), D("100.0000"), D("100.0000"), D("100.0000"),
             D("100.0000"), D("100.0000"), D("100.0000"), D("100.0000"),
             D("100.0000"), D("100.0000"), D("100.0000"), D("100.0000"), None),
        ],
        HHEK_TABLES["Budget"].spark_schema(),
    )
    t["BetalKonton"] = spark.createDataFrame(
        [(1, "Girokonto", "12345-6", "K-1", "S-1")],
        HHEK_TABLES["BetalKonton"].spark_schema(),
    )
    return t


def test_full_database_roundtrip(spark, extra_tables, tmp_path):
    db = str(tmp_path / "hhek.db")
    counts = sqlite_io.write_database(extra_tables, db)
    assert counts["Transaktioner"] == 3 and counts["Betalningar"] == 2
    back = sqlite_io.read_database(spark, db)
    assert set(back) == set(extra_tables)
    for name, original in extra_tables.items():
        diff = hhek.tables_equivalent(original, back[name])
        assert diff.count() == 0, f"{name} roundtrip mismatch: {diff.collect()[:5]}"


def test_betalningar_text_survives(spark, extra_tables, tmp_path):
    db = str(tmp_path / "b.db")
    sqlite_io.write_database({"Betalningar": extra_tables["Betalningar"]}, db)
    row = (
        sqlite_io.read_table(spark, db, "Betalningar")
        .filter("`Löpnr` = 1").collect()[0]
    )
    assert row.Text == 'O\'Brien "quoted" text'  # quote fidelity, no escaping bug
    assert row.OvrUtg == D("9.9900")  # exact decimal, not a quoted string
    assert row.LanLopnr is None


def test_kontrollnr_null_roundtrip(spark, extra_tables, tmp_path):
    db = str(tmp_path / "k.db")
    sqlite_io.write_database({"Överföringar": extra_tables["Överföringar"]}, db)
    rows = {r.Löpnr: r for r in sqlite_io.read_table(spark, db, "Överföringar").collect()}
    assert rows[1].Kontrollnr is None
    assert rows[2].Kontrollnr == 42


def test_double_write_idempotent(spark, extra_tables, tmp_path):
    # S6 truncate-before-load: writing twice must not duplicate rows
    db = str(tmp_path / "i.db")
    sqlite_io.write_database({"Personer": extra_tables["Personer"]}, db)
    sqlite_io.write_table(extra_tables["Personer"], db, "Personer")
    assert sqlite_io.read_table(spark, db, "Personer").count() == 3


def test_money_precision_envelope(spark, tmp_path):
    """The NUMERIC-affinity money column is double-limited by design
    (format parity with the reference — see sqlite_io module docstring):
    <=15 significant digits roundtrip exactly; an 18-digit amount is
    coerced to REAL storage and re-quantized, documenting the envelope
    rather than silently claiming exactness."""
    exact = D("12345678901.2345")        # 15 sig digits: inside the envelope
    beyond = D("12345678901234.5678")    # 18 sig digits: beyond double
    rows = [
        (1, "", "Konto Exakt", exact, D("0.0000"), "", D("0.0000"), ""),
        (2, "", "Konto Bortom", beyond, D("0.0000"), "", D("0.0000"), ""),
    ]
    df = spark.createDataFrame(rows, HHEK_TABLES["Konton"].spark_schema())
    db = str(tmp_path / "prec.db")
    sqlite_io.write_database({"Konton": df}, db)
    back = {r.Löpnr: r.Saldo for r in sqlite_io.read_table(spark, db, "Konton").collect()}
    assert back[1] == exact
    # beyond the envelope: value comes back double-rounded, not exact
    assert back[2] != beyond
    assert abs(back[2] - beyond) < D("0.01")


def test_convert_sqlite_to_parquet_and_back(spark, extra_tables, tmp_path):
    db1 = str(tmp_path / "src.db")
    pq = str(tmp_path / "pq")
    db2 = str(tmp_path / "dst.db")
    import sqlite3

    sqlite_io.write_database(extra_tables, db1)
    to_pq = sqlite_io.convert(spark, db1, pq)
    to_db = sqlite_io.convert(spark, pq, db2, create_indexes=True)
    con = sqlite3.connect(db1)
    source = {n: con.execute(f'SELECT COUNT(*) FROM "{n}"').fetchone()[0] for n in extra_tables}
    con.close()
    # both directions report exactly the source's rows, table by table
    assert to_pq == source and to_db == source
    back = sqlite_io.read_database(spark, db2)
    for name, original in extra_tables.items():
        assert hhek.tables_equivalent(original, back[name]).count() == 0, name
    # reverse direction creates the secondary indexes (SURVEY.md 2.12)
    con = sqlite3.connect(db2)
    idx = {r[0] for r in con.execute("SELECT name FROM sqlite_master WHERE type='index'")}
    con.close()
    assert "Platser_idxNamn" in idx and "Personer_idxNamn" in idx
    assert len([i for i in idx if "_idx" in i]) == 15


# One value per registry column kind; the second row of every table is
# NULL wherever the column allows it.
_KIND_VALUES = {
    "counter": 1,
    "int": 42,
    "smallint": 7,
    "money": D("12345678901.2345"),  # 15 significant digits
    "float": 0.1,  # not exact in FloatType: the float32 value must survive REAL
    "bool": True,
    "memo": 'Anteckning "citat" O\'Brien å ä ö €',
    "text": 'Fält "citat" O\'Brien å ä ö €',
}


def _all_kinds_rows(spec):
    first, second = [], []
    for c in spec.columns:
        if c.sqlite_type_override == "INTEGER":
            v = 1999  # Personer.Född: TEXT in Jet, INTEGER in SQLite
        else:
            v = _KIND_VALUES[c.logical]
        first.append(v)
        if c.nullable:
            second.append(None)
        elif c.logical == "counter":
            second.append(2)
        elif c.logical == "bool":
            second.append(False)
        else:
            second.append("2")
    return [tuple(first), tuple(second)]


@pytest.fixture(scope="module")
def all_kinds_tables(spark):
    return {
        name: spark.createDataFrame(_all_kinds_rows(spec), spec.spark_schema())
        for name, spec in HHEK_TABLES.items()
    }


def test_every_column_kind_roundtrips(spark, all_kinds_tables, tmp_path):
    kinds = {c.spark_type.typeName() for s in HHEK_TABLES.values() for c in s.columns}
    assert kinds >= {"string", "long", "integer", "short", "decimal", "float", "boolean"}
    db = str(tmp_path / "kinds.db")
    sqlite_io.write_database(all_kinds_tables, db)
    for name, original in all_kinds_tables.items():
        back = sqlite_io.read_table(spark, db, name)
        assert back.schema == HHEK_TABLES[name].spark_schema(), name
        diff = hhek.tables_equivalent(original, back)
        assert diff.count() == 0, f"{name} roundtrip mismatch: {diff.collect()[:5]}"
    row = sqlite_io.read_table(spark, db, "LÅN").filter("`Löpnr` = 1").collect()[0]
    assert row.Anteckningar == _KIND_VALUES["memo"]
    assert row.TotLanebelopp == D("12345678901.2345")
    assert row.FastRanta == pytest.approx(0.1, rel=1e-7)


def test_empty_table_roundtrip(spark, tmp_path):
    schema = HHEK_TABLES["Betalningar"].spark_schema()
    empty = spark.createDataFrame([], schema)
    db = str(tmp_path / "empty.db")
    assert sqlite_io.write_database({"Betalningar": empty}, db) == {"Betalningar": 0}
    back = sqlite_io.read_table(spark, db, "Betalningar")
    assert back.schema == schema
    assert back.count() == 0
    # and through Parquet both ways: the empty table's single schema-only
    # file gives both its footer count and its read schema
    pq = str(tmp_path / "pq")
    assert sqlite_io.convert(spark, db, pq) == {"Betalningar": 0}
    db2 = str(tmp_path / "empty2.db")
    assert sqlite_io.convert(spark, pq, db2) == {"Betalningar": 0}
    assert sqlite_io.read_table(spark, db2, "Betalningar").count() == 0


def test_null_in_non_nullable_column_raises(spark, tmp_path):
    import sqlite3

    db = str(tmp_path / "nullpk.db")
    con = sqlite3.connect(db)
    con.execute('CREATE TABLE "DtbVer" ("VerNum" TEXT, "Benämning" TEXT, "Losenord" TEXT)')
    con.execute('INSERT INTO "DtbVer" VALUES (NULL, \'x\', \'y\')')
    con.commit()
    con.close()
    with pytest.raises(ValueError):
        sqlite_io.read_table(spark, db, "DtbVer")


@pytest.mark.parametrize(
    "write",
    [
        pytest.param(sqlite_io.write_table, id="write_table"),
        pytest.param(
            lambda df, db, table: sink.write_batch_idempotent(df, 0, db_path=db, table=table),
            id="write_batch_idempotent",
        ),
    ],
)
def test_generic_timestamp_and_date_columns_keep_their_text(spark, tmp_path, write):
    """A non-registry table and a streaming sink table both store
    TimestampType as naive local wall time (``isoformat(sep=' ')``) and
    DateType as ISO text, the strings a collected Row produces."""
    import datetime as dt
    import sqlite3

    df = spark.createDataFrame(
        [
            (1, dt.datetime(2021, 3, 14, 15, 9, 26, 535897), dt.date(2021, 3, 14)),
            (2, dt.datetime(1999, 12, 31, 23, 59, 59), dt.date(1999, 12, 31)),
            (3, None, None),
        ],
        "id int, ts timestamp, d date",
    )
    db = str(tmp_path / "generic.db")
    assert write(df, db, "Händelser") == 3
    con = sqlite3.connect(db)
    try:
        rows = con.execute(
            'SELECT id, ts, typeof(ts), d, typeof(d) FROM "Händelser" ORDER BY id'
        ).fetchall()
    finally:
        con.close()
    assert rows == [
        (1, "2021-03-14 15:09:26.535897", "text", "2021-03-14", "text"),
        (2, "1999-12-31 23:59:59", "text", "1999-12-31", "text"),
        (3, None, "null", None, "null"),
    ]


def test_parquet_to_sqlite_keeps_superset_columns(spark, tmp_path):
    """A registry-named Parquet table with an extra column is read with
    its own footer schema, not the registry's, so the column survives."""
    import sqlite3

    pq = str(tmp_path / "pq")
    spark.createDataFrame(
        [(1, "A", 1999, "Man", "x")],
        "`Löpnr` bigint, `Namn` string, `Född` int, `Kön` string, `Extra` string",
    ).write.parquet(f"{pq}/Personer")
    db = str(tmp_path / "sup.db")
    assert sqlite_io.convert(spark, pq, db) == {"Personer": 1}
    con = sqlite3.connect(db)
    try:
        cols = [r[1] for r in con.execute('PRAGMA table_info("Personer")')]
        row = con.execute('SELECT "Löpnr", "Extra" FROM "Personer"').fetchone()
    finally:
        con.close()
    assert cols == ["Löpnr", "Namn", "Född", "Kön", "Extra"]
    assert row == (1, "x")


def test_parquet_read_schema_matches_inference(spark, extra_tables, tmp_path):
    pq = str(tmp_path / "pq")
    db = str(tmp_path / "src.db")
    sqlite_io.write_database(extra_tables, db)
    sqlite_io.convert(spark, db, pq)
    for name in extra_tables:
        path = f"{pq}/{name}"
        assert sqlite_io._read_parquet_table(spark, path).schema == spark.read.parquet(path).schema


def test_convert_runs_one_job_per_table_each_way(spark, extra_tables, count_jobs, tmp_path):
    db1 = str(tmp_path / "src.db")
    pq = str(tmp_path / "pq")
    db2 = str(tmp_path / "dst.db")
    sqlite_io.write_database(extra_tables, db1)
    n = len(extra_tables)
    _, jobs = count_jobs(lambda: sqlite_io.convert(spark, db1, pq))
    assert jobs == n  # one parquet write each; no recount
    _, jobs = count_jobs(lambda: sqlite_io.convert(spark, pq, db2))
    assert jobs == n  # one toArrow each; no schema inference


def _table_order(db: str) -> list[str]:
    con = sqlite3.connect(db)
    try:
        return [r[0] for r in con.execute("SELECT name FROM sqlite_master WHERE type='table'")]
    finally:
        con.close()


def test_write_table_collects_before_taking_the_write_lock(spark, extra_tables, tmp_path, monkeypatch):
    """The Spark job runs before the table's transaction opens: another
    writer can take SQLite's write lock while the rows are collected."""
    db = str(tmp_path / "lock.db")
    sqlite_io.write_database({"Personer": extra_tables["Personer"]}, db)
    collect = sqlite_io.df_to_rows
    locked = []

    def collect_while_another_writer_locks(df):
        other = sqlite3.connect(db, timeout=0)
        try:
            other.execute("BEGIN IMMEDIATE")
            other.rollback()
            locked.append(False)
        except sqlite3.OperationalError:
            locked.append(True)
        finally:
            other.close()
        return collect(df)

    monkeypatch.setattr(sqlite_io, "df_to_rows", collect_while_another_writer_locks)
    assert sqlite_io.write_table(extra_tables["Personer"], db, "Personer") == 3
    assert locked == [False]


def test_convert_to_sqlite_writes_tables_in_copy_order(spark, extra_tables, tmp_path):
    db1 = str(tmp_path / "src.db")
    pq = str(tmp_path / "pq")
    db2 = str(tmp_path / "dst.db")
    sqlite_io.write_database(extra_tables, db1)
    sqlite_io.convert(spark, db1, pq)
    sqlite_io.convert(spark, pq, db2)
    assert _table_order(db2) == [n for n in COPY_ORDER if n in extra_tables]


def test_write_database_puts_sorted_extras_after_copy_order(spark, extra_tables, tmp_path):
    extra = spark.createDataFrame([(1, "x")], "id int, s string")
    tables = {"Zeta": extra, "Alfa": extra, **extra_tables}
    db = str(tmp_path / "extras.db")
    counts = sqlite_io.write_database(tables, db)
    want = [*(n for n in COPY_ORDER if n in extra_tables), "Alfa", "Zeta"]
    assert list(counts) == want
    assert _table_order(db) == want


def test_convert_raises_a_tables_read_error_unwrapped(spark, extra_tables, tmp_path):
    """A NULL in a non-nullable column fails that table's read on its
    thread; convert raises the reader's own error once every thread
    has finished."""
    db = str(tmp_path / "bad.db")
    sqlite_io.write_database(extra_tables, db)
    con = sqlite3.connect(db)
    con.execute('DROP TABLE "DtbVer"')  # its DDL has VerNum NOT NULL
    con.execute('CREATE TABLE "DtbVer" ("VerNum" TEXT, "Benämning" TEXT, "Losenord" TEXT)')
    con.execute('INSERT INTO "DtbVer" VALUES (NULL, \'x\', \'y\')')
    con.commit()
    con.close()
    with pytest.raises(ValueError) as direct:
        sqlite_io.read_table(spark, db, "DtbVer")
    with pytest.raises(ValueError) as via_convert:
        sqlite_io.convert(spark, db, str(tmp_path / "pq"))
    assert type(via_convert.value) is type(direct.value)
    assert str(via_convert.value) == str(direct.value)
    assert not [t for t in threading.enumerate() if t.name.startswith("per_table")]
