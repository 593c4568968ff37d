"""Jet 4 reader tests against the synthetic fixture (tests/jet4_fixture.py
— independent byte-level builder; JET_VALIDATION.md records scope).

Same checkDB1-style checks as the Jet 3 suite, plus the Jet-4-specific
machinery: u16 row trailers (no jump tables), 25-byte TDEF column
records with UCS-2 names, BOTH text encodings (compressed cp1252 and
plain UTF-16-LE, including a non-cp1252 character), UCS-2 memo via
LVAL, the compressed-string mode-toggle refusal, and version dispatch
(ACE refused by name)."""

from __future__ import annotations

from datetime import datetime
from decimal import Decimal

import pytest

from tests.jet4_fixture import LVAL_TEXT, build_jet4


@pytest.fixture(scope="module")
def jet4_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("jet4") / "fixture.mdb"
    build_jet4(str(p))
    return str(p)


@pytest.fixture(scope="module")
def jet4(jet4_path):
    from hhek2sqlite_spark.sources.jet4 import Jet4File

    return Jet4File(jet4_path)


def test_catalog_and_counts(jet4):
    assert set(jet4.tables) == {"Personer", "Konton", "Transaktioner", "Typer"}
    assert jet4.row_count("Personer") == 3  # deleted row skipped
    assert jet4.row_count("Transaktioner") == 3


def test_ucs2_and_compressed_text(jet4):
    rows = jet4.read_rows("Personer")
    assert [r["Namn"] for r in rows] == ["Gemensamt", "Person Ett", "Person Två"]
    t = jet4.read_rows("Transaktioner")
    assert t[1]["Text"] == "Tom € räksmörgås"  # compressed cp1252
    assert t[2]["Text"] == "Tom ☃ RÄKSMÖRGÅS"  # plain UCS-2, non-cp1252


def test_money_nulls_bools_and_balance(jet4):
    (k,) = jet4.read_rows("Konton")
    assert k["Saldo"] == Decimal("0.9000")
    assert k["Benämning"] == "Plånboken"
    t = jet4.read_rows("Transaktioner")
    assert all(r["Saldo"] is None for r in t)
    assert [r["Fastöverföring"] for r in t] == [False, False, True]
    bal = sum(
        r["Belopp"] if r["Typ"] == "Insättning" else -r["Belopp"] for r in t
    )
    assert bal == Decimal("0.9000")


def test_memo_inline_and_ucs2_lval_and_datetime(jet4):
    rows = {r["Id"]: r for r in jet4.read_rows("Typer")}
    assert rows[1]["Note"] == "kort anteckning"
    assert rows[2]["Note"] == LVAL_TEXT  # UCS-2 payload via LVAL page
    assert rows[3]["Note"] is None
    assert rows[1]["När"] == datetime(2020, 12, 24)
    assert rows[2]["D"] is None and rows[2]["När"] is None
    assert rows[3]["När"] == datetime(2024, 2, 29)


def test_compressed_mode_toggle_refused():
    from hhek2sqlite_spark.sources.jet4 import decode_jet4_text

    assert decode_jet4_text(b"\xff\xfeabc") == "abc"
    assert decode_jet4_text("abc".encode("utf-16-le")) == "abc"
    with pytest.raises(ValueError, match="toggle"):
        decode_jet4_text(b"\xff\xfea\x00b")
    with pytest.raises(ValueError, match="odd"):
        decode_jet4_text(b"abc")


def test_dispatch_and_refusals(jet4_path, tmp_path):
    from hhek2sqlite_spark.sources.jet4 import Jet4File
    from hhek2sqlite_spark.sources.mdb import open_mdb, sniff_mdb_version

    assert sniff_mdb_version(jet4_path) == "jet4"
    assert isinstance(open_mdb(jet4_path), Jet4File)
    # ACE header (version 0x02, r13): accepted by the Jet 4 parser
    # (shared structure); the bare header fails structurally
    ace = bytearray(4096)
    ace[0:2] = b"\x00\x01"
    ace[4:20] = b"Standard Jet DB\x00"
    ace[0x14] = 0x02
    p = tmp_path / "ace.mdb"
    p.write_bytes(bytes(ace))
    assert sniff_mdb_version(str(p)) == "ace"
    with pytest.raises(ValueError, match="page 2 beyond file end"):
        open_mdb(str(p))
    # the Jet 4 reader refuses a Jet 3 file (wrong version byte)
    from hhek2sqlite_spark.sources.jet3 import Jet3File  # noqa: F401
    from tests.jet3_fixture import build_jet3

    p3 = tmp_path / "j3.mdb"
    build_jet3(str(p3))
    with pytest.raises(ValueError, match="not a Jet 4"):
        Jet4File(str(p3))


def test_spark_df_and_cli_convert(spark, jet4_path, tmp_path):
    import sqlite3

    from hhek2sqlite_spark.sources.jet4 import jet4_read_database
    from hhek2sqlite_spark.sources.sqlite_io import convert

    dfs = jet4_read_database(spark, jet4_path)
    assert dict(dfs["Konton"].dtypes)["Saldo"] == "decimal(19,4)"
    assert dfs["Transaktioner"].count() == 3
    out = str(tmp_path / "out.db")
    counts = convert(spark, jet4_path, out)
    assert counts["Transaktioner"] == 3
    con = sqlite3.connect(out)
    try:
        texts = [
            r[0]
            for r in con.execute(
                "SELECT Text FROM Transaktioner ORDER BY Löpnr"
            )
        ]
        assert texts[2] == "Tom ☃ RÄKSMÖRGÅS"
    finally:
        con.close()


def test_overflow_pointer_row_read_exactly_once(jet4):
    """Typer Id=3 lives on a same-TDEF overflow page reached via a
    0x4000 lookup slot; exactly-once semantics and decoy invisibility
    (see jet3 twin)."""
    ids = [r["Id"] for r in jet4.read_rows("Typer")]
    assert sorted(ids) == [1, 2, 3]
    assert jet4.row_count("Typer") == 3


def test_ace_shared_structure_reads_like_jet4(tmp_path):
    """ACE (Access 2007+) r13: the same page content under a
    'Standard ACE DB' + version-0x02 header must read identically —
    the public mdbtools dispatch maps every ACCDB version onto the
    Jet-4 format constants, and this is that claim, executed. ACE-only
    column types would refuse loudly in the TDEF parse."""
    from tests.jet4_fixture import build_jet4

    from hhek2sqlite_spark.sources.mdb import open_mdb, sniff_mdb_version

    p = str(tmp_path / "acefull.accdb")
    build_jet4(p, ace_version=0x02)
    assert sniff_mdb_version(p) == "ace"
    f = open_mdb(p)
    assert f.vintage == "ace" and f.version_byte == 0x02
    assert sorted(f.tables) == ["Konton", "Personer", "Transaktioner", "Typer"]
    rows = {r["Löpnr"]: r for r in f.read_rows("Personer")}
    assert rows[2]["Namn"] == "Person Ett"
    tx = {r["Löpnr"]: r for r in f.read_rows("Transaktioner")}
    assert tx[3]["Text"] == "Tom ☃ RÄKSMÖRGÅS"


def test_ace_2010_version_byte_accepted(tmp_path):
    from tests.jet4_fixture import build_jet4

    from hhek2sqlite_spark.sources.mdb import open_mdb

    p = str(tmp_path / "ace2010.accdb")
    build_jet4(p, ace_version=0x03)
    f = open_mdb(p)
    assert f.vintage == "ace"
    assert f.row_count("Personer") == 3


def _memo_chain(payload: bytes, split: int, claimed: int | None = None):
    """A 12-byte chain memo header (flags 0x00) plus a dict-backed
    lval_fetch holding ``payload`` as two chunks: (5, 0) -> (6, 1)."""
    import struct

    chunks = {
        (5, 0): struct.pack("<I", (6 << 8) | 1) + payload[:split],
        (6, 1): struct.pack("<I", 0) + payload[split:],
    }
    length = len(payload) if claimed is None else claimed
    slot = struct.pack("<III", length, (5 << 8) | 0, 0)
    return slot, lambda page, row: chunks[(page, row)]


def test_memo_chain_decodes_as_jet4_text():
    from hhek2sqlite_spark.sources.jet2 import _decode_memo
    from hhek2sqlite_spark.sources.jet4 import decode_jet4_text

    text = "kedja ☃ över två sidor"
    ucs2 = text.encode("utf-16-le")
    # split on an odd byte: a UCS-2 character straddles the chunks
    slot, fetch = _memo_chain(ucs2, 11)
    assert _decode_memo(slot, fetch, decode_jet4_text) == text
    comp = b"\xff\xfe" + "räksmörgås €".encode("cp1252")
    slot, fetch = _memo_chain(comp, 1)  # the 0xFF 0xFE prefix is split too
    assert _decode_memo(slot, fetch, decode_jet4_text) == "räksmörgås €"


def test_memo_chain_length_mismatch_raises():
    from hhek2sqlite_spark.sources.jet2 import _decode_memo
    from hhek2sqlite_spark.sources.jet4 import decode_jet4_text

    ucs2 = "kedja".encode("utf-16-le")
    slot, fetch = _memo_chain(ucs2, 4, claimed=len(ucs2) + 2)
    with pytest.raises(ValueError, match="LVAL chain header claims 12 bytes"):
        _decode_memo(slot, fetch, decode_jet4_text)
