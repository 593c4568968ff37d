"""Pure-Python reader for Jet 2.0 (Access 2.0) .mdb files — the format
HHEK databases actually use.

Reference anchor: /root/reference/hhek2sqlite.go:1195 creates its MDB
with "Jet OLEDB:Engine Type=3" (= Jet 2.0) and reads it through the
Windows ODBC Access driver; /root/reference/db_test.go:150-171
(checkDB1) asserts row counts 3/1/3 for Personer/Platser/Transaktioner
and Konton saldo 0.90 against GOTEST1.MDB. This module reads that same
file without Windows, ODBC, or any third-party jar, so the Spark
pipeline can ingest a real HHEK source end-to-end.

Format notes (reverse-engineered from GOTEST1.MDB in round 6; the
page/row concepts mirror the public mdbtools documentation of the
later Jet 3 format, with Jet 2 differences observed directly):

- 2048-byte pages. Page type in byte 0: 0x05 = table definition
  (TDEF), 0x06 = data page, 0x04/0x03 = index pages, others unused
  here.
- Data page header: u16 type/flags, u16 checksum-ish, u32 OWNING TDEF
  PAGE NUMBER (@4), u16 row count (@8), u16 free-space pointer (@10),
  8 reserved bytes, then u16 row offsets from @20 (low 12 bits =
  offset; high bits are flags — 0x8000 observed nowhere live, treated
  as deleted like Jet 3's delflag).
- A table's catalog id in MSysObjects IS its TDEF page number, so
  grouping data pages by the u32 at @4 reconstructs each table's pages
  without walking page chains.
- Row layout: u16 total length, u8 n_fixed_cols, u8 n_var_cols,
  fixed-column bytes (table-specific storage order — NOT the CREATE
  TABLE order; Boolean columns occupy no bytes), var-column bytes,
  then a trailer read backward from the row end: null/bool bitmap over
  the fixed columns (ceil(n_fixed/8) bytes, bit clear = NULL for
  nullable types and = False for Booleans), u8 n_var, and n_var+1
  one-byte offsets (ascending when read forward) bounding each
  var-length value.
- Text is cp1252 (the reference's F1 transcode pair); Currency is a
  little-endian int64 of 1/10000ths.

The catalog (MSysObjects) is itself a table at TDEF page 3 whose rows
follow the same layout: first fixed u32 = object id, first var column
= object name.

Scale note: .mdb is a single-file desktop format (GOTEST1 is 160 KB;
real HHEK files are MBs) — this is an INGEST EDGE, not a distributed
scan path. jet2_table() materializes rows driver-side once and hands
them to Spark through the Arrow edge every container shares
(sources/edge.py); the 100 TB path starts after this boundary.
"""

from __future__ import annotations

import os
import struct
from decimal import ROUND_HALF_UP, Decimal

from hhek2sqlite_spark.sources.edge import df_to_rows, per_table, rows_to_df

PAGE_SIZE = 2048
CATALOG_TDEF = 3  # MSysObjects' own TDEF page — fixed by the engine

# Jet 3/4/ACE header magic ("Standard Jet DB\x00" / "Standard ACE DB\x00"
# at offset 4, version byte at 0x14) — public knowledge from the mdbtools
# documentation. Jet 2.0 files (GOTEST1.MDB) have NONE of this: their
# header page is a type-0x01 page with no magic string. The guard below
# detects the *newer* formats so a Jet 3/4 file (the common kind in the
# wild) fails with a format-specific message instead of a generic decode
# error deep in the row parser.
_JET3_MAGIC = b"Standard Jet DB\x00"
_ACE_MAGIC = b"Standard ACE DB\x00"
_JET_VERSION_NAMES = {
    0x00: "Jet 3 (Access 95/97)",
    0x01: "Jet 4 (Access 2000-2003)",
    0x02: "ACE 12 (Access 2007)",
    0x03: "ACE 14 (Access 2010+)",
}


def mdb_vintage(data: bytes) -> tuple[str, int]:
    """The one version decision for every .mdb reader and dispatcher:
    ``(vintage, version byte)`` from a file's first bytes. The vintage
    is 'jet2' (no magic string), 'jet3' (Jet magic, version 0x00),
    'jet4' (Jet magic, version 0x01) or 'ace' (ACE magic, or Jet magic
    with any other version byte); the version byte is -1 when the file
    ends before offset 0x14."""
    magic = data[4:20]
    ver = data[0x14] if len(data) > 0x14 else -1
    if magic == _ACE_MAGIC:
        return "ace", ver
    if magic != _JET3_MAGIC:
        return "jet2", ver
    return {0x00: "jet3", 0x01: "jet4"}.get(ver, "ace"), ver


# Tag marking an LVAL (long-value / memo) page: stored where data pages
# keep their owning-TDEF page number, exactly as the public mdbtools
# docs describe for Jet 3 LVAL pages. Never collides with a real page
# number in our files (it is ~1.28 billion).
LVAL_TAG = int.from_bytes(b"LVAL", "little")

# Memo var-slot header flags (u32 little-endian: low 24 bits = value
# length in bytes, high byte = storage flags), following the mdbtools
# Jet 3 memo description. 0x80 = text inline after the 12-byte header;
# 0x40 = value on a single LVAL page, slot carries a (page,row) pointer;
# 0x00 = multi-page chain: the pointed-at row is u32 next-(page,row)
# pointer + data bytes, repeated until a zero next pointer.
_MEMO_INLINE = 0x80000000
_MEMO_LVAL = 0x40000000
_MEMO_LEN_MASK = 0x00FFFFFF
# values whose cp1252 bytes exceed this go to an LVAL page instead of
# inline; anything <= stays in-row (keeps typical short notes cheap)
_MEMO_INLINE_MAX = 128
# one LVAL page holds at most PAGE_SIZE - 20 header - 2 slot - 2 length
# prefix payload bytes; a single-page (0x40) value uses all of it, a
# chain (0x00) chunk loses 4 more to the next pointer
_MEMO_1PAGE_MAX = PAGE_SIZE - 24
_MEMO_CHUNK = PAGE_SIZE - 28
# chain-walk guard: Access 2.0 memos cap at 64 KB, so a genuine chain
# never exceeds ~33 chunks; a cycle would loop forever without this
_MEMO_MAX_CHUNKS = 4096

_SYSTEM_NAMES = frozenset(
    {"Tables", "Databases", "Relationships", "MSysDb"}
)

# Column kinds for the fixed region, with their byte widths.
# short = Access SMALLINT (2B int16), single = Access REAL (4B float32).
_FIXED_WIDTHS = {
    "long": 4,
    "currency": 8,
    "byte": 1,
    "bool": 0,
    "short": 2,
    "single": 4,
}


class TableSchema:
    """Physical row layout for one table: fixed columns in STORAGE
    order (observed, not DDL order) and var columns in trailer-offset
    order. ``memo`` names the var columns that are LONGTEXT (MEMO) —
    their var slot carries a 12-byte memo header (inline or LVAL
    pointer) rather than bare cp1252 text."""

    def __init__(self, fixed, var, memo=()):
        self.fixed = fixed  # [(name, kind)] kind in _FIXED_WIDTHS
        self.var = var  # [name]
        self.memo = frozenset(memo)


# Physical layouts for all 10 HHEK tables.
#
# Six are verified against GOTEST1.MDB's actual bytes (round 6). The
# observed storage rule across every one of them: take the REAL HHEK
# database's column order (the Access SQL export in the reference's
# dbinfo.txt:15-160, which reflects on-disk table order), keep the
# fixed-width (non-text) columns first IN THAT RELATIVE ORDER, then the
# var-length (text/memo) columns in that relative order. Note this is
# NOT the reference Go tool's CREATE TABLE order (hhek2sqlite.go:175
# puts Löpnr first; the observed Transaktioner fixed order is Belopp,
# Löpnr, Saldo, Fastöverföring — dbinfo order, refuting the Go order).
#
# Three more tables (Betalningar, LÅN, Överföringar — reference column
# lists hhek2sqlite.go:481,1056,593) are DERIVED from dbinfo.txt types +
# that learned rule, and validated by writer-roundtrip only (GOTEST1 has
# zero rows in them, so there are no real bytes to diff against; a real
# HHEK file would be the true test). Budget (hhek2sqlite.go:803) IS
# byte-verified against real fixture bytes like the round-6 tables:
# GOTEST1's Budget holds 34 rows, and decoding them is what
# disambiguated the REVERSED multi-byte null-bitmap byte order (see
# _decode_row; tests/test_jet2_mdb.py).
# Access DDL type map: MONEY->currency, COUNTER/INTEGER->long,
# SMALLINT->short, REAL->single, BIT->bool, TEXT(n)/LONGTEXT->var.
# LÅN's Anteckningar is a LONGTEXT (MEMO): its var slot carries a
# 12-byte memo header — text inline after the header for short values,
# or a (page,row) pointer onto a separate LVAL page for long ones —
# following the PUBLIC mdbtools description of Jet 3 memo storage
# (GOTEST1's LÅN table is empty, so Jet 2.0's exact variant has no
# fixture to verify against; unknown flag bytes fail loudly rather than
# decode garbage — see _decode_memo).
HHEK_SCHEMAS = {
    "Personer": TableSchema(
        [("Löpnr", "long")], ["Namn", "Född", "Kön"]
    ),
    "Platser": TableSchema(
        [("Löpnr", "long")], ["Namn", "Gironummer", "Typ", "RefKonto"]
    ),
    "BetalKonton": TableSchema(
        [("Löpnr", "long")],
        ["Konto", "Kontonummer", "Kundnummer", "Sigillnummer"],
    ),
    "DtbVer": TableSchema([], ["VerNum", "Benämning", "Losenord"]),
    "Transaktioner": TableSchema(
        [
            ("Belopp", "currency"),
            ("Löpnr", "long"),
            ("Saldo", "currency"),
            ("Fastöverföring", "bool"),
        ],
        ["FrånKonto", "TillKonto", "Typ", "Datum", "Vad", "Vem", "Text"],
    ),
    "Konton": TableSchema(
        [
            ("Saldo", "currency"),
            ("StartSaldo", "currency"),
            ("Löpnr", "long"),
            ("SaldoArsskifte", "currency"),
        ],
        ["KontoNummer", "Benämning", "StartManad", "ArsskifteManad"],
    ),
    # --- derived layouts (round 7): dbinfo.txt order + the learned
    # fixed-then-var partition rule; writer-roundtrip-validated ---
    "Betalningar": TableSchema(
        [
            ("Belopp", "currency"),
            ("Löpnr", "long"),
            ("Ranta", "currency"),
            ("FastAmort", "currency"),
            ("RorligAmort", "currency"),
            ("OvrUtg", "currency"),
            ("LanLopnr", "long"),
        ],
        ["FrånKonto", "TillPlats", "Typ", "Datum", "Vad", "Vem", "Text", "Grey"],
    ),
    "LÅN": TableSchema(
        [
            ("TotLanebelopp", "currency"),
            ("AktLaneskuld", "currency"),
            ("RorligDel", "currency"),
            ("FastDel", "currency"),
            ("FastRanta", "single"),
            ("RorligRanta", "single"),
            ("Ranta", "currency"),
            ("FastAmort", "currency"),
            ("RorligAmort", "currency"),
            ("OvrUtg", "currency"),
            ("Löpnr", "long"),
        ],
        [
            "Langivare",
            "EgenBeskrivn",
            "LanNummer",
            "StartDatum",
            "RegDatum",
            "RantJustDatum",
            "SlutBetDatum",
            "HurOfta",
            "Rakning",
            "Vem",
            "FrånKonto",
            "Grey",
            "Anteckningar",  # MEMO: 12-byte header, inline or LVAL page
            "BudgetRanta",
            "BudgetAmort",
            "BudgetOvriga",
        ],
        memo=("Anteckningar",),
    ),
    "Överföringar": TableSchema(
        [
            ("Belopp", "currency"),
            ("Löpnr", "long"),
            ("Kontrollnr", "long"),
        ],
        [
            "FrånKonto",
            "TillKonto",
            "Datum",
            "HurOfta",
            "Vad",
            "Vem",
            "TillDatum",
            "Rakning",
        ],
    ),
    "Budget": TableSchema(
        [
            ("HurOfta", "short"),
            ("Jan", "currency"),
            ("Feb", "currency"),
            ("Mar", "currency"),
            ("Apr", "currency"),
            ("Maj", "currency"),
            ("Jun", "currency"),
            ("Jul", "currency"),
            ("Aug", "currency"),
            ("Sep", "currency"),
            ("Okt", "currency"),
            ("Nov", "currency"),
            ("Dec", "currency"),
            ("Kontrollnr", "long"),
            ("Löpnr", "long"),
        ],
        ["Typ", "Inkomst", "StartMånad"],
    ),
}


def _cp1252(raw: bytes) -> str:
    """Jet 2 and Jet 3 text: one cp1252 byte per character."""
    return raw.decode("cp1252")


def _decode_memo(slot: bytes, lval_fetch=None, text=_cp1252) -> str:
    """Decode a MEMO var slot: empty slot -> "", else a 12-byte header
    (u32 len|flags, u32 lval (page<<8)|row, u32 reserved) followed by
    inline text or resolved through ``lval_fetch(page, row) -> bytes``.
    ``text`` decodes the assembled payload: cp1252 for Jet 2 and Jet 3,
    ``jet4.decode_jet4_text`` for Jet 4 and ACE. Unknown flag
    combinations fail loudly — this header layout follows the public
    mdbtools Jet 3 memo description and has no Jet 2.0 fixture to
    verify against (GOTEST1's only memo table is empty)."""
    if not slot:
        return ""
    if len(slot) < 12:
        raise ValueError(
            f"memo slot is {len(slot)} bytes; expected empty or >=12-byte "
            "memo header — this may be a Jet 2.0 memo variant the reader "
            "does not know (no fixture exists to verify against)"
        )
    hdr, dp = struct.unpack_from("<II", slot, 0)
    flags = hdr & ~_MEMO_LEN_MASK
    length = hdr & _MEMO_LEN_MASK
    if flags == _MEMO_INLINE:
        raw = slot[12 : 12 + length]
        if len(raw) != length:
            raise ValueError(
                f"inline memo header claims {length} bytes but slot holds "
                f"{len(raw)}"
            )
        return text(raw)
    if flags == _MEMO_LVAL:
        if lval_fetch is None:
            raise ValueError(
                "memo value lives on an LVAL page but no page resolver is "
                "available in this decode context"
            )
        raw = lval_fetch(dp >> 8, dp & 0xFF)
        if len(raw) != length:
            raise ValueError(
                f"LVAL memo header claims {length} bytes but page row holds "
                f"{len(raw)}"
            )
        return text(raw)
    if flags == 0:
        # multi-page chain: each chunk row = u32 LE next-(page<<8|row)
        # pointer (0 terminates) + data bytes
        if lval_fetch is None:
            raise ValueError(
                "memo value lives on an LVAL chain but no page resolver is "
                "available in this decode context"
            )
        parts = []
        seen = 0
        while dp:
            if seen >= _MEMO_MAX_CHUNKS:
                raise ValueError("LVAL chain exceeds the chunk guard (cycle?)")
            chunk = lval_fetch(dp >> 8, dp & 0xFF)
            if len(chunk) < 4:
                raise ValueError("LVAL chain chunk shorter than its next pointer")
            dp = struct.unpack_from("<I", chunk, 0)[0]
            parts.append(chunk[4:])
            seen += 1
        raw = b"".join(parts)
        if len(raw) != length:
            raise ValueError(
                f"LVAL chain header claims {length} bytes but the chain holds "
                f"{len(raw)}"
            )
        return text(raw)
    raise ValueError(
        f"memo header flags 0x{flags:08x} unknown (inline=0x80000000, "
        "single-page LVAL=0x40000000, chain=0x00000000); other Jet "
        "variants are not decodable without a fixture"
    )


def _decode_row(buf: bytes, schema: TableSchema | None, lval_fetch=None):
    """Decode one row. With a schema returns {col: value}; without,
    returns {'_fixed': bytes, '_var': [bytes, ...]} raw parts."""
    n_fixed = buf[2]
    n_var = buf[3]
    # 0xFF is the jump-table pad byte and "never equals a bound index"
    # only while bound indexes stay below 255 — a 255-var-column row
    # would consume pads as real window crossings and decode shifted
    # offsets. No Jet 2.0 table can be registered with that many var
    # columns here, so refuse loudly instead of trusting the invariant.
    if n_var >= 0xFF:
        raise ValueError(
            f"row declares {n_var} var columns; the Jet 2 long-row jump "
            "table reserves 0xFF as padding, so at most 254 are supported"
        )
    end = len(buf)
    mask_len = (n_fixed + 7) // 8 if n_fixed else 0
    # The bitmap's BYTES are stored in reverse order — the trailer is
    # written back-to-front, like the var offsets. Verified against
    # GOTEST1's Budget rows (15 fixed cols -> 2 mask bytes "5f ff":
    # reversed it reads cols 0-12 present / Kontrollnr NULL / Löpnr
    # present, matching the months-all-0.00 + junk-bytes-under-
    # Kontrollnr + Löpnr=1..34 the data shows; unreversed it claimed
    # the implausible "Maj and Jul NULL among zero-valued months").
    # All six round-6 tables have <=8 fixed cols (1 mask byte), where
    # the orders coincide — Budget is the disambiguating fixture.
    mask = int.from_bytes(buf[end - mask_len : end], "big") if mask_len else 0
    end -= mask_len
    trailer_n_var = buf[end - 1]
    if trailer_n_var != n_var:
        raise ValueError(f"row trailer n_var {trailer_n_var} != header {n_var}")
    end -= 1
    # Long-row trailer (rows whose total length exceeds 255 bytes): the
    # u8 var offsets store offset % 256, and a jump table of
    # (row_len - 1) // 256 bytes sits between the n_var byte and the
    # offset table. Each jump entry holds the BOUND INDEX at which the
    # running offset crosses into the next 256-byte window (repeated
    # entries for a single value spanning multiple windows). This is the
    # scheme the public mdbtools documentation describes for Jet 3 rows,
    # carried over to this module's Jet 2 trailer; GOTEST1 contains no
    # long rows, so it is writer-roundtrip-validated only.
    num_jumps = (len(buf) - 1) // 256
    jumps = [buf[end - 1 - i] for i in range(num_jumps)]
    end -= num_jumps
    # n_var+1 bounds; the LAST trailer byte is the FIRST (lowest) bound,
    # so reading backward already yields ascending order
    raw_bounds = [buf[end - 1 - i] for i in range(n_var + 1)]
    bounds = []
    jumps_used = 0
    for i, rb in enumerate(raw_bounds):
        while jumps_used < num_jumps and jumps[jumps_used] == i:
            jumps_used += 1
        bounds.append(rb + 256 * jumps_used)
    # the var region must end exactly where the trailer begins and the
    # bounds must ascend; any misparse (or an unknown long-row variant)
    # breaks this invariant. Garbage values would be silently decoded
    # otherwise.
    if bounds[-1] != end - (n_var + 1) or any(
        bounds[i] > bounds[i + 1] for i in range(n_var)
    ):
        raise ValueError(
            "row var-offset table inconsistent with trailer position — "
            "likely a long-row encoding variant this reader does not support"
        )
    var_raw = [buf[bounds[i] : bounds[i + 1]] for i in range(n_var)]
    if schema is not None and schema.memo:
        var_vals = [
            _decode_memo(raw, lval_fetch)
            if name in schema.memo
            else raw.decode("cp1252")
            for name, raw in zip(schema.var, var_raw)
        ]
    else:
        var_vals = [raw.decode("cp1252") for raw in var_raw]
    if schema is None:
        # bounds[0] (the trailer's lowest bound) marks the end of the
        # fixed region even when n_var == 0 — slicing to the buffer end
        # there would wrongly include the trailer bytes.
        return {"_fixed": buf[4 : bounds[0]], "_var": var_vals}
    if len(schema.fixed) != n_fixed or len(schema.var) != n_var:
        raise ValueError(
            f"schema mismatch: file has {n_fixed} fixed/{n_var} var, "
            f"schema {len(schema.fixed)}/{len(schema.var)}"
        )
    out = {}
    pos = 4
    for i, (name, kind) in enumerate(schema.fixed):
        present = bool(mask >> i & 1)
        if kind == "bool":
            out[name] = present  # Booleans live IN the bitmap
            continue
        w = _FIXED_WIDTHS[kind]
        raw = buf[pos : pos + w]
        pos += w
        if not present:
            out[name] = None
        elif kind == "long":
            out[name] = struct.unpack("<i", raw)[0]
        elif kind == "short":
            out[name] = struct.unpack("<h", raw)[0]
        elif kind == "single":
            out[name] = struct.unpack("<f", raw)[0]
        elif kind == "byte":
            out[name] = raw[0]
        else:  # currency: int64 of 1/10000ths, exact decimal
            out[name] = Decimal(struct.unpack("<q", raw)[0]) / Decimal(10000)
    for name, val in zip(schema.var, var_vals):
        out[name] = val
    return out


class Jet2File:
    """One parsed .mdb: catalog + data pages grouped by owning table."""

    def __init__(self, path: str):
        with open(path, "rb") as fh:
            self._data = fh.read()
        # Version guard BEFORE any page math: a Jet 3/4/ACE file (the
        # common kind in the wild) announces itself with a magic string
        # this Jet 2.0 reader must refuse by name, not with a generic
        # decode error three layers down.
        vintage, ver = mdb_vintage(self._data)
        if vintage != "jet2":
            magic = self._data[4:20]
            name = _JET_VERSION_NAMES.get(ver, f"unknown (version byte 0x{ver:02x})")
            hint = (
                "readable natively via sources/jet3.Jet3File (use "
                "sources.mdb.open_mdb to dispatch on version)"
                if vintage == "jet3"
                else "use the documented jdbc:ucanaccess:// envelope "
                "(sources/jdbc_io.py) or convert to Jet 3/2.0 first"
            )
            raise ValueError(
                f"{path}: this is a {name} database "
                f"({magic.rstrip(bytes(1)).decode('ascii', 'replace')} header); "
                f"this reader supports Jet 2.0 (Access 2.0) only — {hint}."
            )
        if len(self._data) % PAGE_SIZE:
            raise ValueError(f"{path}: not a whole number of {PAGE_SIZE}B pages")
        if not self._data or self._data[0] != 0x01:
            raise ValueError(
                f"{path}: first page is not a Jet 2.0 database header "
                "(type byte 0x01)"
            )
        self._pages_by_tdef: dict[int, list[int]] = {}
        for p in range(len(self._data) // PAGE_SIZE):
            pg = self._page(p)
            if pg[0] == 0x06:
                tdef = struct.unpack_from("<I", pg, 4)[0]
                self._pages_by_tdef.setdefault(tdef, []).append(p)
        self.tables = {}  # name -> tdef page id
        for row in self._raw_rows(CATALOG_TDEF):
            obj_id = struct.unpack_from("<I", row, 4)[0]
            name = _decode_row(row, None)["_var"][0]
            if not name.startswith("MSys") and name not in _SYSTEM_NAMES:
                self.tables[name] = obj_id

    def _lval_fetch(self, page: int, row: int) -> bytes:
        """Resolve a memo LVAL pointer to its raw bytes."""
        if page >= len(self._data) // PAGE_SIZE:
            raise ValueError(f"LVAL pointer to page {page} beyond file end")
        pg = self._page(page)
        if pg[0] != 0x06 or struct.unpack_from("<I", pg, 4)[0] != LVAL_TAG:
            raise ValueError(f"page {page} is not an LVAL page")
        n = struct.unpack_from("<H", pg, 8)[0]
        if row >= n:
            raise ValueError(f"LVAL row {row} beyond page {page}'s {n} rows")
        raw_off = struct.unpack_from("<H", pg, 20 + 2 * row)[0]
        off = raw_off & 0x0FFF
        ln = struct.unpack_from("<H", pg, off)[0]
        # LVAL rows are framed like data rows (u16 length prefix) but the
        # payload is the raw value bytes — no column structure.
        return pg[off + 2 : off + ln]

    def _page(self, p: int) -> bytes:
        return self._data[p * PAGE_SIZE : (p + 1) * PAGE_SIZE]

    def _located_rows(self, tdef: int):
        """Yield (page, row_slot, row bytes) for every live row of the
        table whose TDEF is ``tdef``."""
        for p in self._pages_by_tdef.get(tdef, ()):
            pg = self._page(p)
            n = struct.unpack_from("<H", pg, 8)[0]
            for i in range(n):
                raw_off = struct.unpack_from("<H", pg, 20 + 2 * i)[0]
                off = raw_off & 0x0FFF
                if raw_off & 0x8000 or off == 0:  # deleted / moved
                    continue
                ln = struct.unpack_from("<H", pg, off)[0]
                yield p, i, pg[off : off + ln]

    def _raw_rows(self, tdef: int):
        return (row for _, _, row in self._located_rows(tdef))

    def row_count(self, table: str) -> int:
        return sum(1 for _ in self._raw_rows(self.tables[table]))

    def read_rows_located(self, table: str, schema: TableSchema | None = None):
        """Like read_rows, but yields (page, row_slot, rowdict) — the
        (page<<8|row) coordinates index entries point at."""
        schema = schema or HHEK_SCHEMAS.get(table)
        return [
            (p, i, _decode_row(row, schema, self._lval_fetch))
            for p, i, row in self._located_rows(self.tables[table])
        ]

    def index_pages(self, table: str) -> dict[int, list[int]]:
        """{slot: [leaf page numbers]} of the table's 0x04 index pages
        (grouped by owner TDEF + slot, in file order)."""
        tdef = self.tables[table]
        slots: dict[int, list[int]] = {}
        for p in range(len(self._data) // PAGE_SIZE):
            pg = self._page(p)
            if pg[0] == 0x04 and struct.unpack_from("<I", pg, 4)[0] == tdef:
                slots.setdefault(struct.unpack_from("<H", pg, 8)[0], []).append(p)
        return slots

    def read_index(self, table: str, slot: int):
        """Decoded entries [(key_image, [(page, row), ...])] of one
        index, concatenated across its leaf chain."""
        from hhek2sqlite_spark.sources.jet2_index import decode_index_page

        out = []
        for p in self.index_pages(table).get(slot, ()):
            out.extend(decode_index_page(self._page(p)))
        return out

    def read_rows(self, table: str, schema: TableSchema | None = None):
        """Decode a table's rows. Uses the verified HHEK layout when
        registered; otherwise returns raw fixed/var parts."""
        schema = schema or HHEK_SCHEMAS.get(table)
        return [
            _decode_row(r, schema, self._lval_fetch)
            for r in self._raw_rows(self.tables[table])
        ]


def _spark_schema_for(schema: TableSchema):
    """Spark StructType for a physical layout: Currency ->
    DecimalType(19,4), Long -> int, SMALLINT -> short, REAL -> float,
    Bool -> boolean, text (cp1252-decoded) -> string."""
    from pyspark.sql import types as T

    kinds = {
        "long": T.IntegerType(),
        "short": T.ShortType(),
        "single": T.FloatType(),
        "byte": T.IntegerType(),
        "bool": T.BooleanType(),
        "currency": T.DecimalType(19, 4),
    }
    spark_fields = [
        T.StructField(name, kinds[kind], True) for name, kind in schema.fixed
    ]
    spark_fields += [T.StructField(name, T.StringType(), True) for name in schema.var]
    return T.StructType(spark_fields)


def _table_df(spark, f: "Jet2File", table: str):
    schema = HHEK_SCHEMAS.get(table)
    if schema is None:
        raise ValueError(f"no verified physical layout for table {table!r}")
    rows = f.read_rows(table, schema)
    st = _spark_schema_for(schema)
    return rows_to_df(spark, [tuple(r[fld.name] for fld in st.fields) for r in rows], st)


def jet2_table(spark, path: str, table: str):
    """Read one HHEK table from a Jet 2.0 .mdb into a Spark DataFrame
    (driver-side materialization — ingest edge, see module docstring)."""
    return _table_df(spark, Jet2File(path), table)


def jet2_read_database(spark, path: str):
    """Read every layout-registered table from a .mdb: one parse of the
    file, one typed DataFrame per table (the forward half of the
    reference's ``konvertera``, hhek2sqlite.go:1230-1299)."""
    f = Jet2File(path)
    return {
        name: _table_df(spark, f, name)
        for name in f.tables
        if name in HHEK_SCHEMAS
    }


def default_mdb_path() -> str | None:
    """The reference fixture, when present (read-only)."""
    p = "/root/reference/GOTEST1.MDB"
    return p if os.path.exists(p) else None


# ---------------------------------------------------------------------------
# Jet 2.0 WRITER (round 6) — the inverse of the reader above, closing the
# reference's S8 capability (empty-MDB bootstrap + reverse conversion,
# hhek2sqlite.go:1177-1202) without Windows/COM. The writer emits the
# page/row structures documented in this module's format notes: a db
# header page, the MSysObjects catalog (TDEF page 3 + data page), and
# per table a TDEF page plus data pages with trailer-encoded rows.
#
# Honesty note: validation is (a) roundtrip through the independent
# reader in this module, (b) structural agreement with the reference's
# GOTEST1.MDB (same page headers, row trailers, and
# catalog-id-equals-TDEF-page invariant), and (c) for index pages,
# EXACT-BYTE agreement of re-encoded entries with the fixture's live
# Access-written pages (tests/test_jet2_index.py). Real Access/ODBC
# cannot be exercised in this environment (JET_VALIDATION.md); usage
# bitmaps and index interior nodes (type 0x03) are NOT emitted.
# ---------------------------------------------------------------------------


def _inline_memo(raw: bytes) -> bytes:
    """12-byte inline memo header + text (flags 0x80, see _decode_memo)."""
    return struct.pack("<III", len(raw) | _MEMO_INLINE, 0, 0) + raw


def _encode_row(schema: TableSchema, row: dict, memo_slot=None) -> bytes:
    """Inverse of _decode_row for a registered layout. ``memo_slot`` maps
    a memo value's raw cp1252 bytes to its var-slot bytes (inline header
    or LVAL pointer); defaults to always-inline."""
    n_fixed = len(schema.fixed)
    n_var = len(schema.var)
    # mirror _decode_row's guard: bound index 255 would collide with the
    # 0xFF jump-table pad byte, so the encoding caps var columns at 254
    if n_var >= 0xFF:
        raise ValueError(
            f"schema has {n_var} var columns; the Jet 2 "
            "long-row jump table reserves 0xFF as padding, so at most "
            "254 are encodable"
        )
    fixed = bytearray()
    mask = 0
    for i, (name, kind) in enumerate(schema.fixed):
        v = row.get(name)
        if kind == "bool":
            if v:
                mask |= 1 << i
            continue
        if v is not None:
            mask |= 1 << i
        if kind == "long":
            fixed += struct.pack("<i", int(v) if v is not None else 0)
        elif kind == "short":
            fixed += struct.pack("<h", int(v) if v is not None else 0)
        elif kind == "single":
            fixed += struct.pack("<f", float(v) if v is not None else 0.0)
        elif kind == "byte":
            fixed += bytes([int(v) & 0xFF if v is not None else 0])
        else:  # currency
            # route non-Decimal inputs through Decimal(str(v)) so a
            # float money column (e.g. a foreign parquet source) is
            # converted by its decimal literal, not its binary value —
            # int(1.15 * 10000) == 11499 would silently corrupt the
            # stored amount by 0.0001 (review finding). Half-up keeps
            # sub-1/10000 inputs from truncating toward zero.
            if v is None:
                units = 0
            else:
                dv = v if isinstance(v, Decimal) else Decimal(str(v))
                units = int(
                    (dv * 10000).to_integral_value(rounding=ROUND_HALF_UP)
                )
            fixed += struct.pack("<q", units)
    var_bytes = []
    for name in schema.var:
        v = row.get(name)
        raw = ("" if v is None else str(v)).encode("cp1252")
        if name in schema.memo and raw:
            raw = (memo_slot or _inline_memo)(raw)
        var_bytes.append(raw)
    body = bytearray()
    body += bytes(2)  # length placeholder
    body.append(n_fixed)
    body.append(n_var)
    body += fixed
    bounds = [len(body)]
    for vb in var_bytes:
        body += vb
        bounds.append(len(body))
    mask_len = (n_fixed + 7) // 8 if n_fixed else 0
    # Long-row trailer (see _decode_row): offsets are stored mod 256 and
    # a jump table records the bound index at each 256-window crossing.
    # num_jumps is derived from the TOTAL row length on both sides, so
    # the writer iterates to the (least, guaranteed-existing) fixed
    # point: adding a jump byte can itself push the length over a
    # boundary. Crossing entries can number fewer than num_jumps (the
    # trailer, not a value, crossed the boundary) — pad with 0xFF, which
    # never equals a bound index and is simply never consumed.
    base_len = bounds[-1] + (n_var + 1) + 1 + mask_len
    num_jumps = 0
    while (base_len + num_jumps - 1) // 256 != num_jumps:
        num_jumps = (base_len + num_jumps - 1) // 256
    jump_entries = []
    prev_window = 0
    for i, b in enumerate(bounds):
        jump_entries.extend([i] * (b // 256 - prev_window))
        prev_window = b // 256
    if len(jump_entries) > num_jumps:
        raise AssertionError("jump table exceeds derived num_jumps")
    jump_entries.extend([0xFF] * (num_jumps - len(jump_entries)))
    # trailer: offsets with the LAST byte the FIRST bound, then the jump
    # table (also back-to-front), then n_var, then the fixed bitmap
    for b in reversed(bounds):
        body.append(b % 256)
    for j in reversed(jump_entries):
        body.append(j)
    body.append(n_var)
    # reversed byte order, matching the reader (see _decode_row)
    body += mask.to_bytes(mask_len, "big")
    struct.pack_into("<H", body, 0, len(body))
    if len(body) > PAGE_SIZE - 22:
        raise ValueError(
            f"encoded row is {len(body)} bytes; a Jet 2.0 data page holds "
            f"at most {PAGE_SIZE - 22} — move long memo values to LVAL "
            "pages (write_jet2 does this automatically)"
        )
    return bytes(body)


def _pack_data_pages(tdef_page: int, rows: list[bytes], base_page: int = 0):
    """Pack encoded rows into 0x06 data pages: header + u16 offset slots
    growing from @20, row bytes packed downward from the page end.
    Returns (pages, locations) where locations[i] = (absolute page
    number assuming the first emitted page lands at ``base_page``, row
    slot index on that page) — used for LVAL memo pointers."""
    pages = []
    locs: list[tuple[int, int]] = []
    cur: list[bytes] = []

    def flush():
        pg = bytearray(PAGE_SIZE)
        pg[0] = 0x06
        struct.pack_into("<I", pg, 4, tdef_page)
        struct.pack_into("<H", pg, 8, len(cur))
        pos = PAGE_SIZE
        for i, rb in enumerate(cur):
            pos -= len(rb)
            pg[pos : pos + len(rb)] = rb
            struct.pack_into("<H", pg, 20 + 2 * i, pos | 0x1000)
        struct.pack_into("<H", pg, 10, (pos - 0x1000) & 0xFFFF)
        pages.append(bytes(pg))
        cur.clear()

    for rb in rows:
        if 22 + len(rb) > PAGE_SIZE:
            raise ValueError(
                f"encoded row of {len(rb)} bytes cannot fit a {PAGE_SIZE}B page"
            )
        used = sum(len(r) for r in cur)
        slots = 20 + 2 * (len(cur) + 1)
        # locs are later encoded as (page << 8) | row with 8 bits for the
        # row slot (index entries, LVAL pointers), so a page may hold at
        # most 256 rows — tiny rows (~7B framed) would otherwise pack
        # more and silently corrupt every pointer built from these locs
        if cur and (slots + used + len(rb) > PAGE_SIZE or len(cur) > 0xFF):
            flush()
        locs.append((base_page + len(pages), len(cur)))
        cur.append(rb)
    if cur:
        flush()
    return pages, locs


def _pack_lval_values(values: list[bytes], base_page: int):
    """Lay long memo values onto LVAL pages. Values fitting one page
    become a single raw row (header flag 0x40); longer ones split into
    chained chunk rows of u32-next-pointer + data (flag 0x00). Returns
    (pages, [(first_dp, is_chain)] per value). Placement is computed
    first with the same greedy rule _pack_data_pages uses, so forward
    next-pointers are known before the bytes are built; the final pack
    asserts the placements agree."""
    items = []  # (value_idx, data, has_next_ptr)
    for vi, raw in enumerate(values):
        if len(raw) <= _MEMO_1PAGE_MAX:
            items.append((vi, raw, False))
        else:
            for i in range(0, len(raw), _MEMO_CHUNK):
                items.append((vi, raw[i : i + _MEMO_CHUNK], True))
    # greedy placement over framed sizes (mirrors _pack_data_pages)
    locs: list[tuple[int, int]] = []
    page_i = cur_n = cur_used = 0
    for _, d, ptr in items:
        sz = 2 + (4 if ptr else 0) + len(d)
        if cur_n and 20 + 2 * (cur_n + 1) + cur_used + sz > PAGE_SIZE:
            page_i += 1
            cur_n = cur_used = 0
        locs.append((base_page + page_i, cur_n))
        cur_n += 1
        cur_used += sz
    first: dict[int, tuple[int, bool]] = {}
    rows = []
    for k, (vi, d, ptr) in enumerate(items):
        pg_no, row_no = locs[k]
        if row_no > 0xFF:
            raise ValueError("LVAL row index exceeds the pointer's u8 field")
        if vi not in first:
            first[vi] = ((pg_no << 8) | row_no, ptr)
        if ptr:
            nxt = 0
            if k + 1 < len(items) and items[k + 1][0] == vi:
                npg, nrow = locs[k + 1]
                nxt = (npg << 8) | nrow
            payload = struct.pack("<I", nxt) + d
        else:
            payload = d
        rows.append(struct.pack("<H", len(payload) + 2) + payload)
    pages, locs2 = _pack_data_pages(LVAL_TAG, rows, base_page)
    if locs2 != locs:
        raise AssertionError("LVAL chunk placement diverged from the plan")
    return pages, [first[vi] for vi in range(len(values))]


# Minimal MSysObjects row: the reader needs the object id (first fixed
# u32) and the name (first var column). Observed GOTEST1 rows carry 9
# fixed / 4 var columns; we emit the same shape with the unused fields
# zero/empty.
_CATALOG_SCHEMA = TableSchema(
    [("Id", "long")] + [(f"_f{i}", "long") for i in range(8)],
    ["Name", "_v1", "_v2", "_v3"],
)


def write_jet2(
    path: str,
    tables: dict[str, tuple[TableSchema, list[dict]]],
    indexes: dict | None = None,
) -> None:
    """Write a Jet 2.0 .mdb containing ``tables`` (name -> (layout,
    rows)). Readable by Jet2File; see the honesty note above.
    ``indexes``: None emits the reference's index set
    (jet2_index.REFERENCE_INDEXES) for known tables; {} emits none;
    {table: [(name, (col, ...)), ...]} overrides per table."""
    # layout: p0 header, p1 (type 0x07, as in real files), p2 spare,
    # p3 catalog TDEF, p4 catalog data, then per table TDEF + data
    catalog_rows = []
    table_pages: list[bytes] = []
    next_page = 5
    for name, (schema, rows) in tables.items():
        # Long memo values (> _MEMO_INLINE_MAX cp1252 bytes) move to
        # LVAL pages placed just before the table's TDEF. Pre-scan in
        # the exact order _encode_row consumes var columns so the
        # encode-time allocator can hand out pointers sequentially.
        long_vals: list[bytes] = []
        if schema.memo:
            for r in rows:
                for vname in schema.var:
                    if vname not in schema.memo:
                        continue
                    v = r.get(vname)
                    raw = ("" if v is None else str(v)).encode("cp1252")
                    if len(raw) > _MEMO_INLINE_MAX:
                        if len(raw) > _MEMO_LEN_MASK:
                            raise ValueError(
                                f"memo value of {len(raw)} bytes exceeds the "
                                "24-bit memo length field"
                            )
                        long_vals.append(raw)
        lval_pages: list[bytes] = []
        allocs: list[tuple[int, bool]] = []
        if long_vals:
            lval_pages, allocs = _pack_lval_values(long_vals, next_page)
            next_page += len(lval_pages)
        alloc = iter(zip(long_vals, allocs))

        def memo_slot(raw, _alloc=alloc):
            if len(raw) <= _MEMO_INLINE_MAX:
                return _inline_memo(raw)
            a_raw, (dp, is_chain) = next(_alloc)
            if a_raw != raw:
                raise AssertionError("LVAL allocation order diverged from encode order")
            flags = 0 if is_chain else _MEMO_LVAL
            return struct.pack("<III", len(raw) | flags, dp, 0)

        tdef_page = next_page
        encoded = [
            _encode_row(schema, r, memo_slot if schema.memo else None)
            for r in rows
        ]
        data_pages, data_locs = _pack_data_pages(tdef_page, encoded, tdef_page + 1)
        next_page += 1 + len(data_pages)
        # secondary-index leaf pages (S5 reverse half) — the reference
        # database carries its 28 indexes in every file, so they are
        # emitted by default; pass indexes={} to suppress, or a
        # {table: [(name, (col, ...)), ...]} override.
        from hhek2sqlite_spark.sources.jet2_index import build_table_indexes

        specs = None if indexes is None else indexes.get(name, [])
        index_pages = build_table_indexes(
            schema, name, rows, data_locs, tdef_page, next_page, specs
        )
        next_page += len(index_pages)
        tdef = bytearray(PAGE_SIZE)
        tdef[0] = 0x05
        struct.pack_into("<I", tdef, 4, tdef_page)
        if data_pages:
            struct.pack_into("<I", tdef, 12, tdef_page + 1)
        table_pages.extend(lval_pages)
        table_pages.append(bytes(tdef))
        table_pages.extend(data_pages)
        table_pages.extend(index_pages)
        catalog_rows.append({"Id": tdef_page, "Name": name})
    cat_encoded = [_encode_row(_CATALOG_SCHEMA, r) for r in catalog_rows]
    cat_pages, _ = _pack_data_pages(CATALOG_TDEF, cat_encoded)
    if len(cat_pages) != 1:
        raise ValueError("catalog exceeds one page (too many tables)")
    pages = []
    p0 = bytearray(PAGE_SIZE)
    p0[0] = 0x01
    pages.append(bytes(p0))
    p1 = bytearray(PAGE_SIZE)
    p1[0] = 0x07
    pages.append(bytes(p1))
    pages.append(bytes(PAGE_SIZE))  # p2 spare
    cat_tdef = bytearray(PAGE_SIZE)
    cat_tdef[0] = 0x05
    struct.pack_into("<I", cat_tdef, 4, CATALOG_TDEF)
    struct.pack_into("<I", cat_tdef, 12, 4)
    pages.append(bytes(cat_tdef))
    pages.append(cat_pages[0])
    pages.extend(table_pages)
    with open(path, "wb") as fh:
        fh.write(b"".join(pages))


def jet2_write_table(df, path: str, table: str) -> int:
    """Spark DataFrame -> one-table .mdb via the registered HHEK layout
    (driver-side materialization — same ingest-edge envelope as
    jet2_table). Returns rows written."""
    return jet2_write_database({table: df}, path)[table]


def jet2_write_database(tables: dict, path: str) -> dict:
    """{name: DataFrame} -> one multi-table .mdb (the reverse half of
    the reference's ``konvertera -backa``). Money columns must arrive as
    exact Decimals (the SQLite reader re-quantizes; parquet carries
    DecimalType natively). Every table is collected at once, one thread
    each (``edge.per_table``), before the one file write. Returns
    {name: rows written}."""
    for name in tables:
        if name not in HHEK_SCHEMAS:
            raise ValueError(f"no verified physical layout for table {name!r}")
    names = list(tables)
    spark = tables[names[0]].sparkSession if names else None
    collected = per_table(spark, lambda name: df_to_rows(tables[name]), names)
    payload = {
        name: (HHEK_SCHEMAS[name], [dict(zip(tables[name].columns, r)) for r in rows])
        for name, rows in zip(names, collected)
    }
    write_jet2(path, payload)
    return {name: len(rows) for name, (_, rows) in payload.items()}
