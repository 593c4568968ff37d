"""Pure-Python reader for Jet 3 (Access 95/97) .mdb files, and the one
page reader Jet 3 and Jet 4 share.

``JetPageFile`` below holds every job the two vintages have in common:
the file load and page-size check, data pages grouped by owning TDEF,
the self-describing catalog walk, the TDEF continuation chain, the
offset-map slots, 0x4000 overflow pointers, LVAL rows and the
per-column row loop. ``Jet3File`` and ``jet4.Jet4File`` subclass it and
supply only their format values: page size, where a data page keeps
its row count, the TDEF column-record parser, the row-trailer parser
and the text decoders. The version decision (``jet2.mdb_vintage``) and
the memo decoder (``jet2._decode_memo``) are shared with Jet 2.

Why this exists: the reference reads its source through the Windows
ODBC Access driver (/root/reference/hhek2sqlite.go:1265-1275), which
accepts whatever Jet vintage the driver knows — and real-world `.mdb`
files are overwhelmingly Jet 3/4, not the Jet 2.0 the HHEK app itself
writes. sources/jet2.py (round 10) refuses post-Jet-2 files BY NAME;
this module narrows that refusal by actually reading Jet 3.

Format source: the PUBLIC mdbtools documentation of the Jet 3 on-disk
format (the same HACKING description the round-10 LVAL/jump-table work
drew on). Everything here is adapted from that public text; nothing is
taken from the reference repo (which contains no format code at all —
it delegates to ODBC).

Jet 3 vs the Jet 2.0 module, the load-bearing differences:

- Header page 0 carries the magic string ``Standard Jet DB\\x00`` at
  offset 4 and version byte 0x00 at offset 0x14 (Jet 2.0 has neither).
- Page types: 0x01 = data, 0x02 = table definition (TDEF), 0x03/0x04 =
  index, 0x05 = usage map. (Jet 2.0 observed: 0x05 TDEF, 0x06 data.)
- TDEFs are SELF-DESCRIBING: column names, types, fixed offsets and
  var-column order are all in the TDEF page, so no per-application
  layout registry is needed (Jet 2.0's TDEFs were opaque; that module
  carries verified layouts instead).
- Catalog: MSysObjects' TDEF is page 2 (Jet 2.0: page 3); the table
  page a catalog row points at is the LOW 3 BYTES of its Id column.
- Rows have NO length prefix: row i's extent runs from its offset-map
  entry to the previous row's offset (row 0 ends at the page end).
  Offset-map flags: 0x8000 = deleted, 0x4000 = lookup/pointer row;
  offsets mask 0x1FFF.
- Row layout: u8 TOTAL column count, fixed columns at their TDEF
  offsets, var columns, then the backward trailer: null bitmap over
  ALL columns (1 bit per column in column-number order, bit SET =
  present; Booleans live in the bitmap), u8 var-column count, the
  long-row jump table, and var_len+1 one-byte offset bounds (row-
  relative, same modulo-256 jump scheme as jet2.py's long rows —
  which were themselves adapted FROM this Jet 3 description).
- Text is cp1252 (Jet 4 moved to UCS-2; refused by name here).
- MEMO columns use the same 12-byte inline/LVAL/chain header this
  repo already implements (jet2._decode_memo IS the Jet 3 scheme);
  LVAL rows are plain offset-map extents, with no u16 length prefix.

Validation honesty (JET_VALIDATION.md): no real Access-97-written file
exists in this container and installs are banned, so the reader is
validated against SYNTHETIC fixture pages built independently (raw
struct.pack layouts in tests/jet3_fixture.py, no code shared with this
parser) from the same public description, carrying checkDB1-style
content (db_test.go:150-171 counts and the 0.90 balance). A real
Access 97 file remains the true test; every inconsistency this parser
can detect raises loudly instead of decoding garbage.

Scale note: like the Jet 2.0 path this is an INGEST EDGE — a
single-file desktop format materialized driver-side once; the 100 TB
path starts after this boundary.
"""

from __future__ import annotations

import struct
from datetime import datetime, timedelta
from decimal import Decimal

from hhek2sqlite_spark.sources.edge import rows_to_df
from hhek2sqlite_spark.sources.jet2 import (
    _JET_VERSION_NAMES,
    LVAL_TAG,
    _cp1252,
    _decode_memo,
    mdb_vintage,
)

CATALOG_TDEF = 2  # MSysObjects' TDEF page — fixed by the engine

_PG_DATA = 0x01
_PG_TDEF = 0x02

_OFFSET_MASK = 0x1FFF
_FLAG_DELETED = 0x8000
_FLAG_LOOKUP = 0x4000

# Jet column-type constants (public, shared across Jet versions)
COL_BOOL = 0x01
COL_BYTE = 0x02
COL_INT = 0x03
COL_LONGINT = 0x04
COL_MONEY = 0x05
COL_FLOAT = 0x06
COL_DOUBLE = 0x07
COL_DATETIME = 0x08
COL_BINARY = 0x09
COL_TEXT = 0x0A
COL_OLE = 0x0B
COL_MEMO = 0x0C

_FIXED_WIDTHS = {
    COL_BOOL: 0,  # value lives in the null bitmap
    COL_BYTE: 1,
    COL_INT: 2,
    COL_LONGINT: 4,
    COL_MONEY: 8,
    COL_FLOAT: 4,
    COL_DOUBLE: 8,
    COL_DATETIME: 8,
}

# Access datetimes are IEEE doubles counting days from this epoch
_ACCESS_EPOCH = datetime(1899, 12, 30)

_COLDEF_LEN = 18  # Jet 3 column definition record size


class Jet3Column:
    __slots__ = ("name", "col_type", "col_num", "offset_v", "offset_f",
                 "length", "is_fixed")

    def __init__(self, name, col_type, col_num, offset_v, offset_f,
                 length, is_fixed):
        self.name = name
        self.col_type = col_type
        self.col_num = col_num
        self.offset_v = offset_v
        self.offset_f = offset_f
        self.length = length
        self.is_fixed = is_fixed


class Jet3Table:
    __slots__ = ("name", "tdef_page", "columns")

    def __init__(self, name, tdef_page, columns):
        self.name = name
        self.tdef_page = tdef_page
        # column-number order = null-bitmap bit order
        self.columns = sorted(columns, key=lambda c: c.col_num)

    @property
    def var_columns(self):
        return [c for c in self.columns if not c.is_fixed]


def _column(name, col_type, col_num, offset_v, flags, offset_f, length):
    """One parsed column record; types this reader cannot decode are
    refused here, at TDEF parse, never decoded as garbage."""
    if col_type not in _FIXED_WIDTHS and col_type not in (COL_TEXT, COL_MEMO):
        raise ValueError(
            f"column {name!r} has Jet type 0x{col_type:02x} "
            "(binary/OLE/GUID are not decodable without a fixture "
            "to verify against)"
        )
    return Jet3Column(name, col_type, col_num, offset_v, offset_f, length,
                      bool(flags & 0x01))


def _parse_tdef3(buf: bytes) -> tuple[list[Jet3Column], int]:
    """A Jet 3 TDEF's columns and its var-column count field (mdbtools
    Jet 3 layout: fixed header through 0x2A, num_real_idx*8
    index-rowcount bytes, then num_cols 18-byte column records, then
    u8-length-prefixed cp1252 names)."""
    num_var_cols, num_cols = struct.unpack_from("<HH", buf, 0x17)
    num_real_idx = struct.unpack_from("<I", buf, 0x1F)[0]
    pos = 0x2B + 8 * num_real_idx
    # col_type u8@0, col_num u16@1, offset_V u16@3, flags u8@13,
    # offset_F u16@14, length u16@16
    recs = [
        struct.unpack_from("<BHH8xBHH", buf, pos + _COLDEF_LEN * i)
        for i in range(num_cols)
    ]
    pos += _COLDEF_LEN * num_cols
    cols = []
    for rec in recs:
        nlen = buf[pos]
        name = bytes(buf[pos + 1 : pos + 1 + nlen]).decode("cp1252")
        pos += 1 + nlen
        col = _column(name, *rec)
        want = _FIXED_WIDTHS.get(col.col_type)
        if col.is_fixed and want and col.length != want:
            raise ValueError(
                f"column {name!r} type 0x{col.col_type:02x} declares "
                f"length {col.length}, expected {want}"
            )
        cols.append(col)
    return cols, num_var_cols


def _var_bounds3(buf: bytes, end: int, n_var: int) -> list[int]:
    """The n_var+1 var-column bounds of a Jet 3 row whose null bitmap
    starts at ``end``. Read backward: u8 var count, the long-row jump
    table, then one-byte row-relative offsets stored modulo 256 (the
    same jump-window scheme as jet2.py long rows — that code was
    adapted FROM this Jet 3 description)."""
    if buf[end - 1] != n_var:
        raise ValueError(
            f"row trailer var count {buf[end - 1]} != TDEF's {n_var}"
        )
    end -= 1
    num_jumps = (len(buf) - 1) // 256
    jumps = [buf[end - 1 - i] for i in range(num_jumps)]
    end -= num_jumps
    bounds = []
    jumps_used = 0
    for i in range(n_var + 1):
        while jumps_used < num_jumps and jumps[jumps_used] == i:
            jumps_used += 1
        bounds.append(buf[end - 1 - i] + 256 * jumps_used)
    if bounds[-1] != end - (n_var + 1) or any(
        bounds[i] > bounds[i + 1] for i in range(n_var)
    ):
        raise ValueError(
            "row var-offset table inconsistent with trailer "
            "position — unknown Jet 3 row variant"
        )
    return bounds


def _decode_value(col: Jet3Column, raw: bytes):
    """A present fixed-width value (Booleans, text and memos are
    decoded by the row loop)."""
    t = col.col_type
    if t == COL_BYTE:
        return raw[0]
    if t == COL_INT:
        return struct.unpack("<h", raw)[0]
    if t == COL_LONGINT:
        return struct.unpack("<i", raw)[0]
    if t == COL_MONEY:
        return Decimal(struct.unpack("<q", raw)[0]) / Decimal(10000)
    if t == COL_FLOAT:
        return struct.unpack("<f", raw)[0]
    if t == COL_DOUBLE:
        return struct.unpack("<d", raw)[0]
    if t == COL_DATETIME:
        days = struct.unpack("<d", raw)[0]
        # Access semantics: integer part = days from 1899-12-30, the
        # FRACTION is time-of-day as a magnitude (negative dates still
        # run forward within the day)
        whole = int(days) if days >= 0 else -int(-days // 1)
        frac = abs(days - whole)
        return _ACCESS_EPOCH + timedelta(days=whole) + timedelta(
            seconds=round(frac * 86400)
        )
    raise ValueError(f"unhandled Jet column type 0x{t:02x}")


class JetPageFile:
    """One parsed Jet 3 or Jet 4/ACE .mdb: self-describing catalog +
    typed tables. A subclass sets the format values and accepts or
    refuses the file's vintage in ``_check_vintage``:

    - ``PAGE_SIZE``;
    - ``ROW_COUNT_AT``: offset of a data page's u16 row count; the
      offset map starts 2 bytes later;
    - ``ROW_PREFIX``: width of a row's leading column count, which is
      also where its fixed columns start;
    - ``_parse_tdef(buf) -> (columns, var-column count field)``;
    - ``_var_bounds(buf, end, n_var)``: the row's var-column bounds from
      the trailer that ends where the null bitmap starts;
    - ``_text`` (var text and memo payloads) and ``_fixed_text``."""

    def __init__(self, path: str):
        with open(path, "rb") as fh:
            self._data = fh.read()
        self.vintage, self.version_byte = mdb_vintage(self._data)
        self._check_vintage(path)
        if len(self._data) % self.PAGE_SIZE:
            raise ValueError(
                f"{path}: not a whole number of {self.PAGE_SIZE}B pages"
            )
        # group data pages by owning TDEF, exactly like the Jet 2 reader
        # (a full-file page scan replaces walking the usage maps — same
        # result for well-formed files, no free/used map parsing needed)
        self._pages_by_tdef: dict[int, list[int]] = {}
        for p in range(len(self._data) // self.PAGE_SIZE):
            pg = self._page(p)
            if pg[0] == _PG_DATA:
                owner = struct.unpack_from("<I", pg, 4)[0]
                self._pages_by_tdef.setdefault(owner, []).append(p)
        # the catalog describes itself: parse MSysObjects' TDEF first,
        # then read its rows to find every user table
        catalog = self._table("MSysObjects", CATALOG_TDEF)
        have = {c.name for c in catalog.columns}
        for need in ("Id", "Name", "Type"):
            if need not in have:
                raise ValueError(
                    f"MSysObjects TDEF lacks column {need!r} — not a "
                    "catalog this reader understands"
                )
        self.tables: dict[str, Jet3Table] = {}
        for row in self._rows_of(catalog):
            name = row.get("Name")
            obj_type = (row.get("Type") or 0) & 0x7F
            obj_id = row.get("Id") or 0
            if obj_type != 1 or name is None or name.startswith("MSys"):
                continue  # 1 = table; others are queries/forms/etc.
            tdef_page = obj_id & 0x00FFFFFF  # low 3 bytes = page
            self.tables[name] = self._table(name, tdef_page)

    def _table(self, name: str, page: int) -> Jet3Table:
        """Parse the TDEF at ``page``. Multi-page TDEFs (next_pg chains)
        are concatenated from offset 8 of each continuation page before
        the format's column records are read."""
        pg = self._page(page)
        if pg[0] != _PG_TDEF:
            raise ValueError(f"page {page} is not a TDEF page (type 0x02)")
        buf = bytearray(pg)
        next_pg = struct.unpack_from("<I", pg, 4)[0]
        seen = {page}
        while next_pg:
            if next_pg in seen:
                raise ValueError(f"TDEF page chain cycles at page {next_pg}")
            seen.add(next_pg)
            cont = self._page(next_pg)
            if cont[0] != _PG_TDEF:
                raise ValueError(
                    f"TDEF continuation page {next_pg} has type "
                    f"0x{cont[0]:02x}, expected 0x02"
                )
            buf += cont[8:]
            next_pg = struct.unpack_from("<I", cont, 4)[0]
        cols, num_var_cols = self._parse_tdef(buf)
        if sum(1 for c in cols if not c.is_fixed) != num_var_cols:
            raise ValueError(
                f"TDEF page {page}: var-column count field {num_var_cols} "
                "disagrees with the column records"
            )
        return Jet3Table(name, page, cols)

    def _page(self, p: int) -> bytes:
        if p >= len(self._data) // self.PAGE_SIZE:
            raise ValueError(f"page {p} beyond file end")
        return self._data[p * self.PAGE_SIZE : (p + 1) * self.PAGE_SIZE]

    def _slot_entries(self, pg: bytes):
        """Yield (raw_off, start, end) for EVERY offset-map slot on a
        data page, deleted/lookup slots included — liveness and flag
        handling belong to the caller. Rows have no length prefix: each
        row ends where the previous offset-map entry begins (row 0 ends
        at the page end)."""
        n = struct.unpack_from("<H", pg, self.ROW_COUNT_AT)[0]
        prev = self.PAGE_SIZE
        for i in range(n):
            raw_off = struct.unpack_from("<H", pg, self.ROW_COUNT_AT + 2 + 2 * i)[0]
            off = raw_off & _OFFSET_MASK
            end = prev
            prev = off if off else prev
            yield raw_off, off, end

    def _row_payloads(self, table: Jet3Table):
        """Yield raw payload bytes for every live row of ``table``.

        A slot flagged 0x4000 (lookup) is an OVERFLOW POINTER left
        behind when an in-place update outgrew the row's page: its
        payload starts with a 4-byte little-endian ``(page << 8) | row``
        reference to where the row now lives (public mdbtools format
        description — the same pg_row packing the memo/LVAL headers
        use). The pointer is followed; pointed-at rows are excluded
        from the sequential scan so a row is never yielded twice when
        its overflow page is also in the table's page list."""
        pages = list(self._pages_by_tdef.get(table.tdef_page, ()))
        pointed: set = set()
        for p in pages:
            pg = self._page(p)
            for raw_off, off, end in self._slot_entries(pg):
                if (raw_off & _FLAG_LOOKUP and not raw_off & _FLAG_DELETED
                        and off and end - off >= 4):
                    ptr = struct.unpack_from("<I", pg, off)[0]
                    pointed.add((ptr >> 8, ptr & 0xFF))
        for p in pages:
            pg = self._page(p)
            for i, (raw_off, off, end) in enumerate(self._slot_entries(pg)):
                if raw_off & _FLAG_DELETED or off == 0:
                    continue
                if off >= end:
                    raise ValueError(
                        "row offsets not descending — corrupt page or an "
                        "offset-map variant this reader does not support"
                    )
                if raw_off & _FLAG_LOOKUP:
                    yield self._overflow_row(pg, off, end)
                elif (p, i) not in pointed:
                    yield pg[off:end]

    def _overflow_row(self, pg: bytes, off: int, end: int) -> bytes:
        """Resolve a 0x4000 lookup slot to the row bytes it points at."""
        if end - off < 4:
            raise ValueError("lookup row shorter than its 4-byte pointer")
        ptr = struct.unpack_from("<I", pg, off)[0]
        tgt_page, tgt_row = ptr >> 8, ptr & 0xFF
        tpg = self._page(tgt_page)
        if tpg[0] != _PG_DATA:
            raise ValueError(
                f"overflow pointer targets page {tgt_page}, not a data page"
            )
        for i, (raw_off, o, e) in enumerate(self._slot_entries(tpg)):
            if i != tgt_row:
                continue
            if raw_off & _FLAG_DELETED or o == 0:
                raise ValueError(
                    f"overflow row {tgt_row} on page {tgt_page} is deleted"
                )
            if raw_off & _FLAG_LOOKUP:
                raise ValueError(
                    "chained overflow pointers unsupported — no public "
                    "fixture documents the chain shape"
                )
            return tpg[o:e]
        raise ValueError(f"overflow row {tgt_row} beyond page {tgt_page}")

    def _lval_fetch(self, page: int, row: int) -> bytes:
        pg = self._page(page)
        if pg[0] != _PG_DATA or struct.unpack_from("<I", pg, 4)[0] != LVAL_TAG:
            raise ValueError(f"page {page} is not an LVAL page")
        for i, (raw_off, off, end) in enumerate(self._slot_entries(pg)):
            if i == row:
                if raw_off & _FLAG_DELETED or off == 0:
                    raise ValueError(f"LVAL row {row} on page {page} is deleted")
                return pg[off:end]
        raise ValueError(f"LVAL row {row} not found on page {page}")

    def _decode_row(self, buf: bytes, table: Jet3Table) -> dict:
        """Decode one row, extent-sliced by the caller from the page
        offset map: the leading column count, then the backward
        trailer — a null bitmap over ALL columns (bit SET = present;
        Booleans live in it), before it the format's var-column
        bounds — then each column's fixed or var slice."""
        num_cols = int.from_bytes(buf[: self.ROW_PREFIX], "little")
        if num_cols != len(table.columns):
            # Jet supports rows written under an older TDEF revision; with
            # no real fixture exhibiting that, refuse rather than misalign.
            raise ValueError(
                f"row declares {num_cols} columns, TDEF has "
                f"{len(table.columns)} — schema-evolution rows are not "
                "decodable without a fixture"
            )
        end = len(buf) - (num_cols + 7) // 8
        mask = buf[end:]  # byte j covers cols 8j..8j+7
        n_var = len(table.var_columns)
        # fixed-only tables carry NO var trailer (mdbtools: the var
        # count and offsets exist only when num_var_cols > 0)
        bounds = self._var_bounds(buf, end, n_var) if n_var else []
        out = {}
        for col in table.columns:
            present = bool(mask[col.col_num // 8] >> (col.col_num % 8) & 1)
            if col.col_type == COL_BOOL:
                out[col.name] = present  # Booleans live IN the bitmap
                continue
            if col.is_fixed:
                start = self.ROW_PREFIX + col.offset_f
                raw = buf[start : start + col.length]
                if len(raw) != col.length:
                    raise ValueError(
                        f"fixed column {col.name!r} extends past the row"
                    )
            else:
                v = col.offset_v
                if v >= n_var:
                    raise ValueError(
                        f"var column {col.name!r} offset index {v} out of "
                        f"range ({n_var} var slots)"
                    )
                raw = buf[bounds[v] : bounds[v + 1]]
            if not present:
                out[col.name] = None
            elif col.col_type == COL_TEXT:
                out[col.name] = (self._fixed_text if col.is_fixed else self._text)(raw)
            elif col.col_type == COL_MEMO:
                out[col.name] = _decode_memo(raw, self._lval_fetch, self._text)
            else:
                out[col.name] = _decode_value(col, raw)
        return out

    def _rows_of(self, table: Jet3Table):
        for payload in self._row_payloads(table):
            yield self._decode_row(payload, table)

    def read_rows(self, table: str):
        return list(self._rows_of(self.tables[table]))

    def row_count(self, table: str) -> int:
        return sum(1 for _ in self._row_payloads(self.tables[table]))


class Jet3File(JetPageFile):
    """One parsed Jet 3 .mdb."""

    PAGE_SIZE = 2048  # Jet 4 moved to 4 KiB
    ROW_COUNT_AT = 0x08
    ROW_PREFIX = 1  # u8 column count
    _parse_tdef = staticmethod(_parse_tdef3)
    _var_bounds = staticmethod(_var_bounds3)
    _text = staticmethod(_cp1252)

    @staticmethod
    def _fixed_text(raw: bytes) -> str:
        # fixed-width text pads with NULs to the column length
        return raw.rstrip(b"\x00").decode("cp1252")

    def _check_vintage(self, path: str) -> None:
        if self.vintage == "jet2":
            raise ValueError(
                f"{path}: no 'Standard Jet DB' header — not a Jet 3 "
                "file (a Jet 2.0/Access 2.0 file is read by "
                "sources/jet2.Jet2File; use sources.mdb.open_mdb to "
                "dispatch on version automatically)"
            )
        if self.vintage != "jet3":
            ver = self.version_byte
            name = _JET_VERSION_NAMES.get(
                ver, f"unknown (version byte 0x{ver:02x})"
            )
            raise ValueError(
                f"{path}: this is a {name} database; this reader "
                "supports Jet 3 (Access 95/97) only — Jet 4/ACE moved "
                "to 4096-byte pages and UCS-2 text and needs the "
                "documented jdbc:ucanaccess:// envelope "
                "(sources/jdbc_io.py) or a one-time conversion."
            )


def _spark_schema_for(table: Jet3Table):
    from pyspark.sql import types as T

    kinds = {
        COL_BOOL: T.BooleanType(),
        COL_BYTE: T.IntegerType(),
        COL_INT: T.ShortType(),
        COL_LONGINT: T.IntegerType(),
        COL_MONEY: T.DecimalType(19, 4),
        COL_FLOAT: T.FloatType(),
        COL_DOUBLE: T.DoubleType(),
        COL_DATETIME: T.TimestampType(),
        COL_TEXT: T.StringType(),
        COL_MEMO: T.StringType(),
    }
    return T.StructType(
        [
            T.StructField(c.name, kinds[c.col_type], True)
            for c in table.columns
        ]
    )


def jet3_table(spark, path: str, table: str):
    """Read one table from a Jet 3 .mdb into a typed Spark DataFrame
    (driver-side materialization — ingest edge, see module docstring)."""
    return _table_df(spark, Jet3File(path), table)


def _table_df(spark, f, table: str):
    """One table of a parsed Jet 3 or Jet 4 file as a typed DataFrame."""
    st = _spark_schema_for(f.tables[table])
    rows = f.read_rows(table)
    return rows_to_df(spark, [tuple(r[fld.name] for fld in st.fields) for r in rows], st)


def jet3_read_database(spark, path: str):
    """Read EVERY user table from a Jet 3 .mdb — no layout registry
    needed, the TDEFs are self-describing."""
    f = Jet3File(path)
    return {name: _table_df(spark, f, name) for name in f.tables}
