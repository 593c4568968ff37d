"""Pure-Python reader for Jet 4 (Access 2000–2003) .mdb files.

``Jet4File`` is a subclass of ``jet3.JetPageFile``, the one page reader
Jet 3 and Jet 4 share (catalog walk, TDEF chain, offset-map slots,
overflow pointers, LVAL rows and the per-column row loop). This module
holds only what Jet 4 changes: the format values below, the 25-byte
TDEF column records, the u16 row trailer and the text decoder, which
the shared memo decoder (``jet2._decode_memo``) also uses.

Completes the native read matrix: the wild's most common `.mdb`
vintage is Jet 4 (VERDICT r11: "real-world .mdb files in the wild are
overwhelmingly Jet 4/ACE"), which sources/jet2.py and sources/jet3.py
refuse by name. Format source: the PUBLIC mdbtools documentation of
the Jet 4 on-disk format — the same text the Jet 3 module follows,
with Jet 4's parameter changes:

- 4096-byte pages (Jet 3: 2048); version byte 0x01 at offset 0x14.
- Data page header grows 4 bytes: free space u16@2, owning TDEF
  u32@4, 4 unknown bytes @8, row count u16@0x0C, offset map from
  0x0E (flags 0x8000 deleted / 0x4000 lookup, offset mask 0x1FFF).
- Rows: u16 TOTAL column count (Jet 3: u8); trailer read backward is
  null bitmap over all columns, u16 var-column count, then var_len+1
  u16 row-relative offset bounds — FULL-WIDTH offsets, so Jet 4 has
  NO jump tables (the Jet 3 modulo-256 scheme exists only because its
  offsets were single bytes).
- TDEF header: num_rows u32@0x10, num_var_cols u16@0x2B, num_cols
  u16@0x2D, num_real_idx u32@0x33; real-index records are 12 bytes
  (Jet 3: 8); column definitions are 25 bytes each — col_type u8@0,
  col_num u16@5, offset_V u16@7, flags u8@15, offset_F u16@21,
  length u16@23; column names carry a u16 length prefix and UCS-2
  (UTF-16-LE) bytes (Jet 3: u8 + cp1252).
- Text values are UCS-2, optionally "compressed": a 0xFF 0xFE prefix
  marks a string whose remaining bytes are single-byte cp1252 chars;
  the public description allows 0x00 bytes to TOGGLE back to UCS-2
  mid-string — this reader refuses that rare variant loudly rather
  than risk decoding garbage (no fixture exists to verify the toggle
  semantics against).
- MEMO columns reuse the same 12-byte inline/LVAL/chain header as
  Jet 3 (jet2._decode_memo), with the payload decoded as Jet 4 text.

Validation honesty (JET_VALIDATION.md): same class as the Jet 3
module — no real Access-2000-written file exists here, so the reader
is cross-checked against an independently-built synthetic fixture
(tests/jet4_fixture.py) carrying checkDB1-style content. A real Jet 4
file remains the true test; structural inconsistencies raise loudly.

Scale note: an INGEST EDGE like the other .mdb paths — single-file
desktop format, materialized driver-side once.
"""

from __future__ import annotations

import struct

from hhek2sqlite_spark.sources.jet3 import JetPageFile, _column, _table_df

_COLDEF_LEN = 25  # Jet 4 column definition record size
_IDX_REC_LEN = 12  # Jet 4 real-index record size (Jet 3: 8)


def decode_jet4_text(raw: bytes) -> str:
    """Jet 4 string decode: 0xFF 0xFE prefix = compressed (single-byte
    cp1252 chars), else plain UTF-16-LE. The documented mid-string
    0x00 mode toggle inside compressed strings is refused loudly."""
    if raw[:2] == b"\xff\xfe":
        body = raw[2:]
        if b"\x00" in body:
            raise ValueError(
                "compressed Jet 4 string contains a 0x00 mode toggle — "
                "the mixed-mode variant is not decodable without a "
                "fixture to verify the toggle semantics against"
            )
        return body.decode("cp1252")
    if len(raw) % 2:
        raise ValueError(
            f"uncompressed Jet 4 string has odd byte length {len(raw)}"
        )
    return raw.decode("utf-16-le")


def _parse_tdef4(buf: bytes):
    """A Jet 4 TDEF's columns and its var-column count field."""
    num_var_cols, num_cols = struct.unpack_from("<HH", buf, 0x2B)
    num_real_idx = struct.unpack_from("<I", buf, 0x33)[0]
    pos = 0x3F + _IDX_REC_LEN * num_real_idx
    # col_type u8@0, col_num u16@5, offset_V u16@7, flags u8@15,
    # offset_F u16@21, length u16@23
    recs = [
        struct.unpack_from("<B4xHH6xB5xHH", buf, pos + _COLDEF_LEN * i)
        for i in range(num_cols)
    ]
    pos += _COLDEF_LEN * num_cols
    cols = []
    for rec in recs:
        nlen = struct.unpack_from("<H", buf, pos)[0]
        name = bytes(buf[pos + 2 : pos + 2 + nlen]).decode("utf-16-le")
        pos += 2 + nlen
        cols.append(_column(name, *rec))
    return cols, num_var_cols


def _var_bounds4(buf: bytes, end: int, n_var: int) -> list[int]:
    """The n_var+1 var-column bounds of a Jet 4 row whose null bitmap
    starts at ``end``: read backward, a u16 var count then u16
    row-relative offsets (full width, so no jump table)."""
    got = struct.unpack_from("<H", buf, end - 2)[0]
    if got != n_var:
        raise ValueError(f"row trailer var count {got} != TDEF's {n_var}")
    end -= 2 * (n_var + 2)
    bounds = list(struct.unpack_from(f"<{n_var + 1}H", buf, end))[::-1]
    if bounds[-1] != end or any(
        bounds[i] > bounds[i + 1] for i in range(n_var)
    ):
        raise ValueError(
            "row var-offset table inconsistent with trailer "
            "position — unknown Jet 4 row variant"
        )
    return bounds


class Jet4File(JetPageFile):
    """One parsed Jet 4 or ACE .mdb."""

    PAGE_SIZE = 4096
    ROW_COUNT_AT = 0x0C  # 4 unknown bytes @8 push it past Jet 3's 0x08
    ROW_PREFIX = 2  # u16 column count
    _parse_tdef = staticmethod(_parse_tdef4)
    _var_bounds = staticmethod(_var_bounds4)
    _text = _fixed_text = staticmethod(decode_jet4_text)

    def _check_vintage(self, path: str) -> None:
        # ACE (Access 2007+): the PUBLIC mdbtools dispatch maps every
        # ACCDB version onto the SAME Jet-4 format constants (page
        # size, offset maps, TDEF layout, row trailers), so the shared
        # structure is parsed here (r13); ACE-only features (complex/
        # attachment column types, encryption) have no fixture in this
        # environment and refuse loudly at the point of use — an
        # unknown column-type byte raises in the TDEF parse, never
        # decodes garbage. _ACE_VERSIONS: 0x02=2007, 0x03=2010,
        # 0x04=2013, 0x05=2016, 0x06=2019.
        if not (self.vintage == "jet4" or (
            self.vintage == "ace" and 0x02 <= self.version_byte <= 0x06
        )):
            raise ValueError(
                f"{path}: not a Jet 4 (Access 2000-2003) or ACE "
                "(Access 2007+) file — version dispatch lives in "
                "sources.mdb.open_mdb"
            )


def jet4_table(spark, path: str, table: str):
    return _table_df(spark, Jet4File(path), table)


def jet4_read_database(spark, path: str):
    """Read EVERY user table from a Jet 4 .mdb (self-describing TDEFs)."""
    f = Jet4File(path)
    return {name: _table_df(spark, f, name) for name in f.tables}
