"""Version-dispatching .mdb entry point.

The reference's read side is an ODBC handle that accepts any Jet
vintage the installed driver knows. This module reproduces that user
experience for the formats this repo can read natively. The version
decision itself is ``jet2.mdb_vintage``, the one function that reads a
file's magic string and version byte; the readers' own constructors act
on the same answer, so a file dispatched here is accepted or refused by
name exactly as when its reader is opened directly:

- no magic header                    -> Jet 2.0 (``jet2.Jet2File``)
- ``Standard Jet DB`` + version 0x00 -> Jet 3 (``jet3.Jet3File``)
- ``Standard Jet DB`` + version 0x01 -> Jet 4 (``jet4.Jet4File``)
- version 0x02-0x06 / ``Standard ACE DB`` -> ACE (Access 2007+),
  also ``jet4.Jet4File``: the public mdbtools dispatch maps every
  ACCDB version onto the SAME Jet-4 format constants, so the shared
  structure (pages, offset maps, TDEFs, row trailers, text/memo
  encodings) parses identically; ACE-only features (complex/
  attachment column types, encryption) refuse LOUDLY at the point of
  use with the jdbc:ucanaccess:// envelope (sources/jdbc_io.py) as
  the fallback. Validation scope: synthetic fixture only
  (JET_VALIDATION.md) — like the other native vintages.

Jet 3 and Jet 4/ACE share one page reader, ``jet3.JetPageFile``.
"""

from __future__ import annotations

from hhek2sqlite_spark.sources.jet2 import Jet2File, jet2_read_database, mdb_vintage
from hhek2sqlite_spark.sources.jet3 import Jet3File, jet3_read_database
from hhek2sqlite_spark.sources.jet4 import Jet4File, jet4_read_database

# vintage -> (parsed-file class, {table: DataFrame} reader)
_READERS = {
    "jet2": (Jet2File, jet2_read_database),
    "jet3": (Jet3File, jet3_read_database),
    "jet4": (Jet4File, jet4_read_database),
    "ace": (Jet4File, jet4_read_database),
}


def sniff_mdb_version(path: str) -> str:
    """'jet2' | 'jet3' | 'jet4' | 'ace'."""
    with open(path, "rb") as fh:
        return mdb_vintage(fh.read(32))[0]


def open_mdb(path: str):
    """Parsed file object for any natively supported .mdb version."""
    return _READERS[sniff_mdb_version(path)][0](path)


def mdb_read_database(spark, path: str):
    """{table: DataFrame} for any natively supported .mdb version."""
    return _READERS[sniff_mdb_version(path)][1](spark, path)
