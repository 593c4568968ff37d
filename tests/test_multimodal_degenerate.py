"""Oracle parity of the multimodal tier on degenerate documents.

The sf fixtures hold short, non-NULL ASCII documents with distinct ids,
so the byte-level fake decoder and the image/audio/video synthesizers
never see the inputs where their branches decide the answer: no rows at
all, NULL and empty text, text past the fake decoder's 256-byte window,
multi-byte UTF-8, every doc_id residue the synthesizers branch on, and
a duplicated row. Each case is written as the only table of its own
scale-factor directory (same schema as the fixture ``documents``) and
every multimodal query runs against its DuckDB oracle there.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from hhek2sqlite_spark.testing.parity import run_parity

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

NAMES = [
    "multimodal_metadata",
    "multimodal_features",
    "image_pixel_stats",
    "audio_sample_stats",
    "video_frame_stats",
]

# ids 0..5 cover doc_id % 2, % 3 and % 4 (audio channels and rates,
# video dims and frame counts, BMP/PNG/PPM); 1, 5, 9 and 13 are the
# PNGs, one per filter doc_id // 4 % 4
RESIDUE_IDS = [0, 1, 2, 3, 4, 5, 9, 13]

CASES = {
    "empty": [],
    "null_text": [(100, None)],
    # past the fake decoder's data[:256] window
    "empty_long": [(101, ""), (102, "x" * 300)],
    "multibyte": [
        (110, "räksmörgås ☃ 日本語 🎉"),
        # 2-byte characters straddling the 256-byte window
        (111, "é" * 200),
    ],
    "residues": [(i, f"doc {i}") for i in RESIDUE_IDS],
    "duplicate": [(120, "same text"), (120, "same text")],
}


def _table(rows: list[tuple[int, str | None]], schema: pa.Schema) -> pa.Table:
    return pa.Table.from_pylist(
        [
            {
                "doc_id": doc_id,
                "text": text,
                "lang": "en",
                "source": "src0",
                "n_chars": None if text is None else len(text),
            }
            for doc_id, text in rows
        ],
        schema=schema,
    )


@pytest.fixture(scope="module")
def case_dirs(tmp_path_factory, sf_dir):
    schema = pq.read_schema(f"{sf_dir}/documents.parquet").remove_metadata()
    dirs = {}
    for case, rows in CASES.items():
        sf = tmp_path_factory.mktemp(f"sf_mm_{case}")
        pq.write_table(_table(rows, schema), str(sf / "documents.parquet"))
        dirs[case] = str(sf)
    return dirs


# cases where the query misses its oracle (ROADMAP direction 6)
KNOWN_MISSES = {
    ("null_text", "multimodal_features"): "NULL text: the fake decoder "
    "emits n_bytes, f0 and f4 as 0, the oracle as NULL",
    **{
        ("duplicate", name): "a duplicated doc_id: the query emits one row "
        "per input row, the oracle's GROUP BY doc_id one summed row"
        for name in ("image_pixel_stats", "audio_sample_stats", "video_frame_stats")
    },
}


def _params():
    for case in sorted(CASES):
        for name in NAMES:
            reason = KNOWN_MISSES.get((case, name))
            marks = [pytest.mark.xfail(strict=True, reason=reason)] if reason else []
            yield pytest.param(case, name, marks=marks, id=f"{case}-{name}")


@pytest.mark.parametrize("case,name", list(_params()))
def test_degenerate_parity(spark, case_dirs, case, name):
    res = run_parity(spark, name, QUERIES[name], ORACLES[name], case_dirs[case])
    assert res.ok, str(res)
