"""Stdlib image codecs (operators/multimodal.py round-6 tier): BMP
24-bit, PPM P6, PNG 8-bit RGB with all five scanline filters. The
oracle-paired query (image_pixel_stats) checks statistics; these tests
check the PIXELS, including the failure modes statistics can miss."""

from __future__ import annotations

import pytest

from hhek2sqlite_spark.operators import multimodal as m

RGBW = [
    [(255, 0, 0), (0, 255, 0)],  # (b,g,r) tuples, top row
    [(0, 0, 255), (255, 255, 255)],
]


def _pattern(w, h):
    return [[((x * 7 + y * 13) % 256, (x * 3) % 256, (y * 5) % 256) for x in range(w)] for y in range(h)]


def test_bmp_round_trip_and_header():
    data = m.bmp_encode(RGBW)
    assert data[:2] == b"BM"
    w, h, rows = m.bmp_decode(data)
    assert (w, h) == (2, 2)
    assert rows == RGBW  # top-down restored from bottom-up storage


@pytest.mark.parametrize("w,h", [(1, 1), (3, 2), (4, 3), (5, 7)])
def test_bmp_stride_padding_all_widths(w, h):
    # w=3 -> 9-byte rows padded to 12; w=4 -> no padding; both must work,
    # in BMP files and in AVI frames (the same DIB row layout)
    rows = _pattern(w, h)
    assert m.bmp_decode(m.bmp_encode(rows)) == (w, h, rows)
    assert m.avi_decode(m.avi_encode([rows])) == (w, h, [rows])


@pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
def test_png_every_filter_reconstructs(ft):
    rows = _pattern(6, 5)
    data = m.png_encode(rows, filter_type=ft)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    assert m.png_decode(data) == (6, 5, rows)


def test_ppm_round_trip_with_whitespace_pixel_bytes():
    # first body byte 0x20 (space) — a split()-based header parser eats
    # it and shifts every pixel (the round-6 Spark-side IndexError)
    rows = [[(9, 10, 32), (13, 32, 10)]]  # 2 wide, 1 tall
    data = m.ppm_encode(rows)
    assert m.ppm_decode(data) == (2, 1, rows)


def test_decode_any_dispatches_and_stubs():
    rows = _pattern(3, 3)
    assert m.decode_any(m.bmp_encode(rows))[2] == rows
    assert m.decode_any(m.png_encode(rows))[2] == rows
    assert m.decode_any(m.ppm_encode(rows))[2] == rows
    with pytest.raises(NotImplementedError):
        m.decode_any(b"\xff\xd8\xff\xe0 fake jpeg")


def test_moment_distinguishes_row_order():
    """The px_moment feature exists to catch bottom-up/top-down bugs:
    the flipped image has identical sum/min/max but a different
    moment."""
    rows = _pattern(4, 3)
    flipped = rows[::-1]
    w, h = 4, 3

    def moment(rs):
        return sum((y * w + x) * rs[y][x][0] for y in range(h) for x in range(w))

    assert moment(rows) != moment(flipped)


@pytest.mark.parametrize("nch,rate", [(1, 8000), (2, 44100)])
def test_wav_round_trip(nch, rate):
    frames = [
        tuple(((i * 17 + ch * 29) % 65536 - 32768) for ch in range(nch))
        for i in range(64)
    ]
    data = m.wav_encode(frames, sample_rate=rate)
    assert data[:4] == b"RIFF" and data[8:12] == b"WAVE"
    got_nch, got_rate, got = m.wav_decode(data)
    assert (got_nch, got_rate) == (nch, rate)
    assert got == frames


def test_wav_decode_rejects_non_pcm():
    with pytest.raises(ValueError):
        m.wav_decode(b"RIFF\x00\x00\x00\x00NOPE")
    # float WAV (fmt code 3) must be refused, not misread
    import struct as st

    fmt = st.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    data = (
        b"RIFF" + st.pack("<I", 4 + 8 + len(fmt)) + b"WAVE"
        + b"fmt " + st.pack("<I", len(fmt)) + fmt
    )
    with pytest.raises(ValueError):
        m.wav_decode(data)


def test_wav_decode_handles_chunk_order_and_padding():
    """data before fmt, plus an odd-length stray chunk in between —
    both legal RIFF shapes a naive fixed-offset parser misreads."""
    import struct as st

    frames = [(100,), (-200,), (300,)]
    body = st.pack("<3h", 100, -200, 300)
    fmt = st.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    data = (
        b"RIFF" + st.pack("<I", 0) + b"WAVE"
        + b"data" + st.pack("<I", len(body)) + body
        + b"junk" + st.pack("<I", 3) + b"ab\x00" + b"\x00"  # odd, padded
        + b"fmt " + st.pack("<I", len(fmt)) + fmt
    )
    assert m.wav_decode(data) == (1, 8000, frames)


def test_zero_crossings_are_order_sensitive():
    a = [(10,), (-10,), (10,), (-10,)]  # 3 crossings
    b = [(10,), (10,), (-10,), (-10,)]  # 1 crossing, same multiset
    for frames, want in ((a, 3), (b, 1)):
        ch0 = [f[0] for f in frames]
        zc = sum(1 for i in range(1, len(ch0)) if (ch0[i - 1] < 0) != (ch0[i] < 0))
        assert zc == want


def test_synth_pixel_rows_matches_oracle_formula():
    for doc_id in (0, 1, 5, 17, 499):
        rows = m._synth_pixel_rows(doc_id)
        w, h = 4 + doc_id % 4, 3 + doc_id % 3
        assert (len(rows[0]), len(rows)) == (w, h)
        g = (doc_id * 31 + 2 * 7 + 1 * 13) % 256 if w > 2 and h > 1 else None
        if g is not None:
            assert rows[1][2] == (g, (g + 85) % 256, (g + 170) % 256)
