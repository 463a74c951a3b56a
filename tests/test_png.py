"""PNG codec coverage: color types 0/2/3/4/6, all five scanline filters at
multi-byte strides, and OCR span-equality on color inputs (round-2: the
reference accepts BGR color via cv2, /root/reference/src/image_processing.py:17-49
— round 1 decoded grayscale-8 only)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from ner_ocr_spark import corpus
from ner_ocr_spark.kernels import ocr
from ner_ocr_spark.png import (
    _SIG, _chunk, decode, decode_gray, encode_gray, encode_rgb, to_gray,
)


def test_rgb_roundtrip():
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (23, 31, 3)).astype(np.uint8)
    assert np.array_equal(decode(encode_rgb(img)), img)


def test_rgba_roundtrip():
    rng = np.random.RandomState(4)
    img = rng.randint(0, 256, (17, 9, 4)).astype(np.uint8)
    assert np.array_equal(decode(encode_rgb(img)), img)


def _filtered_png(img: np.ndarray, filters: list[int]) -> bytes:
    """Encode with explicit per-row filter types (forward filtering) to
    exercise the decoder's Sub/Up/Average/Paeth paths at bpp > 1."""
    h, w, c = img.shape
    bpp = c
    rows = img.reshape(h, w * c).astype(np.int32)
    out = bytearray()
    prev = np.zeros(w * c, dtype=np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        row = rows[y]
        enc = row.copy()
        if f == 1:
            enc[bpp:] = (row[bpp:] - row[:-bpp]) % 256
        elif f == 2:
            enc = (row - prev) % 256
        elif f == 3:
            enc[:bpp] = (row[:bpp] - prev[:bpp] // 2) % 256
            enc[bpp:] = (row[bpp:] - (row[:-bpp] + prev[bpp:]) // 2) % 256
        elif f == 4:
            for x in range(w * c):
                a = row[x - bpp] if x >= bpp else 0
                b = prev[x]
                cc = prev[x - bpp] if x >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                enc[x] = (row[x] - pred) % 256
        out.append(f)
        out += bytes(enc.astype(np.uint8))
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2 if c == 3 else 6, 0, 0, 0)
    return (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(out)))
            + _chunk(b"IEND", b""))


@pytest.mark.parametrize("filters", [[1], [2], [3], [4], [0, 1, 2, 3, 4]])
def test_all_filters_rgb(filters):
    rng = np.random.RandomState(sum(filters) + 11)
    img = rng.randint(0, 256, (12, 7, 3)).astype(np.uint8)
    assert np.array_equal(decode(_filtered_png(img, filters)), img)


def _palette_png(idx: np.ndarray, palette: np.ndarray) -> bytes:
    h, w = idx.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    raw = np.empty((h, w + 1), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = idx
    return (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"PLTE", palette.astype(np.uint8).tobytes())
            + _chunk(b"IDAT", zlib.compress(raw.tobytes()))
            + _chunk(b"IEND", b""))


def test_palette_decode():
    palette = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [10, 20, 30]])
    idx = np.array([[0, 1], [2, 3]], dtype=np.uint8)
    got = decode(_palette_png(idx, palette))
    assert np.array_equal(got, palette[idx])


def test_gray_alpha_decode():
    h, w = 5, 4
    ga = np.dstack([np.arange(h * w).reshape(h, w) % 256,
                    np.full((h, w), 128)]).astype(np.uint8)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 4, 0, 0, 0)
    raw = np.empty((h, w * 2 + 1), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = ga.reshape(h, w * 2)
    data = (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw.tobytes()))
            + _chunk(b"IEND", b""))
    assert np.array_equal(decode_gray(data), ga[:, :, 0])


def test_luma_integer_formula():
    img = np.array([[[255, 0, 0], [0, 255, 0], [0, 0, 255], [200, 100, 50]]],
                   dtype=np.uint8)
    want = np.array([[(299 * 255 + 500) // 1000, (587 * 255 + 500) // 1000,
                      (114 * 255 + 500) // 1000,
                      (299 * 200 + 587 * 100 + 114 * 50 + 500) // 1000]],
                    dtype=np.uint8)
    assert np.array_equal(to_gray(img), want)


@pytest.mark.parametrize("mode", ["rgb", "rgba", "palette"])
def test_ocr_exact_on_color_pages(mode):
    """Span-sequence fidelity holds when the SAME page arrives as RGB,
    RGBA, or identity-palette PNG: stacking gray into RGB keeps luma == g,
    so recognition must match the grayscale truth exactly."""
    for i in range(5):
        ref = f"doc{i:08d}/m0"
        truth = "\n".join(corpus.media_truth_text(ref))
        gray = decode_gray(corpus.render_media_blob(ref))
        if mode == "rgb":
            blob = encode_rgb(np.dstack([gray] * 3))
        elif mode == "rgba":
            blob = encode_rgb(np.dstack([gray] * 3 + [np.full_like(gray, 255)]))
        else:
            blob = _palette_png(gray, np.stack([np.arange(256)] * 3, axis=1))
        got, score = ocr.ocr_text(blob)
        assert got == truth, (mode, ref)
        assert score > 0.8


def _gray_png(w: int, h: int, idat: bytes, interlace: int = 0) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, interlace)
    return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


@pytest.mark.parametrize("interlace", [0, 1])
def test_deflate_bomb_is_a_value_error(interlace):
    """A 16x16 header over ~256 MB of inflated zeros: the decoder inflates
    no more than the header implies (plus one byte) and rejects the rest,
    instead of materializing the whole stream."""
    z = zlib.compressobj(9)
    chunk = bytes(1 << 20)
    idat = b"".join(z.compress(chunk) for _ in range(256)) + z.flush()
    assert len(idat) < 1 << 20
    with pytest.raises(ValueError, match="longer than the header"):
        decode(_gray_png(16, 16, idat, interlace))


@pytest.mark.parametrize("interlace", [0, 1])
def test_oversized_header_is_a_value_error(interlace):
    """A 65535x65535 IHDR is over the shared frame budget: rejected before
    inflating and before the Adam7 grid (4 GiB) is allocated."""
    with pytest.raises(ValueError, match="exceeds"):
        decode(_gray_png(65535, 65535, zlib.compress(bytes(100)), interlace))


def test_exact_size_pixel_data_still_decodes():
    img = np.arange(12 * 5, dtype=np.uint8).reshape(5, 12)
    raw = np.hstack([np.zeros((5, 1), np.uint8), img]).tobytes()
    assert np.array_equal(decode(_gray_png(12, 5, zlib.compress(raw))), img)
    with pytest.raises(ValueError, match="longer than the header"):
        decode(_gray_png(12, 5, zlib.compress(raw + b"\0")))
    with pytest.raises(ValueError, match="corrupt PNG"):
        decode(_gray_png(12, 5, b"\x78\x9c not deflate"))


def test_short_ihdr_is_a_value_error():
    with pytest.raises(ValueError, match="IHDR is 5 bytes"):
        decode(_SIG + _chunk(b"IHDR", bytes(5)) + _chunk(b"IEND", b""))
