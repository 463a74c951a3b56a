"""Baseline JPEG codec tests + OCR fidelity on JPEG inputs (round-2: the
reference accepts .jpg/.jpeg via cv2, /root/reference/src/utils.py:90;
round 1 had no JPEG path at all)."""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest

from ner_ocr_spark import corpus, jpeg
from ner_ocr_spark.imageio import decode_image, decode_image_gray, sniff
from ner_ocr_spark.kernels import ocr
from ner_ocr_spark.png import decode_gray as png_decode_gray
from tests.test_jpeg_progressive import DEEP_SA, SPECTRAL_ONLY


def test_gray_roundtrip_smooth_exact():
    g = np.add.outer(np.arange(48), np.arange(64)).astype(np.uint8)
    dec = jpeg.decode(jpeg.encode(g, quality=95))
    assert dec.shape == g.shape
    assert np.abs(dec.astype(int) - g.astype(int)).max() <= 1


def test_gray_roundtrip_noise_bounded():
    n = np.random.RandomState(1).randint(0, 256, (33, 41)).astype(np.uint8)
    dec = jpeg.decode(jpeg.encode(n, quality=95))
    assert np.abs(dec.astype(int) - n.astype(int)).mean() < 4


@pytest.mark.parametrize("sub", ["444", "420"])
def test_rgb_roundtrip(sub):
    g = np.add.outer(np.arange(40), np.arange(60)).astype(np.uint8)
    img = np.dstack([g, g[::-1], np.roll(g, 7, axis=1)])
    dec = jpeg.decode(jpeg.encode(img, quality=95, subsampling=sub))
    assert dec.shape == img.shape
    err = np.abs(dec.astype(int) - img.astype(int))
    # 4:2:0 loses high-frequency chroma by design; luma stays tight
    assert err.mean() < (6 if sub == "420" else 2)


def test_odd_dimensions_420():
    img = np.random.RandomState(2).randint(0, 256, (37, 53, 3)).astype(np.uint8)
    dec = jpeg.decode(jpeg.encode(img, quality=90, subsampling="420"))
    assert dec.shape == img.shape


def test_sniff_and_dispatch():
    g = np.full((9, 9), 77, dtype=np.uint8)
    from ner_ocr_spark.png import encode_gray

    assert sniff(encode_gray(g)) == "png"
    assert sniff(jpeg.encode(g)) == "jpeg"
    assert sniff(b"plain text") == "unknown"
    assert decode_image(jpeg.encode(g, quality=95)).shape == (9, 9)
    with pytest.raises(ValueError):
        decode_image(b"not an image")


def test_decode_rejects_unsupported_coding_processes():
    # lossless (SOF3) and arithmetic (SOF9) must raise distinctly, and a
    # progressive header with no scans is a truncation error, not garbage
    for sof in (0xC3, 0xC9):
        data = bytes([0xFF, 0xD8, 0xFF, sof]) + \
            b"\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00"
        with pytest.raises(ValueError, match="unsupported JPEG coding"):
            jpeg.decode(data)
    trunc = b"\xff\xd8\xff\xc2\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00"
    with pytest.raises(ValueError, match="no SOS"):
        jpeg.decode(trunc)


@pytest.mark.parametrize("i", range(3))
def test_ocr_exact_on_jpeg_pages(i):
    """Re-encoding a corpus page as quality-95 JPEG keeps OCR span output
    exact: Otsu binarization absorbs the (bounded) DCT error between ink
    and background levels."""
    ref = f"doc{i:08d}/m0"
    truth = "\n".join(corpus.media_truth_text(ref))
    gray = png_decode_gray(corpus.render_media_blob(ref))
    blob = jpeg.encode(gray, quality=95)
    assert decode_image_gray(blob).shape == gray.shape
    got, score = ocr.ocr_text(blob)
    assert got == truth
    assert score > 0.8


def test_ocr_error_absorption_truncated_jpeg():
    g = np.full((32, 32), 200, dtype=np.uint8)
    blob = jpeg.encode(g, quality=90)
    assert ocr.ocr_text(blob[: len(blob) // 2]) == ("", 0.0)


def test_fill_bytes_before_marker():
    # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
    g = np.add.outer(np.arange(16), np.arange(16)).astype(np.uint8)
    enc = jpeg.encode(g, quality=95)
    padded = enc[:2] + b"\xff\xff" + enc[2:]
    assert np.array_equal(jpeg.decode(padded), jpeg.decode(enc))


def test_gray_with_nontrivial_sampling_factors():
    """A single-component scan is non-interleaved per T.81 A.2 — the SOF
    sampling factors (legally e.g. 0x22 for gray) must be ignored."""
    g = np.add.outer(np.arange(24), np.arange(40)).astype(np.uint8)
    enc = bytearray(jpeg.encode(g, quality=95))
    sof = enc.find(b"\xff\xc0")
    assert sof > 0
    hv_off = sof + 2 + 2 + 6 + 1  # marker+len+prec+h+w+ncomp+cid -> hv byte
    assert enc[hv_off] == 0x11
    enc[hv_off] = 0x22
    assert np.array_equal(jpeg.decode(bytes(enc)), jpeg.decode(jpeg.encode(g, quality=95)))



# computed on the codec whose sequential and progressive scans had separate
# paths: it keeps the progressive == baseline tests anchored now that both
# decode through one path
CODEC_DIGEST = ("bc0a38b5af09dda8a8a4633b4762a7be"
                "acf2e9f523cbd072ecc05610c63a21cf")


def _with_gray_sampling_22(blob: bytes) -> bytes:
    """Rewrite a gray file's SOF sampling byte from 0x11 to 0x22."""
    enc = bytearray(blob)
    sof = max(enc.find(b"\xff\xc0"), enc.find(b"\xff\xc2"))
    hv_off = sof + 2 + 2 + 6 + 1  # marker+len+prec+h+w+ncomp+cid -> hv byte
    assert enc[hv_off] == 0x11
    enc[hv_off] = 0x22
    return bytes(enc)


def test_codec_digest():
    """sha256 over the encoders' bytes and the decoder's pixels for every
    scan layout the codec writes: gray and RGB 4:4:4/4:2:0 at odd sizes,
    restart intervals 0/1/3, the default, spectral-only and deep
    successive-approximation scripts, and gray declared with hv=0x22. The
    progressive == baseline tests compare two decodes; this pins both."""
    h = hashlib.sha256()

    def add(blob: bytes) -> None:
        px = jpeg.decode(blob)
        h.update(blob)
        h.update(repr(px.shape).encode())
        h.update(px.tobytes())

    rng = np.random.RandomState(19)
    gray = (rng.rand(29, 43) * 255).astype(np.uint8)
    rgb = (rng.rand(27, 37, 3) * 255).astype(np.uint8)
    ramp = np.add.outer(np.arange(21), np.arange(35)).astype(np.uint8)
    smooth = np.dstack([ramp, ramp[::-1], np.roll(ramp, 5, axis=1)])
    for img, sub in ((gray, "444"), (rgb, "444"), (rgb, "420"),
                     (smooth, "420")):
        for ri in (0, 1, 3):
            add(jpeg.encode(img, quality=85, subsampling=sub,
                            restart_interval=ri))
            add(jpeg.encode_progressive(img, quality=85, subsampling=sub,
                                        restart_interval=ri))
    for script in (SPECTRAL_ONLY, DEEP_SA):
        for ri in (0, 3):
            add(jpeg.encode_progressive(gray, quality=90, scan_script=script,
                                        restart_interval=ri))
    add(_with_gray_sampling_22(jpeg.encode(gray, quality=95)))
    add(_with_gray_sampling_22(jpeg.encode_progressive(gray, quality=95)))
    assert h.hexdigest() == CODEC_DIGEST


@pytest.mark.parametrize("sub", ["444", "420"])
def test_non_interleaved_sequential_equals_interleaved(sub):
    """T.81 A.2: a sequential file may send each component in its own
    scan (the MCU is then one block of that component's grid, and the
    restart interval counts those blocks). It decodes equal to the one
    interleaved scan of the same coefficients."""
    img = (np.random.RandomState(8).rand(37, 45, 3) * 255).astype(np.uint8)
    scans = [([ci], 0, 63, 0, 0) for ci in range(3)]
    blob = jpeg._encode(img, 88, sub, 2, False, scans)
    assert blob[:4] == b"\xff\xd8\xff\xe0" and b"\xff\xc0" in blob
    assert blob.count(b"\xff\xda") == 3
    interleaved = jpeg.decode(jpeg.encode(img, quality=88, subsampling=sub))
    assert np.array_equal(jpeg.decode(blob), interleaved)


# header byte -> (segment marker, offset from the marker's 0xFF)
_HEADER_BYTES = {
    "sof_ncomp": ("sof", 9), "sof_hv": ("sof", 11), "sof_tq": ("sof", 12),
    "sos_ns": ("sos", 4), "sos_id": ("sos", 5), "sos_tables": ("sos", 6),
    "dht_bits16": ("dht", 20),  # the first table's count of 16-bit codes
}


def _mutate_header(blob: bytes, where: str, value: int) -> bytes:
    """Overwrite one byte of the SOF, the first SOS or the first DHT; the
    SOF and SOS bytes after the component count are the first
    component's."""
    enc = bytearray(blob)
    seg, off = _HEADER_BYTES[where]
    at = {"sof": max(enc.find(b"\xff\xc0"), enc.find(b"\xff\xc2")),
          "sos": enc.find(b"\xff\xda"), "dht": enc.find(b"\xff\xc4")}[seg]
    enc[at + off] = value
    return bytes(enc)


@pytest.mark.parametrize("progressive", [False, True])
@pytest.mark.parametrize("where,value,message", [
    ("sof_hv", 0x01, "sampling factors 0x1 outside 1..4"),
    ("sof_hv", 0x15, "sampling factors 1x5 outside 1..4"),
    ("sos_id", 9, "scan names component 9, absent from SOF"),
    ("sof_tq", 2, "undefined quantization table 2"),
    ("sos_tables", 0x22, "undefined Huffman table DC2"),
    ("sof_ncomp", 0, "truncated or empty JPEG frame header"),
    ("sos_ns", 4, "truncated JPEG scan header"),
    ("dht_bits16", 255, "truncated JPEG Huffman table"),
])
def test_malformed_header_raises_value_error(progressive, where, value,
                                              message):
    """A malformed header is a ValueError with a message, not a
    ZeroDivisionError, StopIteration, KeyError or IndexError from deep
    inside."""
    img = (np.random.RandomState(4).rand(20, 28, 3) * 255).astype(np.uint8)
    blob = (jpeg.encode_progressive if progressive else jpeg.encode)(
        img, quality=80, subsampling="420")
    with pytest.raises(ValueError, match=message):
        jpeg.decode(_mutate_header(blob, where, value))


def test_truncated_restart_interval_raises_value_error():
    """A DRI segment with one payload byte is a ValueError, not the
    struct.error of unpacking two bytes from one."""
    g = np.add.outer(np.arange(16), np.arange(16)).astype(np.uint8)
    enc = jpeg.encode(g, restart_interval=1)
    at = enc.find(b"\xff\xdd\x00\x04")
    assert at > 0
    cut = enc[:at] + b"\xff\xdd\x00\x03" + enc[at + 4:at + 5] + enc[at + 6:]
    with pytest.raises(ValueError, match="truncated JPEG restart interval"):
        jpeg.decode(cut)


@pytest.mark.parametrize("progressive", [False, True])
@pytest.mark.parametrize("h,w,message", [
    (65535, 65535, "coefficient samples, above"),
    (0, 16, "zero size"),
    (16, 0, "zero size"),
])
def test_frame_size_is_checked_before_allocation(progressive, h, w, message):
    """The SOF's dimensions size the coefficient store before any scan data
    is read: a forged 65535x65535 frame (16 GiB of int32 coefficients) and
    a zero-size frame are ValueErrors, not a MemoryError or an empty page."""
    g = np.add.outer(np.arange(16), np.arange(16)).astype(np.uint8)
    enc = bytearray((jpeg.encode_progressive if progressive else jpeg.encode)(g))
    at = max(enc.find(b"\xff\xc0"), enc.find(b"\xff\xc2"))
    enc[at + 5:at + 9] = struct.pack(">HH", h, w)
    with pytest.raises(ValueError, match=message):
        jpeg.decode(bytes(enc))
