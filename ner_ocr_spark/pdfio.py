"""Minimal from-scratch PDF reader/writer for scanned and born-digital pages.

The reference ingests PDFs by rasterizing each page with pypdfium2
(/root/reference/src/pdf_processing.py:21-73); this container has no
rasterizer, so this module reads the common page shapes itself:

  * `extract_page_content(blob)` is the reader the pipeline uses: one
    ("image", 2-D uint8 array) or ("text", [line, ...]) per page, in
    page-tree order. `extract_page_images` is its raster-only form,
    `pdf_info` reads the /Info metadata, and `read_pdf` returns both
    from one open;
  * `encode_image_pdf(pages)` / `encode_text_pdf(pages)` write the same
    shapes — the test-fixture generators, so the fixtures are
    self-verifying round trips;
  * `pdfio_page_source` adapts the reader to the operators.pdf
    `Rasterizer` contract, so the PDF branch runs WITHOUT pypdfium2
    installed (operators/pdf.default_page_source falls back here).

The reader has one path through a file:

  * one open (`_open_pdf`): a brute-force object scan (no xref trust —
    works on linearized, appended and xref-damaged files), /ObjStm
    expansion, the newest trailer dictionary for /Root, /Encrypt + /ID
    and /Info (classic trailers and cross-reference streams alike), the
    standard security handler with an empty user password (RC4 40/128,
    AES-128, AES-256), and the page-tree walk in /Kids order;
  * one byte-level filter chain (`_decode_stream`): ASCIIHex, Flate and
    RunLength, with the TIFF (2) and PNG (10-15) predictors. DCT (the
    repo's own jpeg codec) and CCITT G3/G4 (`ner_ocr_spark/ccitt.py`) are
    the pixel decoders after it; samples may be 1/2/4/8-bit gray, RGB,
    /Indexed palettes, /ImageMask stencils or /Decode remaps;
  * one content-stream walk (`_walk_content`): it tracks the graphics
    state, follows `Do` into Form XObjects, and reports image draws
    (XObject and BI..ID..EI inline) and text runs. Image pages composite
    their draws (multi-strip scans, /Rotate); pages with no raster
    content lay out their text runs (simple fonts, /Differences,
    /ToUnicode CMaps, TJ kerning).

Out-of-subset constructs fail with a distinct PdfError that the pipeline
absorbs per row (M6): non-Standard security handlers or user passwords,
ICC/Separation colorspaces, JBIG2/JPX, Type0 fonts without /ToUnicode,
and pages of vector graphics with no text (those genuinely need a
rasterizer — plug pypdfium2 or any callable via `rasterizer=`).
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np

from ner_ocr_spark import jpeg, png


class PdfError(ValueError):
    """Raised for files outside the supported subset (absorbed per-row)."""


@dataclass(frozen=True)
class Ref:
    num: int


class Name(str):
    """A PDF /Name token (distinct from a string literal)."""

    __slots__ = ()


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Scanner:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        d, n = self.data, len(self.data)
        while self.pos < n:
            c = d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment to end of line
                while self.pos < n and d[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def parse(self):
        """Parse one PDF object at the cursor; leaves cursor after it."""
        self._skip_ws()
        d = self.data
        p = self.pos
        if p >= len(d):
            raise PdfError("unexpected end of file while parsing object")
        c = d[p]
        if d[p : p + 2] == b"<<":
            return self._parse_dict()
        if c == 0x3C:  # '<' hex string
            return self._parse_hex_string()
        if c == 0x5B:  # '['
            return self._parse_array()
        if c == 0x28:  # '('
            return self._parse_literal_string()
        if c == 0x2F:  # '/'
            return self._parse_name()
        if c in b"+-.0123456789":
            return self._parse_number_or_ref()
        for kw, val in ((b"true", True), (b"false", False), (b"null", None)):
            if d[p : p + len(kw)] == kw:
                self.pos = p + len(kw)
                return val
        raise PdfError(f"unexpected byte 0x{c:02X} at offset {p}")

    def _parse_dict(self):
        self.pos += 2
        out: dict[str, object] = {}
        while True:
            self._skip_ws()
            if self.data[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                return out
            key = self.parse()
            if not isinstance(key, Name):
                raise PdfError("dictionary key is not a /Name")
            out[str(key)] = self.parse()

    def _parse_array(self):
        self.pos += 1
        out: list[object] = []
        while True:
            self._skip_ws()
            if self.data[self.pos] == 0x5D:  # ']'
                self.pos += 1
                return out
            out.append(self.parse())

    def _parse_name(self) -> Name:
        self.pos += 1
        start = self.pos
        d, n = self.data, len(self.data)
        while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        raw = d[start : self.pos]
        # #xx escapes (rare in the subset but cheap to honor)
        if b"#" in raw:
            raw = re.sub(rb"#([0-9A-Fa-f]{2})",
                         lambda m: bytes([int(m.group(1), 16)]), raw)
        return Name(raw.decode("latin-1"))

    def _parse_literal_string(self) -> bytes:
        self.pos += 1
        out = bytearray()
        depth = 1
        d, n = self.data, len(self.data)
        while self.pos < n:
            c = d[self.pos]
            self.pos += 1
            if c == 0x5C:  # backslash
                if self.pos >= n:
                    break
                e = d[self.pos]
                self.pos += 1
                if e in b"01234567":  # \ddd octal (1-3 digits)
                    code = e - 0x30
                    for _ in range(2):
                        if self.pos < n and d[self.pos] in b"01234567":
                            code = code * 8 + (d[self.pos] - 0x30)
                            self.pos += 1
                    out.append(code & 0xFF)
                elif e in b"\r\n":  # line continuation: \<eol> is dropped
                    if e == 0x0D and self.pos < n and d[self.pos] == 0x0A:
                        self.pos += 1
                else:
                    mapped = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}
                    out.append(mapped.get(e, e))
            elif c == 0x28:
                depth += 1
                out.append(c)
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            else:
                out.append(c)
        raise PdfError("unterminated literal string")

    def _parse_hex_string(self) -> bytes:
        self.pos += 1
        end = self.data.index(b">", self.pos)
        hexs = re.sub(rb"[^0-9A-Fa-f]", b"", self.data[self.pos : end])
        self.pos = end + 1
        if len(hexs) % 2:
            hexs += b"0"
        return bytes.fromhex(hexs.decode("ascii"))

    def _parse_number_or_ref(self):
        start = self.pos
        d, n = self.data, len(self.data)
        while self.pos < n and d[self.pos] in b"+-.0123456789eE":
            self.pos += 1
        tok = d[start : self.pos]
        if b"." in tok or b"e" in tok.lower():
            return float(tok)
        value = int(tok)
        # lookahead for "<gen> R" making this an indirect reference
        save = self.pos
        self._skip_ws()
        m = re.match(rb"(\d+)", d[self.pos :])
        if m and value >= 0:
            p2 = self.pos + m.end()
            s2 = _Scanner(d, p2)
            s2._skip_ws()
            if d[s2.pos : s2.pos + 1] == b"R" and (
                s2.pos + 1 >= n or d[s2.pos + 1] in _WS or d[s2.pos + 1] in _DELIM
            ):
                self.pos = s2.pos + 1
                return Ref(value)
        self.pos = save
        return value


_OBJ_RE = re.compile(rb"(?<![0-9])(\d+)\s+(\d+)\s+obj\b")


def _scan_objects(blob: bytes):
    """All direct indirect objects as ({num: (value, stream_bytes|None)},
    {num: byte position}), WITHOUT /ObjStm expansion, so the encryption
    layer can decrypt container streams before `_expand_objstms`.

    Brute-force scan instead of xref-table walking: immune to broken or
    appended xrefs. Later definitions of the same object number win
    (incremental-update semantics) — with "later" judged by byte position,
    and matches whose `N G obj` happens to fall INSIDE an established
    stream payload skipped (compressed bytes can fake the token and would
    otherwise shadow a real object)."""
    if blob[:5] != b"%PDF-":
        raise PdfError("not a PDF (missing %PDF- header)")
    # pass 1: direct scan, skipping matches inside known stream extents.
    # raw: num -> (value, stream_start, match_pos)
    raw: dict[int, tuple[object, int | None]] = {}
    pos_of: dict[int, int] = {}
    covered_until = 0
    for m in _OBJ_RE.finditer(blob):
        if m.start() < covered_until:
            continue  # inside a previous object's stream payload
        num = int(m.group(1))
        sc = _Scanner(blob, m.end())
        try:
            value = sc.parse()
        except PdfError:
            continue
        sc._skip_ws()
        stream_start = None
        if blob[sc.pos : sc.pos + 6] == b"stream":
            p = sc.pos + 6
            if blob[p : p + 2] == b"\r\n":
                p += 2
            elif blob[p : p + 1] == b"\n":
                p += 1
            stream_start = p
            # establish the stream's extent so in-payload fake `obj`
            # tokens are skipped. /Length may be an (unresolved) Ref —
            # fall back to the next endstream, which can only UNDER-cover
            # (equivalent to the pre-fix behavior, never worse). A literal
            # /Length is NOT trusted on its own either: a lying /Length
            # that over-claims past the actual endstream would swallow
            # real `N G obj` definitions that follow (corrupt-Length
            # files regressed vs the pre-extent brute scan) — clamp to
            # the first endstream at/after the payload start so a bad
            # /Length can only UNDER-cover, never hide later objects.
            length = value.get("Length") if isinstance(value, dict) else None
            end = blob.find(b"endstream", p)
            if isinstance(length, int):
                claimed = p + length
                # CORROBORATED /Length is trusted for the full extent: when
                # the claimed end is followed by (ws +) 'endstream', the
                # literal is telling the truth, and a compressed payload
                # that happens to contain the bytes 'endstream' EARLIER
                # must not re-expose its tail to fake `N G obj` token
                # shadowing (round-5 ADVICE — the min() clamp alone undid
                # the round-3 extent fix for exactly those payloads).
                # Uncorroborated /Length still clamps to the first
                # endstream so an over-claiming lie cannot hide later
                # real objects.
                tail = blob[claimed:claimed + 16]
                if tail.lstrip(b"\r\n\t\x0c ").startswith(b"endstream"):
                    ext = claimed
                elif end < 0:
                    ext = claimed
                else:
                    ext = min(claimed, end)
                covered_until = max(covered_until, ext)
            elif end >= 0:
                covered_until = max(covered_until, end)
        # finditer yields ascending positions, so assignment alone IS
        # later-definition-wins; pos_of feeds the ObjStm pass-2 compare
        raw[num] = (value, stream_start)
        pos_of[num] = m.start()

    def resolve(v):
        if isinstance(v, Ref):
            if v.num not in raw:
                raise PdfError(f"dangling reference to object {v.num}")
            return resolve(raw[v.num][0])
        return v

    out: dict[int, tuple[object, bytes | None]] = {}
    for num, (value, stream_start) in raw.items():
        stream = None
        if stream_start is not None:
            if not isinstance(value, dict):
                raise PdfError(f"object {num}: stream without a dictionary")
            length = resolve(value.get("Length"))
            if not isinstance(length, int):
                # tolerate a missing/odd /Length by searching endstream
                end = blob.find(b"endstream", stream_start)
                if end < 0:
                    raise PdfError(f"object {num}: unterminated stream")
                stream = blob[stream_start:end].rstrip(b"\r\n")
            else:
                stream = blob[stream_start : stream_start + length]
        out[num] = (value, stream)

    return out, pos_of


def _expand_objstms(out: dict, pos_of: dict[int, int]) -> None:
    """Pass 2: expand /ObjStm containers (PDF 1.5+) in place. Members
    carry the container's byte position for later-definition-wins."""
    for num, (value, stream) in list(out.items()):
        if not (isinstance(value, dict) and value.get("Type") == "ObjStm"):
            continue
        if stream is None:
            raise PdfError(f"object {num}: /ObjStm without a stream")
        try:
            members = _expand_objstm(out, value, stream)
        except PdfError:
            raise
        except Exception as e:  # noqa: BLE001 — malformed container
            raise PdfError(f"object {num}: bad /ObjStm ({e})") from e
        base = pos_of.get(num, 0)
        for mnum, mval in members.items():
            if mnum not in pos_of or base >= pos_of[mnum]:
                out[mnum] = (mval, None)
                pos_of[mnum] = base


def _filters(sdict: dict) -> list[str]:
    f = sdict.get("Filter")
    if f is None:
        return []
    if isinstance(f, list):
        return [str(x) for x in f]
    return [str(f)]


def _filter_parms(objs, sdict: dict, i: int) -> dict:
    """The /DecodeParms of filter `i` of a stream's chain: array-form
    parms hold one slot per filter (null placeholders allowed), a single
    dictionary serves every filter."""
    p = _deref(objs, sdict.get("DecodeParms"))
    if isinstance(p, list):
        p = _deref(objs, p[i]) if i < len(p) else None
    return p if isinstance(p, dict) else {}


def _decode_stream(objs, sdict: dict, stream: bytes) -> bytes:
    """Apply a stream's byte-level /Filter chain in order — ASCIIHex,
    Flate (with its /DecodeParms predictor) and RunLength — for every
    stream the reader decodes: content, form, /ObjStm, /ToUnicode,
    palette and image data. The one inflate call site. Image decoding
    peels a trailing DCT or CCITT pixel filter before calling this."""
    filters = _filters(sdict)
    data = bytes(stream)
    for i, name in enumerate(filters):
        if name == "ASCIIHexDecode":
            data = _ahx_decode(data)
        elif name == "RunLengthDecode":
            data = _rle_decode(data)
        elif name == "FlateDecode":
            try:
                data = zlib.decompress(data)
            except zlib.error as e:
                raise PdfError(f"bad Flate stream: {e}") from e
            parms = _filter_parms(objs, sdict, i)
            pred = _deref(objs, parms.get("Predictor", 1))
            if pred != 1:
                rgb = _deref(objs, sdict.get("ColorSpace")) == "DeviceRGB"
                data = _predictor_undo(
                    data, pred,
                    _deref(objs, parms.get("Columns", 1)),
                    _deref(objs, parms.get("Colors", 3 if rgb else 1)),
                    _deref(objs, parms.get("BitsPerComponent", 8)),
                )
        else:
            raise PdfError(f"stream filter chain {filters} unsupported")
    return data


def _expand_objstm(objs, sdict: dict, stream: bytes) -> dict[int, object]:
    """Member objects of a /Type /ObjStm container: the decoded stream
    opens with /N (num, offset) integer pairs; member i's body starts at
    /First + offset_i. Members never carry streams (spec rule)."""
    n = _deref(objs, sdict.get("N"))
    first = _deref(objs, sdict.get("First"))
    if not isinstance(n, int) or not isinstance(first, int):
        raise PdfError("/ObjStm missing /N or /First")
    data = _decode_stream(objs, sdict, stream)
    head = _Scanner(data[:first])
    pairs: list[tuple[int, int]] = []
    for _ in range(n):
        num = head.parse()
        off = head.parse()
        if not isinstance(num, int) or not isinstance(off, int):
            raise PdfError("/ObjStm header pair is not two integers")
        pairs.append((num, off))
    members: dict[int, object] = {}
    for num, off in pairs:
        members[num] = _Scanner(data, first + off).parse()
    return members


def _trailer(blob: bytes, objs, pos_of: dict[int, int]) -> dict:
    """The newest trailer dictionary, read for /Root, /Encrypt + /ID and
    /Info: every classic `trailer` dict and every cross-reference STREAM
    dict (PDF 1.5+ files have no `trailer` keyword; the /XRef object
    carries the same keys), merged in file order so each incremental
    update's entries override the ones before it. Trailers and /XRef
    streams are never encrypted, so this runs on the raw scan."""
    found: list[tuple[int, dict]] = []
    for m in re.finditer(rb"trailer", blob):
        try:
            tr = _Scanner(blob, m.end()).parse()
        except (PdfError, IndexError, ValueError):
            continue
        if isinstance(tr, dict):
            found.append((m.start(), tr))
    for num, (value, _) in objs.items():
        if isinstance(value, dict) and value.get("Type") == "XRef":
            found.append((pos_of[num], value))
    merged: dict = {}
    for _, tr in sorted(found, key=lambda t: t[0]):
        merged.update(tr)
    return merged


def _deref(objs, v):
    while isinstance(v, Ref):
        if v.num not in objs:
            raise PdfError(f"dangling reference to object {v.num}")
        v = objs[v.num][0]
    return v


class _CryptContext:
    """File key + cipher selection, for decrypting non-stream data
    (Info strings) after _decrypt_objects has handled the streams."""

    __slots__ = ("key", "aes", "file_key_direct")

    def __init__(self, key: bytes, aes: bool, file_key_direct: bool):
        self.key = key
        self.aes = aes
        self.file_key_direct = file_key_direct  # AESV3: no per-object key

    def decrypt(self, data: bytes, num: int) -> bytes:
        from ner_ocr_spark import crypto

        ek = (self.key if self.file_key_direct
              else crypto.object_key(self.key, num, 0, self.aes))
        if self.aes:
            return crypto.aes_cbc_decrypt(ek, bytes(data))
        return crypto.rc4(ek, bytes(data))


def _decrypt_objects(objs, enc: dict, id0: bytes):
    """Standard security handler, EMPTY user password only (the common
    "encrypted but openable by anyone" shape): authenticate, derive the
    file key, and decrypt every stream payload in place (RC4 for /V 1-2
    and /V4+/CFM /V2; AES-128-CBC for /V4+/CFM /AESV2; AES-256 for
    /V5/R6 AESV3). Cross-reference streams are never encrypted (spec)
    and are skipped. Returns a `_CryptContext` so callers (pdf_info) can
    decrypt STRING values per object too; None when streams are exempt
    (/StmF Identity). Fails CLOSED with distinct messages for
    non-Standard handlers, unsupported revisions, and non-empty user
    passwords — absorbed per row by the pipeline. Subset note: the brute
    scan keeps generation 0 for every object, so per-object keys assume
    gen 0 (re-used generations are vanishingly rare)."""
    from ner_ocr_spark import crypto

    filt = enc.get("Filter")
    if filt != "Standard":
        raise PdfError(
            f"encrypted PDF: security handler {str(filt)!r} unsupported"
        )
    v = _deref(objs, enc.get("V", 0)) or 0
    r = _deref(objs, enc.get("R", 2)) or 2
    if v == 5 and r == 6:
        # AES-256 (PDF 2.0 / Acrobat X+): Algorithm 2.B hash chain; the
        # file key comes straight from /UE; AESV3 uses it for every
        # object (no per-object MD5 salting)
        u_entry = enc.get("U")
        ue_entry = enc.get("UE")
        if not isinstance(u_entry, (bytes, bytearray)) or not isinstance(
            ue_entry, (bytes, bytearray)
        ):
            raise PdfError("encrypted PDF: malformed /U//UE entries")
        key = crypto.check_user_password_r6(b"", u_entry, ue_entry)
        if key is None:
            raise PdfError("encrypted PDF: non-empty user password required")
        for num, (value, stream) in list(objs.items()):
            if stream is None:
                continue
            if isinstance(value, dict) and value.get("Type") == "XRef":
                continue
            try:
                dec = crypto.aes_cbc_decrypt(key, bytes(stream))
            except Exception as e:  # noqa: BLE001 — corrupt ciphertext
                raise PdfError(
                    f"object {num}: decryption failed ({e})"
                ) from e
            objs[num] = (value, dec)
        return _CryptContext(key, True, True)
    if v not in (1, 2, 4) or r not in (2, 3, 4):
        raise PdfError(
            f"encrypted PDF: /V {v} /R {r} unsupported"
        )
    length = _deref(objs, enc.get("Length", 40)) or 40
    key_len = length // 8 if length >= 40 else int(length)
    aes = False
    if v == 4:
        cf = _deref(objs, enc.get("CF", {})) or {}
        stmf = str(_deref(objs, enc.get("StmF", Name("Identity"))))
        if stmf == "Identity":
            return  # streams are not encrypted under Identity
        cfd = _deref(objs, cf.get(stmf, {})) or {}
        cfm = str(cfd.get("CFM", "None"))
        if cfm == "AESV2":
            aes = True
        elif cfm != "V2":
            raise PdfError(f"encrypted PDF: /CFM {cfm} unsupported")
        cl = _deref(objs, cfd.get("Length", length))
        if isinstance(cl, int) and cl:
            # ISO says bytes; older writers put bits — accept either
            key_len = cl // 8 if cl >= 40 else cl
    o_entry = enc.get("O")
    u_entry = enc.get("U")
    p = _deref(objs, enc.get("P", -1))
    if not isinstance(o_entry, (bytes, bytearray)) or not isinstance(
        u_entry, (bytes, bytearray)
    ):
        raise PdfError("encrypted PDF: malformed /O//U entries")
    key = crypto.check_user_password(
        b"", bytes(o_entry), bytes(u_entry), int(p), id0, r, key_len
    )
    if key is None:
        raise PdfError("encrypted PDF: non-empty user password required")
    for num, (value, stream) in list(objs.items()):
        if stream is None:
            continue
        if isinstance(value, dict) and value.get("Type") == "XRef":
            continue
        ok = crypto.object_key(key, num, 0, aes)
        try:
            dec = (crypto.aes128_cbc_decrypt(ok, bytes(stream)) if aes
                   else crypto.rc4(ok, bytes(stream)))
        except Exception as e:  # noqa: BLE001 — corrupt ciphertext
            raise PdfError(f"object {num}: decryption failed ({e})") from e
        objs[num] = (value, dec)
    return _CryptContext(key, aes, False)


_INHERITABLE = ("Rotate", "MediaBox", "Resources")


def _walk_pages(objs, node, acc: list[dict], inherited: dict | None = None) -> None:
    node = _deref(objs, node)
    if not isinstance(node, dict):
        raise PdfError("page-tree node is not a dictionary")
    inherited = dict(inherited or {})
    for key in _INHERITABLE:
        if key in node:
            inherited[key] = node[key]
    t = node.get("Type")
    if t == "Pages" or (t is None and "Kids" in node):
        for kid in _deref(objs, node.get("Kids", [])):
            _walk_pages(objs, kid, acc, inherited)
    elif t == "Page":
        merged = dict(inherited)
        merged.update(node)
        acc.append(merged)
    else:
        raise PdfError(f"unexpected page-tree node /Type /{t}")


def _predictor_undo(
    data: bytes, predictor: int, columns: int, colors: int, bpc: int
) -> bytes:
    """Reverse a Flate /DecodeParms predictor (ISO 32000 §7.4.4.4):
    Predictor 2 = TIFF horizontal differencing of 8-bit samples; 10-15 =
    the PNG row filters (the tag byte leading each row names the actual
    filter, so one decoder covers all six values) — shared with
    png._unfilter. Sub-byte samples filter whole BYTES at stride 1 (PNG
    spec rule, same as png.py's sub-byte depths)."""
    if colors < 1:
        raise PdfError("predictor /Colors must be >= 1")
    if predictor == 2 and bpc == 8:
        rowlen = columns * colors
        h = len(data) // rowlen
        if h == 0:
            raise PdfError("predictor stream shorter than one row")
        arr = np.frombuffer(data[: h * rowlen], dtype=np.uint8).reshape(
            h, columns, colors
        )
        # sample deltas accumulate along the row per component; cumsum in a
        # wide dtype then mask — addition is congruent mod 256
        return (
            np.cumsum(arr, axis=1, dtype=np.int64) & 0xFF
        ).astype(np.uint8).tobytes()
    if 10 <= predictor <= 15 and bpc in (1, 2, 4, 8):
        rowlen = (columns * colors * bpc + 7) // 8
        stride = rowlen + 1
        h = len(data) // stride
        if h == 0:
            raise PdfError("predictor stream shorter than one row")
        raw = np.frombuffer(data[: h * stride], dtype=np.uint8).reshape(h, stride)
        try:
            return png._unfilter(raw, h, rowlen, max(colors * bpc // 8, 1)).tobytes()
        except ValueError as e:
            raise PdfError(f"bad PNG-predictor row: {e}") from e
    raise PdfError(f"predictor {predictor} with {bpc}-bit samples unsupported")


def _ahx_decode(data: bytes) -> bytes:
    """ASCIIHexDecode: hex digits (whitespace ignored) to `>` EOD; an odd
    trailing digit pads with 0."""
    end = data.find(b">")
    hexs = re.sub(rb"[^0-9A-Fa-f]", b"", data if end < 0 else data[:end])
    if len(hexs) % 2:
        hexs += b"0"
    return bytes.fromhex(hexs.decode("ascii"))


def _rle_decode(data: bytes) -> bytes:
    """RunLengthDecode (ISO 32000 §7.4.5): length byte L < 128 copies the
    next L+1 bytes; L > 128 repeats the next byte 257-L times; 128 = EOD."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = data[i]
        i += 1
        if run == 128:
            break
        if run < 128:
            if i + run + 1 > n:
                raise PdfError("truncated RunLength literal run")
            out += data[i : i + run + 1]
            i += run + 1
        else:
            if i >= n:
                raise PdfError("truncated RunLength repeat run")
            out += bytes([data[i]]) * (257 - run)
            i += 1
    return bytes(out)


def _rle_encode(data: bytes) -> bytes:
    """RunLengthDecode writer twin (fixture generator)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        j = i
        while j < n - 1 and j - i < 127 and data[j] == data[j + 1]:
            j += 1
        if j > i:
            out += bytes([257 - (j - i + 1), data[i]])
            i = j + 1
        else:
            k = i
            while k < n and k - i < 128:
                if k < n - 2 and data[k] == data[k + 1] == data[k + 2]:
                    break
                k += 1
            out += bytes([k - i - 1]) + data[i:k]
            i = k
    out.append(128)
    return bytes(out)


def _samples_from_rows(data: bytes, w: int, h: int, bpc: int) -> np.ndarray:
    """Byte-aligned rows of `bpc`-bit samples -> (h, w) integer array."""
    rowbytes = (w * bpc + 7) // 8
    if len(data) < h * rowbytes:
        raise PdfError("image stream shorter than Height*rowbytes")
    rows = np.frombuffer(data[: h * rowbytes], dtype=np.uint8).reshape(
        h, rowbytes
    )
    if bpc == 8:
        return rows[:, :w].astype(np.uint16)
    bits = np.unpackbits(rows, axis=1)[:, : w * bpc]
    weights = (1 << np.arange(bpc - 1, -1, -1)).astype(np.uint16)
    return (
        bits.reshape(h, w, bpc).astype(np.uint16) * weights
    ).sum(axis=2).astype(np.uint16)


def _gray_from_samples(
    data: bytes, w: int, h: int, bpc: int, decode: list | None
) -> np.ndarray:
    """Byte-aligned rows of `bpc`-bit gray samples -> (h, w) uint8, with
    the optional /Decode [d0 d1] sample remap (e.g. [1 0] = inverted
    bilevel, the common fax-scan orientation)."""
    samples = _samples_from_rows(data, w, h, bpc).astype(np.float64)
    maxval = float((1 << bpc) - 1)
    d0, d1 = (decode if decode else [0.0, 1.0])[:2]
    gray = (float(d0) + samples / maxval * (float(d1) - float(d0))) * 255.0
    return np.clip(np.rint(gray), 0, 255).astype(np.uint8)


_PIXEL_FILTERS = ("DCTDecode", "CCITTFaxDecode")


def _decode_image_xobject(objs, image_dict: dict, stream: bytes) -> np.ndarray:
    imagemask = _deref(objs, image_dict.get("ImageMask", False)) is True
    # /ImageMask images are 1-bit by definition (sample 0 paints the fill
    # colour — black ink on a scanned page); decoded as bilevel gray
    bpc = 1 if imagemask else _deref(objs, image_dict.get("BitsPerComponent", 8))
    if bpc not in (1, 2, 4, 8):
        raise PdfError(f"{bpc}-bit image samples unsupported (1/2/4/8)")
    w = _deref(objs, image_dict.get("Width"))
    h = _deref(objs, image_dict.get("Height"))
    if not isinstance(w, int) or not isinstance(h, int):
        raise PdfError("image missing /Width or /Height")
    # byte-level filters first (e.g. ASCIIHex before DCT, how editors keep
    # inline images printable), then the pixel decoder, if any
    filters = _filters(image_dict)
    pixel = filters[-1] if filters and filters[-1] in _PIXEL_FILTERS else None
    data = _decode_stream(
        objs, {**image_dict, "Filter": filters[:-1]} if pixel else image_dict,
        stream,
    )
    if pixel == "DCTDecode":
        return png.to_gray(jpeg.decode(data))
    if pixel == "CCITTFaxDecode":
        parms = _filter_parms(objs, image_dict, len(filters) - 1)
        k = _deref(objs, parms.get("K", 0))
        if not isinstance(k, int):
            raise PdfError(f"CCITT K={k!r} is not an integer")
        byte_align = bool(_deref(objs, parms.get("EncodedByteAlign", False)))
        if byte_align and k != 0:
            raise PdfError("CCITT EncodedByteAlign supported for K=0 only")
        from ner_ocr_spark import ccitt

        cols = _deref(objs, parms.get("Columns", 1728))
        if cols < w:
            raise PdfError(
                f"CCITT /Columns {cols} < /Width {w} — truncated scanlines"
            )
        try:
            if k < 0:
                bits = ccitt.decode_g4(data, cols, h)
            else:
                bits = ccitt.decode_g3(data, cols, h, k=k,
                                       byte_align=byte_align)
        except ccitt.CcittError as e:
            raise PdfError(f"bad CCITT stream (K={k}): {e}") from e
        # spec sample chain: CCITT color -> sample bit (/BlackIs1 names
        # which bit is black; default false = black is 0) -> /Decode
        # [d0 d1] maps sample to the gray range
        black_is_1 = bool(_deref(objs, parms.get("BlackIs1", False)))
        black = bits[:, :w] != 0
        sample = black if black_is_1 else ~black
        decode = _deref(objs, image_dict.get("Decode")) or [0, 1]
        d0, d1 = float(decode[0]), float(decode[1])
        gray = np.where(sample, d1, d0) * 255.0
        return np.clip(np.rint(gray), 0, 255).astype(np.uint8)
    cs = _deref(objs, image_dict.get("ColorSpace", "DeviceGray"))
    decode = _deref(objs, image_dict.get("Decode"))
    if imagemask or cs == "DeviceGray":
        return _gray_from_samples(data, w, h, bpc, decode)
    if isinstance(cs, list) and cs and str(cs[0]) == "Indexed":
        # [/Indexed base hival lookup]: samples are palette indices
        base = _deref(objs, cs[1])
        hival = _deref(objs, cs[2])
        lk = cs[3]
        if isinstance(lk, Ref):
            lval, lstream = objs.get(lk.num, (None, None))
            if lstream is None:
                raise PdfError("Indexed lookup stream missing")
            lookup = _decode_stream(
                objs, lval if isinstance(lval, dict) else {}, lstream
            )
        elif isinstance(lk, (bytes, bytearray)):
            lookup = bytes(lk)
        else:
            raise PdfError("Indexed lookup must be a string or stream")
        ncomp = {"DeviceRGB": 3, "DeviceGray": 1}.get(str(base))
        if ncomp is None:
            raise PdfError(f"Indexed base {base} unsupported")
        if len(lookup) < (hival + 1) * ncomp:
            raise PdfError("Indexed lookup shorter than (hival+1)*ncomp")
        idx = np.minimum(_samples_from_rows(data, w, h, bpc), hival)
        pal = np.frombuffer(
            lookup[: (hival + 1) * ncomp], dtype=np.uint8
        ).reshape(hival + 1, ncomp)
        px = pal[idx]
        return px[..., 0] if ncomp == 1 else png.to_gray(px)
    if cs == "DeviceRGB":
        if bpc != 8:
            raise PdfError("sub-8-bit DeviceRGB unsupported")
        if len(data) < w * h * 3:
            raise PdfError("image stream shorter than Width*Height*3")
        rgb = np.frombuffer(data[: w * h * 3], dtype=np.uint8)
        return png.to_gray(rgb.reshape(h, w, 3))
    raise PdfError(f"colorspace {cs} unsupported (DeviceGray/DeviceRGB)")


# inline-image (BI..ID..EI) abbreviated keys/values (ISO 32000 tbl 91/92)
_INLINE_KEYS = {
    "W": "Width", "H": "Height", "BPC": "BitsPerComponent",
    "CS": "ColorSpace", "F": "Filter", "DP": "DecodeParms",
    "D": "Decode", "IM": "ImageMask", "L": "Length",
}
_INLINE_VALS = {
    "G": "DeviceGray", "RGB": "DeviceRGB", "I": "Indexed",
    "Fl": "FlateDecode", "CCF": "CCITTFaxDecode", "DCT": "DCTDecode",
    "RL": "RunLengthDecode", "AHx": "ASCIIHexDecode",
}


def _norm_inline(v):
    if isinstance(v, Name):
        return Name(_INLINE_VALS.get(str(v), str(v)))
    if isinstance(v, list):
        return [_norm_inline(x) for x in v]
    return v


def _inline_image(sc: _Scanner) -> tuple[dict, bytes, np.ndarray] | None:
    """The inline image after a `BI` operator as (image dict, payload,
    bitmap), or None when it cannot be decoded; leaves the cursor after
    its `EI` — fax-converter PDFs often carry the page scan INLINE rather
    than as an XObject. The EI terminator may legally occur inside binary
    payload, so each whitespace-delimited candidate is DECODE-VERIFIED (a
    false early EI yields a too-short stream and fails, and the search
    moves on). An undecodable section is skipped through its first EI, so
    its binary payload never tokenizes as operators."""
    data, start = sc.data, sc.pos
    d: dict = {}
    try:
        while True:
            sc._skip_ws()
            if data[sc.pos : sc.pos + 2] == b"ID":
                sc.pos += 2
                break
            key, val = sc.parse(), sc.parse()
            if isinstance(key, Name):
                d[_INLINE_KEYS.get(str(key), str(key))] = _norm_inline(val)
    except (PdfError, IndexError, ValueError):
        pass  # malformed header: skip from BI through the first EI
    else:
        start = sc.pos + 1  # exactly one whitespace byte follows ID
        q = data.find(b"EI", start)
        while q >= 0:
            nb = data[q + 2 : q + 3]
            if (q > start and data[q - 1] in _WS
                    and (nb == b"" or nb[0] in _WS or nb[0] in _DELIM)):
                for cand in (data[start : q - 1], data[start:q]):
                    try:
                        img = _decode_image_xobject({}, d, cand)
                    except Exception:  # noqa: BLE001 — try next candidate
                        continue
                    sc.pos = q + 2
                    return d, cand, img
            q = data.find(b"EI", q + 2)
    end = data.find(b"EI", start)
    sc.pos = len(data) if end < 0 else end + 2
    return None


def _mat_mul(m1, m2):
    """2-D affine (a b c d e f) composition: apply m1 then m2."""
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (
        a1 * a2 + b1 * c2, a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2, c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2, e1 * b2 + f1 * d2 + f2,
    )


def _compose_page(draws: list, media) -> np.ndarray:
    """Paint multiple axis-aligned image draws (bitmap, CTM) onto one page
    canvas in content order (later over earlier) — the multi-strip
    scanner shape, where each page arrives as a stack of image bands.
    Negative scales flip; canvas resolution follows the densest draw so
    no strip loses pixels."""
    placed = []
    for img, (a, b, c, d, e, f) in draws:
        if a < 0:
            img = img[:, ::-1]
        if d < 0:
            img = img[::-1, :]
        x0, x1 = sorted((e, e + a))
        y0, y1 = sorted((f, f + d))
        placed.append((img, x0, y0, x1, y1))
    mx0, my0, mx1, my1 = (float(v) for v in media)
    pw, ph = max(mx1 - mx0, 1e-6), max(my1 - my0, 1e-6)
    # pixels per point: keep the densest strip 1:1; bounded canvas
    s = max(
        max(im.shape[0] / (y1 - y0), im.shape[1] / (x1 - x0))
        for im, x0, y0, x1, y1 in placed
    )
    s = min(s, 20000.0 / max(pw, ph))
    W, H = max(1, round(pw * s)), max(1, round(ph * s))
    canvas = np.full((H, W), 255, dtype=np.uint8)
    for img, x0, y0, x1, y1 in placed:
        cx0, cx1 = round((x0 - mx0) * s), round((x1 - mx0) * s)
        cy0, cy1 = round((my1 - y1) * s), round((my1 - y0) * s)  # y-down
        tw, th = cx1 - cx0, cy1 - cy0
        if tw <= 0 or th <= 0:
            continue
        yi = (np.arange(th) * img.shape[0] // th).clip(0, img.shape[0] - 1)
        xi = (np.arange(tw) * img.shape[1] // tw).clip(0, img.shape[1] - 1)
        tile = img[yi][:, xi]
        ox0, oy0 = max(cx0, 0), max(cy0, 0)
        ox1, oy1 = min(cx1, W), min(cy1, H)
        if ox1 <= ox0 or oy1 <= oy0:
            continue
        canvas[oy0:oy1, ox0:ox1] = tile[oy0 - cy0 : oy1 - cy0,
                                        ox0 - cx0 : ox1 - cx0]
    return canvas


# ---------------------------------------------------------------------------
# vector-text pages (born-digital PDFs)
#
# The reference rasterizes EVERY page and OCRs the bitmap
# (/root/reference/src/pdf_processing.py:21-73, pypdfium2 render). For pages
# whose content is text-showing operators rather than a scanned image,
# extracting the Tj/TJ runs directly is both cheaper and exact — those pages
# skip OCR entirely. Subset: simple fonts (WinAnsi/MacRoman/Standard base
# encodings, /Differences overrides, /ToUnicode CMaps) and Type0 fonts WITH
# a /ToUnicode CMap; Type0 without one is undecodable and fails the page
# closed (absorbed per row).


# WinAnsiEncoding tracks cp1252 for every defined code point; the five
# cp1252 holes (0x81 8D 8F 90 9D) are undefined in WinAnsi too.
def _winansi_table() -> dict[int, str]:
    out = {}
    for b in range(32, 256):
        try:
            out[b] = bytes([b]).decode("cp1252")
        except UnicodeDecodeError:
            pass
    return out


def _macroman_table() -> dict[int, str]:
    out = {}
    for b in range(32, 256):
        try:
            out[b] = bytes([b]).decode("mac-roman")
        except UnicodeDecodeError:
            pass
    return out


# Adobe-Glyph-List subset: the names /Differences arrays actually use for
# Latin text (single-letter names map to themselves; uniXXXX is computed)
_GLYPH_NAMES = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~", "quoteleft": "‘",
    "quoteright": "’", "quotedblleft": "“",
    "quotedblright": "”", "endash": "–", "emdash": "—",
    "bullet": "•", "ellipsis": "…", "fi": "ﬁ",
    "fl": "ﬂ", "germandbls": "ß", "eacute": "é",
    "egrave": "è", "agrave": "à", "ccedilla": "ç",
    "adieresis": "ä", "odieresis": "ö", "udieresis": "ü",
    "Adieresis": "Ä", "Odieresis": "Ö", "Udieresis": "Ü",
    "ntilde": "ñ", "idieresis": "ï", "degree": "°",
    "sterling": "£", "Euro": "€", "copyright": "©",
    "Omega": "Ω", "Delta": "Δ", "pi": "π", "mu": "µ",
}


def _glyph_char(name: str) -> str | None:
    if len(name) == 1:
        return name
    if name in _GLYPH_NAMES:
        return _GLYPH_NAMES[name]
    m = re.fullmatch(r"uni([0-9A-Fa-f]{4})", name)
    if m:
        return chr(int(m.group(1), 16))
    return None


def _parse_tounicode(data: bytes) -> tuple[int, dict[int, str]]:
    """/ToUnicode CMap -> (code byte width, {code: unicode string}).
    Handles begincodespacerange (width), bfchar, and both bfrange forms
    (<lo> <hi> <dst> incrementing, and <lo> <hi> [<d0> <d1> ...])."""
    nbytes = 1
    m = re.search(rb"begincodespacerange(.*?)endcodespacerange", data, re.S)
    if m:
        hexes = re.findall(rb"<([0-9A-Fa-f]+)>", m.group(1))
        if hexes:
            nbytes = max(1, len(hexes[0]) // 2)
    cmap: dict[int, str] = {}

    def _u(hx: bytes) -> str:
        raw = bytes.fromhex(hx.decode("ascii"))
        return raw.decode("utf-16-be", "replace")

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        for src, dst in re.findall(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", m.group(1)
        ):
            cmap[int(src, 16)] = _u(dst)
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        for lo, hi, one, many in re.findall(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
            rb"(?:<([0-9A-Fa-f]+)>|\[((?:\s*<[0-9A-Fa-f]+>)*)\s*\])",
            m.group(1),
        ):
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            if many:
                dsts = re.findall(rb"<([0-9A-Fa-f]+)>", many)
                for k, d in enumerate(dsts[: hi_i - lo_i + 1]):
                    cmap[lo_i + k] = _u(d)
            elif one:
                width = len(one)
                base = int(one, 16)
                for k in range(hi_i - lo_i + 1):
                    cmap[lo_i + k] = _u(b"%0*x" % (width, base + k))
    return nbytes, cmap


def _make_font_decoder(objs, fd: dict):
    """Font dict -> fn(bytes) -> str, or None when undecodable (Type0
    without /ToUnicode). Preference order: /ToUnicode CMap (authoritative
    text mapping), else base encoding (+ /Differences overrides)."""
    tu = fd.get("ToUnicode")
    if isinstance(tu, Ref) and tu.num in objs:
        value, stream = objs[tu.num]
        if stream is not None:
            try:
                data = _decode_stream(
                    objs, value if isinstance(value, dict) else {}, stream
                )
                nbytes, cmap = _parse_tounicode(data)
                if cmap:
                    def dec(bs: bytes, _m=cmap, _n=nbytes) -> str:
                        return "".join(
                            _m.get(int.from_bytes(bs[i : i + _n], "big"),
                                   "�")
                            for i in range(0, len(bs) - len(bs) % _n, _n)
                        )
                    return dec
            except Exception:  # noqa: BLE001 — fall through to encodings
                pass
    if fd.get("Subtype") == "Type0":
        return None  # CID codes without a ToUnicode map are opaque
    enc = _deref(objs, fd.get("Encoding"))
    if enc == "MacRomanEncoding":
        table = _macroman_table()
    elif isinstance(enc, dict):
        base = enc.get("BaseEncoding")
        table = (_macroman_table() if base == "MacRomanEncoding"
                 else _winansi_table())
        diffs = _deref(objs, enc.get("Differences"))
        if isinstance(diffs, list):
            code = 0
            for item in diffs:
                if isinstance(item, (int, float)):
                    code = int(item)
                elif isinstance(item, Name):
                    ch = _glyph_char(str(item))
                    if ch is not None:
                        table[code] = ch
                    code += 1
    else:
        # WinAnsi, or no /Encoding: StandardEncoding agrees with WinAnsi
        # on ASCII, which is all an unmarked simple font uses in practice
        table = _winansi_table()

    def dec(bs: bytes, _t=table) -> str:
        return "".join(_t.get(b, "�") for b in bs)

    return dec


def _content_tokens(data: bytes):
    """Content-stream token iterator: ('val', operand) for strings /
    numbers / names / arrays / dicts (via _Scanner), ('op', keyword) for
    operators, and ('inline', (image dict, payload, bitmap)) for a
    decodable BI..ID..EI inline image. Unparseable bytes are skipped, so a
    string operand (a text layer saying "BI" or "Q") never reads as an
    operator."""
    sc = _Scanner(data, 0)
    n = len(data)
    while True:
        sc._skip_ws()
        if sc.pos >= n:
            return
        c = data[sc.pos]
        if (c in b"([</+-.0123456789"
                and not data[sc.pos : sc.pos + 2] in (b"<>",)):
            try:
                yield ("val", sc.parse())
            except (PdfError, IndexError, ValueError):
                sc.pos += 1
            continue
        start = sc.pos
        while (sc.pos < n and data[sc.pos] not in _WS
               and data[sc.pos] not in _DELIM):
            sc.pos += 1
        if sc.pos == start:
            sc.pos += 1  # stray delimiter (] >) — skip
            continue
        op = data[start : sc.pos].decode("latin-1")
        if op != "BI":
            yield ("op", op)
        elif (image := _inline_image(sc)) is not None:
            yield ("inline", image)


# a TJ kern gap at least this fraction of an em reads as a word space
# (glyph space widths run 0.2-0.33 em; writers kern words apart instead of
# emitting space glyphs)
_KERN_SPACE_EM = 0.15

_IDENT = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)

# Form XObjects nest at most this deep, and a page enters at most
# _FORM_DRAWS of them (forms that each draw the next many times grow
# exponentially with depth); a form already being drawn is not entered
# again, so a form that draws itself ends at once
_FORM_DEPTH = 8
_FORM_DRAWS = 1000

# operators that are legitimate on a text-only page (state, color, text,
# marked content) — anything else flags the page as drawing non-text
_TEXT_PAGE_OPS = {
    "ET", "Tc", "Tw", "Tz", "Ts", "Tr", "BDC", "EMC", "BMC", "MP", "DP",
    "gs", "cs", "CS", "sc", "SC", "scn", "SCN", "g", "G", "rg", "RG",
    "k", "K", "w", "J", "j", "M", "d", "ri", "i",
}


class _Marks:
    """What one page's content draws, in paint order: image draws as
    (image dict, stream bytes | None, CTM), text runs as (y, x, seq,
    text, device font size) with text None when its font cannot be
    decoded, whether any other marking operator ran, the first content
    or form stream that could not be decoded, and the form draws left.
    `bitmap` decodes each drawn image once per page, however often it is
    drawn; an inline image's bitmap, decoded when its EI was verified,
    rides in with its draw."""

    __slots__ = ("draws", "runs", "other", "error", "fonts", "forms_left",
                 "bitmaps")

    def __init__(self) -> None:
        self.draws: list[tuple[dict, bytes | None, tuple]] = []
        self.runs: list[tuple[float, float, int, str | None, float]] = []
        self.other = False
        self.error: PdfError | None = None
        self.fonts: dict[int, object] = {}  # id(font dict) -> decoder
        self.forms_left = _FORM_DRAWS
        # (id(image dict), id(stream)) -> bitmap; both stay alive in draws
        self.bitmaps: dict[tuple[int, int], np.ndarray] = {}

    def bitmap(self, objs, value: dict, stream: bytes | None) -> np.ndarray:
        key = (id(value), id(stream))
        if key not in self.bitmaps:
            if stream is None:
                raise PdfError("image XObject has no stream")
            self.bitmaps[key] = _decode_image_xobject(objs, value, stream)
        return self.bitmaps[key]

    def font(self, objs, fonts: dict, name):
        """Text decoder of font resource `name`, None when undecodable."""
        try:
            fd = _deref(objs, fonts.get(str(name)))
            if not isinstance(fd, dict):
                return None
            if id(fd) not in self.fonts:
                self.fonts[id(fd)] = _make_font_decoder(objs, fd)
            return self.fonts[id(fd)]
        except PdfError:
            return None


def _latin1(bs: bytes) -> str:
    return bs.decode("latin-1")


def _walk_content(objs, data: bytes, res, fonts: dict, ctm, forms: tuple,
                  marks: _Marks) -> None:
    """The one content-stream interpreter, over a page's or a Form
    XObject's decoded stream. It tracks the graphics state (q/Q/cm) and
    the text state (BT, Tf, Td/TD/Tm/T*/TL, Tj/'/"/TJ with kern-gap word
    spacing), resolves `Do` against `res` (this stream's resources),
    and recurses into Form XObjects with the form's /Matrix composed into
    the CTM and the form's own /Resources (falling back to the caller's;
    fonts likewise) — born-digital writers routinely wrap page text in
    forms, and scanners the page image. `forms` holds the object numbers
    of the forms being drawn. Results go to `marks`."""
    res = _deref(objs, res or {}) or {}
    xobjects = _deref(objs, res.get("XObject", {})) or {}
    fonts = _deref(objs, res.get("Font", {})) or fonts
    base_ctm, gsave = ctm, []
    tm = tlm = _IDENT
    tl = fs = 0.0
    dec = _latin1  # no Tf yet
    operands: list = []

    def decode(bs: bytes) -> str | None:
        return None if dec is None else dec(bs)

    def show(text: str | None) -> None:
        if text == "":
            return
        trm = _mat_mul(tm, ctm)
        fs_dev = abs(fs) * max((trm[2] ** 2 + trm[3] ** 2) ** 0.5, 1e-9)
        marks.runs.append((trm[5], trm[4], len(marks.runs), text, fs_dev))

    for kind, tok in _content_tokens(data):
        if kind == "val":
            operands.append(tok)
            continue
        if kind == "inline":
            d, payload, img = tok
            marks.bitmaps[(id(d), id(payload))] = img
            marks.draws.append((d, payload, ctm))
            operands = []
            continue
        op = tok
        try:
            if op == "q":
                gsave.append(ctm)
            elif op == "Q":
                ctm = gsave.pop() if gsave else base_ctm
            elif op == "cm" and len(operands) >= 6:
                ctm = _mat_mul(tuple(float(v) for v in operands[-6:]), ctm)
            elif op == "BT":
                tm = tlm = _IDENT
            elif op == "Tf" and len(operands) >= 2:
                fs = float(operands[-1])
                dec = marks.font(objs, fonts, operands[-2])
            elif op in ("Td", "TD") and len(operands) >= 2:
                tx, ty = float(operands[-2]), float(operands[-1])
                if op == "TD":
                    tl = -ty
                tlm = _mat_mul((1.0, 0.0, 0.0, 1.0, tx, ty), tlm)
                tm = tlm
            elif op == "Tm" and len(operands) >= 6:
                tm = tlm = tuple(float(v) for v in operands[-6:])
            elif op == "T*":
                tlm = _mat_mul((1.0, 0.0, 0.0, 1.0, 0.0, -tl), tlm)
                tm = tlm
            elif op == "TL" and operands:
                tl = float(operands[-1])
            elif op == "Tj" and operands and isinstance(operands[-1], bytes):
                show(decode(operands[-1]))
            elif op == "'" and operands and isinstance(operands[-1], bytes):
                tlm = _mat_mul((1.0, 0.0, 0.0, 1.0, 0.0, -tl), tlm)
                tm = tlm
                show(decode(operands[-1]))
            elif op == '"' and len(operands) >= 3:
                tlm = _mat_mul((1.0, 0.0, 0.0, 1.0, 0.0, -tl), tlm)
                tm = tlm
                show(decode(operands[-1]))
            elif op == "TJ" and operands and isinstance(operands[-1], list):
                parts: list[str | None] = []
                for el in operands[-1]:
                    if isinstance(el, bytes):
                        parts.append(decode(el))
                    elif isinstance(el, (int, float)):
                        # kern gap >= _KERN_SPACE_EM em reads as a space
                        if -float(el) / 1000.0 >= _KERN_SPACE_EM:
                            parts.append(" ")
                show(None if None in parts else "".join(parts))
            elif op == "Do" and operands and isinstance(operands[-1], Name):
                ref = xobjects.get(str(operands[-1]))
                xo = _deref(objs, ref)
                stream = objs[ref.num][1] if isinstance(ref, Ref) else None
                subtype = xo.get("Subtype") if isinstance(xo, dict) else None
                if (subtype == "Form" and stream is not None
                        and ref.num not in forms
                        and len(forms) < _FORM_DEPTH and marks.forms_left):
                    marks.forms_left -= 1
                    try:
                        inner = _decode_stream(objs, xo, stream)
                    except PdfError as e:
                        marks.error = marks.error or e
                    else:
                        mat = _deref(objs, xo.get("Matrix"))
                        fctm = ctm
                        if isinstance(mat, list) and len(mat) == 6:
                            fctm = _mat_mul(tuple(float(v) for v in mat), ctm)
                        _walk_content(objs, inner, xo.get("Resources") or res,
                                      fonts, fctm, forms + (ref.num,), marks)
                else:
                    marks.other = True
                    if subtype == "Image":
                        marks.draws.append((xo, stream, ctm))
            elif op not in _TEXT_PAGE_OPS:
                marks.other = True
        except PdfError:
            raise
        except Exception:  # noqa: BLE001 — malformed operands: skip the op
            pass
        operands = []


def _page_marks(objs, page: dict) -> _Marks:
    """Walk a page's content: its /Contents streams decoded and joined.
    /Contents is a stream, an array of streams, or a reference to such an
    array. A stream that cannot be decoded leaves the content empty and
    is kept as `error` (a text page raises it; an image page falls back
    to its image XObjects in name order)."""
    marks = _Marks()
    contents = page.get("Contents")
    chunks: list[bytes] = []
    try:
        if isinstance(contents, Ref) and isinstance(
                _deref(objs, contents), list):
            contents = _deref(objs, contents)
        for item in (contents if isinstance(contents, list) else [contents]):
            if not isinstance(item, Ref) or item.num not in objs:
                continue
            value, stream = objs[item.num]
            if stream is not None:
                chunks.append(_decode_stream(
                    objs, value if isinstance(value, dict) else {}, stream))
    except PdfError as e:
        marks.error, chunks = e, []
    _walk_content(objs, b"\n".join(chunks), page.get("Resources"), {},
                  _IDENT, (), marks)
    return marks


def _page_bitmap(objs, page: dict, marks: _Marks) -> np.ndarray | None:
    """Grayscale bitmap of a page's image draws, or None when the page
    draws no raster image (the born-digital case — see _page_text_lines).
    One axis-aligned draw IS the page at its native resolution, returned
    exactly; several composite in content order (later over earlier),
    placed by their CTMs; rotated/skewed stamps are dropped from the
    composite (a page with ONLY such draws decodes its first). A page
    whose content draws no image, or could not be read, falls back to
    its own image XObjects, first by name."""
    draws = marks.draws
    if not draws:
        res = _deref(objs, page.get("Resources", {})) or {}
        xobjects = _deref(objs, res.get("XObject", {})) or {}
        for _, ref in sorted((str(n), r) for n, r in xobjects.items()
                             if isinstance(r, Ref)):
            value, stream = objs[ref.num]
            if isinstance(value, dict) and value.get("Subtype") == "Image":
                draws = [(value, stream, _IDENT)]
                break
        else:
            return None
    placed = [(v, s, m) for v, s, m in draws
              if abs(m[1]) <= 1e-9 and abs(m[2]) <= 1e-9
              and abs(m[0]) > 1e-9 and abs(m[3]) > 1e-9]
    if len(placed) > 1:
        media = _deref(objs, page.get("MediaBox")) or None
        if not (isinstance(media, list) and len(media) == 4):
            # subset fallback: bound the draws themselves
            xs = [v for _, _, (a, b, c, d, e, f) in placed for v in (e, e + a)]
            ys = [v for _, _, (a, b, c, d, e, f) in placed for v in (f, f + d)]
            media = [min(xs), min(ys), max(xs), max(ys)]
        return _compose_page(
            [(marks.bitmap(objs, v, s), m) for v, s, m in placed],
            [_deref(objs, v) for v in media])
    value, stream, _ = (placed or draws)[0]
    return marks.bitmap(objs, value, stream)


def _page_text_lines(objs, page: dict, marks: _Marks, rot: int,
                     idx: int) -> list[str]:
    """Positioned text lines of a page with no raster content, top-down,
    left-to-right: runs are bucketed into lines by their device-space
    baseline (tolerance scaled to the font size) and ordered by x within
    a line, after the /Rotate display rotation `rot` maps baseline coords
    into display orientation. Raises PdfError when the content could not
    be decoded, a font cannot be, or the page draws only non-text content
    (path/shading operators with no text at all)."""
    if marks.error is not None:
        raise marks.error
    runs = marks.runs
    if not runs:
        if marks.other:
            raise PdfError(
                f"page {idx}: vector-graphics page without text is outside "
                "the extractor subset; plug a rasterizer (pypdfium2) via "
                "rasterizer="
            )
        return []
    if any(text is None for _, _, _, text, _ in runs):
        raise PdfError(
            f"page {idx}: font without ToUnicode/encoding — text undecodable"
        )

    # /Rotate-aware display coords: (dx across, dy down), so line grouping
    # and ordering match what a viewer (or the raster path) presents
    media = _deref(objs, page.get("MediaBox")) or None
    if isinstance(media, list) and len(media) == 4:
        mx0, my0, mx1, my1 = (float(_deref(objs, v)) for v in media)
    else:
        xs = [x for _, x, _, _, _ in runs]
        ys = [y for y, _, _, _, _ in runs]
        mx0, my0, mx1, my1 = min(xs), min(ys), max(xs), max(ys)

    def display(x: float, y: float) -> tuple[float, float]:
        if rot == 90:
            return (y - my0, x - mx0)
        if rot == 180:
            return (mx1 - x, y - my0)
        if rot == 270:
            return (my1 - y, mx1 - x)
        return (x - mx0, my1 - y)

    placed = []
    for y, x, sq, text, fs_dev in runs:
        dx, dy = display(x, y)
        placed.append((dy, dx, sq, text, fs_dev))
    placed.sort(key=lambda r: (r[0], r[1], r[2]))
    lines: list[str] = []
    cur: list[tuple[float, str]] = []
    cur_dy = None
    for dy, dx, sq, text, fs_dev in placed:
        tol = max(2.0, 0.5 * fs_dev)
        if cur_dy is None or dy - cur_dy > tol:
            if cur:
                # PINNED ASCII edge-ws class, not bare strip(): full-Unicode
                # strip would eat \xa0 etc. and diverge from the normalizer
                # twins + the trim() oracle (round-5 ADVICE)
                joined = " ".join(t for _, t in cur).strip(" \t\n\x0b\f\r")
                if joined:
                    lines.append(joined)
            cur, cur_dy = [], dy
        cur.append((dx, text))
    if cur:
        joined = " ".join(t for _, t in cur).strip(" \t\n\x0b\f\r")
        if joined:
            lines.append(joined)
    return lines


def _read_page(objs, page: dict, idx: int) -> tuple[str, object]:
    """("image", bitmap) or ("text", lines) for one page: one walk of its
    content, then its image draws composite, or its text runs lay out.
    /Rotate (inherited) is a clockwise display rotation in 90° steps —
    scanners emit landscape pages this way and a viewer (or pypdfium2,
    the reference's rasterizer) shows them upright."""
    rot = _deref(objs, page.get("Rotate", 0)) or 0
    if not isinstance(rot, int) or rot % 90:
        raise PdfError(f"page {idx}: bad /Rotate {rot!r}")
    rot %= 360
    marks = _page_marks(objs, page)
    img = _page_bitmap(objs, page, marks)
    if img is None:
        return "text", _page_text_lines(objs, page, marks, rot, idx)
    if rot:
        img = np.rot90(img, -(rot // 90)).copy()
    return "image", img


class _Doc(NamedTuple):
    objs: dict
    pages: list
    trailer: dict
    crypt: _CryptContext | None


def _open_pdf(blob: bytes) -> _Doc:
    """The one document open: object scan, the newest trailer, then —
    for encrypted files (standard handler, empty user password) — the
    decrypt pass BETWEEN the direct scan and /ObjStm expansion, so
    encrypted containers expand from plaintext; then the page tree from
    /Root (else the first /Type /Catalog object)."""
    blob = bytes(blob)
    objs, pos_of = _scan_objects(blob)
    if not objs:
        raise PdfError("no indirect objects found")
    trailer = _trailer(blob, objs, pos_of)
    crypt = None
    if trailer.get("Encrypt") is not None:
        try:
            enc = _deref(objs, trailer["Encrypt"])
        except PdfError:
            enc = None
        if not isinstance(enc, dict):
            # the trailer CLAIMS encryption but the dict is missing or
            # malformed: fail closed — if the claim were true, every
            # stream would decode as garbage
            raise PdfError("encrypted PDF: malformed /Encrypt dictionary")
        ids = trailer.get("ID")
        id0 = b""
        if isinstance(ids, list) and ids and isinstance(ids[0], (bytes, bytearray)):
            id0 = bytes(ids[0])
        crypt = _decrypt_objects(objs, enc, id0)
    _expand_objstms(objs, pos_of)
    root = trailer.get("Root")
    if not isinstance(root, Ref):
        root = next((Ref(num) for num, (value, _) in sorted(objs.items())
                     if isinstance(value, dict)
                     and value.get("Type") == "Catalog"), None)
        if root is None:
            raise PdfError("no /Root catalog found")
    pages: list[dict] = []
    _walk_pages(objs, _deref(objs, root).get("Pages"), pages)
    return _Doc(objs, pages, trailer, crypt)


def _page_content(doc: _Doc) -> list[tuple[str, object]]:
    return [_read_page(doc.objs, page, idx) for idx, page in enumerate(doc.pages)]


def extract_page_images(blob: bytes) -> list[np.ndarray]:
    """PDF bytes -> one grayscale uint8 array per page, in page-tree order.

    Subset semantics: each page contributes its raster image content (the
    scanned-document shape). A page with NO image — including born-digital
    text pages — raises PdfError here; use `extract_page_content` when
    text pages should extract as text instead. Zero-page documents
    return []."""
    out: list[np.ndarray] = []
    for idx, (kind, page) in enumerate(_page_content(_open_pdf(blob))):
        if kind != "image":
            raise PdfError(
                f"page {idx} has no image XObject — vector/text page is "
                "outside the raster subset; use extract_page_content, or "
                "plug a rasterizer (pypdfium2) via rasterizer="
            )
        out.append(page)
    return out


def extract_page_content(blob: bytes) -> list[tuple[str, object]]:
    """PDF bytes -> [("image", 2-D uint8 array) | ("text", [line, ...])]
    per page, in page-tree order — the full-fidelity reader the pipeline
    uses. Pages that draw raster content composite their draws; pages
    with no raster content extract their text-showing operators directly
    (born-digital pages — cheaper AND exact, where the reference
    rasterizes everything and OCRs, its src/pdf_processing.py:21-73). A
    page that is neither (vector graphics only, undecodable font or
    content stream) raises PdfError — absorbed per row by the callers."""
    return _page_content(_open_pdf(blob))


def _pdf_text_string(data: bytes) -> str:
    """PDF text-string decode: UTF-16BE with BOM, else PDFDocEncoding
    (latin-1-compatible for the printable subset)."""
    if data[:2] == b"\xfe\xff":
        return data[2:].decode("utf-16-be", "replace")
    return data.decode("latin-1")


def _info(doc: _Doc) -> dict:
    out: dict[str, object] = {}
    ref = doc.trailer.get("Info")
    value = doc.objs.get(ref.num, (None,))[0] if isinstance(ref, Ref) else None
    if isinstance(value, dict):
        for k, v in value.items():
            if isinstance(v, (bytes, bytearray)):
                raw = bytes(v)
                if doc.crypt is not None:
                    raw = doc.crypt.decrypt(raw, ref.num)
                out[str(k)] = _pdf_text_string(raw)
            elif isinstance(v, (bool, int, float, Name)):
                out[str(k)] = v
    out["n_pages"] = len(doc.pages)
    return out


def pdf_info(blob: bytes) -> dict:
    """Document metadata: the /Info dictionary's entries (Title, Author,
    Subject, dates, ...) decoded as PDF text strings, plus n_pages — what
    a crawl pipeline wants for dedupe keys and date filters. Encrypted
    files decrypt STRING values too: strings encrypt exactly like
    streams (per-object key through R4, the file key under AESV3), which
    the stream-only pass doesn't touch."""
    return _info(_open_pdf(blob))


def read_pdf(blob: bytes) -> tuple[dict, list[tuple[str, object]]]:
    """(pdf_info(blob), extract_page_content(blob)) from one open of the
    file, for callers that want both."""
    doc = _open_pdf(blob)
    return _info(doc), _page_content(doc)


def pdfio_page_source(blob: bytes, zoom: float = 2.0) -> list:
    """OCR-stage page hook over `extract_page_content`: image pages as PNG
    bytes (OCR path), born-digital text pages as a str of newline-joined
    lines (the OCR stage emits those lines DIRECTLY, score 1.0 — no
    rasterize, no OCR). Same signature as a Rasterizer so it plugs into
    every pdf_rasterizer= seam. `zoom` is a rasterization-density knob and
    does not apply to direct bitmap extraction (the embedded scan IS the
    page at its native resolution); it is accepted and ignored.
    compress_level=1: the OCR stage decodes these bytes within seconds of
    encoding them, so cheap compression beats small payloads."""
    out: list = []
    for kind, v in extract_page_content(blob):
        if kind == "text":
            out.append("\n".join(v))
        else:
            out.append(png.encode_gray(v, compress_level=1))
    return out


def encode_text_pdf(pages: list, **kw) -> bytes:
    """Convenience writer for born-digital fixtures: every element of
    `pages` is a list of line strings. See encode_image_pdf's text_*
    options (tounicode / tj_kern / font_size / leading) — pass them with
    or without the text_ prefix."""
    kw = {(k if k.startswith("text_") or k == "objstm" else f"text_{k}"): v
          for k, v in kw.items()}
    return encode_image_pdf(list(pages), **kw)


# ---------------------------------------------------------------------------
# writer


def _predictor_apply(arr: np.ndarray, predictor: int) -> bytes:
    """Forward-filter a 2-D uint8 grayscale array for /DecodeParms
    Predictor `predictor` (the writer-side twin of _predictor_undo; the
    fixtures round-trip through both). 2 = TIFF horizontal differencing;
    10-14 = the corresponding fixed PNG filter per row; 15 = PNG
    "optimum" — here cycling all five filter types so one fixture
    exercises every decoder branch."""
    h, w = arr.shape
    if predictor == 2:
        out = arr.astype(np.int16)
        out[:, 1:] = arr[:, 1:].astype(np.int16) - arr[:, :-1]
        return (out & 0xFF).astype(np.uint8).tobytes()
    if not 10 <= predictor <= 15:
        raise PdfError(f"predictor {predictor} unsupported (2 or 10-15)")
    rows: list[bytes] = []
    prev = np.zeros(w, np.int16)
    for y in range(h):
        row = arr[y].astype(np.int16)
        f = (y % 5) if predictor == 15 else predictor - 10
        left = np.concatenate(([0], row[:-1]))
        upleft = np.concatenate(([0], prev[:-1]))
        if f == 0:
            filt = row
        elif f == 1:
            filt = row - left
        elif f == 2:
            filt = row - prev
        elif f == 3:
            filt = row - (left + prev) // 2
        else:
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pv = np.where((pa <= pb) & (pa <= pc), left,
                          np.where(pb <= pc, prev, upleft))
            filt = row - pv
        rows.append(bytes([f]) + (filt & 0xFF).astype(np.uint8).tobytes())
        prev = row
    return b"".join(rows)


def encode_image_pdf(
    pages: list,
    jpeg_quality: object = None,
    objstm: bool = False,
    predictor: int | None = None,
    rle: bool = False,
    ccitt: bool | str | int = False,
    text_tounicode: bool = False,
    text_tj_kern: bool = False,
    text_font_size: float = 12.0,
    text_leading: float | None = None,
    encrypt: str | None = None,
    info: dict[str, str] | None = None,
) -> bytes:
    """Write a PDF with one image OR text page per element. Each element
    of `pages` is a 2-D uint8 numpy array (embedded as FlateDecode
    /DeviceGray — or RunLengthDecode with rle=True), a 2-D BOOL array
    (embedded as 1-bit DeviceGray bilevel, True = white), raw JPEG bytes
    (embedded as DCTDecode, zero-recompression — the standard scanned-PDF
    shape), or a list of STRINGS — a born-digital TEXT page: one Tj line
    per string on a shared /Helvetica (WinAnsiEncoding by default;
    text_tounicode=True assigns deliberately non-identity byte codes and
    writes a /ToUnicode CMap instead, and text_tj_kern=True kerns words
    apart with TJ adjustments instead of space glyphs — both exist so the
    reader's CMap and kern-gap paths round-trip against our own writer).
    An empty list writes a valid zero-page document (the ADVICE zero-page
    edge case); an empty list ELEMENT writes a blank text page.

    `encrypt` writes the standard security handler with EMPTY user and
    owner passwords ("encrypted but openable by anyone", the common wild
    shape): "rc4-40" (/V 1 /R 2), "rc4-128" (/V 2 /R 3), or "aes-128"
    (/V 4 /R 4, /CFM /AESV2). Stream payloads encrypt per object; the
    cross-reference stream (objstm mode) stays plaintext per spec. These
    fixtures make the reader's decryption path self-verifying.

    Round-4 modes matching the default output of PDF >= 1.5 writers:
    `predictor` (2 or 10-15) predictor-compresses the Flate image data
    with matching /DecodeParms; `objstm=True` packs every non-stream
    object (catalog, page tree, page dicts) into a /ObjStm container and
    replaces the classic xref table + `trailer` with a cross-reference
    STREAM (/Type /XRef, W [1 4 2]) — the shapes the reader's round-4
    widening decodes, making these fixtures self-verifying round-trips."""
    objects: list[bytes] = []  # body of object i+1

    def add(body: bytes) -> int:
        objects.append(body)
        return len(objects)

    page_obj_nums: list[int] = []
    stream_obj_nums: set[int] = set()
    kids_parts: list[bytes] = []
    # object 1 reserved for Catalog, 2 for Pages: append placeholders
    add(b"")  # 1: catalog (filled later)
    add(b"")  # 2: pages (filled later)
    font_num: int | None = None  # shared text font, reserved lazily
    tou_num: int | None = None
    code_map: dict[str, int] = {}  # text_tounicode char -> byte code

    def _text_code(ch: str) -> int:
        if ch in code_map:
            return code_map[ch]
        code = 0x21 + len(code_map)
        if code > 0xFF:
            raise PdfError("text_tounicode page uses > 223 distinct chars")
        code_map[ch] = code
        return code

    def _line_bytes(line: str) -> bytes:
        if text_tounicode:
            return bytes(_text_code(ch) for ch in line)
        try:
            return line.encode("cp1252")
        except UnicodeEncodeError as e:
            raise PdfError(f"text page line not WinAnsi-encodable: {e}")

    def _esc(bs: bytes) -> bytes:
        return (bs.replace(b"\\", b"\\\\")
                .replace(b"(", b"\\(").replace(b")", b"\\)"))

    for item in pages:
        if (isinstance(item, (list, tuple))
                and all(isinstance(s, str) for s in item)):
            # born-digital text page
            if font_num is None:
                font_num = add(b"")  # filled after all pages are seen
                if text_tounicode:
                    tou_num = add(b"")
                    stream_obj_nums.add(tou_num)
            fs = float(text_font_size)
            lead = float(text_leading if text_leading is not None
                         else fs + 2.0)
            pw, ph = 612, 792
            parts = [b"BT /F1 %s Tf 72 %s Td"
                     % (("%g" % fs).encode(), ("%g" % (ph - 72)).encode())]
            for i, line in enumerate(item):
                if i:
                    parts.append(b"0 %s Td" % ("%g" % -lead).encode())
                if text_tj_kern:
                    words = line.split(" ")
                    tj = b" -278 ".join(
                        b"(%s)" % _esc(_line_bytes(w)) for w in words
                    )
                    parts.append(b"[%s] TJ" % tj)
                else:
                    parts.append(b"(%s) Tj" % _esc(_line_bytes(line)))
            parts.append(b"ET")
            content = b"\n".join(parts)
            content_num = add(
                b"<< /Length %d >>\nstream\n%s\nendstream"
                % (len(content), content)
            )
            stream_obj_nums.add(content_num)
            page_num = add(
                b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 %d %d] "
                b"/Resources << /Font << /F1 %d 0 R >> >> /Contents %d 0 R >>"
                % (pw, ph, font_num, content_num)
            )
            page_obj_nums.append(page_num)
            kids_parts.append(b"%d 0 R" % page_num)
            continue
        if isinstance(item, (list, tuple)):
            # multi-strip page (the band-scanner shape): one image XObject
            # per strip, stacked top -> bottom by the content stream's CTMs
            strips = [np.asarray(s, dtype=np.uint8) for s in item]
            if not strips or any(s.ndim != 2 for s in strips):
                raise PdfError("strip page must be a list of 2-D gray arrays")
            w = strips[0].shape[1]
            if any(s.shape[1] != w for s in strips):
                raise PdfError("strips must share a width")
            total_h = sum(s.shape[0] for s in strips)
            strip_nums = []
            for sarr in strips:
                sdata = zlib.compress(sarr.tobytes(), 6)
                n = add(
                    b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
                    b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
                    b"/Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream"
                    % (w, sarr.shape[0], len(sdata), sdata)
                )
                stream_obj_nums.add(n)
                strip_nums.append(n)
            parts, y = [], total_h
            for i, sarr in enumerate(strips):
                y -= sarr.shape[0]
                parts.append(b"q %d 0 0 %d 0 %d cm /Im%d Do Q"
                             % (w, sarr.shape[0], y, i))
            content = b" ".join(parts)
            content_num = add(
                b"<< /Length %d >>\nstream\n%s\nendstream"
                % (len(content), content)
            )
            stream_obj_nums.add(content_num)
            xo = b" ".join(
                b"/Im%d %d 0 R" % (i, n) for i, n in enumerate(strip_nums)
            )
            page_num = add(
                b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 %d %d] "
                b"/Resources << /XObject << %s >> >> /Contents %d 0 R >>"
                % (w, total_h, xo, content_num)
            )
            page_obj_nums.append(page_num)
            kids_parts.append(b"%d 0 R" % page_num)
            continue
        if isinstance(item, (bytes, bytearray)):
            data = bytes(item)
            if data[:2] != b"\xff\xd8":
                raise PdfError("bytes page is not JPEG (missing SOI)")
            arr = jpeg.decode(data)
            h, w = arr.shape[:2]
            ncomp = 1 if arr.ndim == 2 else arr.shape[2]
            cs = b"/DeviceGray" if ncomp == 1 else b"/DeviceRGB"
            filt, parms, bpc = b"/DCTDecode", b"", 8
        elif isinstance(item, np.ndarray) and item.dtype == bool:
            # bilevel page: True = white. ccitt=True writes the classic
            # fax filter (Group 4); default is 1-bit packed Flate
            if item.ndim != 2:
                raise PdfError("bool page must be 2-D")
            h, w = item.shape
            if ccitt:
                from ner_ocr_spark import ccitt as _ccitt

                ink = (~item).astype(np.uint8)
                # ccitt=True/"g4" -> Group 4 (K -1); "g3" -> K 0 pure 1-D;
                # a positive int -> T.4 mixed mode with that K
                if ccitt is True or ccitt == "g4":
                    data, kv = _ccitt.encode_g4(ink), -1
                elif ccitt == "g3":
                    data, kv = _ccitt.encode_g3(ink, k=0), 0
                elif isinstance(ccitt, int) and ccitt > 0:
                    data, kv = _ccitt.encode_g3(ink, k=ccitt), ccitt
                else:
                    raise PdfError(f"ccitt mode {ccitt!r} unsupported")
                filt = b"/CCITTFaxDecode"
                parms = (b"/DecodeParms << /K %d /Columns %d /Rows %d >> "
                         % (kv, w, h))
                cs, bpc = b"/DeviceGray", 1
            else:
                data = zlib.compress(np.packbits(item, axis=1).tobytes(), 6)
                cs, bpc, filt, parms = b"/DeviceGray", 1, b"/FlateDecode", b""
        else:
            arr = np.asarray(item, dtype=np.uint8)
            if arr.ndim != 2:
                raise PdfError("array page must be 2-D grayscale uint8")
            h, w = arr.shape
            if rle:
                data = _rle_encode(arr.tobytes())
                filt, parms, bpc = b"/RunLengthDecode", b"", 8
            else:
                raw = (_predictor_apply(arr, predictor) if predictor
                       else arr.tobytes())
                data = zlib.compress(raw, 6)
                filt, bpc = b"/FlateDecode", 8
                parms = (
                    b"/DecodeParms << /Predictor %d /Columns %d /Colors 1 "
                    b"/BitsPerComponent 8 >> " % (predictor, w)
                ) if predictor else b""
            cs = b"/DeviceGray"
        img_num = add(
            b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
            b"/ColorSpace %s /BitsPerComponent %d /Filter %s %s/Length %d >>\n"
            b"stream\n%s\nendstream"
            % (w, h, cs, bpc, filt, parms, len(data), data)
        )
        stream_obj_nums.add(img_num)
        content = b"q %d 0 0 %d 0 0 cm /Im0 Do Q" % (w, h)
        content_num = add(
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content)
        )
        stream_obj_nums.add(content_num)
        page_num = add(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 %d %d] "
            b"/Resources << /XObject << /Im0 %d 0 R >> >> "
            b"/Contents %d 0 R >>" % (w, h, img_num, content_num)
        )
        page_obj_nums.append(page_num)
        kids_parts.append(b"%d 0 R" % page_num)
    objects[0] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objects[1] = b"<< /Type /Pages /Kids [%s] /Count %d >>" % (
        b" ".join(kids_parts),
        len(page_obj_nums),
    )
    if font_num is not None:
        if text_tounicode:
            # bfranges for consecutive code->unicode runs, bfchar for the
            # rest — both CMap section kinds round-trip through the reader
            items = sorted((c, ord(ch)) for ch, c in code_map.items())
            ranges: list[tuple[int, int, int]] = []  # (lo, hi, uni_lo)
            for c, u in items:
                if ranges and ranges[-1][1] + 1 == c \
                        and u == ranges[-1][2] + (c - ranges[-1][0]):
                    ranges[-1] = (ranges[-1][0], c, ranges[-1][2])
                else:
                    ranges.append((c, c, u))
            bfr = [r for r in ranges if r[1] > r[0]]
            bfc = [(lo, u) for lo, hi, u in ranges if hi == lo]
            cm = [b"/CIDInit /ProcSet findresource begin\n12 dict begin\n"
                  b"begincmap\n1 begincodespacerange <00> <FF> "
                  b"endcodespacerange"]
            if bfc:
                cm.append(b"%d beginbfchar" % len(bfc))
                cm += [b"<%02X> <%04X>" % (lo, u) for lo, u in bfc]
                cm.append(b"endbfchar")
            if bfr:
                cm.append(b"%d beginbfrange" % len(bfr))
                cm += [b"<%02X> <%02X> <%04X>" % (lo, hi, u)
                       for lo, hi, u in bfr]
                cm.append(b"endbfrange")
            cm.append(b"endcmap\nend\nend")
            cmap_data = b"\n".join(cm)
            objects[tou_num - 1] = (
                b"<< /Length %d >>\nstream\n%s\nendstream"
                % (len(cmap_data), cmap_data)
            )
            objects[font_num - 1] = (
                b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
                b"/ToUnicode %d 0 R >>" % tou_num
            )
        else:
            objects[font_num - 1] = (
                b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
                b"/Encoding /WinAnsiEncoding >>"
            )

    # --- optional /Info metadata dictionary -------------------------------
    # reserved BEFORE the encryption setup so the file /ID (a hash of the
    # object bodies) sees a stable placeholder; the body is filled after
    # the key exists because encrypted files encrypt Info's STRING values
    trailer_extra = b""
    info_num: int | None = None
    if info is not None:
        info_num = add(b"")
        stream_obj_nums.add(info_num)  # keep direct: its strings carry
        # their OWN per-object encryption, unlike ObjStm members

    # --- optional standard-security-handler encryption -------------------
    _enc_body = None
    if encrypt is not None:
        from hashlib import md5 as _md5

        from ner_ocr_spark import crypto as _crypto

        modes = {"rc4-40": (1, 2, 40), "rc4-128": (2, 3, 128),
                 "aes-128": (4, 4, 128), "aes-256": (5, 6, 256)}
        if encrypt not in modes:
            raise PdfError(f"encrypt mode {encrypt!r} unsupported")
        v, r, bits = modes[encrypt]
        aes = encrypt in ("aes-128", "aes-256")
        id0 = _md5(b"".join(objects)).digest()
        perms = -44  # typical permission mask; feeds key derivation
        if v == 5:
            # R6: deterministic salts/key from the content hash keep the
            # fixture reproducible; AESV3 uses the file key directly
            from hashlib import sha256 as _sha256

            fkey = _sha256(b"filekey" + id0).digest()
            # FIXED salts (a real writer randomizes them): with the empty
            # password the Algorithm 2.B chain then only ever runs on a
            # handful of distinct inputs, and crypto's lru_cache makes a
            # whole fixture fleet pay the ~1 s pure-python chain once.
            # File keys still differ per document (hash of the content).
            u_entry, ue_entry = _crypto.r6_user_entries(
                b"", fkey, b"UVALSALT", b"UKEYSALT"
            )
            o_entry, oe_entry = _crypto.r6_owner_entries(
                b"", fkey, u_entry, b"OVALSALT", b"OKEYSALT"
            )
            enc_body = (
                b"<< /Filter /Standard /V 5 /R 6 /Length 256 /P %d "
                b"/O <%s> /U <%s> /OE <%s> /UE <%s> "
                b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
                b"/StmF /StdCF /StrF /StdCF"
                % (perms, o_entry.hex().encode(), u_entry.hex().encode(),
                   oe_entry.hex().encode(), ue_entry.hex().encode())
            )
        else:
            key_len = bits // 8
            o_entry = _crypto.owner_entry(b"", b"", r, key_len)
            fkey = _crypto.std_key(b"", o_entry, perms, id0, r, key_len)
            u_entry = _crypto.user_entry(fkey, id0, r)
            enc_body = (
                b"<< /Filter /Standard /V %d /R %d /Length %d /P %d "
                b"/O <%s> /U <%s>"
                % (v, r, bits, perms, o_entry.hex().encode(),
                   u_entry.hex().encode())
            )
            if aes:
                enc_body += (
                    b" /CF << /StdCF << /CFM /AESV2 /Length 16 >> >>"
                    b" /StmF /StdCF /StrF /StdCF"
                )
        enc_body += b" >>"
        enc_num = add(enc_body)
        # /Encrypt must stay a DIRECT object (never inside an ObjStm);
        # listing it with the stream objects keeps it out of the container
        stream_obj_nums.add(enc_num)
        idhex = id0.hex().encode()
        trailer_extra = (b" /Encrypt %d 0 R /ID [<%s> <%s>]"
                         % (enc_num, idhex, idhex))

        def _enc_body(n: int, body: bytes) -> bytes:
            i = body.find(b"stream\n")
            if i < 0:
                return body  # non-stream objects stay plaintext here
            j = body.rfind(b"\nendstream")
            payload = body[i + 7 : j]
            # AESV3 (R6) uses the file key for every object; earlier
            # revisions salt a per-object key (Algorithm 1)
            ek = fkey if v == 5 else _crypto.object_key(fkey, n, 0, aes)
            data = (_crypto.aes_cbc_encrypt(
                        ek, payload, _md5(b"iv:%d" % n).digest())
                    if aes else _crypto.rc4(ek, payload))
            head = re.sub(rb"/Length \d+", b"/Length %d" % len(data),
                          body[:i], count=1)
            return head + b"stream\n" + data + b"\nendstream"

    if info_num is not None:
        # strings always as UTF-16BE-with-BOM hex (lossless unicode);
        # under encryption each string encrypts with the Info object's
        # key (file key for AESV3) — the string form of what _enc_body
        # does for stream payloads
        def _info_str(s: str) -> bytes:
            raw = b"\xfe\xff" + str(s).encode("utf-16-be")
            if encrypt is not None:
                from hashlib import md5 as _md5i

                from ner_ocr_spark import crypto as _crypto_i

                ek = (fkey if v == 5
                      else _crypto_i.object_key(fkey, info_num, 0, aes))
                raw = (_crypto_i.aes_cbc_encrypt(
                           ek, raw, _md5i(b"iv:info").digest())
                       if aes else _crypto_i.rc4(ek, raw))
            return b"<" + raw.hex().encode() + b">"

        parts = [b"/%s %s" % (str(k).encode("ascii"), _info_str(val))
                 for k, val in sorted(info.items())]
        objects[info_num - 1] = b"<< " + b" ".join(parts) + b" >>"
        trailer_extra += b" /Info %d 0 R" % info_num

    if not objstm:
        buf = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
        offsets = [0]
        for i, body in enumerate(objects, start=1):
            offsets.append(len(buf))
            if _enc_body is not None:
                body = _enc_body(i, body)
            buf += b"%d 0 obj\n" % i + body + b"\nendobj\n"
        xref_pos = len(buf)
        buf += b"xref\n0 %d\n" % (len(objects) + 1)
        buf += b"0000000000 65535 f \n"
        for off in offsets[1:]:
            buf += b"%010d 00000 n \n" % off
        buf += (
            b"trailer\n<< /Size %d /Root 1 0 R%s >>\nstartxref\n%d\n%%%%EOF\n"
            % (len(objects) + 1, trailer_extra, xref_pos)
        )
        return bytes(buf)

    # --- objstm + xref-stream form (PDF 1.5) ---
    member_nums = [i + 1 for i in range(len(objects))
                   if i + 1 not in stream_obj_nums]
    direct_nums = sorted(stream_obj_nums)
    container_num = len(objects) + 1
    xref_num = len(objects) + 2

    member_bodies = [objects[n - 1] for n in member_nums]
    header_parts: list[bytes] = []
    off = 0
    for n, body in zip(member_nums, member_bodies):
        header_parts.append(b"%d %d" % (n, off))
        off += len(body) + 1  # members separated by one newline
    header = b" ".join(header_parts) + b"\n"
    payload = header + b"\n".join(member_bodies) + b"\n"
    zpayload = zlib.compress(payload, 6)
    container_body = (
        b"<< /Type /ObjStm /N %d /First %d /Filter /FlateDecode "
        b"/Length %d >>\nstream\n%s\nendstream"
        % (len(member_nums), len(header), len(zpayload), zpayload)
    )

    buf = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    obj_offset: dict[int, int] = {}
    for n in direct_nums + [container_num]:
        obj_offset[n] = len(buf)
        body = objects[n - 1] if n <= len(objects) else container_body
        if _enc_body is not None:
            body = _enc_body(n, body)  # incl. the ObjStm container stream
        buf += b"%d 0 obj\n" % n + body + b"\nendobj\n"

    # xref stream entries, W = [1 4 2]: type, field2, field3
    size = xref_num + 1
    xref_pos = len(buf)
    obj_offset[xref_num] = xref_pos
    member_index = {n: i for i, n in enumerate(member_nums)}
    rows = bytearray()
    for n in range(size):
        if n == 0:
            t, f2, f3 = 0, 0, 0xFFFF
        elif n in member_index:
            t, f2, f3 = 2, container_num, member_index[n]
        else:
            t, f2, f3 = 1, obj_offset[n], 0
        rows += bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
    zrows = zlib.compress(bytes(rows), 6)
    buf += (
        b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R%s "
        b"/Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (xref_num, size, trailer_extra, len(zrows), zrows)
    )
    buf += b"startxref\n%d\n%%%%EOF\n" % xref_pos
    return bytes(buf)
