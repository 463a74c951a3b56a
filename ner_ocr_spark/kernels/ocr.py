"""Classical, deterministic OCR kernel — pure numpy, whole-image array ops.

Replaces the reference's PaddleOCR/TrOCR model calls
(/root/reference/src/bounding_box.py:82-183, /root/reference/src/transformer_ocr.py:189-283)
with a testable classical pipeline (SURVEY.md §2.8 M1/M2):

    decode PNG -> bounded resize -> Otsu binarization -> despeckle ->
    projection-profile deskew -> line segmentation (horizontal projection) ->
    cell segmentation (vertical projection) -> glyph template classification.

Every stage is a pure function; the Spark side wraps `ocr_page` in
`mapInPandas` (see operators/extract.py), and the region crops cut boxes
from `page_frame`'s gray page (operators/crops.py). Emits the
reference's OCRResult shape per line: (poly, box, text, score)
(/root/reference/src/custom_types/data.py:12-22).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from ner_ocr_spark import font
# format-sniffing decode: grayscale/color PNG or baseline JPEG, always
# reduced to the 2-D uint8 page the kernel operates on
from ner_ocr_spark.imageio import decode_image_gray as decode_gray

_TEMPLATES, _CHARS = font.template_stack()
# Templates matched at 3x resolution (21x15) — shrinks the boundary
# quantization error of the glyph resample vs the raw 7x5 grid. Both sides
# of the match are normalized to their ink bounding box (trim + stretch), so
# narrow glyphs like I/1 compare correctly; filled lazily below.
_MATCH_H, _MATCH_W = font.GLYPH_H * 3, font.GLYPH_W * 3

MAX_SIDE_LIMIT = 1500  # reference default, /root/reference/src/config.py:13
# deskew grid of the score-gated second pass (reference TrOCR enhancement
# analog): the same recipe as the first pass, swept 5x finer
REFINE_STEP = 0.05


@dataclass
class LineResult:
    """One recognized text line (reference OCRResult analog)."""

    text: str
    box: list[float]  # [x_min, y_min, x_max, y_max] in deskewed coords
    poly: list[list[float]]  # 4-point rectangle
    score: float


def otsu_threshold(gray: np.ndarray) -> int:
    """Classic Otsu: maximize between-class variance over the 256-bin histogram."""
    hist = np.bincount(gray.ravel(), minlength=256).astype(np.float64)
    total = hist.sum()
    if total == 0:
        return 127
    w0 = np.cumsum(hist)
    w1 = total - w0
    cum_mean = np.cumsum(hist * np.arange(256))
    mean_total = cum_mean[-1]
    with np.errstate(divide="ignore", invalid="ignore"):
        mu0 = cum_mean / w0
        mu1 = (mean_total - cum_mean) / w1
        between = w0 * w1 * (mu0 - mu1) ** 2
    between[~np.isfinite(between)] = -1.0
    return int(np.argmax(between))


def binarize(gray: np.ndarray) -> np.ndarray:
    """Boolean ink mask (True = glyph pixel, at or below the Otsu threshold —
    Otsu's class split is <= k vs > k)."""
    return gray <= otsu_threshold(gray)


def despeckle(mask: np.ndarray) -> np.ndarray:
    """Drop ink pixels with <2 ink 8-neighbors — kills salt noise singletons
    and pairs. Glyph strokes are solid k x k blocks (k = render scale >= 3),
    so every true glyph pixel has >= 3 neighbors."""
    if not mask.any():
        return mask
    p = np.pad(mask, 1)
    # in-place accumulation (sum <= 8 fits uint8; bool adds as 0/1) — the
    # chained + form allocated a fresh full-size temp per term
    neigh = p[:-2, :-2].astype(np.uint8)
    for sl in (
        p[:-2, 1:-1], p[:-2, 2:],
        p[1:-1, :-2], p[1:-1, 2:],
        p[2:, :-2], p[2:, 1:-1], p[2:, 2:],
    ):
        neigh += sl
    return mask & (neigh >= 2)


def bounded_resize(gray: np.ndarray, max_side_limit: int = MAX_SIDE_LIMIT) -> np.ndarray:
    """Downscale so max side <= limit (reference S4 semantics,
    /root/reference/src/image_processing.py:76-134). Integer block-mean —
    an area-style filter with no temp files."""
    h, w = gray.shape
    side = max(h, w)
    if side <= max_side_limit:
        return gray
    k = math.ceil(side / max_side_limit)
    ph, pw = (-h) % k, (-w) % k
    if ph or pw:
        gray = np.pad(gray, ((0, ph), (0, pw)), constant_values=255)
    h2, w2 = gray.shape
    return (
        gray.reshape(h2 // k, k, w2 // k, k).mean(axis=(1, 3)).astype(np.uint8)
    )


def estimate_skew(
    mask: np.ndarray, max_angle: float = 6.0, step: float = 0.25, max_px: int = 20000
) -> float:
    """Projection-profile deskew: pick the rotation angle that maximizes
    sum(p^2) of the row-projection histogram of ink pixels — total ink is
    fixed, so concentration into few rows (aligned text) maximizes it;
    variance would fail on single-line pages whose aligned profile is
    near-uniform. Works on pixel coordinates directly (no per-angle image
    rotation)."""
    ys, xs = np.nonzero(mask)
    if len(ys) < 32:
        return 0.0
    if len(ys) > max_px:
        idx = np.linspace(0, len(ys) - 1, max_px).astype(np.int64)
        ys, xs = ys[idx], xs[idx]
    ysf = ys.astype(np.float32)
    xsf = xs.astype(np.float32)

    # note (round 6): batching the whole angle sweep into one (n_angles,
    # n_px) matrix + offset bincount was MEASURED SLOWER (6.4 vs 4.1
    # ms/page) — the per-angle arrays fit L1/L2 while the batch thrashes —
    # so the scalar loop stays.
    def _obj(ang: float) -> float:
        r = math.radians(ang)
        yprime = ysf * math.cos(r) - xsf * math.sin(r)
        bins = np.round(yprime).astype(np.int64)
        bins -= bins.min()
        counts = np.bincount(bins).astype(np.float64)
        return float((counts * counts).sum())

    best_angle, best_obj = 0.0, -1.0
    for ang in np.arange(-max_angle, max_angle + 1e-9, step):
        o = _obj(float(ang))
        if o > best_obj:
            best_obj, best_angle = o, float(ang)
    # fine pass: residual shear of step/2 erodes single glyph rows (E->F,
    # I->T confusions); a +-step sweep at step/5 cuts the residual 5x for
    # ~10 extra coordinate-array evaluations
    for ang in np.arange(best_angle - step, best_angle + step + 1e-9, step / 5):
        o = _obj(float(ang))
        if o > best_obj:
            best_obj, best_angle = o, float(ang)
    return best_angle


def rotate_gray(gray: np.ndarray, angle_deg: float, bg: int) -> np.ndarray:
    """Bilinear rotation of a grayscale image about the center (canvas
    expanded, background-filled). Used for the deskew correction so the
    re-binarized glyphs stay crisp (a binary nearest-neighbor rotation
    would double the sampling error).

    Bandwidth-lean: a 1-px bg border replaces the validity mask (clipped
    out-of-range reads hit the border and produce exact bg fill), and all
    coordinate math is separable float32 outer sums — the kernel is
    memory-bandwidth-bound at full core saturation."""
    if abs(angle_deg) < 1e-9:
        return gray
    h, w = gray.shape
    r = math.radians(angle_deg)
    c, s = math.cos(r), math.sin(r)
    nh = int(abs(h * c) + abs(w * s) + 1)
    nw = int(abs(w * c) + abs(h * s) + 1)
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    ncy, ncx = (nh - 1) / 2.0, (nw - 1) / 2.0
    dy = (np.arange(nh, dtype=np.float32) - ncy)
    dx = (np.arange(nw, dtype=np.float32) - ncx)
    sy = (c * dy + cy)[:, None] + (s * dx)[None, :]
    sx = (-s * dy + cx)[:, None] + (c * dx)[None, :]
    y0 = np.floor(sy).astype(np.int32)
    x0 = np.floor(sx).astype(np.int32)
    fy = sy - y0
    fx = sx - x0
    # shift into the padded frame; clip so every access lands in-bounds
    np.clip(y0, -1, h, out=y0)
    np.clip(x0, -1, w, out=x0)
    y0 += 1
    x0 += 1
    g = np.full((h + 3, w + 3), np.float32(bg))
    g[1 : h + 1, 1 : w + 1] = gray
    # flat-index float32 gathers upcast to float64 before the first
    # multiply, then reused (1-f) factors + in-place accumulation. fy/fx
    # are float64 (float32 sy minus int32 y0 promotes — original
    # behavior), the gathered sample values are exact in either width, and
    # the multiply/add association order is unchanged, so the result is
    # bit-identical to the 2-D fancy-indexed form at ~2.5x fewer / ~2x
    # narrower passes over full-size temporaries (round-6: this call was
    # ~1/3 of ocr_page)
    gw = w + 3
    flat = y0
    flat *= gw
    flat += x0  # y0/x0 buffers are dead past here — reuse as the index
    gf = g.ravel()
    omfy = 1.0 - fy
    omfx = 1.0 - fx
    v = gf.take(flat).astype(np.float64)
    v *= omfy
    v *= omfx
    t = gf.take(flat + 1).astype(np.float64)
    t *= omfy
    t *= fx
    v += t
    np.add(flat, gw, out=flat)
    t2 = gf.take(flat).astype(np.float64)
    t2 *= fy
    t2 *= omfx
    v += t2
    t3 = gf.take(flat + 1).astype(np.float64)
    t3 *= fy
    t3 *= fx
    v += t3
    return np.clip(np.round(v, out=v), 0, 255).astype(np.uint8)


def _bands(profile: np.ndarray, min_gap: int, min_size: int) -> list[tuple[int, int]]:
    """Contiguous >0 runs of a projection profile, merging runs separated by
    gaps < min_gap and dropping runs smaller than min_size."""
    on = profile > 0
    if not on.any():
        return []
    idx = np.flatnonzero(on)
    breaks = np.flatnonzero(np.diff(idx) > min_gap)
    starts = np.concatenate(([0], breaks + 1))
    ends = np.concatenate((breaks, [len(idx) - 1]))
    return [
        (int(idx[s]), int(idx[e]) + 1)
        for s, e in zip(starts, ends)
        if idx[e] + 1 - idx[s] >= min_size
    ]


def segment_lines(mask: np.ndarray) -> list[tuple[int, int]]:
    """(y0, y1) bands of text lines via horizontal projection."""
    prof = mask.sum(axis=1)
    # glyphs are >=7px tall at scale>=1; tolerate 1-row dropouts inside a line
    return _bands(prof, min_gap=2, min_size=5)


def _trim(mask: np.ndarray) -> tuple[np.ndarray, int, int]:
    ys, xs = np.nonzero(mask)
    if len(ys) == 0:
        return mask[:0, :0], 0, 0
    return mask[ys.min() : ys.max() + 1, xs.min() : xs.max() + 1], int(xs.min()), int(ys.min())


def _trim_robust(mask: np.ndarray, min_count: int) -> np.ndarray:
    """Trim to rows/cols carrying at least min_count ink pixels — a single
    stray rotation-artifact pixel must not extend a glyph's bounding box
    (it shifts the whole resample grid and flips near-tie classifications
    like D/O)."""
    rows = np.flatnonzero(mask.sum(axis=1) >= min_count)
    cols = np.flatnonzero(mask.sum(axis=0) >= min_count)
    if len(rows) == 0 or len(cols) == 0:
        t, _, _ = _trim(mask)
        return t
    return mask[rows[0] : rows[-1] + 1, cols[0] : cols[-1] + 1]


from functools import lru_cache


@lru_cache(maxsize=4096)
def _edges(n_src: int, n_dst: int) -> tuple[np.ndarray, np.ndarray]:
    e = np.round(np.linspace(0, n_src, n_dst + 1)).astype(np.int64)
    lo = np.minimum(e[:-1], n_src - 1)
    hi = np.maximum(np.minimum(e[1:], n_src), lo + 1)
    return lo, hi


def _resample_shifted(cell: np.ndarray, dy: float, dx: float) -> np.ndarray:
    """Resample with a fractional grid shift (sub-pixel alignment probe for
    near-tie disambiguation). Shifts the block edges by (dy, dx) source
    pixels, clamped to valid bounds."""
    h, w = cell.shape
    ye = np.clip(np.round(np.linspace(0, h, _MATCH_H + 1) + dy).astype(np.int64), 0, h)
    xe = np.clip(np.round(np.linspace(0, w, _MATCH_W + 1) + dx).astype(np.int64), 0, w)
    y0 = np.minimum(ye[:-1], h - 1)
    y1 = np.maximum(np.minimum(ye[1:], h), y0 + 1)
    x0 = np.minimum(xe[:-1], w - 1)
    x1 = np.maximum(np.minimum(xe[1:], w), x0 + 1)
    sat = np.zeros((h + 1, w + 1), dtype=np.float32)
    sat[1:, 1:] = cell.astype(np.float32).cumsum(0).cumsum(1)
    s = (
        sat[y1[:, None], x1[None, :]]
        - sat[y0[:, None], x1[None, :]]
        - sat[y1[:, None], x0[None, :]]
        + sat[y0[:, None], x0[None, :]]
    )
    area = (y1 - y0)[:, None] * (x1 - x0)[None, :]
    return s / area


def _resample_to_template(cell: np.ndarray) -> np.ndarray:
    """Block-mean resample an arbitrary-size glyph crop to the match grid.
    Fully vectorized: summed-area table + fancy-indexed block sums (the
    per-cell python loop was the kernel's hot spot)."""
    h, w = cell.shape
    y0, y1 = _edges(h, _MATCH_H)
    x0, x1 = _edges(w, _MATCH_W)
    sat = np.zeros((h + 1, w + 1), dtype=np.float32)
    sat[1:, 1:] = cell.astype(np.float32).cumsum(0).cumsum(1)
    s = (
        sat[y1[:, None], x1[None, :]]
        - sat[y0[:, None], x1[None, :]]
        - sat[y1[:, None], x0[None, :]]
        + sat[y0[:, None], x0[None, :]]
    )
    area = (y1 - y0)[:, None] * (x1 - x0)[None, :]
    return s / area


def _build_templates() -> tuple[np.ndarray, np.ndarray]:
    rows = []
    for i in range(len(_CHARS)):
        t = _TEMPLATES[i]
        trimmed, _, _ = _trim(t)
        big = np.kron(trimmed, np.ones((6, 6), dtype=np.float32))
        rows.append(_resample_to_template(big).ravel())
    flat = np.stack(rows).astype(np.float32)
    return flat, (flat * flat).sum(axis=1)


_TPL_FLAT, _TPL_ONES = None, None  # type: ignore[assignment]


_TIE_MARGIN = 3.0  # d2 gap under which a sub-pixel vote re-checks the call


def classify_glyphs(
    glyphs: np.ndarray, raw_cells: list[np.ndarray] | None = None
) -> tuple[list[str], np.ndarray]:
    """Nearest-template classification, vectorized over a (n, 14, 10) float
    stack (ink fractions in [0,1]). Soft L2 distance — tolerates the partial
    pixels a deskew resample leaves — computed as one matmul against all
    templates. Returns (chars, scores in [0,1])."""
    global _TPL_FLAT, _TPL_ONES
    if _TPL_FLAT is None:
        _TPL_FLAT, _TPL_ONES = _build_templates()
    if len(glyphs) == 0:
        return [], np.zeros(0, dtype=np.float32)
    g = glyphs.reshape(len(glyphs), -1).astype(np.float32)  # (n, 140)
    # ||g - t||^2 = |g|^2 - 2 g.t + |t|^2
    d2 = (
        (g * g).sum(axis=1, keepdims=True)
        - 2.0 * (g @ _TPL_FLAT.T)
        + _TPL_ONES[None, :]
    )
    best = np.argmin(d2, axis=1)
    n_px = g.shape[1]
    chars = [_CHARS[i] for i in best]
    if raw_cells is not None:
        # near-tie disambiguation: when the runner-up is within _TIE_MARGIN,
        # re-vote under small fractional grid shifts — the true glyph wins
        # more alignments than a smear artifact does
        order = np.argsort(d2, axis=1)
        for i in range(len(g)):
            a, b = order[i, 0], order[i, 1]
            if d2[i, b] - d2[i, a] >= _TIE_MARGIN:
                continue
            votes = {a: 0, b: 0}
            for dy in (-0.34, 0.0, 0.34):
                for dx in (-0.34, 0.0, 0.34):
                    r = _resample_shifted(raw_cells[i], dy, dx).ravel().astype(np.float32)
                    da = ((r - _TPL_FLAT[a]) ** 2).sum()
                    db = ((r - _TPL_FLAT[b]) ** 2).sum()
                    votes[a if da <= db else b] += 1
            if votes[b] > votes[a]:
                chars[i] = _CHARS[b]
                best[i] = b
    scores = 1.0 - d2[np.arange(len(g)), best] / n_px
    return chars, np.clip(scores, 0.0, 1.0).astype(np.float32)


def segment_cells(line_mask: np.ndarray, scale_hint: float) -> list[tuple[int, int, bool]]:
    """(x0, x1, space_before) character cells via vertical projection.

    The renderer separates chars by 2 font px and words by 6; narrow glyphs
    (I, 1) contribute up to 1 extra empty font px per side, so observed char
    gaps reach 4 font px while word gaps are >= 6 — the threshold sits at 5.
    scale_hint is the glyph pixel scale (line height / 7, fractional after a
    non-integer bounded resize). Sub-char-gap dropouts (rotation artifacts)
    are merged via min_gap."""
    prof = line_mask.sum(axis=0)
    cells = _bands(prof, min_gap=max(1, int(round(scale_hint))), min_size=1)
    # deskew smear erodes both char and word gaps by ~0-3 px; shift the
    # 5-font-px midpoint down to stay centered between the eroded bands
    space_gap = max(5.0 * scale_hint - 2.0, 3.0)
    out: list[tuple[int, int, bool]] = []
    prev_end: int | None = None
    for x0, x1 in cells:
        space = prev_end is not None and (x0 - prev_end) >= space_gap
        out.append((x0, x1, space))
        prev_end = x1
    return out


def recognize_mask(mask: np.ndarray) -> list[LineResult]:
    """Segment + classify a deskewed binary ink mask into text lines."""
    results: list[LineResult] = []
    for y0, y1 in segment_lines(mask):
        band = mask[y0:y1]
        trimmed, x_off, y_off = _trim(band)
        if trimmed.size == 0:
            continue
        scale_hint = max(trimmed.shape[0] / font.GLYPH_H, 1.0)
        cells = segment_cells(trimmed, scale_hint)
        crops: list[np.ndarray] = []
        spaces: list[bool] = []
        min_ink = max(2.0 * scale_hint, 2.0)
        kept_cells: list[tuple[int, int]] = []
        robust_count = max(2, int(round(scale_hint / 2.0)))
        raw_cells: list[np.ndarray] = []
        for x0, x1, space in cells:
            cell = trimmed[:, x0:x1]
            if int(cell.sum()) < min_ink:
                continue
            cy = _trim_robust(cell, robust_count)
            if cy.size == 0:
                continue
            crops.append(_resample_to_template(cy))
            raw_cells.append(cy)
            spaces.append(space)
            kept_cells.append((x0, x1))
        if not crops:
            continue
        chars, scores = classify_glyphs(np.stack(crops), raw_cells=raw_cells)
        pieces: list[str] = []
        for ch, space in zip(chars, spaces):
            if space:
                pieces.append(" ")
            pieces.append(ch)
        text = "".join(pieces)
        x_min = float(x_off + kept_cells[0][0])
        x_max = float(x_off + kept_cells[-1][1])
        y_min, y_max = float(y0 + y_off), float(y0 + y_off + trimmed.shape[0])
        box = [x_min, y_min, x_max, y_max]
        poly = [[x_min, y_min], [x_max, y_min], [x_max, y_max], [x_min, y_max]]
        results.append(
            LineResult(text=text, box=box, poly=poly, score=float(scores.mean()))
        )
    return results


def page_frame(
    png_bytes: bytes, max_side_limit: int = MAX_SIDE_LIMIT, step: float = 0.25
) -> tuple[np.ndarray, np.ndarray]:
    """decode -> resize -> Otsu -> despeckle -> deskew: the (gray, ink mask)
    pair in the frame `recognize_mask` reads — the deskewed, ink-cropped
    page every LineResult.box is measured in (the resized page itself when
    no rotation is needed).

    `step` is the deskew angle grid: the first pass runs the default, the
    refine pass (operators/extract) runs REFINE_STEP — one recipe, so both
    passes share the noise erase, the ink-bbox crop and the box frame."""
    gray = decode_gray(png_bytes)
    gray = bounded_resize(gray, max_side_limit)
    raw = binarize(gray)
    mask = despeckle(raw)
    bg = int(np.median(gray))  # background dominates the page
    # erase the despeckled-away noise from the grayscale too: bilinear
    # rotation would smear isolated specks into small clusters that survive
    # the post-rotation despeckle and segment as phantom lines
    noise = raw & ~mask
    if noise.any():
        gray = gray.copy()
        gray[noise] = bg
    angle = estimate_skew(mask, step=step)  # correction angle: rotate by it
    if abs(angle) > 1e-9:
        # crop to the ink bounding box (+2 px) first: margins would only
        # inflate the rotated canvas and every downstream full-image pass
        ys, xs = np.nonzero(mask)
        if len(ys):
            y0, y1 = max(int(ys.min()) - 2, 0), min(int(ys.max()) + 3, gray.shape[0])
            x0, x1 = max(int(xs.min()) - 2, 0), min(int(xs.max()) + 3, gray.shape[1])
            gray = gray[y0:y1, x0:x1]
        gray = rotate_gray(gray, angle, bg)
        mask = despeckle(binarize(gray))
    return gray, mask


def ocr_page(
    png_bytes: bytes, max_side_limit: int = MAX_SIDE_LIMIT, step: float = 0.25
) -> list[LineResult]:
    """Full kernel: `page_frame` then `recognize_mask`."""
    return recognize_mask(page_frame(png_bytes, max_side_limit, step)[1])


def ocr_text(png_bytes: bytes, max_side_limit: int = MAX_SIDE_LIMIT) -> tuple[str, float]:
    """Page text (lines joined with newline) + mean line score; ('', 0.0) on
    empty/failed pages — the reference's row-level error absorption
    (/root/reference/src/transformer_ocr.py:281-283)."""
    try:
        lines = ocr_page(png_bytes, max_side_limit)
    except Exception:
        return "", 0.0
    if not lines:
        return "", 0.0
    return "\n".join(l.text for l in lines), float(
        np.mean([l.score for l in lines])
    )
