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
from functools import lru_cache
from typing import Callable

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
    an area-style filter with no temp files.

    The k x k block sums are k strided row adds then k strided column adds
    in an integer accumulator (uint16 while k*k*255 < 2**16, else uint32),
    and `sum // (k*k)` is the truncated float64 mean exactly: the sum is
    an integer, so the float quotient is correctly rounded and never
    crosses the next integer."""
    h, w = gray.shape
    side = max(h, w)
    if side <= max_side_limit:
        return gray
    k = math.ceil(side / max_side_limit)
    ph, pw = (-h) % k, (-w) % k
    if ph or pw:
        gray = np.pad(gray, ((0, ph), (0, pw)), constant_values=255)
    rows = gray[0::k].astype(np.uint16 if k * k * 255 < 2**16 else np.uint32)
    for i in range(1, k):
        rows += gray[i::k]
    out = rows[:, 0::k].copy()
    for j in range(1, k):
        out += rows[:, j::k]
    out //= k * k
    return out.astype(np.uint8)


def estimate_skew(
    mask: np.ndarray, max_angle: float = 6.0, step: float = 0.25, max_px: int = 20000
) -> float:
    """Projection-profile deskew: pick the rotation angle that maximizes
    sum(p^2) of the row-projection histogram of ink pixels — total ink is
    fixed, so concentration into few rows (aligned text) maximizes it;
    variance would fail on single-line pages whose aligned profile is
    near-uniform. Works on pixel coordinates directly (no per-angle image
    rotation)."""
    # row-major ink coordinates — the max_px subsample picks by this order;
    # one flat scan is ~3x cheaper than the 2-D np.nonzero
    ys, xs = np.divmod(np.flatnonzero(mask), mask.shape[1])
    if len(ys) < 32:
        return 0.0
    if len(ys) > max_px:
        idx = np.linspace(0, len(ys) - 1, max_px).astype(np.int64)
        ys, xs = ys[idx], xs[idx]
    # the objective is order-free: visit the pixels column by column, so
    # neighbours land in different bins and bincount's increments do not
    # queue on one counter (row order measured ~25% slower per sweep)
    by_col = np.argsort(xs.astype(np.uint16), kind="stable")
    ysf = ys.take(by_col).astype(np.float32)
    xsf = xs.take(by_col).astype(np.float32)
    yp = np.empty_like(ysf)
    xp = np.empty_like(xsf)

    # note (round 6): batching the whole angle sweep into one (n_angles,
    # n_px) matrix + offset bincount was MEASURED SLOWER (6.4 vs 4.1
    # ms/page) — the per-angle arrays fit L1/L2 while the batch thrashes —
    # so the scalar loop stays, over two reused float32 buffers. Only the
    # float32 products round (cos/sin as float32 scalars, as value-based
    # casting does for python floats); the bins are integers, so their
    # float32 min-shift is exact, and the int64 dot of the counts is exact.
    def _obj(ang: float) -> int:
        r = math.radians(ang)
        np.multiply(ysf, np.float32(math.cos(r)), out=yp)
        np.multiply(xsf, np.float32(math.sin(r)), out=xp)
        np.subtract(yp, xp, out=yp)
        np.rint(yp, out=yp)
        np.subtract(yp, yp.min(), out=yp)
        counts = np.bincount(yp.astype(np.intp))
        return int(np.dot(counts, counts))

    best_angle, best_obj = 0.0, -1
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

    Sparse: a 1-px bg border replaces the validity mask (clipped
    out-of-range reads hit the border), and the float64 four-tap math runs
    only at output pixels whose 2x2 source neighborhood holds a non-bg
    pixel. Every other output pixel is exactly `bg`: its four taps all
    equal bg and its weights sum to 1 within a few ulps, so the rounded
    bilinear value is bg. On a rendered page ~90% of the pixels skip."""
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
    sy = ((c * dy + cy)[:, None] + (s * dx)[None, :]).ravel()
    sx = ((-s * dy + cx)[:, None] + (c * dx)[None, :]).ravel()
    # top-left tap, shifted into the padded frame and clipped in-bounds
    flat = np.floor(sy).astype(np.int32)
    np.clip(flat, -1, h, out=flat)
    flat += 1
    gw = w + 3
    flat *= gw
    x0 = np.floor(sx).astype(np.int32)
    np.clip(x0, -1, w, out=x0)
    x0 += 1
    flat += x0
    g = np.full((h + 3, w + 3), bg, dtype=np.uint8)
    g[1 : h + 1, 1 : w + 1] = gray
    # hot[p]: one of the four taps read from top-left tap p (p, its right,
    # below and below-right neighbours) is non-bg
    ink = g != bg
    hot = ink.copy()
    hot[:-1] |= ink[1:]
    hot[:, :-1] |= hot[:, 1:]
    sel = np.flatnonzero(hot.ravel().take(flat))
    f = flat.take(sel)
    # widths and op order are pinned by the OCR digest: fy/fx are float64
    # (float32 sy minus int32 floor promotes), the gathered samples are
    # exact in float64, and the four products accumulate tap by tap
    sys_, sxs = sy.take(sel), sx.take(sel)
    fy = sys_ - np.floor(sys_).astype(np.int32)
    fx = sxs - np.floor(sxs).astype(np.int32)
    gf = g.ravel()
    omfy = 1.0 - fy
    omfx = 1.0 - fx
    v = gf.take(f).astype(np.float64)
    v *= omfy
    v *= omfx
    t = gf.take(f + 1).astype(np.float64)
    t *= omfy
    t *= fx
    v += t
    f += gw
    t = gf.take(f).astype(np.float64)
    t *= fy
    t *= omfx
    v += t
    t = gf.take(f + 1).astype(np.float64)
    t *= fy
    t *= fx
    v += t
    out = np.full(nh * nw, bg, dtype=np.uint8)
    out[sel] = np.clip(np.round(v, out=v), 0, 255)
    return out.reshape(nh, nw)


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
    ys = np.flatnonzero(mask.any(axis=1))
    if len(ys) == 0:
        return mask[:0, :0], 0, 0
    xs = np.flatnonzero(mask.any(axis=0))
    return mask[ys[0] : ys[-1] + 1, xs[0] : xs[-1] + 1], int(xs[0]), int(ys[0])


def _extent(counts: np.ndarray, min_count: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per row of `counts`: the [first, last + 1) span of entries >= min_count,
    and whether there is one."""
    hit = counts >= min_count
    return hit.argmax(axis=1), hit.shape[1] - hit[:, ::-1].argmax(axis=1), hit.any(axis=1)


@lru_cache(maxsize=4096)
def _edges(n_src: int, n_dst: int) -> tuple[np.ndarray, np.ndarray]:
    e = np.round(np.linspace(0, n_src, n_dst + 1)).astype(np.int64)
    lo = np.minimum(e[:-1], n_src - 1)
    hi = np.maximum(np.minimum(e[1:], n_src), lo + 1)
    return lo, hi


def _grid_edges(lo: np.ndarray, hi: np.ndarray, n_dst: int) -> tuple[np.ndarray, np.ndarray]:
    """(n, n_dst) block edges of the n spans [lo, hi), each split by `_edges`."""
    e0, e1 = zip(*(_edges(int(n), n_dst) for n in hi - lo))
    return np.stack(e0) + lo[:, None], np.stack(e1) + lo[:, None]


def _sat(a: np.ndarray) -> np.ndarray:
    """Zero-bordered int32 summed-area table: sat[y, x] = a[:y, :x].sum()."""
    sat = np.zeros((a.shape[0] + 1, a.shape[1] + 1), dtype=np.int32)
    np.cumsum(a, axis=0, dtype=np.int32, out=sat[1:, 1:])
    np.cumsum(sat[1:, 1:], axis=1, out=sat[1:, 1:])
    return sat


def _block_means(sat, y0, y1, x0, x1) -> np.ndarray:
    """(n, a, b) block means of n boxes over a summed-area table, given each
    box's (n, a) row and (n, b) column block edges. The sums are exact
    integers, so the float64 quotients do not depend on the table's width."""
    y0, y1, x0, x1 = y0[:, :, None], y1[:, :, None], x0[:, None, :], x1[:, None, :]
    s = sat[y1, x1] - sat[y0, x1] - sat[y1, x0] + sat[y0, x0]
    return s / ((y1 - y0) * (x1 - x0))


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
    return _block_means(_sat(cell), y0[None], y1[None], x0[None], x1[None])[0]


def _resample_to_template(cell: np.ndarray) -> np.ndarray:
    """Block-mean resample an arbitrary-size glyph crop to the match grid."""
    (y0, y1), (x0, x1) = _edges(cell.shape[0], _MATCH_H), _edges(cell.shape[1], _MATCH_W)
    return _block_means(_sat(cell), y0[None], y1[None], x0[None], x1[None])[0]


def _build_templates() -> tuple[np.ndarray, np.ndarray]:
    rows = []
    for i in range(len(_CHARS)):
        t = _TEMPLATES[i]
        trimmed, _, _ = _trim(t)
        big = np.kron(trimmed, np.ones((6, 6), dtype=np.uint8))
        rows.append(_resample_to_template(big).ravel())
    flat = np.stack(rows).astype(np.float32)
    return flat, (flat * flat).sum(axis=1)


_TPL_FLAT, _TPL_ONES = None, None  # type: ignore[assignment]


_TIE_MARGIN = 3.0  # d2 gap under which a sub-pixel vote re-checks the call


def classify_glyphs(
    glyphs: np.ndarray, raw_cell: Callable[[int], np.ndarray] | None = None
) -> tuple[list[str], np.ndarray]:
    """Nearest-template classification, vectorized over a (n, 21, 15) float
    stack (ink fractions in [0,1]). Soft L2 distance — tolerates the partial
    pixels a deskew resample leaves — computed as one matmul against all
    templates. `raw_cell(i)` crops glyph i's ink for the near-tie re-vote.
    Returns (chars, scores in [0,1])."""
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
    if raw_cell is not None:
        # near-tie disambiguation: when the runner-up is within _TIE_MARGIN,
        # re-vote under small fractional grid shifts — the true glyph wins
        # more alignments than a smear artifact does
        order = np.argsort(d2, axis=1)
        for i in range(len(g)):
            a, b = order[i, 0], order[i, 1]
            if d2[i, b] - d2[i, a] >= _TIE_MARGIN:
                continue
            votes = {a: 0, b: 0}
            cell = raw_cell(i)
            for dy in (-0.34, 0.0, 0.34):
                for dx in (-0.34, 0.0, 0.34):
                    r = _resample_shifted(cell, dy, dx).ravel().astype(np.float32)
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
    """Segment + classify a deskewed binary ink mask into text lines.

    Per line, one int32 summed-area table gives every cell's per-row ink
    counts, its column profile and its glyph's match-grid block sums, so
    no cell is cropped or resampled on its own (only a near-tie re-vote
    crops its glyph)."""
    results: list[LineResult] = []
    for y0, y1 in segment_lines(mask):
        band = mask[y0:y1]
        trimmed, x_off, y_off = _trim(band)
        if trimmed.size == 0:
            continue
        scale_hint = max(trimmed.shape[0] / font.GLYPH_H, 1.0)
        cells = segment_cells(trimmed, scale_hint)
        min_ink = max(2.0 * scale_hint, 2.0)
        robust_count = max(2, int(round(scale_hint / 2.0)))
        h, w = trimmed.shape
        sat = _sat(trimmed)
        cx0, cx1 = np.array([c[:2] for c in cells]).T
        row_ink = np.diff(sat[:, cx1] - sat[:, cx0], axis=0).T  # (cells, h)
        keep = np.flatnonzero(row_ink.sum(axis=1) >= min_ink)
        if not len(keep):
            continue
        row_ink, cx0, cx1 = row_ink[keep], cx0[keep], cx1[keep]
        # each cell's column profile, zero-padded to the widest cell
        cols = cx0[:, None] + np.arange(int((cx1 - cx0).max()))[None, :]
        col_ink = np.where(cols < cx1[:, None], np.diff(sat[-1])[np.minimum(cols, w - 1)], 0)
        # robust trim: rows/cols carrying >= robust_count ink pixels — a
        # single stray rotation-artifact pixel must not extend a glyph's box
        # (it shifts the resample grid and flips near-ties like D/O); a
        # cell with no such row or column falls back to its plain ink box
        ya, yb, ok = _extent(row_ink, robust_count)
        xa, xb, ok_x = _extent(col_ink, robust_count)
        if not (ok & ok_x).all():
            t = np.where(ok & ok_x, robust_count, 1)[:, None]
            (ya, yb, _), (xa, xb, _) = _extent(row_ink, t), _extent(col_ink, t)
        glyphs = _block_means(sat, *_grid_edges(ya, yb, _MATCH_H),
                              *_grid_edges(xa + cx0, xb + cx0, _MATCH_W))
        chars, scores = classify_glyphs(
            glyphs, lambda i: trimmed[ya[i] : yb[i], cx0[i] + xa[i] : cx0[i] + xb[i]])
        pieces: list[str] = []
        for ch, k in zip(chars, keep):
            if cells[k][2]:
                pieces.append(" ")
            pieces.append(ch)
        text = "".join(pieces)
        x_min = float(x_off + cx0[0])
        x_max = float(x_off + cx1[-1])
        y_min, y_max = float(y0 + y_off), float(y0 + y_off + h)
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
        ink, x0, y0 = _trim(mask)
        if ink.size:
            gray = gray[max(y0 - 2, 0) : y0 + ink.shape[0] + 2,
                        max(x0 - 2, 0) : x0 + ink.shape[1] + 2]
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
