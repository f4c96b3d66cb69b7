"""Detect stage (SURVEY.md §2 S1-S2, P1-P8, T3-T4, A1-A2, §3.1 step 3).

The reference runs a CenterNet detector over overlapping 768×768 tiles and
merges per-tile heatmaps with an interior mask (process_ocr_base.py:474-650).
No model weights exist in this sandbox, so the detector forward pass is a
deterministic surrogate: heatmaps are *rendered* from the page's layout
record with the reference's own label math — Gaussian center stamps on the
keypoint channel and ``log(size/SIZE_NORM)+SIZE_BIAS`` on the size channels
(dataset/processer.pyx:133-182) — and the glyph feature map carries a
deterministic invertible 100-d embedding per codepoint.

``detect_boxes`` is one of two forward functions in front of one decode.
``_surrogate_forward`` renders the page maps and max-pools their peaks;
``_real_forward`` runs the model (operators/models.py) over 768px tiles
and merges them with the interior mask (``tile_windows``). Each returns
the same thing: the page maps in CH_* order, the key probability, its
peak mask, and per-box readers for the P6 contrast score and the glyph
feature. ``_decode`` does everything else once, for both: peak ranking,
size decode and filter, contrast-gated greedy IoU NMS, separator-mask
filter, 3×3 code max, into box arrays and run cells. ``detect_page``
gives them as frames.
"""

from __future__ import annotations

import json
import math
from typing import Iterator

import numpy as np
import pandas as pd

from ..config import (
    CUT_OFF,
    FEATURE_DIM,
    HM,
    MODULOS,
    NMS_FILL,
    NMS_INTER,
    NMS_IOU,
    SCALE,
    SIZE_BIAS,
    SIZE_NORM,
    STRIDE,
)
from .textline import mask_cells, ramp

STRIDE_CELLS = STRIDE // SCALE        # 115
TILE_CELLS = HM                        # 192
_MARGIN = (TILE_CELLS - STRIDE_CELLS) // 2  # interior-mask half-overlap margin

# heatmap channels (models/detector.py:289-296 ordering, minus the fused
# peak channel which we compute with the explicit 3x3 NMS below)
CH_KEY, CH_SZX, CH_SZY, CH_LINE, CH_SEP, CH_C1, CH_C2, CH_C4, CH_C8 = range(9)
N_CH = 9

_ON_LOGIT = 4.0       # sigmoid(4) ≈ 0.982 — trained-model "flag on"
_OFF_LOGIT = -4.0     # sigmoid(-4) ≈ 0.018
_BG_KEY_LOGIT = -10.0
_PEAK_LOGIT = math.log(0.9 / 0.1)  # center peak p = 0.9


def feature_embedding(codepoints: np.ndarray) -> np.ndarray:
    """Deterministic invertible 100-d glyph embedding.

    Components 0..2 carry the codepoint's CRT residues (scaled to [0,1));
    the rest is deterministic pseudo-noise so the vector is full-width like
    the reference's learned features (util_func.py:9 feature_dim=100).
    """
    cps = np.asarray(codepoints, dtype=np.int64)
    n = cps.shape[0]
    out = np.zeros((n, FEATURE_DIM), dtype=np.float32)
    for i, m in enumerate(MODULOS):
        out[:, i] = (cps % m).astype(np.float32) / np.float32(m)
    # pseudo-noise: sin of codepoint times odd constants, deterministic
    k = np.arange(3, FEATURE_DIM, dtype=np.float64)
    out[:, 3:] = np.sin(cps[:, None].astype(np.float64) * (2 * k + 1) * 0.7311).astype(
        np.float32
    )
    return out


def residues_from_feature(features: np.ndarray) -> tuple[np.ndarray, ...]:
    """Invert feature_embedding: (n,100) -> per-modulus residue arrays."""
    f = np.asarray(features, dtype=np.float64)
    return tuple(
        np.rint(f[:, i] * m).astype(np.int64) % m for i, m in enumerate(MODULOS)
    )


def sigmoid(x: np.ndarray) -> np.ndarray:
    return (np.tanh(x / 2.0) + 1.0) / 2.0


# --- surrogate forward pass: stamp the page from the layout -------------

STAMP_CHUNK = 1 << 14  # window cells per key-stamp pass


def _stamp_key(key: np.ndarray, w_cells: int, gx, gy, sx, sy,
               x0, y0, nx, ny) -> None:
    """Fold the Gaussian key stamps of some glyphs into the flat key
    channel: each window cell's squared distance is the sum of its
    column's and row's, every window flattened glyph by glyph in
    row-major order."""
    col = x0.repeat(nx) + ramp(nx)
    row = y0.repeat(ny) + ramp(ny)
    dx2 = ((col.astype(np.float64) - gx.repeat(nx)) / sx.repeat(nx)) ** 2
    dy2 = ((row.astype(np.float64) - gy.repeat(ny)) / sy.repeat(ny)) ** 2
    area = nx * ny
    r, c = np.divmod(ramp(area), nx.repeat(area))
    ri = (np.cumsum(ny) - ny).repeat(area) + r
    ci = (np.cumsum(nx) - nx).repeat(area) + c
    d2 = dy2[ri] + dx2[ci]
    stamp = (_PEAK_LOGIT - _BG_KEY_LOGIT) * np.exp(-d2 / 2.0) + _BG_KEY_LOGIT
    np.maximum.at(key, row[ri] * w_cells + col[ci], stamp.astype(np.float32))


def _stamp_maps(layout: dict, h_cells: int, w_cells: int) -> np.ndarray:
    """Render the page's (N_CH, h_cells, w_cells) logit maps from the
    layout record.

    The glyphs' Gaussian key stamps are written in whole-array passes
    (``_stamp_key``): each glyph contributes the outer sum of its squared
    row and column distances over its ±4σ window, the windows of up to
    ``STAMP_CHUNK`` cells are flattened into one array, and
    ``np.maximum.at`` folds them into the key channel (a max is
    order-free, so the result is the glyph-by-glyph fold's). The
    center cells of the size and code channels are assigned in glyph
    order, so where two glyphs share a center cell the last one wins."""
    hm = np.zeros((N_CH, h_cells, w_cells), dtype=np.float32)
    hm[CH_KEY] = _BG_KEY_LOGIT
    hm[CH_C1:CH_C8 + 1] = _OFF_LOGIT
    hm[CH_LINE] = _OFF_LOGIT
    hm[CH_SEP] = _OFF_LOGIT

    gl = layout["glyphs"]
    if gl:
        gx = np.array([g["cx"] for g in gl], dtype=np.float64) / SCALE
        gy = np.array([g["cy"] for g in gl], dtype=np.float64) / SCALE
        sx = np.maximum(np.array([g["w"] for g in gl], dtype=np.float64)
                        / SCALE / 4.0, 1.0)
        sy = np.maximum(np.array([g["h"] for g in gl], dtype=np.float64)
                        / SCALE / 4.0, 1.0)
        x0 = np.maximum(0, (gx - 4 * sx).astype(np.int64))
        x1 = np.minimum(w_cells, (gx + 4 * sx).astype(np.int64) + 1)
        y0 = np.maximum(0, (gy - 4 * sy).astype(np.int64))
        y1 = np.minimum(h_cells, (gy + 4 * sy).astype(np.int64) + 1)
        ok = ((gx >= -8) & (gx < w_cells + 8) & (gy >= -8)
              & (gy < h_cells + 8) & (x0 < x1) & (y0 < y1))
        kept = np.flatnonzero(ok)
        gx, gy, sx, sy = gx[ok], gy[ok], sx[ok], sy[ok]
        x0, x1, y0, y1 = x0[ok], x1[ok], y0[ok], y1[ok]

        # windows go in chunks of about STAMP_CHUNK cells, so the flat
        # temporaries stay bounded however many glyphs the layout holds
        nx, ny = x1 - x0, y1 - y0
        area = nx * ny
        cuts = np.flatnonzero(np.diff((np.cumsum(area) - area)
                                      // STAMP_CHUNK)) + 1
        key = hm[CH_KEY].reshape(-1)
        for g in np.split(np.arange(len(area)), cuts):
            _stamp_key(key, w_cells, gx[g], gy[g], sx[g], sy[g],
                       x0[g], y0[g], nx[g], ny[g])

        cix, ciy = np.rint(gx).astype(np.int64), np.rint(gy).astype(np.int64)
        on = (cix >= 0) & (cix < w_cells) & (ciy >= 0) & (ciy < h_cells)
        cells = ciy[on] * w_cells + cix[on]
        # last writer wins: keep each cell's last glyph
        _, last = np.unique(cells[::-1], return_index=True)
        pick = len(cells) - 1 - last
        cells = cells[pick]
        writers = [gl[i] for i in kept[on][pick].tolist()]
        on_off = (_OFF_LOGIT, _ON_LOGIT)
        for ch, vals in (
                (CH_SZX, [math.log(g["w"] / SIZE_NORM) + SIZE_BIAS
                          for g in writers]),
                (CH_SZY, [math.log(g["h"] / SIZE_NORM) + SIZE_BIAS
                          for g in writers]),
                (CH_C1, [on_off[bool(g["ruby"])] for g in writers]),
                (CH_C2, [on_off[bool(g["rubybase"] or g["ruby"])]
                         for g in writers]),
                (CH_C4, [on_off[bool(g["emphasis"])] for g in writers]),
                (CH_C8, [on_off[bool(g["space"])] for g in writers])):
            hm[ch].reshape(-1)[cells] = np.array(vals, dtype=np.float64)

    for tl in layout["textlines"]:
        x0 = int(round(tl["x1"] / SCALE))
        x1 = int(round(tl["x2"] / SCALE))
        y0 = int(round(tl["y1"] / SCALE))
        y1 = int(round(tl["y2"] / SCALE))
        if tl["vertical"]:
            lo, hi = max(0, min(y0, y1)), min(h_cells - 1, max(y0, y1))
            if 0 <= x0 < w_cells and lo <= hi:
                hm[CH_LINE, lo:hi + 1, x0] = _ON_LOGIT
        else:
            lo, hi = max(0, min(x0, x1)), min(w_cells - 1, max(x0, x1))
            if 0 <= y0 < h_cells and lo <= hi:
                hm[CH_LINE, y0, lo:hi + 1] = _ON_LOGIT

    for sp in layout.get("seps", []):
        x0 = int(round(sp["x1"] / SCALE))
        x1 = int(round(sp["x2"] / SCALE))
        y0 = int(round(sp["y1"] / SCALE))
        y1 = int(round(sp["y2"] / SCALE))
        # separator strength: layouts may carry a per-stroke value v in
        # (0,1) — e.g. weak halos around a strong core, the hysteresis
        # fixture (prepare.cpp:135-169); v >= sigmoid(_ON_LOGIT) clamps
        v = float(sp.get("v", 1.0))
        if v <= 0.0:
            continue  # zero/negative strength: no stroke, and the logit
            # below would raise — one bad stroke must not poison the page
        logit = _ON_LOGIT if v >= 0.98 else math.log(v / (1.0 - v))
        if y0 == y1:
            lo, hi = max(0, min(x0, x1)), min(w_cells - 1, max(x0, x1))
            if 0 <= y0 < h_cells and lo <= hi:
                hm[CH_SEP, y0, lo:hi + 1] = logit
        elif x0 == x1:
            lo, hi = max(0, min(y0, y1)), min(h_cells - 1, max(y0, y1))
            if 0 <= x0 < w_cells and lo <= hi:
                hm[CH_SEP, lo:hi + 1, x0] = logit

    return hm


def tile_origins(n_cells: int) -> list[int]:
    """Tile offsets covering [0, n_cells) with stride STRIDE_CELLS
    (process_ocr_base.py:70-76 tiling, in heatmap cells)."""
    if n_cells <= TILE_CELLS:
        return [0]
    out = list(range(0, n_cells - TILE_CELLS, STRIDE_CELLS))
    out.append(n_cells - TILE_CELLS)
    return out


def tile_windows(hc: int, wc: int
                 ) -> Iterator[tuple[tuple[int, int], tuple, tuple]]:
    """Tile fan-out (P1) and interior mask (P2) over an hc×wc-cell page,
    one tile at a time in row-major tile order: the tile's origin
    ``(oy, ox)``, the page window it owns and the tile window that lands
    there, both as ``[:, y, x]`` indices. A tile owns itself less the
    half-overlap margin on every side that is not a page edge, clipped to
    the page (process_ocr_base.py:498-503)."""
    for oy in tile_origins(hc):
        for ox in tile_origins(wc):
            x_lo = _MARGIN if ox > 0 else 0
            x_hi = TILE_CELLS - _MARGIN if ox + TILE_CELLS < wc else TILE_CELLS
            y_lo = _MARGIN if oy > 0 else 0
            y_hi = TILE_CELLS - _MARGIN if oy + TILE_CELLS < hc else TILE_CELLS
            x_hi = min(x_hi, wc - ox)
            y_hi = min(y_hi, hc - oy)
            yield ((oy, ox),
                   np.s_[:, oy + y_lo:oy + y_hi, ox + x_lo:ox + x_hi],
                   np.s_[:, y_lo:y_hi, x_lo:x_hi])


def render_page_heatmaps(layout: dict) -> np.ndarray:
    """Surrogate forward pass: page logit maps in one stamp.

    With the real CNN, tiles are mandatory (fixed 768×768 input) and the
    page map is the interior-masked overlap-max merge of per-tile outputs
    (P1+P2+A1, process_ocr_base.py:480-516, ``tile_windows``). For the
    deterministic surrogate the merge is *provably identical* to stamping
    the page directly: every stamp's support radius (4σ ≤ 8 cells) is
    within the tile margin used to skip out-of-tile glyphs, so each cell's
    interior tile sees exactly the glyphs that can touch it. The
    equivalence is pinned by tests/test_detect.py::
    test_tiled_merge_equals_direct against the tile-by-tile render kept
    in tests/detect_reference.py.
    """
    wc = int(math.ceil(layout["page_w"] / SCALE))
    hc = int(math.ceil(layout["page_h"] / SCALE))
    return _stamp_maps(layout, hc, wc)


def maxpool3x3(p: np.ndarray) -> np.ndarray:
    """3×3 neighborhood max over the last two axes (T4,
    models/detector.py:289-296); leading axes (tile, channel) pool
    independently. Separable: the max of each cell's row triple, then
    the max of the column triple of those."""
    rows = p.copy()
    np.maximum(rows[..., 1:], p[..., :-1], out=rows[..., 1:])
    np.maximum(rows[..., :-1], p[..., 1:], out=rows[..., :-1])
    out = rows.copy()
    np.maximum(out[..., 1:, :], rows[..., :-1, :], out=out[..., 1:, :])
    np.maximum(out[..., :-1, :], rows[..., 1:, :], out=out[..., :-1, :])
    return out



def cluster_dist(hist: np.ndarray) -> float:
    """P6 contrast score: 1-D 2-means over a 256-bin histogram, iterated
    to fixpoint; score = distance between the two cluster means
    (cluster_dist, process_ocr_base.py:653-688 — exact port)."""
    sum_y = hist.sum()
    if sum_y == 0:
        return 0.0
    i = np.arange(hist.shape[0])
    v = hist * i
    mean_y = v.sum() / sum_y
    s1 = hist[:int(mean_y + 0.5)].sum()
    s2 = hist[int(mean_y + 0.5):].sum()
    if s1 == 0 or s2 == 0:
        return 0.0
    k1 = v[:int(mean_y + 0.5)].sum() / s1
    k2 = v[int(mean_y + 0.5):].sum() / s2
    dist1, dist2 = 256.0, abs(k1 - k2)
    while dist1 != dist2:
        dist1 = dist2
        m = np.abs(i - k1) < np.abs(i - k2)
        s1, s2 = hist[m].sum(), hist[~m].sum()
        if s1 == 0 or s2 == 0:
            return 0.0
        k1 = v[m].sum() / s1
        k2 = v[~m].sum() / s2
        dist2 = abs(k1 - k2)
    return float(dist1)


from functools import lru_cache


@lru_cache(maxsize=8192)
def _contrast_score_cached(n: int, ink: int) -> float:
    hist = np.zeros(256, dtype=np.int64)
    hist[255] += n - n // 2
    hist[ink] += n // 2
    return cluster_dist(hist)


def contrast_score(w: float, h: float, contrast: float) -> float:
    """imageHist for the surrogate: a box's pixel window is a two-tone
    patch (background 255, ink 255 - contrast*230 covering half the area)
    — its histogram fed through the real cluster_dist
    (imageHist, process_ocr_base.py:690-693). With real pixels the
    histogram comes from the decoded image window; only the patch is
    synthetic here."""
    n = max(2, int(w * h))
    ink = min(255, max(0, int(round(255 - contrast * 230.0))))
    return _contrast_score_cached(n, ink)


# A2 code max: the code channels and the 3×3 neighbour offsets
_CODE_CH = np.array([CH_C1, CH_C2, CH_C4, CH_C8])
_NEIGHBOUR_DY = np.repeat([-1, 0, 1], 3)
_NEIGHBOUR_DX = np.tile([-1, 0, 1], 3)

NMS_CHUNK = 256  # candidates per pairwise block: memory stays O(chunk * n)


def greedy_nms(boxes: np.ndarray, hists: np.ndarray | None = None,
               th_hist: float = -1.0) -> np.ndarray:
    """Greedy IoU NMS in descending-score order (T3,
    process_ocr_base.py:559-608): drop if IoU>0.5 with an accepted box, or
    intersection>0.75·own area, or accepted-fill>0.5. ``hists``/``th_hist``
    interleave the P6 contrast filter exactly where the reference applies
    it — inside the loop, before the overlap checks
    (process_ocr_base.py:574-575). Returns keep mask aligned with the
    (already score-sorted) input (n,5)=(p,cx,cy,w,h).

    Candidates go in chunks: one block computes each chunk member's
    intersection and IoU with every box accepted before the chunk and
    with the chunk itself; the greedy pass then reads its rows, summing
    the fill in acceptance order. A candidate overlapping none of them
    but itself (and of non-negative area) passes every test, so it skips
    the row reads."""
    n = boxes.shape[0]
    keep = np.zeros(n, dtype=bool)
    x1 = boxes[:, 1] - boxes[:, 3] / 2
    x2 = boxes[:, 1] + boxes[:, 3] / 2
    y1 = boxes[:, 2] - boxes[:, 4] / 2
    y2 = boxes[:, 2] + boxes[:, 4] / 2
    area = boxes[:, 3] * boxes[:, 4]
    acc: list[int] = []
    for s in range(0, n, NMS_CHUNK):
        c = np.arange(s, min(n, s + NMS_CHUNK))
        cols = np.concatenate([np.asarray(acc, dtype=np.int64), c])
        r = c[:, None]
        ix = np.minimum(x2[r], x2[cols]) - np.maximum(x1[r], x1[cols])
        iy = np.minimum(y2[r], y2[cols]) - np.maximum(y1[r], y1[cols])
        inter = np.clip(ix, 0, None) * np.clip(iy, 0, None)
        iou = inter / (area[r] + area[cols] - inter)
        hit = (iou > NMS_IOU) | (inter > NMS_INTER * area[r])
        overlap = inter > 0
        overlap[np.arange(len(c)), len(acc) + np.arange(len(c))] = False
        alone = (~overlap.any(axis=1) & (area[c] >= 0)).tolist()
        pos = list(range(len(acc)))
        for k, i in enumerate(c.tolist()):
            if hists is not None and hists[i] < th_hist:
                continue
            if pos and not alone[k]:
                row = np.asarray(pos)
                if hit[k, row].any():
                    continue
                if inter[k, row].sum() > NMS_FILL * area[i]:
                    continue
            keep[i] = True
            acc.append(i)
            pos.append(len(cols) - len(c) + k)
    return keep


def detect_boxes(layout: dict, model=None) -> tuple[dict, list]:
    """Full detect stage for one page: a forward pass, then the one
    decode (``_decode``).

    ``model`` comes from model_registry.get_detector_model(): ``None`` for
    the surrogate (``_surrogate_forward``: maps rendered from the layout
    record) or a real forward-pass object (``_real_forward`` over
    operators/models.py: rasterize, tile, batched CNN forward,
    interior-mask merge).

    Returns (boxes, runs):
      boxes: p, cx, cy, w, h, code1..code8 (n,) float64 and feature
             (n, FEATURE_DIM) float32, in decode order;
      runs:  ``_run_parts``: ``[(line cells, line values), (sep cells,
             sep values)]``, cells (k, 3) int64 rows of (y, x1, x2),
             inclusive heatmap cells.
    """
    if model is None:
        forward = _surrogate_forward(layout)
    else:
        forward = _real_forward(layout, model)
    return _decode(layout, *forward)


def detect_page(layout: dict, model=None
                ) -> tuple[pd.DataFrame, pd.DataFrame]:
    """``detect_boxes`` as frames:

      boxes: box_id, p, cx, cy, w, h, code1..code8, feature (100 float32,
             packed bytes)
      runs:  channel ('line'|'sep'), y (cell row), x1, x2 (inclusive
             cells), v (the rounded value)
    """
    boxes, runs = detect_boxes(layout, model)
    feats = boxes["feature"]
    return (pd.DataFrame({
        "box_id": np.arange(len(feats), dtype=np.int64),
        **{c: boxes[c] for c in _BOX_COLS},
        # packed float32 bytes: 100 floats as one binary cell is ~10x
        # cheaper through Arrow than list<float> (no per-element boxing)
        "feature": feats.view(np.dtype((np.void, feats.shape[1] * 4)))
        .reshape(-1).tolist()}), _runs_frame(runs))


def _surrogate_forward(layout: dict) -> tuple:
    """Surrogate forward pass: the page maps of ``render_page_heatmaps``,
    the key probability and its 3×3 max-pooled peaks at CUT_OFF. A box
    reads the glyph whose center cell is its own: P6 scores that glyph's
    two-tone patch (``contrast_score``), the feature is its
    ``feature_embedding``."""
    maps = render_page_heatmaps(layout)
    p = sigmoid(maps[CH_KEY])
    peaks = (p >= maxpool3x3(p)) & (p >= CUT_OFF)

    gl = layout["glyphs"]
    gcx = np.array([g["cx"] for g in gl], dtype=np.float64) / SCALE
    gcy = np.array([g["cy"] for g in gl], dtype=np.float64) / SCALE
    # a cell holds the last glyph centered on it
    at = dict(zip(zip(np.rint(gcy).astype(np.int64).tolist(),
                      np.rint(gcx).astype(np.int64).tolist()),
                  range(len(gl))))

    def glyphs(ys, xs):
        return [at.get(cell, -1) for cell in zip(ys.tolist(), xs.tolist())]

    def contrast(ys, xs, cx, cy, w, h):
        tone = [float(gl[gi].get("contrast", 1.0)) if gi >= 0 else 1.0
                for gi in glyphs(ys, xs)]
        return np.array([contrast_score(*box) for box in
                         zip(w.tolist(), h.tolist(), tone)], dtype=np.float64)

    def features(ys, xs):
        cps = np.array([g["cp"] for g in gl], dtype=np.int64)
        emb = (feature_embedding(cps) if len(gl)
               else np.zeros((0, FEATURE_DIM), np.float32))
        gi = np.array(glyphs(ys, xs), dtype=np.int64)
        feats = np.zeros((len(ys), FEATURE_DIM), dtype=np.float32)
        feats[gi >= 0] = emb[gi[gi >= 0]]
        return feats

    return maps, p, peaks, contrast, features


def _real_forward(layout: dict, model) -> tuple:
    """Real-model forward pass: rasterize -> white-pad -> 768px tiles ->
    batched CNN forward (10+100-channel output, models/detector.py:
    203-230) -> interior-mask merge in tile order (``tile_windows``; heat
    by overlap max, P1+P2+A1, process_ocr_base.py:480-516, features by
    assignment), cropped to the page, -inf read as -30.

    The heat channels are the keymap, its 3×3-NMS'd copy, then the other
    ``models.RAW_MAPS``: without the NMS'd copy they are the CH_* maps,
    and the copy gives the key probability and its peaks at CUT_OFF.
    P6 scores a histogram of the real pixels under each box
    (process_ocr_base.py:543-575); the feature is the fp16 feature page
    at the box's cell (test_image3_torch.py:397)."""
    from .models import TILE_PX, pad_to_tile_grid, rasterize_layout

    img = pad_to_tile_grid(rasterize_layout(layout))
    gray = img[:, :, 0]
    hc_all, wc_all = img.shape[0] // SCALE, img.shape[1] // SCALE
    windows = list(tile_windows(hc_all, wc_all))
    heat, feats = model.forward_tiles(np.stack([
        img[oy * SCALE:oy * SCALE + TILE_PX, ox * SCALE:ox * SCALE + TILE_PX]
        for (oy, ox), _, _ in windows]))  # (B,10,192,192), (B,100,·,·)

    page = np.full((heat.shape[1], hc_all, wc_all), -np.inf,
                   dtype=np.float32)
    fpage = np.zeros((FEATURE_DIM, hc_all, wc_all), dtype=np.float16)
    for b, (_, page_win, tile_win) in enumerate(windows):
        view = page[page_win]
        np.maximum(view, heat[b][tile_win], out=view)
        fpage[page_win] = feats[b][tile_win]
    hcp = int(math.ceil(layout["page_h"] / SCALE))
    wcp = int(math.ceil(layout["page_w"] / SCALE))
    page = np.nan_to_num(page[:, :hcp, :wcp], neginf=-30.0)
    fpage = fpage[:, :hcp, :wcp]
    p = sigmoid(page[1])

    def contrast(ys, xs, cx, cy, w, h):
        hists = np.zeros(len(ys))
        for j in range(len(ys)):
            x1 = max(0, int(cx[j] - w[j] / 2) - 1)
            x2 = min(gray.shape[1], int(cx[j] + w[j] / 2) + 2)
            y1 = max(0, int(cy[j] - h[j] / 2) - 1)
            y2 = min(gray.shape[0], int(cy[j] + h[j] / 2) + 2)
            hist = np.bincount(gray[y1:y2, x1:x2].ravel(), minlength=256)
            hists[j] = cluster_dist(hist.astype(np.float64))
        return hists

    def features(ys, xs):
        return fpage[:, ys, xs].T.astype(np.float32)

    return np.delete(page, 1, axis=0), p, p >= CUT_OFF, contrast, features


_BOX_COLS = ("p", "cx", "cy", "w", "h", "code1", "code2", "code4", "code8")


def _decode(layout: dict, maps: np.ndarray, p: np.ndarray,
            peaks: np.ndarray, contrast, features) -> tuple[dict, list]:
    """The detect decode after either forward pass: ``maps`` are the
    (N_CH, h, w) page logits in CH_* order, ``p`` the key probability
    and ``peaks`` its peak cells; ``contrast(ys, xs, cx, cy, w, h)`` gives
    each box's P6 score and ``features(ys, xs)`` its (n, FEATURE_DIM)
    float32 features."""
    ys, xs = mask_cells(peaks)
    pv = p[ys, xs]

    # W4 peak ranking: score desc, then (y, x) asc for determinism
    order = np.lexsort((xs, ys, -pv))
    ys, xs, pv = ys[order], xs[order], pv[order]

    # P5 size decode (the inverse of the size label, dataset/processer.pyx:
    # 164-165), then drop degenerate / page-exceeding sizes
    w = np.exp(maps[CH_SZX, ys, xs].astype(np.float64) - SIZE_BIAS) * SIZE_NORM
    h = np.exp(maps[CH_SZY, ys, xs].astype(np.float64) - SIZE_BIAS) * SIZE_NORM
    cx = xs.astype(np.float64) * SCALE
    cy = ys.astype(np.float64) * SCALE
    ok = (w > 1.0) & (h > 1.0) & (w < layout["page_w"]) & (h < layout["page_h"])
    ys, xs, pv, w, h, cx, cy = ys[ok], xs[ok], pv[ok], w[ok], h[ok], cx[ok], cy[ok]

    # P6: contrast filter — per-box two-cluster histogram distance,
    # threshold median(all)/5 (process_ocr_base.py:543-557); applied
    # inside the greedy NMS loop exactly like the reference
    hists = contrast(ys, xs, cx, cy, w, h)
    th_hist = (float(np.median(hists)) / 5.0) if len(hists) else 0.0

    # T3: greedy IoU NMS in score order, P6-gated
    keep = greedy_nms(np.stack([pv, cx, cy, w, h], axis=1), hists, th_hist)
    ys, xs, pv, w, h, cx, cy = ys[keep], xs[keep], pv[keep], w[keep], h[keep], cx[keep], cy[keep]

    # P7: separator-mask filter — drop boxes centered on separator pixels
    ok = sigmoid(maps[CH_SEP, ys, xs]) <= 0.5
    ys, xs, pv, w, h, cx, cy = ys[ok], xs[ok], pv[ok], w[ok], h[ok], cx[ok], cy[ok]

    # A2: code flags max-pooled over the 3×3 neighborhood of the center:
    # one gather of the 4 code channels at the 9 clipped neighbours
    hc, wc = maps.shape[1:]
    yy = np.clip(ys + _NEIGHBOUR_DY[:, None], 0, hc - 1)
    xx = np.clip(xs + _NEIGHBOUR_DX[:, None], 0, wc - 1)
    cmax = maps[_CODE_CH[:, None, None], yy, xx].max(axis=1)
    codes = sigmoid(cmax.astype(np.float64))

    boxes = dict(zip(_BOX_COLS, (pv.astype(np.float64), cx, cy, w, h,
                                 *codes)))
    boxes["feature"] = np.ascontiguousarray(features(ys, xs),
                                            dtype=np.float32)
    return boxes, _run_parts(sigmoid(maps[CH_LINE]), sigmoid(maps[CH_SEP]))


def _run_parts(line_vals: np.ndarray, sep_vals: np.ndarray) -> list:
    """RLE runs of the thresholded line / sep maps (group-stage input):
    ``[(cells, values)]`` for the line, then the sep channel, cells as
    (k, 3) int64 rows of (y, x1, x2), inclusive, in row-major order.

    Sep runs are cut at the group stage's lower blocker seed threshold
    (SEP_VALUETH, main.cpp:22) and carry the cell value so the group
    stage can rebuild the float sepimage its cluster-prune/hysteresis
    pass needs (prepare.cpp:99-170); runs split where the value changes.
    Inputs are sigmoid-domain value maps (shared by the surrogate and
    real-model paths)."""
    from ..config import LINE_VALUETH, SEP_RUN_FLOOR

    parts = []
    for vals, th in ((line_vals, LINE_VALUETH), (sep_vals, SEP_RUN_FLOOR)):
        mask = vals > th
        # split runs on mask edges AND value changes (quantized): a
        # segment starts at each row's first cell and at each change
        q = np.zeros(vals.shape, np.result_type(vals, 0.0))
        q[mask] = np.round(vals[mask], 6)
        start = np.ones(q.shape, dtype=bool)
        start[:, 1:] = q[:, 1:] != q[:, :-1]
        ys, xs = mask_cells(start)
        same_row = np.append(ys[1:] == ys[:-1], False)
        ends = np.where(same_row, np.append(xs[1:], 0) - 1, q.shape[1] - 1)
        on = mask[ys, xs]
        parts.append((np.column_stack([ys[on], xs[on], ends[on]])
                      .astype(np.int64), q[ys[on], xs[on]].astype(np.float64)))
    return parts


def _runs_frame(parts: list) -> pd.DataFrame:
    """``_run_parts`` as the runs frame: channel, y, x1, x2, v."""
    (line, line_v), (sep, sep_v) = parts
    cells = np.concatenate([line, sep])
    return pd.DataFrame({
        "channel": np.repeat(np.array(["line", "sep"], dtype=object),
                             [len(line), len(sep)]),
        "y": cells[:, 0], "x1": cells[:, 1], "x2": cells[:, 2],
        "v": np.concatenate([line_v, sep_v])})


def parse_layout(html: bytes) -> dict:
    """Parse the layout record out of a raster page's html column."""
    from ..corpus import RASTER_MARKER

    return json.loads(html[len(RASTER_MARKER):].decode("utf-8"))
