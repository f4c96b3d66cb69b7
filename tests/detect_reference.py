"""Reference for the detect stage (``operators/detect.py``).

These are the detect functions as they were before their rewrites, kept
verbatim:

* ``detect_page`` for the surrogate (layout-rendered maps, 3×3 max-pool
  peaks) and ``detect_page_real`` for the real model (tiled
  ``forward_tiles`` output, its own channel indices and size constants),
  from when each carried its own copy of the decode;
* the glyph-by-glyph ``_stamp_maps`` with its page and tile-by-tile
  renders (``render_page_heatmaps``, ``render_page_heatmaps_tiled``),
  the chunked ``greedy_nms`` whose lone-box shortcut never fired, and
  ``_runs_df``, from before the one-pass glyph stamp.

``test_detect_reference.py`` requires the kernel's one decode to give the
same ``boxes`` and ``runs`` frames as these, value for value;
``test_detect.py`` compares the kernel's page render and ``greedy_nms``
with the copies here. The helpers no rewrite touched (pooling, contrast,
embedding, tiling) are imported from the kernel.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from findtextcenternet_spark.config import (
    CUT_OFF,
    FEATURE_DIM,
    NMS_FILL,
    NMS_INTER,
    NMS_IOU,
    SCALE,
    SIZE_BIAS,
    SIZE_NORM,
)
from findtextcenternet_spark.operators.detect import (
    _MARGIN,
    _BG_KEY_LOGIT,
    _OFF_LOGIT,
    _ON_LOGIT,
    _PEAK_LOGIT,
    CH_C1,
    CH_C2,
    CH_C4,
    CH_C8,
    CH_KEY,
    CH_LINE,
    CH_SEP,
    CH_SZX,
    CH_SZY,
    N_CH,
    TILE_CELLS,
    cluster_dist,
    contrast_score,
    feature_embedding,
    maxpool3x3,
    sigmoid,
    tile_origins,
    tile_windows,
)
from findtextcenternet_spark.operators.textline import mask_cells


def _stamp_maps(layout: dict, ox: int, oy: int, h_cells: int,
                w_cells: int) -> np.ndarray:
    """Render (N_CH, h_cells, w_cells) logit maps for the window whose
    top-left heatmap cell is (ox, oy) in page-cell coordinates. Used both
    per-768px-tile (the real-model geometry) and once per page (the
    surrogate fast path — identical output, see render_page_heatmaps)."""
    hm = np.zeros((N_CH, h_cells, w_cells), dtype=np.float32)
    hm[CH_KEY] = _BG_KEY_LOGIT
    hm[CH_C1:CH_C8 + 1] = _OFF_LOGIT
    hm[CH_LINE] = _OFF_LOGIT
    hm[CH_SEP] = _OFF_LOGIT

    for g in layout["glyphs"]:
        gx = g["cx"] / SCALE - ox
        gy = g["cy"] / SCALE - oy
        if gx < -8 or gx >= w_cells + 8 or gy < -8 or gy >= h_cells + 8:
            continue
        sx = max(g["w"] / SCALE / 4.0, 1.0)
        sy = max(g["h"] / SCALE / 4.0, 1.0)
        x0, x1 = max(0, int(gx - 4 * sx)), min(w_cells, int(gx + 4 * sx) + 1)
        y0, y1 = max(0, int(gy - 4 * sy)), min(h_cells, int(gy + 4 * sy) + 1)
        if x0 >= x1 or y0 >= y1:
            continue
        # separable distance: two 1-D vectors + outer add beats a 2-D grid
        # on memory traffic (the kernels are bandwidth-bound at 32 cores)
        dx2 = ((np.arange(x0, x1, dtype=np.float64) - gx) / sx) ** 2
        dy2 = ((np.arange(y0, y1, dtype=np.float64) - gy) / sy) ** 2
        d2 = dy2[:, None] + dx2[None, :]
        stamp = (_PEAK_LOGIT - _BG_KEY_LOGIT) * np.exp(-d2 / 2.0) + _BG_KEY_LOGIT
        np.maximum(hm[CH_KEY, y0:y1, x0:x1], stamp.astype(np.float32),
                   out=hm[CH_KEY, y0:y1, x0:x1])
        cix, ciy = int(round(gx)), int(round(gy))
        if 0 <= cix < w_cells and 0 <= ciy < h_cells:
            hm[CH_SZX, ciy, cix] = np.float32(math.log(g["w"] / SIZE_NORM) + SIZE_BIAS)
            hm[CH_SZY, ciy, cix] = np.float32(math.log(g["h"] / SIZE_NORM) + SIZE_BIAS)
            hm[CH_C1, ciy, cix] = _ON_LOGIT if g["ruby"] else _OFF_LOGIT
            hm[CH_C2, ciy, cix] = _ON_LOGIT if (g["rubybase"] or g["ruby"]) else _OFF_LOGIT
            hm[CH_C4, ciy, cix] = _ON_LOGIT if g["emphasis"] else _OFF_LOGIT
            hm[CH_C8, ciy, cix] = _ON_LOGIT if g["space"] else _OFF_LOGIT

    for tl in layout["textlines"]:
        x0 = int(round(tl["x1"] / SCALE)) - ox
        x1 = int(round(tl["x2"] / SCALE)) - ox
        y0 = int(round(tl["y1"] / SCALE)) - oy
        y1 = int(round(tl["y2"] / SCALE)) - oy
        if tl["vertical"]:
            lo, hi = max(0, min(y0, y1)), min(h_cells - 1, max(y0, y1))
            if 0 <= x0 < w_cells and lo <= hi:
                hm[CH_LINE, lo:hi + 1, x0] = _ON_LOGIT
        else:
            lo, hi = max(0, min(x0, x1)), min(w_cells - 1, max(x0, x1))
            if 0 <= y0 < h_cells and lo <= hi:
                hm[CH_LINE, y0, lo:hi + 1] = _ON_LOGIT

    for sp in layout.get("seps", []):
        x0 = int(round(sp["x1"] / SCALE)) - ox
        x1 = int(round(sp["x2"] / SCALE)) - ox
        y0 = int(round(sp["y1"] / SCALE)) - oy
        y1 = int(round(sp["y2"] / SCALE)) - oy
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


def render_page_heatmaps(layout: dict) -> np.ndarray:
    """Surrogate forward pass: page logit maps in one stamp.

    With the real CNN, tiles are mandatory (fixed 768×768 input) and the
    page map is the interior-masked overlap-max merge of per-tile outputs
    (P1+P2+A1, process_ocr_base.py:480-516) — that path is
    ``render_page_heatmaps_tiled`` below. For the deterministic surrogate
    the merge is *provably identical* to stamping the page directly: every
    stamp's support radius (4σ ≤ 8 cells) is within the tile margin used to
    skip out-of-tile glyphs, so each cell's interior tile sees exactly the
    glyphs that can touch it. Direct render halves memory traffic (the
    stages are bandwidth-bound at 32 cores); equivalence is pinned by
    tests/test_detect.py::test_tiled_merge_equals_direct.
    """
    wc = int(math.ceil(layout["page_w"] / SCALE))
    hc = int(math.ceil(layout["page_h"] / SCALE))
    return _stamp_maps(layout, 0, 0, hc, wc)


def render_page_heatmaps_tiled(layout: dict) -> np.ndarray:
    """Tile fan-out (P1) + interior mask (P2) + overlap-max merge (A1) —
    the real-model geometry (``tile_windows``, as ``_real_forward``
    merges); kept as the reference implementation for the equivalence
    test."""
    wc = int(math.ceil(layout["page_w"] / SCALE))
    hc = int(math.ceil(layout["page_h"] / SCALE))
    page = np.full((N_CH, hc, wc), -np.inf, dtype=np.float32)
    for (oy, ox), page_win, tile_win in tile_windows(hc, wc):
        tile = _stamp_maps(layout, ox, oy, TILE_CELLS, TILE_CELLS)
        view = page[page_win]
        np.maximum(view, tile[tile_win], out=view)
    # cells never covered by an interior mask can only occur if stride >
    # 2*margin; fill from -inf for safety
    np.nan_to_num(page, copy=False, neginf=_BG_KEY_LOGIT)
    return page


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
    (and of non-negative area) passes every test."""
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
        alone = (~(inter > 0).any(axis=1) & (area[c] >= 0)).tolist()
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


def _runs_df(line_vals: np.ndarray, sep_vals: np.ndarray) -> pd.DataFrame:
    """RLE runs of the thresholded line / sep maps (group-stage input).

    Sep runs are cut at the group stage's lower blocker seed threshold
    (SEP_VALUETH, main.cpp:22) and carry the cell value so the group
    stage can rebuild the float sepimage its cluster-prune/hysteresis
    pass needs (prepare.cpp:99-170); runs split where the value changes.
    Inputs are sigmoid-domain value maps (shared by the surrogate and
    real-model paths)."""
    from findtextcenternet_spark.config import LINE_VALUETH, SEP_RUN_FLOOR

    parts = []
    for vals, th in ((line_vals, LINE_VALUETH), (sep_vals, SEP_RUN_FLOOR)):
        mask = vals > th
        # split runs on mask edges AND value changes (quantized): a
        # segment starts at each row's first cell and at each change
        q = np.where(mask, np.round(vals, 6), 0.0)
        start = np.ones(q.shape, dtype=bool)
        start[:, 1:] = q[:, 1:] != q[:, :-1]
        ys, xs = mask_cells(start)
        same_row = np.append(ys[1:] == ys[:-1], False)
        ends = np.where(same_row, np.append(xs[1:], 0) - 1, q.shape[1] - 1)
        on = mask[ys, xs]
        parts.append((ys[on], xs[on], ends[on], q[ys[on], xs[on]]))
    return pd.DataFrame({
        "channel": np.repeat(np.array(["line", "sep"], dtype=object),
                             [len(part[0]) for part in parts]),
        "y": np.concatenate([part[0] for part in parts]).astype(np.int64),
        "x1": np.concatenate([part[1] for part in parts]).astype(np.int64),
        "x2": np.concatenate([part[2] for part in parts]).astype(np.int64),
        "v": np.concatenate([part[3] for part in parts]).astype(np.float64)})


def detect_page(layout: dict, model=None
                ) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Full detect stage for one page.

    ``model`` comes from model_registry.get_detector_model(): the
    surrogate dict (default — heatmaps rendered from the layout record)
    or a real forward-pass object (operators/models.py — rasterize,
    tile, batched CNN forward, interior-mask merge), which shares all
    downstream machinery (NMS, cutoff, size decode, contrast, runs).

    Returns (boxes, runs):
      boxes: box_id, p, cx, cy, w, h, code1..code8, feature(len-100 list)
      runs:  channel ('line'|'sep'), y (cell row), x1, x2 (inclusive cells)
    """
    if model is not None and not isinstance(model, dict):
        return detect_page_real(layout, model)
    page = render_page_heatmaps(layout)
    p = sigmoid(page[CH_KEY])
    pooled = maxpool3x3(p)
    peak_mask = (p >= pooled) & (p >= CUT_OFF)
    ys, xs = mask_cells(peak_mask)
    pv = p[ys, xs]

    # W4 peak ranking: score desc, then (y, x) asc for determinism
    order = np.lexsort((xs, ys, -pv))
    ys, xs, pv = ys[order], xs[order], pv[order]

    w = np.exp(page[CH_SZX, ys, xs].astype(np.float64) - 3.0) * 1024.0
    h = np.exp(page[CH_SZY, ys, xs].astype(np.float64) - 3.0) * 1024.0
    cx = xs.astype(np.float64) * SCALE
    cy = ys.astype(np.float64) * SCALE

    # P5: drop degenerate / page-exceeding sizes
    ok = (w > 1.0) & (h > 1.0) & (w < layout["page_w"]) & (h < layout["page_h"])
    ys, xs, pv, w, h, cx, cy = ys[ok], xs[ok], pv[ok], w[ok], h[ok], cx[ok], cy[ok]

    # glyph cell lookup (shared by P6 contrast and the feature read below)
    gl = layout["glyphs"]
    feat_lookup: dict[tuple[int, int], int] = {}
    for gi, g in enumerate(gl):
        feat_lookup[(int(round(g["cy"] / SCALE)), int(round(g["cx"] / SCALE)))] = gi

    # P6: contrast filter — per-box two-cluster histogram distance,
    # threshold median(all)/5 (process_ocr_base.py:543-557); applied
    # inside the greedy NMS loop exactly like the reference
    hists = np.zeros(len(ys))
    for j in range(len(ys)):
        gi = feat_lookup.get((int(ys[j]), int(xs[j])), -1)
        contrast = float(gl[gi].get("contrast", 1.0)) if gi >= 0 else 1.0
        hists[j] = contrast_score(w[j], h[j], contrast)
    th_hist = (float(np.median(hists)) / 5.0) if len(hists) else 0.0

    # T3: greedy IoU NMS in score order, P6-gated
    keep = greedy_nms(np.stack([pv, cx, cy, w, h], axis=1), hists, th_hist)
    ys, xs, pv, w, h, cx, cy = ys[keep], xs[keep], pv[keep], w[keep], h[keep], cx[keep], cy[keep]

    # P7: separator-mask filter — drop boxes centered on separator pixels
    sep_p = sigmoid(page[CH_SEP, ys, xs])
    ok = sep_p <= 0.5
    ys, xs, pv, w, h, cx, cy = ys[ok], xs[ok], pv[ok], w[ok], h[ok], cx[ok], cy[ok]

    # A2: code flags max-pooled over the 3×3 neighborhood of the center
    codes = np.zeros((4, len(ys)), dtype=np.float64)
    hc, wc = p.shape
    for ci, ch in enumerate((CH_C1, CH_C2, CH_C4, CH_C8)):
        cmax = np.full(len(ys), -np.inf, dtype=np.float32)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                yy = np.clip(ys + dy, 0, hc - 1)
                xx = np.clip(xs + dx, 0, wc - 1)
                np.maximum(cmax, page[ch, yy, xx], out=cmax)
        codes[ci] = sigmoid(cmax.astype(np.float64))

    # glyph features read at the peak cells (surrogate: invertible embedding)
    cps = np.array([g["cp"] for g in gl], dtype=np.int64)
    emb = feature_embedding(cps) if len(gl) else np.zeros((0, FEATURE_DIM), np.float32)
    feats = np.zeros((len(ys), FEATURE_DIM), dtype=np.float32)
    for j in range(len(ys)):
        gi = feat_lookup.get((int(ys[j]), int(xs[j])), -1)
        if gi >= 0:
            feats[j] = emb[gi]

    boxes = pd.DataFrame({
        "box_id": np.arange(len(ys), dtype=np.int64),
        "p": pv.astype(np.float64),
        "cx": cx, "cy": cy, "w": w, "h": h,
        "code1": codes[0], "code2": codes[1],
        "code4": codes[2], "code8": codes[3],
    })
    # packed float32 bytes: 100 floats as one binary cell is ~10x cheaper
    # through Arrow than list<float> (no per-element boxing)
    boxes["feature"] = [row.tobytes() for row in feats]

    runs = _runs_df(sigmoid(page[CH_LINE]), sigmoid(page[CH_SEP]))
    return boxes, runs


def detect_page_real(layout: dict, model) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Real-model detect: rasterize -> white-pad -> 768px tiles -> batched
    CNN forward (10+100-channel output, models/detector.py:203-230) ->
    interior-mask overlap-max merge (P1+P2+A1, process_ocr_base.py:
    480-516) -> the SAME peak/NMS/size/contrast/separator pipeline as the
    surrogate. Features come from the model's fp16 feature map at the
    peak cells (fp16 transport, test_image3_torch.py:397); the P6
    contrast histogram comes from the actual pixels
    (process_ocr_base.py:543-575)."""
    from findtextcenternet_spark.operators.models import (
        TILE_PX,
        pad_to_tile_grid,
        rasterize_layout,
    )

    img = pad_to_tile_grid(rasterize_layout(layout))
    gray = img[:, :, 0]
    hc_all, wc_all = img.shape[0] // SCALE, img.shape[1] // SCALE
    oys, oxs = tile_origins(hc_all), tile_origins(wc_all)
    tiles = np.stack([
        img[oy * SCALE:oy * SCALE + TILE_PX, ox * SCALE:ox * SCALE + TILE_PX]
        for oy in oys for ox in oxs])
    heat, feats = model.forward_tiles(tiles)  # (B,10,192,192), (B,100,·,·)

    page = np.full((heat.shape[1], hc_all, wc_all), -np.inf,
                   dtype=np.float32)
    fpage = np.zeros((FEATURE_DIM, hc_all, wc_all), dtype=np.float16)
    bi = 0
    for oy in oys:
        for ox in oxs:
            x_lo = _MARGIN if ox > 0 else 0
            x_hi = TILE_CELLS - _MARGIN if ox + TILE_CELLS < wc_all \
                else TILE_CELLS
            y_lo = _MARGIN if oy > 0 else 0
            y_hi = TILE_CELLS - _MARGIN if oy + TILE_CELLS < hc_all \
                else TILE_CELLS
            x_hi = min(x_hi, wc_all - ox)
            y_hi = min(y_hi, hc_all - oy)
            view = page[:, oy + y_lo:oy + y_hi, ox + x_lo:ox + x_hi]
            np.maximum(view, heat[bi, :, y_lo:y_hi, x_lo:x_hi], out=view)
            fpage[:, oy + y_lo:oy + y_hi, ox + x_lo:ox + x_hi] = \
                feats[bi, :, y_lo:y_hi, x_lo:x_hi]
            bi += 1
    hcp = int(math.ceil(layout["page_h"] / SCALE))
    wcp = int(math.ceil(layout["page_w"] / SCALE))
    page = page[:, :hcp, :wcp]
    fpage = fpage[:, :hcp, :wcp]

    # channels: 0 keymap, 1 NMS'd peak, 2 szx, 3 szy, 4 line, 5 sep, 6-9
    # codes (CenterNetDetector ordering)
    p = sigmoid(np.nan_to_num(page[1], neginf=-30.0))
    ys, xs = mask_cells(p >= CUT_OFF)
    pv = p[ys, xs]
    order = np.lexsort((xs, ys, -pv))
    ys, xs, pv = ys[order], xs[order], pv[order]

    w = np.exp(page[2, ys, xs].astype(np.float64) - 3.0) * 1024.0
    h = np.exp(page[3, ys, xs].astype(np.float64) - 3.0) * 1024.0
    cx = xs.astype(np.float64) * SCALE
    cy = ys.astype(np.float64) * SCALE
    ok = (w > 1.0) & (h > 1.0) & (w < layout["page_w"]) \
        & (h < layout["page_h"])
    ys, xs, pv, w, h, cx, cy = (ys[ok], xs[ok], pv[ok], w[ok], h[ok],
                                cx[ok], cy[ok])

    # P6 contrast from the real pixels (process_ocr_base.py:543-557)
    hists = np.zeros(len(ys))
    for j in range(len(ys)):
        x1 = max(0, int(cx[j] - w[j] / 2) - 1)
        x2 = min(gray.shape[1], int(cx[j] + w[j] / 2) + 2)
        y1 = max(0, int(cy[j] - h[j] / 2) - 1)
        y2 = min(gray.shape[0], int(cy[j] + h[j] / 2) + 2)
        hist = np.bincount(gray[y1:y2, x1:x2].ravel(), minlength=256)
        hists[j] = cluster_dist(hist.astype(np.float64))
    th_hist = (float(np.median(hists)) / 5.0) if len(hists) else 0.0

    keep = greedy_nms(np.stack([pv, cx, cy, w, h], axis=1), hists, th_hist)
    ys, xs, pv, w, h, cx, cy = (ys[keep], xs[keep], pv[keep], w[keep],
                                h[keep], cx[keep], cy[keep])

    sep_p = sigmoid(np.nan_to_num(page[5, ys, xs], neginf=-30.0))
    ok = sep_p <= 0.5
    ys, xs, pv, w, h, cx, cy = (ys[ok], xs[ok], pv[ok], w[ok], h[ok],
                                cx[ok], cy[ok])

    codes = np.zeros((4, len(ys)), dtype=np.float64)
    for ci, ch in enumerate((6, 7, 8, 9)):
        cmax = np.full(len(ys), -np.inf, dtype=np.float32)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                yy = np.clip(ys + dy, 0, hcp - 1)
                xx = np.clip(xs + dx, 0, wcp - 1)
                np.maximum(cmax, page[ch, yy, xx], out=cmax)
        codes[ci] = sigmoid(np.nan_to_num(cmax.astype(np.float64),
                                          neginf=-30.0))

    feats_rows = fpage[:, ys, xs].T.astype(np.float32)
    boxes = pd.DataFrame({
        "box_id": np.arange(len(ys), dtype=np.int64),
        "p": pv.astype(np.float64),
        "cx": cx, "cy": cy, "w": w, "h": h,
        "code1": codes[0], "code2": codes[1],
        "code4": codes[2], "code8": codes[3],
    })
    boxes["feature"] = [row.tobytes() for row in feats_rows]

    line_vals = sigmoid(np.nan_to_num(page[4], neginf=-30.0))
    sep_vals = sigmoid(np.nan_to_num(page[5], neginf=-30.0))
    return boxes, _runs_df(line_vals, sep_vals)
