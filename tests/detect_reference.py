"""Reference for the detect decode (``operators/detect.py``).

These are the two detect functions as they were when the surrogate and
the real-model path each carried their own copy of the decode, kept
verbatim: ``detect_page`` for the surrogate (layout-rendered maps, 3×3
max-pool peaks) and ``detect_page_real`` for the real model (tiled
``forward_tiles`` output, its own channel indices and size constants).
``test_detect_reference.py`` requires the kernel's one decode to give the
same ``boxes`` and ``runs`` frames as these, value for value. The helpers
they call (rendering, pooling, NMS, contrast, run encoding) are imported
from the kernel.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from findtextcenternet_spark.config import CUT_OFF, FEATURE_DIM, SCALE
from findtextcenternet_spark.operators.detect import (
    _MARGIN,
    CH_C1,
    CH_C2,
    CH_C4,
    CH_C8,
    CH_KEY,
    CH_LINE,
    CH_SEP,
    CH_SZX,
    CH_SZY,
    TILE_CELLS,
    _runs_df,
    cluster_dist,
    contrast_score,
    feature_embedding,
    greedy_nms,
    maxpool3x3,
    render_page_heatmaps,
    sigmoid,
    tile_origins,
)
from findtextcenternet_spark.operators.textline import mask_cells

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
