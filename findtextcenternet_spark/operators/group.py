"""Group stage (SURVEY.md §2 J1-J7, A4-A14, W1-W3, W5-W6, P8-P9; §3.1
step 4): the page-local reading-order engine.

The real machinery lives in ``operators/textline.py`` — a faithful NumPy
re-expression of the reference's 6.4k-LoC ``textline_detect`` C++ program
(textline_detect/src/process.cpp:46-67 pipeline order): lineblocker
cluster-prune + hysteresis, textline CC, box→line spatial attach,
chain-merge fixpoint, unbound-box directional attach, warichu split,
space chains, ruby band attach + interleave, next-line edges, block DFS,
section (multi-column) reading order, warichu reorder, and the
duplicate/lost space checks. This module hands it a page's arrays:
``order_boxes`` is the array core the pipeline's raster leg
(``pipeline._raster_records``) calls once per page between the batched
detect and the batched decode; ``group_page`` is its DataFrame adapter,
for ``golden.extract_raster_page`` and the tests. Pages never cross
executors, so the stage scales linearly with page count regardless of
cluster size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .textline import run_textline_detect

OUT_COLS = ["box_id", "p", "cx", "cy", "w", "h", "feature",
            "block", "idx", "subidx", "subtype"]
# what order_boxes hands on besides box_id, from the textline Page
_ORDERED = ("cx", "cy", "w", "h", "block", "idx", "subidx", "subtype")


def order_boxes(boxes: dict, line: np.ndarray, sep: np.ndarray,
                sep_vals: np.ndarray) -> dict:
    """Order one page's boxes: the array core of ``group_page``.

    Input: the box columns cx, cy, w, h, code1..code8 as arrays, the line
    and sep runs as (k, 3) rows of (y, x1, x2) in heatmap cells and each
    sep run's value. Returns ``box_id`` (the input row of each kept box)
    with cx, cy, w, h, block, idx, subidx and subtype, in final reading
    order (W2: block, idx, subidx — main.cpp:156-161). Boxes the
    reference drops (unreachable chains, block < 0) are excluded, exactly
    like the reference output filter (make_block.cpp:1739-1745)."""
    if not len(boxes["cx"]):
        empty = np.zeros(0, dtype=np.int64)
        return {c: empty for c in ("box_id", *_ORDERED)}
    P, order = run_textline_detect(boxes, line, sep, sep_vals)
    o = np.asarray(order, dtype=np.int64)
    return {"box_id": o, **{c: getattr(P, c)[o] for c in _ORDERED}}


def group_page(boxes: pd.DataFrame, runs: pd.DataFrame) -> pd.DataFrame:
    """``order_boxes`` over the detect stage's frames (a page of boxes
    (box_id, p, cx, cy, w, h, code1..code8, feature) and its runs
    (channel 'line'|'sep', y, x1, x2[, v])): the carried box columns plus
    block/idx/subidx/subtype, in final reading order."""
    if boxes.empty:
        return pd.DataFrame(columns=OUT_COLS)
    channel = runs["channel"].to_numpy()
    cells = np.column_stack([runs[c].to_numpy(dtype=np.int64)
                             for c in ("y", "x1", "x2")])
    sep = channel == "sep"
    if "v" in runs.columns and sep.any():
        sep_vals = runs["v"].to_numpy(dtype=np.float64)[sep]
    else:
        sep_vals = np.full(int(sep.sum()), 0.982)
    col = {c: boxes[c].to_numpy() for c in boxes.columns}
    ordered = order_boxes(col, cells[channel == "line"], cells[sep],
                          sep_vals)
    o = ordered["box_id"]
    if not len(o):
        return pd.DataFrame([], columns=OUT_COLS)
    return pd.DataFrame({
        "box_id": col["box_id"][o].astype(np.int64),
        "p": col["p"][o].astype(np.float64),
        **{c: ordered[c] for c in _ORDERED[:4]},
        "feature": col["feature"][o],
        **{c: ordered[c] for c in _ORDERED[4:]}})
