"""Group stage (SURVEY.md §2 J1-J7, A4-A14, W1-W3, W5-W6, P8-P9; §3.1
step 4): the page-local reading-order engine.

The real machinery lives in ``operators/textline.py`` — a faithful NumPy
re-expression of the reference's 6.4k-LoC ``textline_detect`` C++ program
(textline_detect/src/process.cpp:46-67 pipeline order): lineblocker
cluster-prune + hysteresis, textline CC, box→line spatial attach,
chain-merge fixpoint, unbound-box directional attach, warichu split,
space chains, ruby band attach + interleave, next-line edges, block DFS,
section (multi-column) reading order, warichu reorder, and the
duplicate/lost space checks. This module is the DataFrame adapter, called
once per page inside the pipeline's one kind-dispatching
``mapInPandas`` (``pipeline._raster_records``, which batches only the
decode after it across the Arrow batch's pages) and by
``golden.extract_raster_page``. Pages never cross executors, so the
stage scales linearly with page count regardless of cluster size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .textline import run_textline_detect

OUT_COLS = ["box_id", "p", "cx", "cy", "w", "h", "feature",
            "block", "idx", "subidx", "subtype"]


def group_page(boxes: pd.DataFrame, runs: pd.DataFrame) -> pd.DataFrame:
    """Order one page's boxes into (block, idx, subidx, subtype).

    Input: boxes (box_id, p, cx, cy, w, h, code1..code8, feature), runs
    (channel 'line'|'sep', y, x1, x2[, v]) in heatmap cells. Returns the
    carried box columns plus block/idx/subidx/subtype, sorted in final
    reading order (W2: block, idx, subidx — main.cpp:156-161). Boxes the
    reference drops (unreachable chains, block < 0) are excluded, exactly
    like the reference output filter (make_block.cpp:1739-1745)."""
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
    P, order = run_textline_detect(col, cells[channel == "line"], cells[sep],
                                   sep_vals)

    if not order:
        return pd.DataFrame([], columns=OUT_COLS)
    o = np.asarray(order, dtype=np.int64)
    return pd.DataFrame({
        "box_id": col["box_id"][o].astype(np.int64),
        "p": col["p"][o].astype(np.float64),
        "cx": P.cx[o], "cy": P.cy[o], "w": P.w[o], "h": P.h[o],
        "feature": col["feature"][o],
        "block": P.block[o], "idx": P.idx[o], "subidx": P.subidx[o],
        "subtype": P.subtype[o]})
