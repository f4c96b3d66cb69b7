"""Assemble stage (SURVEY.md §2 D5, A10, F3-F4; §3.1 step 7).

Splices per-window decoded text (dropping each window's ``keep_back``
overlap chars, process_ocr_base.py:249-250), walks characters back to their
source boxes to build span/line/block records with running bbox
accumulation (process_ocr_base.py:285-461), and renders the aozora / noruby
variants of the flat text (util_func.py:128-135).
"""

from __future__ import annotations

import numpy as np

from ..config import (
    SUBTYPE_EMPHASIS,
    SUBTYPE_RUBY,
    SUBTYPE_RUBYBASE,
    SUBTYPE_VERTICAL,
)
from ..functions.ruby import decode_ruby
from ..functions.textnorm import WHITESPACE_CHARS

_WS = set(WHITESPACE_CHARS)
_MARKERS = {"￹", "￺", "￻"}


def assemble_page(windows: list[dict]) -> dict:
    """windows: ordered dicts with keys pred:str, tok_of:int64[],
    meta:(n,9) float64 [box_id, block, idx, subidx, subtype, cx, cy, w, h],
    keep_back:int. Returns the extracted-document record (FIXTURES.md §5).
    """
    result_txt = []
    spans: list[dict] = []
    lines: list[dict] = []

    line_x1 = line_y1 = np.inf
    line_x2 = line_y2 = -np.inf
    line_text = ""
    cur_block = -1
    cur_lineidx = -1

    def flush_line() -> None:
        nonlocal line_text, line_x1, line_x2, line_y1, line_y2
        if line_text:
            lines.append({
                "x1": float(line_x1) if np.isfinite(line_x1) else 0.0,
                "y1": float(line_y1) if np.isfinite(line_y1) else 0.0,
                "x2": float(line_x2) if np.isfinite(line_x2) else 0.0,
                "y2": float(line_y2) if np.isfinite(line_y2) else 0.0,
                "blockidx": int(cur_block), "lineidx": int(cur_lineidx),
                "text": line_text,
            })
        line_text = ""
        line_x1 = line_y1 = np.inf
        line_x2 = line_y2 = -np.inf

    for w in windows:
        pred: str = w["pred"]
        tok_of = np.asarray(w["tok_of"], dtype=np.int64)
        # token rows as lists: the walk below unpacks one per character
        meta = np.asarray(w["meta"], dtype=np.float64).reshape(-1, 9).tolist()
        kb = int(w["keep_back"])
        chars = pred[kb:]
        toks = tok_of[kb:].tolist()
        result_txt.append(chars)

        for c, t in zip(chars, toks):
            if c in _MARKERS:
                line_text += c
                continue
            if c == "\n":
                flush_line()
                continue
            if c in _WS:
                line_text += c
                continue
            if t < 0:
                line_text += c
                continue
            box_id, blockidx, lineidx, subidx, subtype, cx, cy, bw, bh = meta[t]
            subtype = int(subtype)
            ruby = 1 if (subtype & SUBTYPE_RUBY) == SUBTYPE_RUBY else 0
            rubybase = 1 if (not ruby and (subtype & SUBTYPE_RUBYBASE)) else 0
            emphasis = 1 if subtype & SUBTYPE_EMPHASIS else 0
            vertical = 1 if subtype & SUBTYPE_VERTICAL else 0
            cur_block = int(blockidx)
            cur_lineidx = int(lineidx)
            if not ruby:  # A10: line bbox over non-ruby glyphs
                line_x1 = min(line_x1, cx - bw / 2)
                line_x2 = max(line_x2, cx + bw / 2)
                line_y1 = min(line_y1, cy - bh / 2)
                line_y2 = max(line_y2, cy + bh / 2)
            line_text += c
            spans.append({
                "cx": float(cx), "cy": float(cy), "w": float(bw),
                "h": float(bh), "ch": c,
                "blockidx": int(blockidx), "lineidx": int(lineidx),
                "subidx": int(subidx), "ruby": ruby, "rubybase": rubybase,
                "emphasis": emphasis, "vertical": vertical,
            })
    flush_line()

    # block records from line records (process_ocr_base.py:403-461)
    blocks: list[dict] = []
    bi = -1
    bx1 = by1 = np.inf
    bx2 = by2 = -np.inf
    btext = ""

    def flush_block() -> None:
        nonlocal btext, bx1, bx2, by1, by2
        if btext:
            blocks.append({
                "x1": float(bx1), "y1": float(by1),
                "x2": float(bx2), "y2": float(by2),
                "blockidx": int(bi), "text": btext,
            })
        btext = ""
        bx1 = by1 = np.inf
        bx2 = by2 = -np.inf

    for ln in lines:
        if bi != ln["blockidx"]:
            flush_block()
            bi = ln["blockidx"]
        bx1 = min(bx1, ln["x1"])
        bx2 = max(bx2, ln["x2"])
        by1 = min(by1, ln["y1"])
        by2 = max(by2, ln["y2"])
        btext += ln["text"] + "\n"
    flush_block()

    text = "".join(result_txt)
    return {
        "text": text,
        "aozora": decode_ruby(text, "aozora"),
        "noruby": decode_ruby(text, "noruby"),
        "spans": spans,
        "lines": lines,
        "blocks": blocks,
    }
