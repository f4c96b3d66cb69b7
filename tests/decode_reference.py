"""Loop references for ``operators/decode.py`` and ``operators/assemble.py``.

Each function here is a kernel function as it was before its rewrite,
kept verbatim:

* ``tokenize_page`` before it became whole-array NumPy: one
  ``itertuples`` row at a time, a break token appended on each block or
  line change;
* ``segment_windows`` and ``emit_window`` before they read the token
  flags from lists: one NumPy scalar read per flag test;
* ``assemble_page`` before it unpacked each character's meta row from a
  list: one NumPy row and nine NumPy scalars per character.

``test_decode_reference.py`` requires the kernel's output to equal these
functions' outputs, value for value.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from findtextcenternet_spark.config import (
    MAX_ENCODERLEN,
    SUBTYPE_EMPHASIS,
    SUBTYPE_RUBY,
    SUBTYPE_RUBYBASE,
    SUBTYPE_SPACE,
    SUBTYPE_VERTICAL,
)
from findtextcenternet_spark.functions.ruby import decode_ruby
from findtextcenternet_spark.operators.assemble import _MARKERS, _WS
from findtextcenternet_spark.operators.decode import (
    ENCODER_DIM,
    FEATURE_DIM,
    TK_NL,
    TK_RBASE,
    TK_RUBY,
    TK_SPACE,
    TK_VERT,
)


def tokenize_page(ordered: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Ordered box rows → (tokens (n,106) float32, meta (n,9) float64).

    meta columns: box_id, block, idx, subidx, subtype, cx, cy, w, h
    (box_id = -1 for break tokens). Break-token emission mirrors
    process_ocr_base.py:135-149: one break on block change (which resets the
    line index) plus one on line change.
    """
    tokens: list[np.ndarray] = []
    meta: list[tuple] = []
    prev_block = 0
    prev_idx = 0
    vertical = 0

    def break_token() -> None:
        g = np.zeros(ENCODER_DIM, dtype=np.float32)
        g[FEATURE_DIM + TK_VERT] = 5.0 * vertical
        g[FEATURE_DIM + TK_NL] = 5.0
        tokens.append(g)
        meta.append((-1, -1, -1, -1, -1, 0.0, 0.0, 0.0, 0.0))

    for row in ordered.itertuples(index=False):
        subtype = int(row.subtype)
        if prev_block != row.block:
            prev_block = row.block
            break_token()
            prev_idx = -1
        if prev_idx != row.idx:
            prev_idx = row.idx
            break_token()

        ruby = 1 if (subtype & SUBTYPE_RUBY) == SUBTYPE_RUBY else 0
        rubybase = 1 if (not ruby and (subtype & SUBTYPE_RUBYBASE)) else 0
        space = 1 if subtype & SUBTYPE_SPACE else 0
        emphasis = 1 if subtype & SUBTYPE_EMPHASIS else 0
        vertical = 1 if subtype & SUBTYPE_VERTICAL else 0

        g = np.empty(ENCODER_DIM, dtype=np.float32)
        f = row.feature
        g[:FEATURE_DIM] = (np.frombuffer(f, dtype=np.float32)
                           if isinstance(f, (bytes, bytearray))
                           else np.asarray(f, dtype=np.float32))
        g[FEATURE_DIM:] = 5.0 * np.array(
            [vertical, rubybase, ruby, space, emphasis, 0], dtype=np.float32)
        tokens.append(g)
        meta.append((int(row.box_id), int(row.block), int(row.idx),
                     int(row.subidx), subtype,
                     float(row.cx), float(row.cy), float(row.w), float(row.h)))

    if not tokens:
        return (np.zeros((0, ENCODER_DIM), np.float32), np.zeros((0, 9)))
    return np.stack(tokens), np.array(meta, dtype=np.float64)


def segment_windows(tokens: np.ndarray) -> list[tuple[int, int, int]]:
    """D1: split the token stream into windows.

    Returns [(start, end, keep_back_chars)] — decode window [start:end),
    drop the first keep_back_chars characters of its decoded text when
    splicing. Reimplements process_ocr_base.py:187-283 break semantics.
    """
    n = tokens.shape[0]
    fl = tokens[:, FEATURE_DIM:]  # flag columns
    windows: list[tuple[int, int, int]] = []
    cur_i = 0
    prev_j = 0
    keep_back = 0
    while cur_i < n:
        # expansion budget: +1 per space, +3 per ruby group (:188-203)
        r = 0
        s = 0
        hard_cap = min(cur_i + MAX_ENCODERLEN - 3, n)
        for k in range(cur_i, hard_cap):
            if fl[k, TK_SPACE] > 0:
                r += 1
            if s == 0 and fl[k, TK_RBASE] > 0:
                r += 3
                s = 1
            elif s == 1 and fl[k, TK_RUBY] > 0:
                s = 2
            elif s == 2 and fl[k, TK_RUBY] == 0:
                s = 0
        cur_j = min(n, cur_i + (MAX_ENCODERLEN - 3 - r))
        # direction change point (:205-208)
        for j in range(cur_i + 1, cur_j):
            if fl[j, TK_VERT] != fl[cur_i, TK_VERT]:
                cur_j = j
                break
        # double newline = block boundary (:209-214)
        if cur_j < n - 1 and cur_i + 1 < cur_j - 1:
            for j in range(cur_i + 1, cur_j - 1):
                if fl[j, TK_NL] > 0 and fl[j + 1, TK_NL] > 0:
                    cur_j = j + 2
                    break
        # never split inside a ruby group (:216-223)
        if cur_j < n and cur_j > 1 and fl[cur_j - 1, TK_NL] == 0:
            for j in reversed(range(cur_i + 1, cur_j)):
                if fl[j, TK_RUBY] == 0 and fl[j, TK_RBASE] == 0:
                    cur_j = j + 1
                    break

        if prev_j == cur_j:
            keep_back = 0
            cur_i = cur_j
            continue
        windows.append((cur_i, cur_j, keep_back))

        if cur_j >= n:
            break
        # overlap carry (:252-281): back the window start up past ruby /
        # newline / direction changes; keep_back counts decoded characters
        k = cur_j - 1
        prev_j = cur_j
        keep_back = 0
        while cur_i < k:
            if fl[k, TK_VERT] != fl[cur_j, TK_VERT]:
                k += 1
                break
            if fl[k, TK_RBASE] > 0 or fl[k, TK_RUBY] > 0:
                k += 1
                break
            if k < cur_j - 1 and fl[k, TK_NL] > 0:
                k += 1
                break
            if fl[k, TK_SPACE] > 0:
                keep_back += 1
            if k > cur_j - 3:
                k -= 1
            else:
                break
        if cur_i < k:
            cur_i = k
            keep_back += cur_j - k
        else:
            keep_back = 0
            cur_i = cur_j
    return windows


def emit_window(tokens: np.ndarray, codes: np.ndarray
                ) -> tuple[str, np.ndarray]:
    """Emit one window's characters from its decoded glyph codes
    (``codes[k]`` belongs to the window's k-th glyph row).

    Emission rules (what the reference transformer learned end-to-end,
    observable in its output format, process_ocr_base.py:236-247,285-401):
      break token        -> '\\n'
      space flag         -> ' ' before an ASCII glyph else '　'
      rubybase run start -> U+FFF9, base→ruby transition -> U+FFFA,
      ruby run end       -> U+FFFB
      glyph              -> CRT-decoded codepoint (U+FFFD when invalid)

    Returns (text, tok_of_char) where tok_of_char[i] is the window-local
    token index of character i (−1 for structural characters).
    """
    n = tokens.shape[0]
    fl = tokens[:, FEATURE_DIM:]
    glyph_codes = iter(codes.tolist())

    out: list[str] = []
    tok_of: list[int] = []
    state = 0  # 0 plain, 1 in base run, 2 in ruby run
    for t in range(n):
        if fl[t, TK_NL] > 0:
            if state == 2:
                out.append("￻")
                tok_of.append(-1)
                state = 0
            elif state == 1:
                out.append("￺")
                tok_of.append(-1)
                out.append("￻")
                tok_of.append(-1)
                state = 0
            out.append("\n")
            tok_of.append(t)
            continue
        is_base = fl[t, TK_RBASE] > 0
        is_ruby = fl[t, TK_RUBY] > 0
        if state == 0 and is_base:
            out.append("￹")
            tok_of.append(-1)
            state = 1
        elif state == 1 and is_ruby:
            out.append("￺")
            tok_of.append(-1)
            state = 2
        elif state == 2 and not is_ruby:
            out.append("￻")
            tok_of.append(-1)
            state = 0
        elif state == 1 and not is_base and not is_ruby:
            # base run with no ruby glyphs — close the group empty
            out.append("￺")
            tok_of.append(-1)
            out.append("￻")
            tok_of.append(-1)
            state = 0
        cp = next(glyph_codes)
        ch = chr(cp) if 0 < cp <= 0x3FFFF and not (0xD800 <= cp <= 0xDFFF) else "�"
        if fl[t, TK_SPACE] > 0:
            # F8: ASCII and Hangul text uses ' ', CJK uses '　'
            # (data_transformer.py:53-57,351-356 class tests)
            ascii_like = cp < 0x80 or 0xAC00 <= cp <= 0xD7A3
            out.append(" " if ascii_like else "　")
            tok_of.append(-1)
        out.append(ch)
        tok_of.append(t)
    if state == 2:
        out.append("￻")
        tok_of.append(-1)
    elif state == 1:
        out.append("￺")
        tok_of.append(-1)
        out.append("￻")
        tok_of.append(-1)
    return "".join(out), np.array(tok_of, dtype=np.int64)


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
        meta = np.asarray(w["meta"], dtype=np.float64).reshape(-1, 9)
        kb = int(w["keep_back"])
        chars = pred[kb:]
        toks = tok_of[kb:]
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
