"""Loop reference for ``operators/decode.py:tokenize_page``.

The tokenizer as it was before it became whole-array NumPy, kept
verbatim: one ``itertuples`` row at a time, a break token appended on
each block or line change. ``test_decode_reference.py`` requires the
kernel's tokens and meta to equal this function's, value for value.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from findtextcenternet_spark.config import (
    SUBTYPE_EMPHASIS,
    SUBTYPE_RUBY,
    SUBTYPE_RUBYBASE,
    SUBTYPE_SPACE,
    SUBTYPE_VERTICAL,
)
from findtextcenternet_spark.operators.decode import (
    ENCODER_DIM,
    FEATURE_DIM,
    TK_NL,
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
