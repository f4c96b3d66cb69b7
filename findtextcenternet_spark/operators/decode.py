"""Decode stage (SURVEY.md §2 D1-D5, F2-F3; §3.1 steps 5-6).

Tokenize: ordered boxes → 106-d encoder tokens with break tokens at
block/line transitions (reference: process_ocr_base.py:119-174).

Window segmentation (D1): ≤400-token windows whose budget shrinks +1 per
space flag and +3 per ruby group; force-break on direction change and
double newline; never split inside a ruby group; retain a ``keep_back``
overlap so window outputs splice without duplication
(process_ocr_base.py:187-283).

Mask-predict decode (D3): start all-masked, ≤8 refinement rounds; per
modulus take top-3 residues, form 27 CRT candidates, score by geometric-mean
probability, zero out invalid codes, argmax; early-stop when all
probabilities exceed 0.99, else re-mask positions under 0.9 and repeat
(models/transformer.py:274-360). The transformer itself is replaced by a
deterministic surrogate head that reads residue distributions out of the
invertible glyph embedding (operators/detect.py:feature_embedding) — the
round loop, candidate expansion, CRT reconstruction and re-masking are the
real algorithm, vectorized over all positions of a batch of windows.
The pipeline runs one ``mask_predict`` over the framed windows of a whole
Arrow batch (``pipeline._decode_codes``); ``expand_window`` is the
one-window form the golden runs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..config import (
    DECODER_ROUNDS,
    EARLY_STOP_P,
    FEATURE_DIM,
    MAX_ENCODERLEN,
    MODULOS,
    REMASK_P,
    SUBTYPE_EMPHASIS,
    SUBTYPE_RUBY,
    SUBTYPE_RUBYBASE,
    SUBTYPE_SPACE,
    SUBTYPE_VERTICAL,
)
from ..functions.crt import decode_codepoints, valid_codepoint_mask
from .detect import residues_from_feature

ENCODER_ADD_DIM = 6  # [vertical, rubybase, ruby, space, emphasis, newline]
ENCODER_DIM = FEATURE_DIM + ENCODER_ADD_DIM

# token flag columns (appended after the 100 feature dims)
TK_VERT, TK_RBASE, TK_RUBY, TK_SPACE, TK_EMPH, TK_NL = range(6)


def sp_token() -> np.ndarray:
    """SOT/EOT framing token (D2, process_ocr_base.py:172-174)."""
    t = np.zeros(ENCODER_DIM, dtype=np.float32)
    t[0:FEATURE_DIM:2] = 5.0
    t[1:FEATURE_DIM:2] = -5.0
    return t


def tokenize_page(ordered: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """``tokenize_boxes`` over an ordered frame (``group.group_page``;
    feature cells as packed float32 bytes or float sequences)."""
    feats = ordered["feature"].tolist()
    cols = {c: ordered[c].to_numpy() for c in _TOKEN_COLS}
    cols["feature"] = (
        np.frombuffer(b"".join(feats), np.float32).reshape(-1, FEATURE_DIM)
        if all(isinstance(f, bytes) for f in feats)
        else np.stack([np.asarray(f, np.float32) for f in feats]))
    return tokenize_boxes(cols)


_TOKEN_COLS = ("box_id", "block", "idx", "subidx", "subtype",
               "cx", "cy", "w", "h")


def tokenize_boxes(ordered: dict) -> tuple[np.ndarray, np.ndarray]:
    """Ordered box arrays (``group.order_boxes`` plus each box's
    (FEATURE_DIM,) float32 ``feature`` row) → (tokens (n,106) float32,
    meta (n,9) float64).

    meta columns: box_id, block, idx, subidx, subtype, cx, cy, w, h
    (box_id = -1 for break tokens). Break-token emission mirrors
    process_ocr_base.py:135-149: one break on block change (which resets the
    line index) plus one on line change; a break carries the vertical flag
    of the glyph before it. Whole-array: the breaks before each glyph are
    counted first, which fixes every row's output position.
    """
    n = len(ordered["block"])
    if n == 0:
        return (np.zeros((0, ENCODER_DIM), np.float32), np.zeros((0, 9)))
    block, idx = ordered["block"], ordered["idx"]
    subtype = ordered["subtype"].astype(np.int64)
    new_block = block != np.r_[0, block[:-1]]
    new_line = idx != np.where(new_block, -1, np.r_[0, idx[:-1]])
    n_breaks = new_block.astype(np.int64) + new_line
    pos = np.arange(n) + np.cumsum(n_breaks)  # output row of each glyph
    brk = np.r_[pos[n_breaks == 2] - 2, pos[n_breaks > 0] - 1]
    ruby = (subtype & SUBTYPE_RUBY) == SUBTYPE_RUBY
    vertical = (subtype & SUBTYPE_VERTICAL) != 0
    flags = np.column_stack([
        vertical, ~ruby & ((subtype & SUBTYPE_RUBYBASE) != 0), ruby,
        (subtype & SUBTYPE_SPACE) != 0, (subtype & SUBTYPE_EMPHASIS) != 0])

    tokens = np.zeros((n + len(brk), ENCODER_DIM), dtype=np.float32)
    tokens[pos, :FEATURE_DIM] = ordered["feature"]
    tokens[pos, FEATURE_DIM:FEATURE_DIM + TK_NL] = 5.0 * flags
    prev_vert = np.r_[False, vertical[:-1]]
    tokens[brk, FEATURE_DIM + TK_VERT] = 5.0 * np.r_[
        prev_vert[n_breaks == 2], prev_vert[n_breaks > 0]]
    tokens[brk, FEATURE_DIM + TK_NL] = 5.0

    meta = np.zeros((len(tokens), 9))
    meta[:, :5] = -1
    meta[pos, :5] = np.column_stack(
        [ordered[c].astype(np.int64) for c in _TOKEN_COLS[:4]] + [subtype])
    meta[pos, 5:] = np.column_stack([np.asarray(ordered[c], np.float64)
                                     for c in _TOKEN_COLS[5:]])
    return tokens, meta


def segment_windows(tokens: np.ndarray) -> list[tuple[int, int, int]]:
    """D1: split the token stream into windows.

    Returns [(start, end, keep_back_chars)] — decode window [start:end),
    drop the first keep_back_chars characters of its decoded text when
    splicing. Reimplements process_ocr_base.py:187-283 break semantics.
    """
    n = tokens.shape[0]
    # flag columns as lists: the walks below read them token by token
    vert, rbase, ruby, space, nl = tokens[:, FEATURE_DIM + np.array(
        [TK_VERT, TK_RBASE, TK_RUBY, TK_SPACE, TK_NL])].T.tolist()
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
            if space[k] > 0:
                r += 1
            if s == 0 and rbase[k] > 0:
                r += 3
                s = 1
            elif s == 1 and ruby[k] > 0:
                s = 2
            elif s == 2 and ruby[k] == 0:
                s = 0
        cur_j = min(n, cur_i + (MAX_ENCODERLEN - 3 - r))
        # direction change point (:205-208)
        for j in range(cur_i + 1, cur_j):
            if vert[j] != vert[cur_i]:
                cur_j = j
                break
        # double newline = block boundary (:209-214)
        if cur_j < n - 1 and cur_i + 1 < cur_j - 1:
            for j in range(cur_i + 1, cur_j - 1):
                if nl[j] > 0 and nl[j + 1] > 0:
                    cur_j = j + 2
                    break
        # never split inside a ruby group (:216-223)
        if cur_j < n and cur_j > 1 and nl[cur_j - 1] == 0:
            for j in reversed(range(cur_i + 1, cur_j)):
                if ruby[j] == 0 and rbase[j] == 0:
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
            if vert[k] != vert[cur_j]:
                k += 1
                break
            if rbase[k] > 0 or ruby[k] > 0:
                k += 1
                break
            if k < cur_j - 1 and nl[k] > 0:
                k += 1
                break
            if space[k] > 0:
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


# --- surrogate residue head -------------------------------------------------

def _residue_head(tokens: np.ndarray, masked: np.ndarray, rnd: int
                  ) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic surrogate of the decoder's three softmax heads.

    For each position returns top-3 residue candidates and probabilities per
    modulus: (n, 3 moduli, 3 candidates) ids + probs. Confidence grows with
    the refinement round (structural positions resolve immediately; space-
    flagged positions stay uncertain in round 0 to exercise re-masking).
    """
    n = tokens.shape[0]
    res = residues_from_feature(tokens[:, :FEATURE_DIM])
    ids = np.zeros((n, len(MODULOS), 3), dtype=np.int64)
    probs = np.zeros((n, len(MODULOS), 3), dtype=np.float64)
    conf = np.full(n, 0.995)
    if rnd == 0:
        conf = np.where(tokens[:, FEATURE_DIM + TK_SPACE] > 0, 0.85, conf)
    for mi, m in enumerate(MODULOS):
        r = res[mi]
        ids[:, mi, 0] = r
        ids[:, mi, 1] = (r + 1) % m
        ids[:, mi, 2] = (r - 1) % m
        probs[:, mi, 0] = conf
        probs[:, mi, 1] = (1 - conf) * 0.7
        probs[:, mi, 2] = (1 - conf) * 0.3
    return ids, probs


def mask_predict(tokens: np.ndarray, head=None
                 ) -> tuple[np.ndarray, np.ndarray]:
    """D3 mask-predict loop over the glyph positions of one window batch.

    tokens: (n, 106) glyph tokens (break tokens excluded by the caller).
    ``head`` supplies the per-round residue distributions — the surrogate
    by default, or the real softmax heads from model_registry
    .get_residue_heads (models/transformer.py:274-360 contract).
    Returns (codepoints int64, final probabilities).
    """
    if head is None:
        head = _residue_head
    n = tokens.shape[0]
    codes = np.zeros(n, dtype=np.int64)
    p_final = np.zeros(n, dtype=np.float64)
    masked = np.ones(n, dtype=bool)
    for rnd in range(DECODER_ROUNDS):
        if not masked.any():
            break
        idx = np.nonzero(masked)[0]
        ids, probs = head(tokens[idx], masked[idx], rnd)
        k = idx.shape[0]
        # 27 CRT candidates per position (3 per modulus)
        i0, i1, i2 = np.meshgrid(np.arange(3), np.arange(3), np.arange(3),
                                 indexing="ij")
        i0, i1, i2 = i0.ravel(), i1.ravel(), i2.ravel()
        cand = decode_codepoints(
            ids[:, 0, i0].reshape(-1),
            ids[:, 1, i1].reshape(-1),
            ids[:, 2, i2].reshape(-1),
        ).reshape(k, 27)
        p = (probs[:, 0, i0] * probs[:, 1, i1] * probs[:, 2, i2]) ** (1.0 / 3.0)
        p = p.reshape(k, 27)
        p = np.where(valid_codepoint_mask(cand), p, 0.0)  # zero invalid codes
        best = np.argmax(p, axis=1)
        codes[idx] = cand[np.arange(k), best]
        p_final[idx] = p[np.arange(k), best]
        if (p_final > EARLY_STOP_P).all():
            break
        masked = p_final < REMASK_P
    return codes, p_final


# --- character expansion ----------------------------------------------------

def frame_window(tokens: np.ndarray) -> np.ndarray:
    """D2 SOT/EOT framing: one window's glyph rows (break tokens dropped)
    wrapped in SP_token / -SP_token rows (process_ocr_base.py:172-174,
    230-233); the decoder consumes them as sequence delimiters, so their
    output positions are discarded (``codes[1:-1]``)."""
    glyphs = tokens[tokens[:, FEATURE_DIM + TK_NL] == 0]
    return np.vstack([sp_token()[None, :], glyphs, -sp_token()[None, :]])


def expand_window(tokens: np.ndarray, meta: np.ndarray, head=None
                  ) -> tuple[str, np.ndarray]:
    """Decode one window's tokens into its character stream: one
    ``mask_predict`` over the framed glyph rows, then ``emit_window``."""
    codes, _ = mask_predict(frame_window(tokens), head)
    return emit_window(tokens, codes[1:-1])


# what closes an open group: none, a base run (empty ruby), a ruby run
_CLOSE = ((), ("￺", "￻"), ("￻",))


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
    rbase, ruby, space, nl = tokens[:, FEATURE_DIM + np.array(
        [TK_RBASE, TK_RUBY, TK_SPACE, TK_NL])].T.tolist()
    glyph_codes = iter(codes.tolist())

    out: list[str] = []
    tok_of: list[int] = []

    def mark(*chars: str) -> None:  # structural characters: no token
        out.extend(chars)
        tok_of.extend([-1] * len(chars))

    state = 0  # 0 plain, 1 in base run, 2 in ruby run
    for t, (is_nl, base_flag, ruby_flag, space_flag) in enumerate(
            zip(nl, rbase, ruby, space)):
        if is_nl > 0:
            mark(*_CLOSE[state])
            state = 0
            out.append("\n")
            tok_of.append(t)
            continue
        is_base = base_flag > 0
        is_ruby = ruby_flag > 0
        if state == 0 and is_base:
            mark("￹")
            state = 1
        elif state == 1 and is_ruby:
            mark("￺")
            state = 2
        elif state == 2 and not is_ruby:
            mark("￻")
            state = 0
        elif state == 1 and not is_base and not is_ruby:
            # base run with no ruby glyphs — close the group empty
            mark(*_CLOSE[1])
            state = 0
        cp = next(glyph_codes)
        ch = chr(cp) if 0 < cp <= 0x3FFFF and not (0xD800 <= cp <= 0xDFFF) else "�"
        if space_flag > 0:
            # F8: ASCII and Hangul text uses ' ', CJK uses '　'
            # (data_transformer.py:53-57,351-356 class tests)
            ascii_like = cp < 0x80 or 0xAC00 <= cp <= 0xD7A3
            mark(" " if ascii_like else "　")
        out.append(ch)
        tok_of.append(t)
    mark(*_CLOSE[state])
    return "".join(out), np.array(tok_of, dtype=np.int64)
