"""Differential tests of the decode and assemble kernels against their
references (``decode_reference.py``).

Golden parity cannot see a change inside these kernels: ``golden.py``
calls the same functions. Here each kernel must give its reference's
output, value for value:

* ``tokenize_page`` (whole-array) against the ``itertuples`` loop, on
  layout pages from ``corpus.make_raster_page`` through detect and group,
  and on random ordered rows with every subtype bit pattern, blocks that
  change back and forth, line indices of -1 right after a block change,
  a first row off block 0, packed-bytes and list features;
* ``segment_windows``, ``emit_window`` and ``assemble_page`` (flags and
  meta rows read from lists) against their NumPy-scalar versions, on the
  same detected pages and on random flag streams: ruby runs, spaces,
  double newlines, direction flips and flag values other than 0 and 5.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import decode_reference as ref
from decode_reference import tokenize_page as reference

from findtextcenternet_spark.corpus import LANGS, make_raster_page
from findtextcenternet_spark.operators.assemble import assemble_page
from findtextcenternet_spark.operators.decode import (
    ENCODER_DIM,
    FEATURE_DIM,
    MAX_ENCODERLEN,
    TK_NL,
    TK_RBASE,
    TK_RUBY,
    TK_SPACE,
    TK_VERT,
    emit_window,
    mask_predict,
    frame_window,
    segment_windows,
    tokenize_page,
)
from findtextcenternet_spark.operators.detect import detect_page
from findtextcenternet_spark.operators.group import group_page


def _assert_same(ordered, label):
    tokens, meta = tokenize_page(ordered)
    ref_tokens, ref_meta = reference(ordered)
    assert tokens.dtype == ref_tokens.dtype and meta.dtype == ref_meta.dtype
    assert np.array_equal(tokens, ref_tokens), label
    assert np.array_equal(meta, ref_meta), label


def _random_rows(rng, n, packed):
    feats = rng.normal(0, 1, (n, FEATURE_DIM)).astype(np.float32)
    return pd.DataFrame({
        "box_id": np.arange(n, dtype=np.int64),
        "p": rng.uniform(0.5, 1.0, n),
        "cx": rng.uniform(0, 900, n).astype(np.float32),
        "cy": rng.uniform(0, 900, n).astype(np.float32),
        "w": rng.uniform(8, 40, n), "h": rng.uniform(8, 40, n),
        "feature": ([r.tobytes() for r in feats] if packed
                    else [r.tolist() for r in feats]),
        "block": np.cumsum(rng.random(n) < 0.15) * rng.choice([1, -1])
        + int(rng.integers(0, 3)),
        "idx": np.where(rng.random(n) < 0.1, -1,
                        np.cumsum(rng.random(n) < 0.3) % 7),
        "subidx": rng.integers(0, 50, n),
        "subtype": rng.integers(0, 64, n),
    })


def test_raster_pages_match_reference():
    rng = np.random.default_rng(20240607)
    n_tokens = 0
    for k in range(24):
        layout, _text = make_raster_page(rng, LANGS[k % len(LANGS)])
        ordered = group_page(*detect_page(layout))
        _assert_same(ordered, f"page={k}")
        n_tokens += len(ordered)
    assert n_tokens > 24 * 20


def test_random_rows_match_reference():
    rng = np.random.default_rng(7)
    for seed in range(200):
        n = int(rng.integers(1, 120))
        _assert_same(_random_rows(rng, n, packed=seed % 2 == 0),
                     f"seed={seed}")


def test_empty_page_matches_reference():
    empty = pd.DataFrame(columns=["box_id", "p", "cx", "cy", "w", "h",
                                  "feature", "block", "idx", "subidx",
                                  "subtype"])
    _assert_same(empty, "empty")


def _assert_windows_same(tokens, meta, codes_of, label):
    """segment → emit → assemble through the kernel and the reference;
    ``codes_of(start, end)`` gives a window's glyph codes."""
    wins = segment_windows(tokens)
    assert wins == ref.segment_windows(tokens), label
    windows, ref_windows = [], []
    for start, end, keep_back in wins:
        codes = codes_of(start, end)
        pred, tok_of = emit_window(tokens[start:end], codes)
        ref_pred, ref_tok_of = ref.emit_window(tokens[start:end], codes)
        assert pred == ref_pred, label
        assert tok_of.dtype == ref_tok_of.dtype, label
        assert np.array_equal(tok_of, ref_tok_of), label
        windows.append({"pred": pred, "tok_of": tok_of,
                        "meta": meta[start:end], "keep_back": keep_back})
        ref_windows.append({"pred": ref_pred, "tok_of": ref_tok_of,
                            "meta": meta[start:end], "keep_back": keep_back})
    rec, ref_rec = assemble_page(windows), ref.assemble_page(ref_windows)
    assert repr(rec) == repr(ref_rec), label
    return len(wins)


def test_raster_pages_windows_match_reference():
    rng = np.random.default_rng(20240608)
    n_windows = 0
    for k in range(24):
        layout, _text = make_raster_page(rng, LANGS[k % len(LANGS)])
        tokens, meta = tokenize_page(group_page(*detect_page(layout)))

        def decoded(start, end):
            return mask_predict(frame_window(tokens[start:end]))[0][1:-1]

        n_windows += _assert_windows_same(tokens, meta, decoded,
                                          f"page={k}")
    assert n_windows >= 24


def _flag_stream(rng, n):
    """(tokens, meta) of n tokens whose flags come in runs: vertical runs
    (direction flips), newline tokens (some doubled), rubybase runs each
    followed by a ruby run, spaces; a few flags hold values other than 0
    and 5, which the windowing reads as ``> 0`` / ``== 0``."""
    tokens = np.zeros((n, ENCODER_DIM), dtype=np.float32)
    fl = tokens[:, FEATURE_DIM:]
    k = 0
    vertical = 0.0
    while k < n:
        run = min(int(rng.integers(1, 60)), n - k)
        if rng.random() < 0.2:
            vertical = 5.0 - vertical
        fl[k:k + run, TK_VERT] = vertical
        kind = rng.random()
        if kind < 0.25:
            base = int(rng.integers(1, 5))
            fl[k:k + base, TK_RBASE] = 5.0
            fl[k + base:k + run, TK_RUBY] = 5.0
        elif kind < 0.45:
            fl[k + run - 1, TK_NL] = 5.0
            if rng.random() < 0.5 and k + run < n:
                fl[k + run, TK_NL] = 5.0
        fl[k:k + run, TK_SPACE] = 5.0 * (rng.random(run) < 0.08)
        k += run
    odd = rng.random(n) < 0.02
    fl[odd, TK_SPACE] = rng.choice([-1.0, 0.5, 2.5], int(odd.sum()))
    meta = np.column_stack([
        np.arange(n), rng.integers(0, 4, n), rng.integers(0, 9, n),
        rng.integers(0, 30, n), rng.integers(0, 64, n),
        rng.uniform(0, 900, (n, 2)), rng.uniform(4, 40, (n, 2))]
    ).astype(np.float64)
    return tokens, meta


def test_random_flag_streams_match_reference():
    rng = np.random.default_rng(41)
    cps = np.array([0x41, 0x7A, 0x3042, 0x6F22, 0xAC00, 0xD7A3, 0x0,
                    0xD800, 0x40000, 0x20, 0x30FC])
    n_windows = 0
    for seed in range(120):
        n = int(rng.integers(0, 3 * MAX_ENCODERLEN))
        tokens, meta = _flag_stream(rng, n)

        def codes_of(start, end):
            n_glyphs = int((tokens[start:end, FEATURE_DIM + TK_NL] == 0).sum())
            return rng.choice(cps, n_glyphs).astype(np.int64)

        n_windows += _assert_windows_same(tokens, meta, codes_of,
                                          f"seed={seed}")
    assert n_windows > 120

