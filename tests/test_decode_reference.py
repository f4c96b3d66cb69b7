"""Differential test of ``decode.tokenize_page`` against its loop
reference (``decode_reference.py``).

Golden parity cannot see a change inside the tokenizer: ``golden.py``
calls the same function. Here the whole-array kernel must give the same
tokens and meta as the ``itertuples`` loop, value for value, on:

* layout pages from ``corpus.make_raster_page`` through detect and group;
* random ordered rows with every subtype bit pattern, blocks that change
  back and forth, line indices of -1 right after a block change, a first
  row off block 0, packed-bytes and list features.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from decode_reference import tokenize_page as reference

from findtextcenternet_spark.corpus import LANGS, make_raster_page
from findtextcenternet_spark.operators.decode import FEATURE_DIM, tokenize_page
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
