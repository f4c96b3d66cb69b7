"""Differential test of ``detect.detect_page`` against its reference
(``detect_reference.py``).

Golden parity cannot see a change inside the detect decode: ``golden.py``
calls the same function. Here the one decode behind both forward passes
must give the same ``boxes`` and ``runs`` frames as the two decodes it
replaced, value for value, on:

* every raster layout of ``generate_pages(150)`` through the surrogate;
* the raster pages of ``generate_pages(24)`` through the real model, with
  tiny random weights whose keymap bias is raised so that boxes are found
  (and the contrast gate, the separator filter and the code max see
  them), and with the default tiny weights, which find none.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from detect_reference import detect_page as reference

from findtextcenternet_spark.corpus import RASTER_MARKER, generate_pages
from findtextcenternet_spark.operators import models as M
from findtextcenternet_spark.operators.detect import detect_page, parse_layout


def _raster_layouts(n):
    return [parse_layout(bytes(h)) for h in generate_pages(n).html
            if bytes(h).startswith(RASTER_MARKER)]


def _assert_same(layout, model, label):
    boxes, runs = detect_page(layout, model)
    ref_boxes, ref_runs = reference(layout, model)
    pd.testing.assert_frame_equal(boxes, ref_boxes, check_exact=True,
                                  obj=f"boxes {label}")
    pd.testing.assert_frame_equal(runs, ref_runs, check_exact=True,
                                  obj=f"runs {label}")
    return len(boxes)


def test_surrogate_decode_matches_reference():
    layouts = _raster_layouts(150)
    assert len(layouts) >= 10
    n_boxes = sum(_assert_same(layout, None, f"page={k}")
                  for k, layout in enumerate(layouts))
    assert n_boxes > 1000


@pytest.mark.parametrize("seed,key_bias", [(0, -1.0), (11, None)])
def test_real_decode_matches_reference(tmp_path, seed, key_bias):
    path = str(tmp_path / "tiny.npz")
    M.save_tiny_random_weights(path, seed=seed)
    if key_bias is not None:
        arrs = dict(np.load(path))
        arrs["conv2_b"][0] = key_bias
        np.savez(path, **arrs)
    det = M.load_detector(path)
    layouts = _raster_layouts(24)
    assert len(layouts) >= 3
    n_boxes = sum(_assert_same(layout, det, f"page={k}")
                  for k, layout in enumerate(layouts))
    assert (n_boxes > 300) == (key_bias is not None), n_boxes
