"""Differential test of the textline kernel against its loop reference.

``golden.py`` imports the same kernels as the pipeline, so golden parity
cannot see a change inside them. Here every function the kernel batched
into whole-array work is patched back to its loop version
(``textline_reference.py``) and ``run_textline_detect`` must give the same
reading order and the same per-box block, idx, subidx, subtype and
direction on:

* the 1,000 structured-random layouts of ``test_textline_fuzz``;
* layout pages from ``corpus.make_raster_page`` through ``detect_page``;
* a vertical line growing sideways onto a later horizontal line, which
  rewrites that line's angle (the repeated pass of ``line_grow``).
"""

from __future__ import annotations

import numpy as np
import textline_reference as reference
from test_textline_fuzz import gen_layout

from findtextcenternet_spark.corpus import LANGS, make_raster_page
from findtextcenternet_spark.operators import textline
from findtextcenternet_spark.operators.detect import detect_page

FIELDS = ("block", "idx", "subidx", "subtype", "direction")
EMPTY = np.zeros((0, 3), dtype=np.int64)


def _result(boxes, line_runs, sep_runs, sep_vals):
    P, order = textline.run_textline_detect(boxes, line_runs, sep_runs,
                                            sep_vals)
    return order, {f: getattr(P, f).copy() for f in FIELDS}


def _both(monkeypatch, inputs):
    """(kernel results, reference results) over a list of page inputs."""
    new = [_result(*args) for args in inputs]
    with monkeypatch.context() as m:
        for name in reference.REWRITTEN:
            # raising=False: the kernel folded search_chain and
            # find_linecenter_id into its track-knot walk
            m.setattr(textline, name, getattr(reference, name),
                      raising=False)
        ref = [_result(*args) for args in inputs]
    return new, ref


def _assert_same(new, ref, labels):
    for (order_n, fields_n), (order_r, fields_r), label in zip(new, ref,
                                                               labels):
        assert order_n == order_r, label
        for f in FIELDS:
            assert np.array_equal(fields_n[f], fields_r[f]), (label, f)


def test_fuzz_layouts_match_reference(monkeypatch):
    seeds = range(1000)
    inputs = [gen_layout(seed)[1:5] for seed in seeds]
    new, ref = _both(monkeypatch, inputs)
    _assert_same(new, ref, [f"seed={s}" for s in seeds])


def _page_inputs(boxes, runs):
    line = runs[runs["channel"] == "line"]
    sep = runs[runs["channel"] == "sep"]
    return ({k: boxes[k].to_numpy() for k in
             ("cx", "cy", "w", "h", "code1", "code2", "code4", "code8")},
            line[["y", "x1", "x2"]].to_numpy(dtype=np.int64),
            sep[["y", "x1", "x2"]].to_numpy(dtype=np.int64),
            sep["v"].to_numpy(dtype=np.float64))


def test_raster_pages_match_reference(monkeypatch):
    rng = np.random.default_rng(20240601)
    inputs = []
    for k in range(36):
        layout, _text = make_raster_page(rng, LANGS[k % len(LANGS)])
        inputs.append(_page_inputs(*detect_page(layout)))
    new, ref = _both(monkeypatch, inputs)
    assert sum(len(order) for order, _ in new) > 36 * 20
    _assert_same(new, ref, [f"page={k}" for k in range(len(inputs))])


def test_line_grow_angle_rewrite_matches_reference(monkeypatch):
    # a vertical line at cell x=25 whose sideways grow (half its 8-cell
    # width) reaches the horizontal line starting at x=28 on row 20
    n_v, n_h = 8, 6
    cx = [100.0] * n_v + [128.0 + 34 * k for k in range(n_h)]
    cy = [60.0 + 34 * k for k in range(n_v)] + [80.0] * n_h
    n = n_v + n_h
    z = np.zeros(n)
    boxes = {"cx": np.array(cx), "cy": np.array(cy),
             "w": np.full(n, 32.0), "h": np.full(n, 32.0),
             "code1": z, "code2": z, "code4": z, "code8": z}
    line_runs = np.array([[y, 25, 25] for y in range(12, 80)]
                         + [[20, 28, 60]], dtype=np.int64)
    args = (boxes, line_runs, EMPTY, np.zeros(0))

    P = textline.Page(*args)
    textline.make_lineblocker(P)
    lineid_map, count = textline.detect_line(P)
    angle_map, lineid_map, count = textline.set_angle(P, lineid_map, count)
    before = angle_map.copy()
    chains = textline.chain_boxes(P, count, angle_map, lineid_map)
    textline.line_grow(P, count, angle_map, lineid_map, chains)
    rewritten = (lineid_map >= 0) & (angle_map != before)
    assert rewritten[20, 28:].sum() > 4, "the case must chain rewrites"

    new, ref = _both(monkeypatch, [args])
    _assert_same(new, ref, ["angle rewrite"])
