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

``process_line`` and ``chain_boxes`` are also compared one call at a time
on random pages dense enough that a probe meets several lines at once,
and the page-scoped caches (chain-id map, track knots, in-chain sort)
must hand back what a fresh build from the page's current state gives.
"""

from __future__ import annotations

import copy

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


def _random_page(rng, n):
    """A page of n boxes scattered at random (some ruby), with a sparse
    random blocker."""
    codes = rng.uniform(0, 1, (4, n))
    codes[0] *= 0.6  # a few boxes over the ruby cutoff
    boxes = {"cx": rng.uniform(10, 600, n), "cy": rng.uniform(10, 600, n),
             "w": rng.uniform(6, 40, n), "h": rng.uniform(6, 40, n),
             "code1": codes[0], "code2": codes[1], "code4": codes[2],
             "code8": codes[3]}
    P = textline.Page(boxes, EMPTY, EMPTY, np.zeros(0))
    P.lineblocker = rng.random((P.H, P.W)) < 0.01
    return P


def test_process_line_matches_reference_on_random_pages():
    """Random lines over random boxes, a chain-id map with foreign cells
    sprinkled in: the probes hit several lines per step and depth, so
    the replay order of the accept-candidates decides the edges."""
    rng = np.random.default_rng(5)
    n_edges = 0
    for _ in range(150):
        n = int(rng.integers(5, 80))
        P = _random_page(rng, n)
        id_max = int(rng.integers(1, 12))
        owner = rng.integers(-1, id_max, n)
        vertical = rng.random(id_max) < 0.4
        P.direction[:] = np.where(vertical[owner], textline.M_PI_2, 0.0)
        chains = [sorted(np.flatnonzero(owner == c).tolist(),
                         key=(P.lcy if vertical[c] else P.lcx).__getitem__)
                  for c in range(id_max)]
        lineparams = []
        for c in range(id_max):
            lp = textline._LineParam()
            lp.d = int(rng.choice([0, 1, 2], p=[0.1, 0.45, 0.45]))
            lp.size = max((max(P.lw[b], P.lh[b]) for b in chains[c]),
                          default=0.0) * float(rng.choice([1.0, 1.0, 2.5]))
            lineparams.append(lp)
        cmap = textline._build_chainid_map(P, chains).copy()
        noise = rng.random(cmap.shape) < 0.05
        cmap[noise] = rng.integers(-1, id_max, int(noise.sum()))
        got = textline.process_line(P, id_max, chains, lineparams, cmap)
        want = reference.process_line(P, id_max, chains, lineparams, cmap)
        assert got == want
        n_edges += sum(len(edges) for edges in got[0])
    assert n_edges > 300


def test_chain_boxes_matches_reference_on_random_pages():
    """Random short line segments (some cells without an angle) around
    random boxes: a box's probes at one radius can hit different lines,
    so the probe order decides its line."""
    rng = np.random.default_rng(6)
    n_chained = 0
    for _ in range(150):
        P = _random_page(rng, int(rng.integers(1, 80)))
        count = int(rng.integers(20, 150))
        lineid_map = np.full((P.H, P.W), -1, dtype=np.int32)
        angle_map = np.full((P.H, P.W), np.nan, dtype=np.float32)
        for lid in range(count):
            y, x = int(rng.integers(0, P.H)), int(rng.integers(0, P.W))
            length = int(rng.integers(1, 60))
            cells = (np.s_[y, x:x + length] if rng.random() < 0.5
                     else np.s_[y:y + length, x])
            lineid_map[cells] = lid
            angle_map[cells] = rng.uniform(-1.6, 1.6)
        angle_map[rng.random(angle_map.shape) < 0.1] = np.nan
        ref_P = copy.deepcopy(P)
        got = textline.chain_boxes(P, count, angle_map, lineid_map)
        want = reference.chain_boxes(ref_P, count, angle_map, lineid_map)
        assert got == want
        assert np.array_equal(P.direction, ref_P.direction)
        n_chained += sum(len(c) for c in got)
    assert n_chained > 500


def test_page_caches_equal_fresh_builds(monkeypatch):
    """Every chain-id map and set of track knots a page hands back
    equals a fresh build from its current chains and box state, over the
    fuzz layouts and detected raster pages."""
    cached_map = textline.create_chainid_map
    cached_knots = textline._track_knots
    calls = {"map": 0, "knots": 0}

    def check_map(P, chains):
        got = cached_map(P, chains)
        assert np.array_equal(got, textline._build_chainid_map(P, chains))
        calls["map"] += 1
        return got

    def check_knots(P, chain):
        got = cached_knots(P, chain)
        assert got == textline._build_track_knots(P, chain)
        calls["knots"] += 1
        return got

    monkeypatch.setattr(textline, "create_chainid_map", check_map)
    monkeypatch.setattr(textline, "_track_knots", check_knots)
    rng = np.random.default_rng(20240602)
    inputs = [gen_layout(seed)[1:5] for seed in range(1000)]
    for k in range(12):
        layout, _text = make_raster_page(rng, LANGS[k % len(LANGS)])
        inputs.append(_page_inputs(*detect_page(layout)))
    for args in inputs:
        textline.run_textline_detect(*args)
    assert min(calls.values()) > 1000, calls
