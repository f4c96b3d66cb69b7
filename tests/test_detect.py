"""Detect-stage tests (FIXTURES.md §6: NMS table; peak recovery)."""

import re
from pathlib import Path

import detect_reference as reference
import numpy as np
import pandas as pd
import pytest

from findtextcenternet_spark.config import (
    LINE_VALUETH,
    NMS_FILL,
    NMS_INTER,
    NMS_IOU,
    SEP_RUN_FLOOR,
)
from findtextcenternet_spark.corpus import generate_pages, make_layout
from findtextcenternet_spark.operators import detect
from findtextcenternet_spark.operators.detect import (
    _run_parts,
    _runs_frame,
    detect_page,
    greedy_nms,
    maxpool3x3,
    parse_layout,
    render_page_heatmaps,
    tile_origins,
)

_NMS_CALL = re.compile(r"(?<!def )\bgreedy_nms\(")


def test_tile_origins_cover():
    for n in (100, 192, 193, 400, 1000):
        tiles = tile_origins(n)
        covered = np.zeros(n, dtype=bool)
        for o in tiles:
            covered[o:o + 192] = True
        assert covered.all()
        assert tiles == sorted(tiles)


def test_maxpool3x3():
    p = np.zeros((5, 5), dtype=np.float32)
    p[2, 2] = 1.0
    out = maxpool3x3(p)
    assert out[1, 1] == out[2, 3] == 1.0
    assert out[0, 0] == 0.0
    assert (p >= out).sum() == 25 - 8  # only the 8 ring cells lose
    # (B, C, H, W): every (tile, channel) slice pools on its own
    batch = np.random.default_rng(5).normal(size=(3, 2, 7, 9)).astype(
        np.float32)
    pooled = maxpool3x3(batch)
    assert pooled.shape == batch.shape
    for b in range(3):
        for c in range(2):
            assert np.array_equal(pooled[b, c], maxpool3x3(batch[b, c]))
    # every cell is the max of its clipped 3×3 window
    for h, w in ((1, 1), (1, 6), (5, 1), (9, 13)):
        q = np.random.default_rng(h * w).normal(size=(h, w))
        want = np.array([[q[max(0, y - 1):y + 2, max(0, x - 1):x + 2].max()
                          for x in range(w)] for y in range(h)])
        assert np.array_equal(maxpool3x3(q), want)


def test_greedy_nms_rules():
    # identical boxes: second dropped (IoU=1 > 0.5)
    boxes = np.array([
        [0.9, 100, 100, 40, 40],
        [0.8, 100, 100, 40, 40],
        [0.7, 300, 300, 40, 40],
    ], dtype=np.float64)
    keep = greedy_nms(boxes)
    assert keep.tolist() == [True, False, True]

    # small box fully inside an accepted big one: intersection = own area
    # > 0.75*own → dropped
    boxes = np.array([
        [0.9, 100, 100, 80, 80],
        [0.8, 100, 100, 20, 20],
    ], dtype=np.float64)
    assert greedy_nms(boxes).tolist() == [True, False]

    # two accepted neighbours each overlap < thresholds but their union
    # fills > 0.5 of the third box → fill rule drops it
    boxes = np.array([
        [0.9, 90, 100, 40, 40],
        [0.8, 130, 100, 40, 40],
        [0.7, 110, 100, 44, 40],
    ], dtype=np.float64)
    keep = greedy_nms(boxes)
    assert keep.tolist() == [True, True, False]

    # disjoint boxes all kept
    boxes = np.array([
        [0.9, 0, 0, 10, 10],
        [0.8, 100, 0, 10, 10],
        [0.7, 0, 100, 10, 10],
    ], dtype=np.float64)
    assert greedy_nms(boxes).all()


def _greedy_nms_loop(boxes, hists=None, th_hist=-1.0):
    """Reference: one candidate at a time against the accepted list."""
    n = boxes.shape[0]
    keep = np.zeros(n, dtype=bool)
    x1 = boxes[:, 1] - boxes[:, 3] / 2
    x2 = boxes[:, 1] + boxes[:, 3] / 2
    y1 = boxes[:, 2] - boxes[:, 4] / 2
    y2 = boxes[:, 2] + boxes[:, 4] / 2
    area = boxes[:, 3] * boxes[:, 4]
    acc = []
    for i in range(n):
        if hists is not None and hists[i] < th_hist:
            continue
        if acc:
            a = np.array(acc)
            ix = np.minimum(x2[i], x2[a]) - np.maximum(x1[i], x1[a])
            iy = np.minimum(y2[i], y2[a]) - np.maximum(y1[i], y1[a])
            inter = np.clip(ix, 0, None) * np.clip(iy, 0, None)
            iou = inter / (area[i] + area[a] - inter)
            if (iou > NMS_IOU).any():
                continue
            if (inter > NMS_INTER * area[i]).any():
                continue
            if inter.sum() > NMS_FILL * area[i]:
                continue
        keep[i] = True
        acc.append(i)
    return keep


def test_greedy_nms_matches_loop_on_dense_page():
    # more candidates than one pairwise block, dense enough that every
    # rule fires, with the contrast gate on
    rng = np.random.default_rng(7)
    n = 5200
    wh = rng.uniform(6, 48, (n, 2))
    wh[::7] = wh[::7].round()  # exact duplicates of size
    centers = rng.uniform(0, 900, (n, 2)).round(1)
    centers[1::9] = centers[::9][:len(centers[1::9])]  # stacked boxes
    boxes = np.column_stack([np.sort(rng.uniform(0, 1, n))[::-1],
                             centers, wh])
    hists = rng.uniform(0, 1, n)
    for args in ((boxes,), (boxes, hists, 0.1)):
        keep = greedy_nms(*args)
        ref = _greedy_nms_loop(*args)
        assert 200 < keep.sum() < n - 200
        assert np.array_equal(keep, ref)


def _lone(boxes):
    """Candidates whose box overlaps no other candidate's."""
    x1 = boxes[:, 1] - boxes[:, 3] / 2
    x2 = boxes[:, 1] + boxes[:, 3] / 2
    y1 = boxes[:, 2] - boxes[:, 4] / 2
    y2 = boxes[:, 2] + boxes[:, 4] / 2
    ix = np.minimum(x2[:, None], x2) - np.maximum(x1[:, None], x1)
    iy = np.minimum(y2[:, None], y2) - np.maximum(y1[:, None], y1)
    inter = (np.clip(ix, 0, None) * np.clip(iy, 0, None)) > 0
    np.fill_diagonal(inter, False)
    return ~inter.any(axis=1)


def _sparse_and_mixed_sets(rng):
    """Candidate sets like a detected page's: boxes on a glyph grid with
    room between them, so most are lone (the shortcut's case), then
    stacked, touching and jittered boxes, zero-area boxes (alone, inside
    a box, stacked on each other) and enough rows for several chunks."""
    sets = []
    for n, jitter, stacked in ((120, 0.0, 0), (300, 2.0, 30),
                               (700, 6.0, 90)):
        side = int(np.ceil(np.sqrt(n)))
        k = np.arange(n)
        cx = 40.0 * (k % side) + rng.uniform(-jitter, jitter, n)
        cy = 40.0 * (k // side) + rng.uniform(-jitter, jitter, n)
        w = rng.uniform(12, 30, n)
        h = rng.uniform(12, 30, n)
        w[::17] = 0.0                      # zero width
        h[5::23] = 0.0                     # zero height
        w[3::29] = 40.0                    # touches its neighbours' cells
        src = rng.integers(0, n, stacked)  # on top of another candidate
        cx[:stacked], cy[:stacked] = cx[src] + 1.5, cy[src] - 1.0
        p = np.sort(rng.uniform(0.3, 1.0, n))[::-1]
        sets.append(np.column_stack([p, cx, cy, w, h]))
    return sets


def test_greedy_nms_matches_loop_on_sparse_and_mixed_sets():
    """Where most candidates overlap nothing, the lone-box shortcut skips
    their row reads: the keep mask must still be the one-at-a-time
    loop's and the previous chunked pass's (detect_reference.py), with
    and without a P6 gate that rejects lone and stacked candidates."""
    rng = np.random.default_rng(29)
    for boxes in _sparse_and_mixed_sets(rng):
        n = len(boxes)
        assert _lone(boxes).sum() > n // 2
        hists = rng.uniform(0, 1, n)
        for args in ((boxes,), (boxes, hists, 0.25)):
            # zero-area pairs divide 0 by 0 in the IoU (NaN, no hit)
            with np.errstate(invalid="ignore"):
                keep = greedy_nms(*args)
                assert np.array_equal(keep, _greedy_nms_loop(*args))
                assert np.array_equal(keep, reference.greedy_nms(*args))
            assert 0 < keep.sum() <= n - (len(args) > 1)


def test_greedy_nms_matches_reference_on_detected_pages():
    """The candidate sets ``detect_page`` hands ``greedy_nms`` (score
    order, sizes, P6 scores and gate) give the previous chunked pass's
    keep mask, captured from the surrogate's decode."""
    seen = []

    def capture(*args):
        keep = greedy_nms(*args)
        seen.append((args, keep))
        return keep

    detect.greedy_nms = capture
    try:
        for layout in _raster_layouts(150):
            detect_page(layout)
    finally:
        detect.greedy_nms = greedy_nms
    assert len(seen) >= 10 and sum(len(k) for _, k in seen) > 1000
    for args, keep in seen:
        assert np.array_equal(keep, reference.greedy_nms(*args))


def _runs_rows_loop(line_vals, sep_vals):
    """Reference: per-row RLE, split on mask edges and value changes."""
    rows = []
    for name, vals, th in (("line", line_vals, LINE_VALUETH),
                           ("sep", sep_vals, SEP_RUN_FLOOR)):
        mask = vals > th
        for y in range(mask.shape[0]):
            row = mask[y]
            if not row.any():
                continue
            q = np.where(row, np.round(vals[y], 6), 0.0)
            change = np.nonzero(np.diff(q) != 0)[0] + 1
            bounds = np.concatenate([[0], change, [len(row)]])
            for s, e in zip(bounds[:-1], bounds[1:]):
                if row[s]:
                    rows.append((name, y, int(s), int(e) - 1, float(q[s])))
    return pd.DataFrame(rows, columns=["channel", "y", "x1", "x2", "v"])


def test_runs_df_matches_row_loop():
    rng = np.random.default_rng(3)
    for _ in range(20):
        h, w = rng.integers(1, 60, 2)
        # sigmoid outputs carry more than 6 decimals: runs split on the
        # rounded value
        levels = np.array([0.0, 0.03, 0.2, 0.45, 0.7, 0.982, 0.98201376,
                           0.98201382, 0.7310586], dtype=np.float32)
        line = levels[rng.integers(0, len(levels), (h, w))]
        sep = np.repeat(levels[rng.integers(0, len(levels),
                                            (h, 1 + w // 4))], 4,
                        axis=1)[:, :w]
        got = _runs_frame(_run_parts(line, sep))
        want = _runs_rows_loop(line, sep)
        assert len(want)
        pd.testing.assert_frame_equal(got, want, check_exact=True)
    empty = _runs_frame(_run_parts(np.zeros((4, 5)), np.zeros((4, 5))))
    assert empty.empty
    assert list(empty.dtypes) == [object, np.int64, np.int64, np.int64,
                                  np.float64]


def test_detect_recovers_every_glyph():
    pdf = generate_pages(80)
    rast = pdf[pdf.lang.str.startswith("raster:")]
    assert len(rast) > 5
    for row in rast.itertuples():
        layout = parse_layout(bytes(row.html))
        boxes, runs = detect_page(layout)
        # every REAL glyph recovered; low-contrast decoys are P6-dropped
        real = [g for g in layout["glyphs"]
                if g.get("contrast", 1.0) >= 0.5]
        assert len(boxes) == len(real), row.url
        got = set(zip(boxes.cx.astype(int), boxes.cy.astype(int)))
        want = {(int(g["cx"]), int(g["cy"])) for g in real}
        assert got == want
        assert (runs["channel"] == "line").sum() > 0


def test_multi_tile_page_consistent():
    # a wide layout spanning several tiles still recovers all glyphs
    paras = [["abcdefghij klmnop qrstuv wxyzab cdefgh ijklmn opqrst uvwxyz"
              " abcdef ghijkl mnopqr stuvwx yzabcd"] * 2]
    layout = make_layout(paras, vertical=False)
    assert layout["page_w"] > 768  # multi-tile in x
    boxes, _ = detect_page(layout)
    assert len(boxes) == len(layout["glyphs"])


def test_one_decode_calls_greedy_nms():
    """Only ``operators/detect.py`` calls ``greedy_nms``, once, in the
    decode both forward passes share: a second call would be a second
    copy of the decode."""
    pkg = Path(detect.__file__).resolve().parents[1]
    calls = {path.relative_to(pkg).as_posix(): n
             for path in sorted(pkg.rglob("*.py"))
             if (n := len(_NMS_CALL.findall(path.read_text()))) > 0}
    assert calls == {"operators/detect.py": 1}, calls


def _raster_layouts(n):
    from findtextcenternet_spark.corpus import RASTER_MARKER

    return [parse_layout(bytes(h)) for h in generate_pages(n).html
            if bytes(h).startswith(RASTER_MARKER)]


def test_tiled_merge_equals_direct():
    """The production page render must match the real-model tile geometry
    (the interior-masked overlap-max merge of glyph-by-glyph tile
    stamps, kept in detect_reference.py) cell for cell."""
    layouts = _raster_layouts(150)
    assert len(layouts) >= 10
    for layout in layouts:
        direct = render_page_heatmaps(layout)
        tiled = reference.render_page_heatmaps_tiled(layout)
        assert np.array_equal(direct, tiled)


def _glyph(cx, cy, w, h, **flags):
    g = {"cx": cx, "cy": cy, "w": w, "h": h, "cp": 0x41, "ruby": 0,
         "rubybase": 0, "emphasis": 0, "space": 0}
    g.update(flags)
    return g


@pytest.mark.parametrize("chunk", [detect.STAMP_CHUNK, 300, 1])
def test_page_render_matches_glyph_loop_on_edge_cases(monkeypatch, chunk):
    """The whole-array stamp equals the glyph-by-glyph render on the cases
    the corpus rarely makes: glyphs sharing a center cell with different
    flags (the last one wins), windows clipped at every page edge, glyphs
    centered off the page, tiny and huge glyphs, and an empty page; with
    the default window-cell chunk, a few hundred cells, and one glyph a
    chunk."""
    monkeypatch.setattr(detect, "STAMP_CHUNK", chunk)
    rng = np.random.default_rng(11)
    layouts = [{"page_w": 400, "page_h": 300, "textlines": [], "seps": [],
                "glyphs": []}]
    for _ in range(40):
        n = int(rng.integers(1, 60))
        glyphs = [_glyph(float(rng.uniform(-60, 460)),
                         float(rng.uniform(-60, 360)),
                         float(rng.choice([1.0, 3.0, 20.0, 33.5, 150.0])),
                         float(rng.choice([1.0, 5.0, 24.0, 80.0])),
                         ruby=int(rng.integers(0, 2)),
                         rubybase=int(rng.integers(0, 2)),
                         emphasis=int(rng.integers(0, 2)),
                         space=int(rng.integers(0, 2)))
                  for _ in range(n)]
        # repeat some centers with other sizes and flags
        for g in glyphs[:n // 3]:
            glyphs.append(_glyph(g["cx"] + 0.4, g["cy"] - 0.4, 17.0, 9.0,
                                 ruby=1 - g["ruby"], space=1))
        layouts.append({"page_w": 400, "page_h": 300, "glyphs": glyphs,
                        "textlines": [{"x1": 10, "x2": 390, "y1": 40,
                                       "y2": 40, "vertical": False}],
                        "seps": [{"x1": 0, "x2": 400, "y1": 150,
                                  "y2": 150, "v": 0.6}]})
    for k, layout in enumerate(layouts):
        got = render_page_heatmaps(layout)
        want = reference.render_page_heatmaps(layout)
        assert got.dtype == want.dtype and np.array_equal(got, want), k
