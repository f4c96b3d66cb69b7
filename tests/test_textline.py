"""Unit gates for the faithful textline_detect port (operators/textline.py).

Each test pins a behavior the round-1 heuristic group stage did NOT have
(VERDICT.md round 1 coverage table): chain-merge fixpoint (J2), blocker
rejection, cluster weight prune (A12), hysteresis grow (A13), W1
tie-group resort, warichu reorder (W5), duplicate/lost space checks (W6),
and multi-column section reading order (W3).
"""

import numpy as np
import pandas as pd

from findtextcenternet_spark.corpus import make_layout, make_text
from findtextcenternet_spark.golden import extract_raster_page
from findtextcenternet_spark.operators.detect import detect_page
from findtextcenternet_spark.operators.group import group_page
from findtextcenternet_spark.operators.textline import (
    Page,
    combine_chains,
    fix_chain_info,
    make_lineblocker,
    run_textline_detect,
)

NO_RUNS = np.zeros((0, 3), dtype=np.int64)


def _boxes(rows):
    """rows: (cx, cy, w, h) tuples -> box dict with neutral codes."""
    arr = np.array(rows, dtype=np.float64)
    n = len(rows)
    return {
        "cx": arr[:, 0], "cy": arr[:, 1], "w": arr[:, 2], "h": arr[:, 3],
        "code1": np.zeros(n), "code2": np.zeros(n),
        "code4": np.zeros(n), "code8": np.zeros(n),
    }


def _hline_runs(y_cell, x1, x2):
    return np.array([[y_cell, x1, x2]], dtype=np.int64)


# ---------------------------------------------------------------- blocker

def test_a12_cluster_prune_drops_speck():
    """A 3-cell separator speck (weight < SEP_CLUSTERTH=10) must be erased
    (prepare.cpp:114-133) so the line chains across it."""
    boxes = _boxes([(32 * i + 16, 100, 28, 28) for i in range(8)])
    line = _hline_runs(25, 2, 70)
    speck = np.array([[25, 33, 35]], dtype=np.int64)  # 3 cells on the line
    P, order = run_textline_detect(boxes, line, speck,
                                   np.full(1, 0.982))
    assert len(order) == 8
    assert len({(int(P.block[i]), int(P.idx[i])) for i in order}) == 1, (
        "speck must be pruned; one line expected")
    assert [int(i) for i in order] == list(range(8))


def test_a12_heavy_separator_blocks():
    """The same geometry with a heavy separator (weight >= 10) must split
    the boxes into two lines."""
    boxes = _boxes([(32 * i + 16, 100, 28, 28) for i in range(4)]
                   + [(32 * i + 16, 100, 28, 28) for i in range(5, 9)])
    # vertical separator through the gap, 20 cells tall
    sep = np.array([[y, 36, 36] for y in range(15, 35)], dtype=np.int64)
    line_l = _hline_runs(25, 2, 33)
    line_r = _hline_runs(25, 40, 70)
    P, order = run_textline_detect(
        boxes, np.concatenate([line_l, line_r]), sep,
        np.full(len(sep), 0.982))
    assert len({(int(P.block[i]), int(P.idx[i])) for i in order}) == 2


def test_a13_hysteresis_grows_weak_halo():
    """Separator halo below the seed threshold (0.099 < SEP_VALUETH=0.1)
    but above 0.1x the core value must be grown into the blocker
    (prepare.cpp:135-169)."""
    core = [(10, 20, 40)]
    halo = [(9, 20, 40), (11, 20, 40)]
    sep_runs = np.array(core + halo, dtype=np.int64)
    sep_vals = np.array([0.982, 0.099, 0.099])
    P = Page(_boxes([(100, 100, 28, 28)]), NO_RUNS, sep_runs, sep_vals)
    make_lineblocker(P)
    assert P.lineblocker[10, 30]
    assert P.lineblocker[9, 30] and P.lineblocker[11, 30], (
        "halo rows must be hysteresis-grown into the blocker")
    # a lone weak run with no strong seed must NOT become a blocker
    P2 = Page(_boxes([(100, 100, 28, 28)]), NO_RUNS,
              np.array([[10, 20, 40]], dtype=np.int64), np.array([0.099]))
    make_lineblocker(P2)
    assert not P2.lineblocker.any()


# ---------------------------------------------------------------- chains

def test_j2_chain_merge_across_gap():
    """Two fragments of one line separated by a ~2-size gap merge
    (combine_chains reach = 3x(maxsize+meangap), search_loop.cpp:640;
    the gap must stay under split_doubleline2's 3x-size re-split)."""
    left = [(32 * i + 16, 100, 28, 28) for i in range(4)]
    right = [(32 * i + 168, 100, 28, 28) for i in range(4)]
    boxes = _boxes(left + right)
    runs = np.concatenate([_hline_runs(25, 2, 33), _hline_runs(25, 38, 70)])
    P, order = run_textline_detect(boxes, runs, NO_RUNS, np.zeros(0))
    assert len({(int(P.block[i]), int(P.idx[i])) for i in order}) == 1, (
        "fragments must merge into one line")
    # reading order: all left boxes before all right boxes
    assert [int(i) for i in order] == list(range(8))


def test_j2_no_merge_through_blocker():
    """The same fragments with a separator in the gap must NOT merge
    (lineblocker rejection, search_loop.cpp:648-651)."""
    left = [(32 * i + 16, 100, 28, 28) for i in range(4)]
    right = [(32 * i + 168, 100, 28, 28) for i in range(4)]
    boxes = _boxes(left + right)
    runs = np.concatenate([_hline_runs(25, 2, 33), _hline_runs(25, 38, 70)])
    sep = np.array([[y, 35, 35] for y in range(15, 35)], dtype=np.int64)
    P, order = run_textline_detect(boxes, runs, sep,
                                   np.full(len(sep), 0.982))
    assert len({(int(P.block[i]), int(P.idx[i])) for i in order}) == 2


def test_j2_horizontal_head_probe_sees_two_chains():
    """The head probe of a horizontal chain keeps walking past the first
    chain it accepts (search_loop.cpp:640-690): meeting a second
    acceptable chain in a later column makes the hit ambiguous, so
    nothing merges. Big-glyph chain C reaches both small-glyph chains A
    and B to its left; A and B are too small to reach each other or C."""
    small = [(176 + 14 * i, 100, 12, 12) for i in range(3)]   # B
    small += [(276 + 14 * i, 100, 12, 12) for i in range(3)]  # A
    big = [(400 + 64 * i, 100, 60, 60) for i in range(3)]     # C

    def combined(rows, chains):
        P = Page(_boxes(rows), NO_RUNS, NO_RUNS, np.zeros(0))
        make_lineblocker(P)
        combine_chains(P, chains)
        return chains

    # C alone with A: the head probe's single hit merges them
    assert combined(small[3:] + big, [[0, 1, 2], [3, 4, 5]]) == [
        [0, 1, 2, 3, 4, 5]]
    # with B further along the probe, C sees two chains: no merge
    assert combined(small + big, [[0, 1, 2], [3, 4, 5], [6, 7, 8]]) == [
        [0, 1, 2], [3, 4, 5], [6, 7, 8]]


def test_w1_tie_group_cross_axis_resort():
    """Boxes overlapping in x within a horizontal chain re-sort by cy
    (sort_chain search_loop.cpp:22-39): stacked quote marks read
    top-then-bottom."""
    # two 16px marks stacked around the baseline, x-overlapping; the TOP
    # one sits slightly RIGHT of the bottom one, so a plain cx sort would
    # emit bottom-then-top — the tie-group resort must flip them
    rows = [(16, 100, 28, 28), (48, 92, 16, 16), (44, 108, 16, 16),
            (80, 100, 28, 28)]
    boxes = _boxes(rows)
    runs = _hline_runs(25, 2, 25)
    P, order = run_textline_detect(boxes, runs, NO_RUNS, np.zeros(0))
    pos = {int(b): k for k, b in enumerate(order)}
    assert pos[1] < pos[2], "tie group must re-sort by cy (top first)"
    assert pos[0] < pos[1] and pos[2] < pos[3]


def test_p9_degenerate_chain_dropped_then_recovered():
    """fix_chain_info drops <2-box chains (search_loop.cpp:71-79); the
    boxes come back through fix_unbined/number_unbind, never silently."""
    P = Page(_boxes([(16, 100, 28, 28), (48, 100, 28, 28)]),
             NO_RUNS, NO_RUNS, np.zeros(0))
    chains = [[0], [1]]
    fix_chain_info(P, chains)
    assert chains == []


# ---------------------------------------------------------------- corpus-level

def _golden_of(paras, vertical=False, quirk=None, columns=None):
    layout = make_layout(paras, vertical, quirk=quirk, columns=columns)
    boxes, runs = detect_page(layout)
    return group_page(boxes, runs), layout


def test_w3_two_column_reading_order():
    """Two side-by-side columns read column-by-column (sections,
    make_block.cpp:580-1359) — NOT row-interleaved. Column bottoms differ
    by one line step (64px), inside the 4x-line-size alignment tolerance
    of the table-vs-columns check (make_block.cpp:916-919), so this stays
    a genuine 段組."""
    col0 = [["aaa bbb", "ccc ddd", "eee fff"]]
    col1 = [["ggg hhh", "iii jjj"]]
    ordered, layout = _golden_of(col0 + col1, columns=[col0, col1])
    # column split x: the vertical separator
    sep_x = [s["x1"] for s in layout["seps"] if s["x1"] == s["x2"]][0]
    col_of = ordered["cx"] > sep_x
    # strictly: all False rows (col0) precede all True rows (col1)
    flips = (col_of != col_of.shift()).sum()
    assert not col_of.iloc[0] and flips <= 2, (
        "left column must be read completely before the right column")
    # and blocks are numbered column-major
    assert ordered["block"].is_monotonic_increasing


def _grid_cells(col_x0s, rows_per_col, row_step=128):
    """Table-like grid: each cell is a 3-box horizontal line; returns
    (boxes, line_runs). Cell rows start at cy=100; the 128px row step
    exceeds the next-line probe reach (2x28px) so every cell is its own
    block, and the 300px column gap exceeds the chain-merge probe so
    cells never merge horizontally."""
    rows = []
    line_runs = []
    for x0, n_rows in zip(col_x0s, rows_per_col):
        for r in range(n_rows):
            cy = 100 + row_step * r
            for k in range(3):
                rows.append((x0 + 16 + 32 * k, cy, 28, 28))
            line_runs.append([cy // 4, (x0 + 2) // 4, (x0 + 94) // 4])
    return _boxes(rows), np.array(line_runs, dtype=np.int64)


def test_w3_table_ragged_bottoms_read_row_major():
    """A grid of short cells whose column bottoms are ragged is a TABLE,
    not side-by-side columns: reference falls back to row-major
    (make_block.cpp:906-980 — sections share one id and interleave by
    y-overlap). Column A has 5 cells, column B only 2 — bottom gap 180px
    > 4x the 28px line size, so the column-major path must NOT fire."""
    boxes, lines = _grid_cells([20, 320], [5, 2])
    P, order = run_textline_detect(boxes, lines, NO_RUNS,
                                   np.zeros(0))
    assert len(order) == 21
    # boxes 0-14 = column A cells 0-4; 15-20 = column B cells 0-1
    cell_of = [int(i) // 3 for i in order[::3]]  # first box of each cell
    # row-major: A0, B0, A1, B1, A2, A3, A4  (A cells are 0-4, B are 5-6)
    assert cell_of == [0, 5, 1, 6, 2, 3, 4], cell_of
    # all lines share one section (the table is one reading unit)
    assert len({int(P.section[i]) for i in order}) == 1


def test_w3_aligned_bottoms_stay_column_major():
    """Same geometry with equal-depth columns: bottoms align, so these ARE
    side-by-side columns and read column-by-column (the existing W3
    behavior must not regress)."""
    boxes, lines = _grid_cells([20, 320], [5, 5])
    P, order = run_textline_detect(boxes, lines, NO_RUNS,
                                   np.zeros(0))
    assert len(order) == 30
    cell_of = [int(i) // 3 for i in order[::3]]
    assert cell_of == [0, 1, 2, 3, 4, 5, 6, 7, 8, 9], cell_of
    assert len({int(P.section[i]) for i in order}) == 2


def test_find_lostspace_seeded_walk_survives_ornament_heads():
    """A block whose first TWO lines are ornaments/headers sitting ~2
    glyphs right of the body margin must not mis-anchor the margin walk:
    the reference seeds at the line whose wide head starts furthest
    toward the margin and adds a reverse pass
    (space_check.cpp:181-208,303-398). The round-2 top-down-only walk
    anchored on the ornaments, head_skip'd every body line, fitted the
    margin at the ornament edge, and CLEARED the legitimately indented
    body line's space flag."""
    from findtextcenternet_spark.config import SUBTYPE_SPACE

    rows = []
    for r in range(2):  # ornament lines, boxes 0-5
        for k in range(3):
            rows.append((128 + 32 * k, 100 + 64 * r, 32, 32))
    for r in range(5):  # body lines, boxes 6-20; r=2 indented one glyph
        indent = 32.0 if r == 2 else 0.0
        for k in range(3):
            rows.append((64 + indent + 32 * k, 228 + 64 * r, 32, 32))
    boxes = _boxes(rows)
    boxes["code8"][12] = 1.0  # the indented head carries its space flag
    line_runs = []
    for r in range(2):
        line_runs.append([(100 + 64 * r) // 4, 28, 52])
    for r in range(5):
        x0 = 12 + (8 if r == 2 else 0)
        line_runs.append([(228 + 64 * r) // 4, x0, x0 + 24])
    P, order = run_textline_detect(
        boxes, np.array(line_runs, dtype=np.int64), NO_RUNS, np.zeros(0))
    assert len(order) == 21
    blocks = {int(P.block[i]) for i in order}
    assert len(blocks) == 1, "fixture must group into one block"
    # the legit indent survives
    assert P.subtype[12] & SUBTYPE_SPACE, (
        "ornament heads mis-anchored the margin walk: legit indent lost")
    # body margin heads stay unflagged
    for h in (6, 9, 15, 18):
        assert not (P.subtype[h] & SUBTYPE_SPACE), f"box {h} gained a flag"


def test_w5_warichu_row_order():
    """A warichu run reads first row fully, then second row
    (make_block.cpp:1764-1826)."""
    line = "あいうえおかきくけこさし"
    quirk = {"kind": "warichu", "para": 0, "line": 0, "start": 3, "k": 3}
    ordered, _ = _golden_of([[line]], quirk=quirk)
    small = ordered[ordered["h"] < 20.0]
    assert len(small) == 6
    # row1 (upper, smaller cy) boxes all precede row2 boxes
    cys = small["cy"].to_numpy()
    assert (cys[:3] < cys[3:].min()).all(), "warichu row1 must read first"
    # and the spliced page text equals the original line
    from findtextcenternet_spark.corpus import RASTER_MARKER
    import json
    layout = make_layout([[line]], False, quirk=quirk)
    rec = extract_raster_page(
        RASTER_MARKER + json.dumps(layout).encode())
    assert rec["text"] == line


def test_w6_duplicate_space_removed():
    """Two overlapping space-flagged boxes keep only the first flag
    (remove_dupspace space_check.cpp:40-73)."""
    line = "the quick brown fox jumps"
    quirk = {"kind": "dupspace", "para": 0, "line": 0, "pos": 5}
    from findtextcenternet_spark.corpus import RASTER_MARKER
    import json
    layout = make_layout([[line]], False, quirk=quirk)
    # the layout really carries the spurious flag on two ADJACENT glyphs
    # ('q' legit from the text space, 'u' spurious): glyphs 3 and 4
    flags = [g["space"] for g in layout["glyphs"]]
    assert flags[3] == 1 and flags[4] == 1
    rec = extract_raster_page(RASTER_MARKER + json.dumps(layout).encode())
    assert rec["text"] == line, "spurious duplicate space must be removed"


def test_w6_lost_indent_space_recovered():
    """An indented line head missing its space flag gets it back from the
    fitted margin (find_lostspace space_check.cpp:76-673)."""
    lines = ["abcd efgh ijkl", "mnop qrst uvwx", "yzab cdef ghij",
             "klmn opqr stuv"]
    quirk = {"kind": "indent", "para": 0, "line": 2, "indent": 16.0}
    from findtextcenternet_spark.corpus import RASTER_MARKER
    import json
    layout = make_layout([lines], False, quirk=quirk)
    # the layout carries NO flag on the indented head
    heads = {}
    for g in layout["glyphs"]:
        heads.setdefault(g["line_id"], g)
    assert heads[2]["space"] == 0
    rec = extract_raster_page(RASTER_MARKER + json.dumps(layout).encode())
    expect = "\n".join(ln if i != 2 else " " + ln
                       for i, ln in enumerate(lines))
    assert rec["text"] == expect, "lost indent space must be recovered"


def test_p6_contrast_filter_drops_decoys():
    """P6: low-contrast decoy boxes fall under median/5 and are dropped in
    the NMS loop (process_ocr_base.py:543-575)."""
    layout = make_layout([["abcdef ghij"]], False)
    n_real = len(layout["glyphs"])
    layout["glyphs"].append({
        "cx": 600.0, "cy": 600.0, "w": 32.0, "h": 32.0, "cp": 0,
        "vertical": 0, "ruby": 0, "rubybase": 0, "space": 0,
        "emphasis": 0, "line_id": -1, "contrast": 0.05,
    })
    boxes, _runs = detect_page(layout)
    assert len(boxes) == n_real, "decoy must be dropped by the P6 filter"


def test_p6_keeps_faint_but_valid_glyphs():
    """Glyphs at half contrast stay above median/5."""
    layout = make_layout([["abcdef ghij"]], False)
    n = len(layout["glyphs"])
    for g in layout["glyphs"][:2]:
        g["contrast"] = 0.5
    boxes, _runs = detect_page(layout)
    assert len(boxes) == n
