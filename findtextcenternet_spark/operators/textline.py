"""Faithful NumPy re-expression of the reference ``textline_detect`` C++
program (6.4k LoC), the group stage of the pipeline (SURVEY.md §2
J1-J7, A4-A14, W1-W3, W5-W6, P8-P9; §3.1 step 4).

Pipeline order mirrors textline_detect/src/process.cpp:46-67:

    prepare_id_image -> make_lineblocker -> linefind -> search_loop
    (combine_chains fixpoint + fix_unbined + split_doubleline1-3 +
    chain_space) -> after_search (fix_shortchain, search_ruby,
    renumber_chain, number_unbind, make_block) -> space_check

Everything is page-local and deterministic: where the C++ relies on
incidental iteration order (unstable std::sort, flood-fill insertion
order), this port pins an explicit total order and documents the
canonicalization inline. Coordinates: boxes in pixels, raster maps in
heatmap cells (SCALE=4 px/cell), exactly like the reference binary
protocol (main.cpp:100-131).

Documented divergences (each deliberate, none observable on clean pages):
* combine_chains head-probe EMA: the reference's fold variable reads its
  own anchor every step (``end_cy1 = 0.25*end_cy0 + 0.75*cy`` at
  search_loop.cpp:670, same at :810 — a fold-variable typo); this port
  folds the candidate chain's values, the evident intent (the tail
  probes, :725 and :862, fold correctly and are ported as-is).
* chain_line_force (after_search.cpp:81-225) is a no-op at the
  reference's default ``chain_line_ratio = 0.0`` (main.cpp:28) and is not
  ported.
* renumber_id's section machinery (make_block.cpp:580-1359) is
  re-expressed as transitive interval-overlap column clustering plus the
  geometric chain reorder — identical observable reading order for
  rectangular column layouts; the reference's table-vs-columns heuristic
  (:906-980) is ported as ``_table_interleave`` (in ``renumber_id``): groups
  whose row bands interleave are read row-major like a table instead of
  column-major.

Scale note: the pipeline runs this once per page inside its one
kind-dispatching ``mapInPandas`` (``pipeline._raster_records`` →
``group.order_boxes``, on arrays). Pages never cross
executors, so the stage is embarrassingly parallel and its cost is
O(page) regardless of corpus size. Within a page the cost is Python
interpretation, not arithmetic: a median page grid is about 200x200 cells
with about 80 boxes, so the hot loops are written as a few whole-array
NumPy passes per page, and the scalar walks that remain read box geometry
from Python lists (``Page.lcx`` ...), not NumPy scalars. What the search
loops ask for again with unchanged inputs (the chain-id map, a chain's
track knots) is built once per page and kept on the ``Page``
(``chainid_maps``, ``knots``), keyed on everything it reads.
"""

from __future__ import annotations

import math

import numpy as np

from ..config import (
    ALLOW_SIZEDIFF,
    ALLOWWIDTH_NEXT_BLOCK,
    EMPHASIS_CUTOFF,
    LINE_VALUETH,
    RUBY_CUTOFF,
    RUBYBASE_CUTOFF,
    SCALE,
    SEP_CLUSTERTH,
    SEP_VALUETH,
    SEP_VALUETH2,
    SPACE_CUTOFF,
    SUBTYPE_ALONE_RUBY,
    SUBTYPE_EMPHASIS,
    SUBTYPE_RUBY,
    SUBTYPE_RUBYBASE,
    SUBTYPE_SPACE,
    SUBTYPE_TAB_SPLIT,
    SUBTYPE_VERTICAL,
)

M_PI = math.pi
M_PI_4 = math.pi / 4
M_PI_2 = math.pi / 2
RUBY_BITS = SUBTYPE_RUBY  # 2+4; (subtype & 6) == 6 means ruby glyph


class Page:
    """Mutable per-page state: the charbox fields (line_detect.h:4-22) as
    parallel arrays plus the cell-grid raster maps the C++ keeps global."""

    def __init__(self, boxes: dict, line_runs: np.ndarray,
                 sep_runs: np.ndarray, sep_vals: np.ndarray):
        n = len(boxes["cx"])
        self.n = n
        self.cx = np.asarray(boxes["cx"], dtype=np.float64)
        self.cy = np.asarray(boxes["cy"], dtype=np.float64)
        self.w = np.asarray(boxes["w"], dtype=np.float64)
        self.h = np.asarray(boxes["h"], dtype=np.float64)
        # the same fixed geometry as lists: the scalar loops below read it
        # thousands of times a page, and a list read is far cheaper than
        # a NumPy scalar read
        self.lcx, self.lcy = self.cx.tolist(), self.cy.tolist()
        self.lw, self.lh = self.w.tolist(), self.h.tolist()
        # subtype init from code cutoffs (main.cpp:132-147): ruby sets BOTH
        # bits 2+4 on code1 alone; rubybase sets bit 2 on code2
        st = np.zeros(n, dtype=np.int64)
        st |= np.where(np.asarray(boxes["code2"]) > RUBYBASE_CUTOFF,
                       SUBTYPE_RUBYBASE, 0)
        st |= np.where(np.asarray(boxes["code1"]) > RUBY_CUTOFF, RUBY_BITS, 0)
        st |= np.where(np.asarray(boxes["code8"]) > SPACE_CUTOFF,
                       SUBTYPE_SPACE, 0)
        st |= np.where(np.asarray(boxes["code4"]) > EMPHASIS_CUTOFF,
                       SUBTYPE_EMPHASIS, 0)
        self.subtype = st
        self.direction = np.zeros(n, dtype=np.float64)
        self.double_line = np.zeros(n, dtype=np.int64)
        self.idx = np.full(n, -1, dtype=np.int64)
        self.subidx = np.full(n, -1, dtype=np.int64)
        self.block = np.full(n, -1, dtype=np.int64)
        self.page = np.zeros(n, dtype=np.int64)
        self.section = np.zeros(n, dtype=np.int64)

        # cell grid sized to cover all boxes and runs (the reference gets
        # width/height from the detect stage; extents are equivalent)
        max_x = max_y = 192
        if n:
            max_x = max(max_x, int(np.ceil((self.cx + self.w / 2).max() / SCALE)))
            max_y = max(max_y, int(np.ceil((self.cy + self.h / 2).max() / SCALE)))
        for runs in (line_runs, sep_runs):
            if len(runs):
                max_x = max(max_x, int(runs[:, 2].max()))
                max_y = max(max_y, int(runs[:, 0].max()))
        self.W = max_x + 4
        self.H = max_y + 4

        self.lineimage = np.zeros((self.H, self.W), dtype=np.float32)
        for y, x1, x2 in line_runs:
            self.lineimage[int(y), int(x1):int(x2) + 1] = 0.982
        self.sepimage = np.zeros((self.H, self.W), dtype=np.float32)
        for (y, x1, x2), v in zip(sep_runs, sep_vals):
            self.sepimage[int(y), int(x1):int(x2) + 1] = float(v)
        self.lineblocker = np.zeros((self.H, self.W), dtype=bool)
        # chain-id maps and track knots already built on this page; the
        # geometry above never changes, so each is keyed on the chains and
        # the box state it reads
        self.chainid_maps: dict = {}
        self.knots: dict = {}

    def chain_state(self) -> tuple:
        """The mutable box state the chain-id map and the track knots
        read (subtype, double_line, direction), as a key."""
        return (self.subtype.tobytes(), self.double_line.tobytes(),
                self.direction.tobytes())

    def is_ruby(self, i: int) -> bool:
        return (self.subtype.item(i) & 6) == 6


def mask_cells(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Row-major (y, x) of a 2-D mask's true cells: ``np.nonzero``'s
    result, through the flat index (np.nonzero is several times slower
    on page-sized 2-D grids)."""
    return np.divmod(np.flatnonzero(mask), mask.shape[1])


def ramp(n: np.ndarray) -> np.ndarray:
    """0..n[k]-1 for every k, concatenated."""
    return np.arange(int(n.sum())) - np.repeat(np.cumsum(n) - n, n)


def _runs_of_mask(mask: np.ndarray) -> list[tuple[int, int, int]]:
    """Row-major RLE of a boolean mask: (y, x1, x2) inclusive."""
    padded = np.zeros((mask.shape[0], mask.shape[1] + 2), dtype=np.int8)
    padded[:, 1:-1] = mask
    ys, xs = mask_cells(np.diff(padded, axis=1))
    # edges alternate start, end+1 within each row, in row-major order
    return list(zip(ys[::2].tolist(), xs[::2].tolist(),
                    (xs[1::2] - 1).tolist()))


class _UnionFind:
    __slots__ = ("parent",)

    def __init__(self, n: int):
        self.parent = list(range(n))

    def find(self, a: int) -> int:
        p = self.parent
        while p[a] != a:
            p[a] = p[p[a]]
            a = p[a]
        return a

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def _label_components(mask: np.ndarray, reach: int = 0
                      ) -> tuple[np.ndarray, int]:
    """Connected components of a boolean mask as run-length union-find:
    ``reach`` 0 is the 4-neighborhood (A11; search_connection
    prepare.cpp:6-66), ``reach`` r > 0 joins cells up to r apart on
    both axes (the (2r+1)² window). Labels are renumbered in row-major
    first-appearance order, which is exactly the scan order the C++
    assigns cluster ids in. Returns (label map int[H,W] with -1
    background, n_components)."""
    runs = _runs_of_mask(mask)
    n = len(runs)
    labels = np.full(mask.shape, -1, dtype=np.int32)
    if n == 0:
        return labels, 0
    uf = _UnionFind(n)
    # index runs by row for vertical adjacency
    row_runs: dict[int, list[int]] = {}
    for i, (y, _x1, _x2) in enumerate(runs):
        row_runs.setdefault(y, []).append(i)
    for i, (y, x1, x2) in enumerate(runs):
        for dy in range(0 if reach else 1, max(reach, 1) + 1):
            for j in row_runs.get(y + dy, ()):
                if dy == 0 and j <= i:
                    continue
                jy, jx1, jx2 = runs[j]
                if jx1 > x2 + reach:
                    break
                if jx2 >= x1 - reach:
                    uf.union(i, j)
    remap: dict[int, int] = {}
    for i, (y, x1, x2) in enumerate(runs):
        r = uf.find(i)
        if r not in remap:
            remap[r] = len(remap)
        labels[y, x1:x2 + 1] = remap[r]
    return labels, len(remap)


# ---------------------------------------------------------------- prepare

def prepare_id_image(P: Page) -> tuple[np.ndarray, np.ndarray]:
    """Box-id rasters (prepare.cpp:68-97): idimage stamps every box,
    idimage_main skips ruby glyphs; later box ids overwrite earlier, so
    each cell holds the largest id whose rectangle covers it. A box
    whose rectangle leaves the grid is not stamped."""
    left = ((P.cx - P.w / 2) / SCALE).astype(np.int64)
    right = ((P.cx + P.w / 2) / SCALE).astype(np.int64) + 1
    top = ((P.cy - P.h / 2) / SCALE).astype(np.int64)
    bottom = ((P.cy + P.h / 2) / SCALE).astype(np.int64) + 1
    box = np.flatnonzero((left >= 0) & (right < P.W)
                         & (top >= 0) & (bottom < P.H))
    rw = np.maximum(right[box] - left[box], 0)
    area = rw * np.maximum(bottom[box] - top[box], 0)
    k = ramp(area)
    rw = np.repeat(rw, area)
    flat = ((np.repeat(top[box], area) + k // rw) * P.W
            + np.repeat(left[box], area) + k % rw)
    box = np.repeat(box, area).astype(np.int32)

    def paint(keep):
        img = np.full(P.H * P.W, -1, dtype=np.int32)
        np.maximum.at(img, flat[keep], box[keep])
        return img.reshape(P.H, P.W)
    return paint(slice(None)), paint((P.subtype[box] & 6) != 6)


def make_lineblocker(P: Page) -> None:
    """Separator mask -> lineblocker (prepare.cpp:99-170):
    threshold at SEP_VALUETH, 4-CC, erase clusters with value-sum below
    SEP_CLUSTERTH (A12 cluster weight prune), then hysteresis-regrow each
    surviving cell to 8-neighbors above 0.1x its own value (A13). Cells
    with no separator value neither seed nor grow, so all of it runs
    over the box around the nonzero cells (none on most pages)."""
    P.lineblocker = np.zeros((P.H, P.W), dtype=bool)
    rows = np.flatnonzero(P.sepimage.any(axis=1))
    if len(rows):
        cols = np.flatnonzero(P.sepimage.any(axis=0))
        box = np.s_[rows[0]:rows[-1] + 1, cols[0]:cols[-1] + 1]
        P.lineblocker[box] = _lineblocker(P.sepimage[box])


def _lineblocker(sep: np.ndarray) -> np.ndarray:
    blocker = sep > SEP_VALUETH
    labels, n_comp = _label_components(blocker)
    if n_comp:
        weights = np.zeros(n_comp)
        on = labels >= 0
        np.add.at(weights, labels[on], sep[on])
        light = weights < SEP_CLUSTERTH
        blocker[on & light[np.clip(labels, 0, None)]] = False

    # hysteresis grow (prepare.cpp:135-169): seeds in row-major order,
    # 8-neighborhood stack walk down to 0.1 * seed value. Blocker cells
    # only ever get added, so a seed none of whose neighbours is free and
    # above its threshold at the start never grows: only the others walk.
    ys, xs = mask_cells(blocker)
    H, W = sep.shape
    th = sep[ys, xs].astype(np.float64) * 0.1
    free = np.pad(~blocker, 1)
    vals = np.pad(sep, 1).astype(np.float64)
    grows = np.zeros(len(ys), dtype=bool)
    for dy in (0, 1, 2):
        for dx in (0, 1, 2):
            grows |= free[ys + dy, xs + dx] & (vals[ys + dy, xs + dx] >= th)
    for y0, x0 in zip(ys[grows].tolist(), xs[grows].tolist()):
        value_th = sep.item(y0, x0) * 0.1
        stack = [(y0, x0)]
        while stack:
            y, x = stack.pop()
            if sep.item(y, x) < value_th:
                continue
            blocker[y, x] = True
            for yy in range(y - 1, y + 2):
                for xx in range(x - 1, x + 2):
                    if xx < 0 or xx >= W or yy < 0 or yy >= H:
                        continue
                    if blocker.item(yy, xx):
                        continue
                    if sep.item(yy, xx) < value_th:
                        continue
                    stack.append((yy, xx))
    return blocker


# ---------------------------------------------------------------- linefind

def detect_line(P: Page) -> tuple[np.ndarray, int]:
    """Textline components (hough_linefind.cpp:200-255): flood fill with a
    5x5 neighborhood from cells in descending lineimage order, a blocker
    cell anywhere in the window stops expansion from that cell.

    Fast path: if no blocker is within the 5x5 reach of any line cell
    (the common page: separators live in block gaps), the blocker-barrier
    rule can never fire, and the 5x5 components over the box around the
    line cells are the lines: row-major first-cell ids match the
    descending-value scan for our binary line maps."""
    H, W = P.H, P.W
    lineid_map = np.full((H, W), -1, dtype=np.int32)
    on_mask = P.lineimage >= LINE_VALUETH
    rows = np.flatnonzero(on_mask.any(axis=1))
    if not len(rows):
        return lineid_map, 0
    cols = np.flatnonzero(on_mask.any(axis=0))
    y0, y1, x0, x1 = rows[0], rows[-1] + 1, cols[0], cols[-1] + 1
    clear = True
    if P.lineblocker.any():
        # the blocker cells within reach of each box cell, off-page False
        b = np.pad(P.lineblocker, 2)[y0:y1 + 4, x0:x1 + 4]
        h, w = y1 - y0, x1 - x0
        near = np.zeros((h, w), dtype=bool)
        for dy in range(5):
            for dx in range(5):
                near |= b[dy:dy + h, dx:dx + w]
        clear = not (near & on_mask[y0:y1, x0:x1]).any()
    if clear:
        labels, count = _label_components(on_mask[y0:y1, x0:x1], 2)
        lineid_map[y0:y1, x0:x1] = labels
        return lineid_map, count
    on = np.flatnonzero(on_mask)
    # descending value, index asc on ties (stable — canonicalizes the
    # unstable std::sort at hough_linefind.cpp:208)
    vals = P.lineimage.ravel()[on]
    order = on[np.argsort(-vals, kind="stable")]
    flat_line = P.lineimage.ravel()
    flat_block = P.lineblocker.ravel()
    flat_id = lineid_map.ravel()
    lineid_count = 0
    for i in order.tolist():
        if flat_id.item(i) >= 0:
            continue
        if flat_block[i]:
            continue
        stack = [i]
        while stack:
            i2 = stack.pop()
            if flat_id.item(i2) >= 0:
                continue
            if flat_block[i2]:
                continue
            if flat_line.item(i2) < LINE_VALUETH:
                continue
            flat_id[i2] = lineid_count
            x0 = i2 % W
            y0 = i2 // W
            tmp = []
            hit_blocker = False
            for y in range(y0 - 2, y0 + 3):
                for x in range(x0 - 2, x0 + 3):
                    if x < 0 or x >= W or y < 0 or y >= H:
                        continue
                    i3 = y * W + x
                    if flat_id.item(i3) >= 0:
                        continue
                    if flat_block[i3]:
                        hit_blocker = True
                        break
                    if flat_line.item(i3) < LINE_VALUETH:
                        continue
                    tmp.append(i3)
                if hit_blocker:
                    break
            if not hit_blocker:
                stack.extend(tmp)
        lineid_count += 1
    return lineid_map, lineid_count


def set_angle(P: Page, lineid_map: np.ndarray, lineid_count: int
              ) -> tuple[np.ndarray, np.ndarray, int]:
    """Per-component orientation + angle (hough_linefind.cpp:257-334):
    taller-than-wide components take the top->bottom extreme-point angle,
    wider take left->right. Extreme-point ties are broken by (y, x)
    lexicographic order (canonicalizes the flood-fill-order dependence of
    the C++ p1/p2 scan). Empty ids are dropped and the rest renumbered
    densely."""
    angle_map = np.full((P.H, P.W), np.nan, dtype=np.float32)
    new_map = np.full((P.H, P.W), -1, dtype=np.int32)
    ys, xs = mask_cells((lineid_map >= 0) & (lineid_map < lineid_count))
    if not len(ys):
        return angle_map, new_map, 0
    lid = lineid_map[ys, xs]
    present, inv = np.unique(lid, return_inverse=True)

    def extreme(*keys):
        # first cell of each id in (id, *keys) order
        order = np.lexsort(keys[::-1] + (lid,))
        return order[np.searchsorted(lid[order], present)]
    top = extreme(ys, xs)
    bottom = extreme(-ys, xs)
    left = extreme(xs, ys)
    right = extreme(-xs, ys)
    vert = xs[right] - xs[left] < ys[bottom] - ys[top]
    k1 = np.where(vert, top, left)
    k2 = np.where(vert, bottom, right)
    angle = np.array([math.atan2(float(dy), float(dx)) for dy, dx in
                      zip((ys[k2] - ys[k1]).tolist(),
                          (xs[k2] - xs[k1]).tolist())])
    angle_map[ys, xs] = angle[inv]
    new_map[ys, xs] = inv
    return angle_map, new_map, len(present)


def chain_boxes(P: Page, lineid_count: int, angle_map: np.ndarray,
                lineid_map: np.ndarray) -> list[list[int]]:
    """J1 box<->line spatial join (chain_boxes hough_linefind.cpp:13-121):
    march outward from each non-ruby box center (left, right, up, down at
    each radius, scale-px steps) until a textline cell is hit; attach the
    box to that line and inherit its direction."""
    chains: list[list[int]] = [[] for _ in range(lineid_count)]
    box = np.flatnonzero((P.subtype & 6) != 6)
    # probe radii 0, SCALE, ... up to half the box size; at each radius
    # the left, right, up and down probes, in that order
    reach = (np.maximum(P.w[box], P.h[box]) / 2).astype(np.int64) + 1
    n_di = np.maximum(-(-reach // SCALE), 0)
    probe = np.repeat(np.repeat(box, n_di), 4)
    di = np.repeat(SCALE * ramp(n_di), 4).astype(np.float64)
    sign = np.tile([-1.0, 1.0], len(di) // 2)
    along_x = np.tile([True, True, False, False], len(di) // 4)
    px, py = P.cx[probe], P.cy[probe]
    x = (np.where(along_x, px + sign * di, px) / SCALE).astype(np.int64)
    y = (np.where(along_x, py, py + sign * di) / SCALE).astype(np.int64)
    inb = (x >= 0) & (x < P.W) & (y >= 0) & (y < P.H)
    x, y = np.where(inb, x, 0), np.where(inb, y, 0)
    lineid = lineid_map[y, x]
    angle = angle_map[y, x]
    hit = np.flatnonzero(inb & (lineid >= 0) & ~np.isnan(angle))
    # each box attaches to its first hit
    found, first = np.unique(probe[hit], return_index=True)
    hit = hit[first]
    P.direction[found] = angle[hit]
    for boxid, lid in zip(found.tolist(), lineid[hit].tolist()):
        chains[lid].append(boxid)
    return chains


def line_grow(P: Page, lineid_count: int, angle_map: np.ndarray,
              lineid_map: np.ndarray, chains: list[list[int]]) -> np.ndarray:
    """Thicken each line by its chained boxes' max size so a second
    chain_boxes pass catches boxes the thin skeleton missed
    (line_grow hough_linefind.cpp:123-198). Horizontal lines grow upward
    by max height; vertical grow sideways by max width/2.

    The reference visits line cells in row-major order and writes only
    free cells, so each grown cell keeps the first source reaching it and
    each line cell its own id: all grows are painted at once. A vertical
    source visited earlier can grow right onto a line cell and rewrite
    its angle, which that cell's own grow then follows; the paint repeats
    while such an inherited angle flips a source between horizontal and
    vertical (one pass on most pages)."""
    d, bw, bh = P.direction.tolist(), P.lw, P.lh
    line_width = np.zeros(lineid_count)
    for lid in range(lineid_count):
        mw = 0.0
        for boxid in chains[lid]:
            if abs(d[boxid]) < M_PI_4:
                mw = max(mw, bh[boxid])
            else:
                mw = max(mw, bw[boxid], bh[boxid])
        line_width[lid] = mw / SCALE
    H, W = P.H, P.W
    blocker = P.lineblocker
    map2 = np.full((H, W), -1, dtype=np.int32)
    ys, xs = mask_cells((lineid_map >= 0) & ~blocker)
    n = len(ys)
    if not n:
        return map2
    lid = lineid_map[ys, xs]
    map2[ys, xs] = lid
    mw = line_width[lid].astype(np.int64)
    own = np.full(H * W, n, dtype=np.int32)
    own[ys * W + xs] = np.arange(n)
    orig = angle_map[ys, xs]
    hz = np.abs(orig.astype(np.float64)) < M_PI_4
    seg_dy = np.tile([-1, 0, 0], n)
    seg_dx = np.tile([0, -1, 1], n)
    while True:
        # per source: up, left, right grow lengths (one family is empty)
        lens = np.stack([np.where(hz, np.minimum(mw, ys), 0),
                         np.where(hz, 0, np.minimum(mw // 2, xs)),
                         np.where(hz, 0, np.minimum(mw // 2, W - 1 - xs))],
                        axis=1).ravel()
        seg_start = np.cumsum(lens) - lens
        k = np.arange(int(lens.sum())) - np.repeat(seg_start, lens) + 1
        src = np.repeat(np.arange(3 * n) // 3, lens)
        ty = ys[src] + np.repeat(seg_dy, lens) * k
        tx = xs[src] + np.repeat(seg_dx, lens) * k
        # a grow stops at its first blocker cell
        hit = np.cumsum(blocker[ty, tx])
        before = np.concatenate([[0], hit])[seg_start]
        alive = hit == np.repeat(before, lens)
        cells, first = np.unique((ty * W + tx)[alive], return_index=True)
        win = src[alive][first]
        earlier = win < own[cells]
        # a line cell reached first by an earlier source takes its angle:
        # follow those links (always to an earlier source) to their roots
        line_cell = earlier & (own[cells] < n)
        root = np.arange(n)
        root[own[cells[line_cell]]] = win[line_cell]
        while True:
            up = root[root]
            if np.array_equal(up, root):
                break
            root = up
        ang = orig[root]
        # the grows above assumed each source's orientation: redo them if
        # an inherited angle flipped one
        flipped = np.abs(ang.astype(np.float64)) < M_PI_4
        if np.array_equal(flipped, hz):
            break
        hz = flipped
    np.put(angle_map, cells[earlier], ang[win[earlier]])
    grown = own[cells] == n
    np.put(map2, cells[grown], lid[win[grown]])
    return map2


def linefind(P: Page) -> list[list[int]]:
    """Detect textline components, attach boxes, grow, re-attach
    (linefind hough_linefind.cpp:336-355)."""
    lineid_map, count = detect_line(P)
    angle_map, lineid_map, count = set_angle(P, lineid_map, count)
    chains = chain_boxes(P, count, angle_map, lineid_map)
    lineid_map = line_grow(P, count, angle_map, lineid_map, chains)
    chains = chain_boxes(P, count, angle_map, lineid_map)
    fix_chain_info(P, chains)
    return chains


# ---------------------------------------------------------------- chains

def sort_chain(chain: list[int], P: Page) -> None:
    """W1 in-chain reading sort (sort_chain search_loop.cpp:12-65): sort by
    the line axis; runs of boxes overlapping the group head's span re-sort
    by the cross axis (e.g. stacked punctuation in horizontal text). Ties
    keep box-id order (sort by id, then stably by the key)."""
    if not chain:
        return
    if abs(P.direction.item(chain[0])) < M_PI_4:
        along, cross, size = P.lcx, P.lcy, P.lw
    else:
        along, cross, size = P.lcy, P.lcx, P.lh
    chain.sort()
    chain.sort(key=along.__getitem__)
    i = 0
    n = len(chain)
    while i < n:
        j = i + 1
        reach = along[chain[i]] + size[chain[i]] / 2
        while j < n and reach > along[chain[j]]:
            j += 1
        if j - i > 1:
            chain[i:j] = sorted(sorted(chain[i:j]), key=cross.__getitem__)
        i = j


def fix_chain_info(P: Page, chains: list[list[int]]) -> None:
    """P9 degenerate-chain drop (<2 boxes) + per-chain reading sort
    (fix_chain_info search_loop.cpp:67-85). Dropped boxes become unbound
    and are re-attached by fix_unbined / number_unbind."""
    chains[:] = [c for c in chains if len(c) >= 2]
    for chain in chains:
        sort_chain(chain, P)


def _track_knots(P: Page, chain: list[int]):
    """Knots of a chain's center track polyline (search_chain,
    find_linecenter_id and the knot walk of make_track_line,
    search_loop.cpp:87-449). A5 weighted endpoint anchors of the non-ruby,
    non-warichu boxes re-derive the direction; the big-enough boxes within
    half a line-size of the center fit line steer the track. Returns
    ``(horizontal, p, q, direction, w, h)`` with knots along the line axis
    ``p`` and across it ``q`` (x, y for horizontal chains; y, x for
    vertical), or None when no box steers the track. Built once per
    chain and chain state on a page (``Page.knots``)."""
    key = (tuple(chain), P.chain_state())
    if key not in P.knots:
        P.knots[key] = _build_track_knots(P, chain)
    return P.knots[key]


def _build_track_knots(P: Page, chain: list[int]):
    sti, dli = P.subtype.item, P.double_line.item
    nonruby = [i for i in chain if (sti(i) & 6) != 6 and dli(i) == 0]
    if not nonruby:
        return None
    cx, cy, bw, bh = P.lcx, P.lcy, P.lw, P.lh
    w = max([bw[i] for i in nonruby])
    h = max([bh[i] for i in nonruby])
    n = len(nonruby)
    a = np.array(nonruby)
    wh = P.w[a] * P.h[a]
    wt1 = wh / np.arange(1, n + 1)
    wt2 = wh / np.arange(n, 0, -1)
    if abs(P.direction.item(nonruby[0])) < M_PI_4:
        cys = P.cy[a]
        start_cy = float((cys * wt1).sum() / wt1.sum())
        end_cy = float((cys * wt2).sum() / wt2.sum())
        direction = math.atan2(end_cy - start_cy,
                               cx[nonruby[-1]] - cx[nonruby[0]])
        if direction > M_PI_2:
            direction -= M_PI
    else:
        cxs = P.cx[a]
        start_cx = float((cxs * wt1).sum() / wt1.sum())
        end_cx = float((cxs * wt2).sum() / wt2.sum())
        direction = math.atan2(cy[nonruby[-1]] - cy[nonruby[0]],
                               end_cx - start_cx)
    s = max(w, h)
    if s <= 0:
        return None
    cand = [i for i in nonruby if max(bw[i], bh[i]) / s >= 0.4]
    if not cand:
        return None
    sx = sy = 0.0
    for i in cand:
        sx += cx[i]
        sy += cy[i]
    center_x, center_y = sx / len(cand), sy / len(cand)
    horizontal = abs(direction) < M_PI_4
    if horizontal:
        t = math.tan(direction)
        sel = [i for i in cand
               if abs(t * (cx[i] - center_x) + center_y - cy[i]) < s / 2]
        along, across, half = cx, cy, bw
    else:
        t = math.tan(M_PI_2 - direction)
        sel = [i for i in cand
               if abs(t * (cy[i] - center_y) + center_x - cx[i]) < s / 2]
        along, across, half = cy, cx, bh
    if not sel:
        return None
    sel_set = set(sel)
    j = sel[0]
    track = across[j]
    p = [along[j] - half[j] / 2]
    q = [track]
    for boxid in chain:
        if (sti(boxid) & 6) == 6:
            continue
        if boxid in sel_set:
            track = (track + across[boxid]) / 2
        p.append(along[boxid])
        q.append(track)
    j = sel[-1]
    p.append(along[j] + half[j] / 2)
    q.append(across[j])
    return horizontal, p, q, direction, w, h


def _interp_samples(p1, q1, p2, q2):
    """Vectorized polyline sampling — exact equivalent of the scalar
    per-segment walk ``xp = int(p1); while xp < p2: emit (xp,
    int((xp - p1) * a + q1)); xp += SCALE`` over all segments at once
    (same truncation-toward-zero semantics via astype(int64)). Returns
    int64 arrays (p, q) and the sample count of each segment."""
    p1 = np.asarray(p1, dtype=np.float64)
    q1 = np.asarray(q1, dtype=np.float64)
    p2 = np.asarray(p2, dtype=np.float64)
    q2 = np.asarray(q2, dtype=np.float64)
    valid = p2 != p1
    a = np.where(valid, (q2 - q1) / np.where(valid, p2 - p1, 1.0), 0.0)
    ip1 = p1.astype(np.int64)
    n = np.ceil((p2 - ip1) / SCALE).astype(np.int64)
    n = np.where(valid, np.maximum(n, 0), 0)
    p_all = np.repeat(ip1, n) + SCALE * ramp(n)
    q_all = ((p_all - np.repeat(p1, n)) * np.repeat(a, n)
             + np.repeat(q1, n)).astype(np.int64)
    return p_all, q_all, n


def _track_extension(P: Page, horizontal: bool, p1: float, q1: float,
                     p2: float, q2: float, reach: float,
                     step: int) -> tuple[list[int], list[int]]:
    """Probe samples past one end of a track line along its end segment
    (p1, q1)-(p2, q2): from p1 backward (``step`` < 0) or from p2
    forward, ``reach`` px or up to the first blocker cell
    (make_track_line's ruby-probe extension)."""
    a = (q2 - q1) / (p2 - p1) if p2 != p1 else 0.0
    blk = P.lineblocker.item
    ps: list[int] = []
    qs: list[int] = []
    limit = p1 - reach if step < 0 else p2 + reach
    pp = int(p1 if step < 0 else p2)
    while (pp > limit) if step < 0 else (pp < limit):
        qq = int((pp - p1) * a + q1)
        xp1, yp1 = ((pp, qq) if horizontal else (qq, pp))
        xp1, yp1 = xp1 // SCALE, yp1 // SCALE
        if 0 <= xp1 < P.W and 0 <= yp1 < P.H:
            if blk(yp1, xp1):
                break
            ps.append(pp)
            qs.append(qq)
        pp += step
    return ps, qs


def make_track_line(P: Page, chains: list[list[int]], chainid: int,
                    extra_len: int = 0):
    """Center track polyline of a chain, sampled every SCALE px
    (make_track_line search_loop.cpp:239-449). Returns (xs, ys, direction,
    w, h) in pixel coords; extra_len extends past both ends (ruby probe)."""
    knots = _track_knots(P, chains[chainid])
    if knots is None:
        return [], [], 0.0, 0.0, 0.0
    horizontal, p, q, direction, w, h = knots
    pk, qk = np.array(p), np.array(q)
    pa, qa, _ = _interp_samples(pk[:-1], qk[:-1], pk[1:], qk[1:])
    ps, qs = pa.tolist(), qa.tolist()
    if extra_len > 0:
        reach = extra_len * (w if horizontal else h) * 2
        hp, hq = _track_extension(P, horizontal, p[0], q[0], p[1], q[1],
                                  reach, -SCALE)
        tp, tq = _track_extension(P, horizontal, p[-2], q[-2], p[-1], q[-1],
                                  reach, SCALE)
        ps = hp[::-1] + ps + tp
        qs = hq[::-1] + qs + tq
    if horizontal:
        return ps, qs, direction, w, h
    return qs, ps, direction, w, h


def _first_writer(cmap: np.ndarray, flat: np.ndarray,
                  ids: np.ndarray) -> None:
    """Paint ``ids`` into the free cells of flat ``cmap`` in list order:
    where a cell repeats, its first entry wins."""
    free = cmap[flat] < 0
    cells, first = np.unique(flat[free], return_index=True)
    cmap[cells] = ids[free][first]


def create_chainid_map(P: Page, chains: list[list[int]]) -> np.ndarray:
    """Chain-id raster: the spatial index that turns every probe join into
    an O(1) lookup (create_chainid_map search_loop.cpp:451-522). Track
    lines are stamped with a transverse band of size/3, then each
    chained non-ruby box's rectangle is stamped.

    Every stamp writes only free cells, so a cell keeps the first chain
    (in chain order) whose band covers it, else the first box rectangle
    (chain order, then box order) covering it: both stages are painted
    at once over all chains.

    The map is built once per chain set and chain state on a page
    (``Page.chainid_maps``) and returned read-only: a probe pass that
    attached nothing asks for the same map again."""
    key = (tuple(map(tuple, chains)), P.chain_state())
    if key not in P.chainid_maps:
        cmap = _build_chainid_map(P, chains)
        cmap.flags.writeable = False
        P.chainid_maps[key] = cmap
    return P.chainid_maps[key]


def _build_chainid_map(P: Page, chains: list[list[int]]) -> np.ndarray:
    H, W = P.H, P.W
    cmap = np.full(H * W, -1, dtype=np.int32)
    seg: list[list[float]] = [[], [], [], []]
    seg_info: list[tuple[int, bool, int, int]] = []
    for chainid, chain in enumerate(chains):
        if not chain:
            continue
        knots = _track_knots(P, chain)
        if knots is None:
            continue
        horizontal, p, q, _direction, w, h = knots
        for lst, v in zip(seg, (p[:-1], q[:-1], p[1:], q[1:])):
            lst.extend(v)
        seg_info.append((chainid, horizontal, len(p) - 1,
                         int(max(w, h) / 3 / SCALE)))
    if seg_info:
        cid, hor, nseg, band = (np.array(v) for v in zip(*seg_info))
        pa, qa, n = _interp_samples(*seg)
        per = np.repeat(np.repeat(np.arange(len(cid)), nseg), n)
        hor = hor[per]
        xa = np.where(hor, pa, qa) // SCALE
        ya = np.where(hor, qa, pa) // SCALE
        inb = (xa >= 0) & (xa < W) & (ya >= 0) & (ya < H)
        xa, ya, per, hor = xa[inb], ya[inb], per[inb], hor[inb]
        reps = 2 * band[per]
        off = ramp(reps) - np.repeat(band[per], reps)
        hor = np.repeat(hor, reps)
        xx = np.repeat(xa, reps) + np.where(hor, 0, off)
        yy = np.repeat(ya, reps) + np.where(hor, off, 0)
        ok = (xx >= 0) & (xx < W) & (yy >= 0) & (yy < H)
        _first_writer(cmap, yy[ok] * W + xx[ok],
                      np.repeat(cid[per], reps)[ok])
    bb = [b for chain in chains for b in chain]
    if bb:
        cc_ids = np.repeat(np.arange(len(chains)), [len(c) for c in chains])
        bb = np.asarray(bb, dtype=np.int64)
        keep = (P.subtype[bb] & 6) != 6
        bb, cc_ids = bb[keep], cc_ids[keep]
        left = np.maximum(
            ((P.cx[bb] - P.w[bb] / 2) / SCALE).astype(np.int64), 0)
        right = np.minimum(
            ((P.cx[bb] + P.w[bb] / 2) / SCALE).astype(np.int64), P.W)
        top = np.maximum(
            ((P.cy[bb] - P.h[bb] / 2) / SCALE).astype(np.int64), 0)
        bottom = np.minimum(
            ((P.cy[bb] + P.h[bb] / 2) / SCALE).astype(np.int64), P.H)
        rw = np.maximum(right - left, 0)
        area = rw * np.maximum(bottom - top, 0)
        k = ramp(area)
        rw = np.repeat(rw, area)
        _first_writer(cmap, (np.repeat(top, area) + k // rw) * W
                      + np.repeat(left, area) + k % rw,
                      np.repeat(cc_ids, area))
    return cmap.reshape(H, W)


# ---------------------------------------------------------------- search_loop

def _chain_max_wh(P: Page, chain: list[int]) -> tuple[float, float]:
    """A4 per-chain extrema (transform_reduce search_loop.cpp:594-605)."""
    w = max((P.lw[i] for i in chain), default=0.0)
    h = max((P.lh[i] for i in chain), default=0.0)
    return w, h


def _ema_toward_front(chain: list[int], axis: list[float]) -> float:
    """A6 EMA scan folded back-to-front: anchor for the chain start
    (combine_chains search_loop.cpp:607-613)."""
    v = axis[chain[-1]]
    for boxid in reversed(chain):
        v = 0.25 * v + 0.75 * axis[boxid]
    return v


def _ema_toward_back(chain: list[int], axis: list[float]) -> float:
    """A6 EMA scan folded front-to-back: anchor for the chain end
    (combine_chains search_loop.cpp:615-619)."""
    v = axis[chain[0]]
    for boxid in chain:
        v = 0.25 * v + 0.75 * axis[boxid]
    return v


def _mean_gap(P: Page, chain: list[int], horizontal: bool) -> float:
    """A7 mean positive inter-box gap along the chain axis
    (combine_chains search_loop.cpp:621-632)."""
    axis, size = (P.lcx, P.lw) if horizontal else (P.lcy, P.lh)
    total = 0.0
    for a, b in zip(chain, chain[1:]):
        g = (axis[b] - size[b] / 2) - (axis[a] + size[a] / 2)
        if g > 0:
            total += g
    return max(0.0, total / (len(chain) - 1)) if len(chain) > 1 else 0.0


def process_merge(chains: list[list[int]], merge_chain: list[int]) -> None:
    """Resolve the merge-edge forest into concatenated chains, with the
    cycle check of process_merge (search_loop.cpp:524-574): a merge cycle
    spawns a fresh chain so the members still coalesce."""
    root_id = [-1] * len(chains)
    new_id = len(chains)
    for i in range(len(merge_chain)):
        if merge_chain[i] == -1:
            continue
        loop_check = []
        j = merge_chain[i]
        loop_check.append(j)
        while merge_chain[j] not in loop_check and merge_chain[j] != -1:
            j = merge_chain[j]
            loop_check.append(j)
        if merge_chain[j] != -1:
            k = -1
            for c in loop_check:
                if root_id[c] < 0:
                    continue
                k = root_id[c]
                break
            if k < 0:
                chains.append([])
                root_id.append(-1)
                root_id[i] = new_id
                new_id = len(chains)
            else:
                root_id[i] = k
        else:
            root_id[i] = j
    for i in range(len(root_id)):
        if root_id[i] < 0:
            continue
        chains[root_id[i]].extend(chains[i])
        chains[i] = []
    for i in range(len(chains)):
        if len(chains[i]) < 2:
            continue
        chains[i] = sorted(set(chains[i]))


def _probe_end(P: Page, chains: list[list[int]], cmap: np.ndarray,
               chainid: int, horizontal: bool, head: bool,
               pcells: np.ndarray, qcells: np.ndarray, anchor: float,
               size: float, own_dl: int, done: list[int]) -> list[int]:
    """One end probe of combine_chains: step along the chain axis
    (``pcells``) over the 11-point transverse band (``qcells``), column by
    column; a blocker cell clears the candidates and stops, and the probe
    stops after the first column that rejected a chain. Returns the
    candidate chains. A column holding neither a blocker nor a foreign
    chain changes nothing, so only the columns holding one are walked
    cell by cell; when ``done`` (shared by both ends) is already
    non-empty, the first in-page column ends the probe."""
    pn, qn = (P.W, P.H) if horizontal else (P.H, P.W)
    pc = pcells[(pcells >= 0) & (pcells < pn)]
    qc = qcells[(qcells >= 0) & (qcells < qn)]
    others: list[int] = []
    if not len(pc) or not len(qc):
        return others
    rows, cols = ((qc[:, None], pc[None, :]) if horizontal
                  else (pc[None, :], qc[:, None]))
    blk = P.lineblocker[rows, cols]
    oc = cmap[rows, cols]
    event = (blk | ((oc >= 0) & (oc != chainid))).any(axis=0)
    visit = np.nonzero(event[:1] if done else event)[0].tolist()
    d, dl = P.direction.item, P.double_line.item
    cross, csize = (P.lcy, P.lh) if horizontal else (P.lcx, P.lw)
    ema = _ema_toward_back if head else _ema_toward_front
    for c in visit:
        blocked = False
        for b, o in zip(blk[:, c].tolist(), oc[:, c].tolist()):
            if b:
                others = []
                blocked = True
                break
            if o < 0 or o == chainid or o in done or o in others:
                continue
            och = chains[o]
            if och and (abs(d(och[-1])) < M_PI_4 if horizontal
                        else abs(d(och[-1])) > M_PI_4) \
                    and dl(och[-1] if head else och[0]) == own_dl:
                s1 = max(csize[i] for i in och)
                if abs(anchor - ema(och, cross)) < max(size, s1):
                    others.append(o)
                    if horizontal and head:
                        continue
            done.append(o)
        if blocked or done:
            break
    return others


def combine_chains(P: Page, chains: list[list[int]]) -> None:
    """J2 chain-merge fixpoint (combine_chains search_loop.cpp:576-891):
    each chain probes (maxsize+meangap)*3 along its axis from both ends,
    in an 11-point transverse band around the EMA anchor (A6); a unique
    same-direction same-double_line hit whose EMA anchor is within
    max(h, h_other) merges. Iterates (via process_merge) to fixpoint.
    Only the head probe of a horizontal chain keeps walking past an
    accepted chain without marking it done (search_loop.cpp:640-690)."""
    band = np.arange(-5, 6, dtype=np.float64)
    while True:
        fix_chain_info(P, chains)
        cmap = create_chainid_map(P, chains)
        merge_chain = [-1] * len(chains)
        for chainid, chain in enumerate(chains):
            if not chain:
                continue
            boxid1 = chain[0]
            boxid2 = chain[-1]
            w, h = _chain_max_wh(P, chain)
            horizontal = abs(P.direction.item(boxid1)) < M_PI_4
            if horizontal:
                along, cross, half, size = P.lcx, P.lcy, w, h
            else:
                along, cross, half, size = P.lcy, P.lcx, h, w
            start = _ema_toward_front(chain, cross)
            end = _ema_toward_back(chain, cross)
            space = _mean_gap(P, chain, horizontal)
            steps = np.arange(0, int((half + space) * 3.0), SCALE)
            done: list[int] = []
            dl = P.double_line.item
            other1 = _probe_end(
                P, chains, cmap, chainid, horizontal, True,
                ((along[boxid1] - half / 2 - steps) / SCALE).astype(np.int64),
                ((start + size / 8.0 * band / 5) / SCALE).astype(np.int64),
                start, size, dl(boxid1), done)
            if len(other1) == 1:
                merge_chain[chainid] = other1[0]
            other2 = _probe_end(
                P, chains, cmap, chainid, horizontal, False,
                ((along[boxid2] + half / 2 + steps) / SCALE).astype(np.int64),
                ((end + size / 8.0 * band / 5) / SCALE).astype(np.int64),
                end, size, dl(boxid2), done)
            if len(other2) == 1:
                merge_chain[other2[0]] = chainid
        if all(m == -1 for m in merge_chain):
            break
        process_merge(chains, merge_chain)


def count_unbind(P: Page, chains: list[list[int]]) -> int:
    return P.n - sum(len(c) for c in chains)


def fix_unbined(P: Page, chains: list[list[int]]) -> bool:
    """J3 unbound-box attach (fix_unbined search_loop.cpp:904-1088):
    9-point probe of each unattached non-ruby box against the chain-id
    raster; then directional searches 1.5x the box size (right, left for
    horizontal chains; down, up for vertical). Loops until no attach
    succeeds. Returns True if the unbound count changed."""
    fix_chain_info(P, chains)
    unbind_count = count_unbind(P, chains)
    while True:
        chained = {b for c in chains for b in c}
        unbined = [i for i in range(P.n)
                   if i not in chained and not P.is_ruby(i)]
        success = 0
        it = 0
        cmap = None  # rebuilt lazily: the map only changes after an attach
        # (the reference rebuilds per box, search_loop.cpp:938 — identical
        # result, attaches are the only mutation between rebuilds)
        while it < len(unbined):
            boxid = unbined[it]
            if cmap is None:
                cmap = create_chainid_map(P, chains)
            cx, cy = P.cx[boxid], P.cy[boxid]
            w2, h2 = P.w[boxid] / 2, P.h[boxid] / 2
            probes = [
                (cx, cy),
                (cx - w2, cy - h2), (cx - w2 / 2, cy - h2 / 2),
                (cx + w2, cy - h2), (cx + w2 / 2, cy - h2 / 2),
                (cx - w2, cy + h2), (cx - w2 / 2, cy + h2 / 2),
                (cx + w2, cy + h2), (cx + w2 / 2, cy + h2 / 2),
            ]
            attached = False
            for px, py in probes:
                x, y = int(px / SCALE), int(py / SCALE)
                if not (0 <= x < P.W and 0 <= y < P.H):
                    continue
                oc = cmap.item(y, x)
                if oc >= 0 and chains[oc]:
                    chains[oc].append(boxid)
                    P.direction[boxid] = P.direction[chains[oc][0]]
                    success += 1
                    del unbined[it]
                    attached = True
                    break
            if attached:
                cmap = None
                continue

            def _directional(horiz_first: bool, sign: int) -> bool:
                # horizontal probes scan a w*1.5 strip right/left of the
                # box; vertical probes h*1.5 above/below; reject on blocker
                if horiz_first:
                    xi = cx + sign * w2
                    limit = cx + sign * P.w[boxid] * 1.5
                    while (xi < limit) if sign > 0 else (xi > limit):
                        x1 = int(xi / SCALE)
                        if x1 < 0 or x1 >= P.W:
                            break
                        yi = cy - h2
                        while yi < cy + h2:
                            y1 = int(yi / SCALE)
                            yi += SCALE
                            if y1 < 0 or y1 >= P.H:
                                continue
                            if P.lineblocker[y1, x1]:
                                return False
                            oc2 = cmap.item(y1, x1)
                            if oc2 >= 0 and chains[oc2] and \
                                    abs(P.direction[chains[oc2][0]]) < M_PI_4:
                                chains[oc2].append(boxid)
                                P.direction[boxid] = P.direction[chains[oc2][0]]
                                return True
                        xi += sign * SCALE
                else:
                    yi = cy + sign * h2
                    limit = cy + sign * P.h[boxid] * 1.5
                    while (yi < limit) if sign > 0 else (yi > limit):
                        y1 = int(yi / SCALE)
                        if y1 < 0 or y1 >= P.H:
                            break
                        xi = cx - w2
                        while xi < cx + w2:
                            x1 = int(xi / SCALE)
                            xi += SCALE
                            if x1 < 0 or x1 >= P.W:
                                continue
                            if P.lineblocker[y1, x1]:
                                return False
                            oc2 = cmap.item(y1, x1)
                            if oc2 >= 0 and chains[oc2] and \
                                    abs(P.direction[chains[oc2][0]]) > M_PI_4:
                                chains[oc2].append(boxid)
                                P.direction[boxid] = P.direction[chains[oc2][0]]
                                return True
                        yi += sign * SCALE
                return False

            if _directional(True, +1) or _directional(True, -1) or \
                    _directional(False, +1) or _directional(False, -1):
                success += 1
                del unbined[it]
                cmap = None
                continue
            it += 1
        if success == 0:
            break
        fix_chain_info(P, chains)
    return unbind_count != count_unbind(P, chains)


def chain_space(P: Page, chains: list[list[int]], idimage: np.ndarray) -> None:
    """Space-flagged singletons become provisional chains and scan backward
    (left / up) for unbound boxes or a continuing chain
    (chain_space search_loop.cpp:1090-1249)."""
    fix_chain_info(P, chains)
    chained = {b for c in chains for b in c}
    unbined = [i for i in range(P.n) if i not in chained]
    # ruby removed; space-flagged singletons become chains
    unbined2 = []
    for i in unbined:
        if P.is_ruby(i):
            continue
        if (P.subtype[i] & SUBTYPE_SPACE) == SUBTYPE_SPACE:
            chains.append([i])
        else:
            unbined2.append(i)
    unbined = unbined2

    cmap = create_chainid_map(P, chains)
    chain_cont = [-1] * len(chains)
    for chainid, chain in enumerate(chains):
        if not chain:
            continue
        first = chain[0]
        if (P.subtype[first] & SUBTYPE_SPACE) != SUBTYPE_SPACE:
            continue
        direction = P.direction[first]
        if len(chain) > 1:
            if abs(direction) < M_PI_4:
                ave = sum(P.cx[chain[k + 1]] - P.cx[chain[k]]
                          for k in range(len(chain) - 1)) / (len(chain) - 1)
            else:
                ave = sum(P.cy[chain[k + 1]] - P.cy[chain[k]]
                          for k in range(len(chain) - 1)) / (len(chain) - 1)
        else:
            ave = P.w[first] if abs(direction) < M_PI_4 else P.h[first]

        if abs(direction) < M_PI_4:
            y0, hh = P.cy[first], P.h[first]
            x = P.cx[first] - P.w[first] / 2
            stop = x - ave * 3
            found = False
            while x > stop and not found:
                ix = int(x / SCALE)
                x -= SCALE
                if ix < 0 or ix >= P.W:
                    continue
                y = y0 - hh / 2
                while y < y0 + hh / 2:
                    iy = int(y / SCALE)
                    y += SCALE
                    if iy < 0 or iy >= P.H:
                        continue
                    if P.sepimage.item(iy, ix) > SEP_VALUETH2:
                        found = True
                        break
                    oc = cmap.item(iy, ix)
                    if oc < 0 or oc == chainid:
                        ob = idimage.item(iy, ix)
                        if ob < 0:
                            continue
                        if ob in unbined:
                            chain.append(int(ob))
                            unbined.remove(ob)
                            P.direction[ob] = direction
                            found = True
                            break
                        continue
                    if chain_cont[chainid] < 0:
                        chain_cont[chainid] = oc
                        found = True
                        break
        else:
            x0, ww = P.cx[first], P.w[first]
            y = P.cy[first] - P.h[first] / 2
            stop = y - ave * 2
            found = False
            while y > stop and not found:
                iy = int(y / SCALE)
                y -= SCALE
                if iy < 0 or iy >= P.H:
                    continue
                x = x0 - ww / 2
                while x < x0 + ww / 2:
                    ix = int(x / SCALE)
                    x += SCALE
                    if ix < 0 or ix >= P.W:
                        continue
                    if P.sepimage.item(iy, ix) > SEP_VALUETH2:
                        found = True
                        break
                    oc = cmap.item(iy, ix)
                    if oc < 0 or oc == chainid:
                        ob = idimage.item(iy, ix)
                        if ob < 0:
                            continue
                        if ob in unbined:
                            chain.append(int(ob))
                            unbined.remove(ob)
                            P.direction[ob] = direction
                            found = True
                            break
                        continue
                    if chain_cont[chainid] < 0:
                        chain_cont[chainid] = oc
                        found = True
                        break

    # resolve continuation roots with cycle guard (search_loop.cpp:1228-1246)
    for chainid in range(len(chains)):
        if chain_cont[chainid] < 0:
            continue
        seen: list[int] = []
        root = chain_cont[chainid]
        while root >= 0 and root not in seen:
            seen.append(root)
            root = chain_cont[root]
        chain_cont[chainid] = root
    for chainid in range(len(chains)):
        root = chain_cont[chainid]
        if root < 0:
            continue
        chains[root].extend(chains[chainid])
        chains[chainid] = []
    fix_chain_info(P, chains)


def split_doubleline1(P: Page, chains: list[list[int]]) -> None:
    """Separate mixed-direction boxes out of a chain
    (split_doubleline1 split_doubleline.cpp:13-72)."""
    fix_chain_info(P, chains)
    i = 0
    while i < len(chains):
        chain = chains[i]
        if len(chain) < 3:
            i += 1
            continue
        direction = P.direction[chain[0]]
        if abs(direction) < M_PI_4:
            splited = [b for b in chain if abs(P.direction[b]) >= M_PI_4]
        else:
            splited = [b for b in chain if abs(P.direction[b]) < M_PI_4]
        if len(splited) == len(chain) or not splited:
            i += 1
            continue
        chains[i] = [b for b in chain if b not in splited]
        if len(splited) >= 2:
            sort_chain(splited, P)
            chains.insert(i, splited)
            i += 1
        i += 1


def split_doubleline2(P: Page, chains: list[list[int]]) -> None:
    """Split a chain at a gap over 3x its max box size
    (split_doubleline2 split_doubleline.cpp:75-147)."""
    fix_chain_info(P, chains)
    i = 0
    while i < len(chains):
        chain = chains[i]
        if len(chain) < 3:
            i += 1
            continue
        max_s = max(max(P.w[b], P.h[b]) for b in chain)
        direction = P.direction[chain[0]]
        splited = []
        split_flag = False
        prev = P.cx[chain[0]] if abs(direction) < M_PI_4 else P.cy[chain[0]]
        for b in chain:
            cur = P.cx[b] if abs(direction) < M_PI_4 else P.cy[b]
            if abs(cur - prev) > 3 * max_s:
                split_flag = True
            if split_flag:
                splited.append(b)
            prev = cur
        if len(splited) == len(chain) or not splited:
            i += 1
            continue
        chains[i] = [b for b in chain if b not in splited]
        if len(splited) >= 2:
            sort_chain(splited, P)
            chains.insert(i, splited)
            i += 1
        i += 1


def split_doubleline3(P: Page, chains: list[list[int]]) -> None:
    """Detect warichu (inline double-line) runs: consecutive boxes whose
    axis spans overlap >20% and whose cross-axis centers are clearly two
    rows get double_line=1 (first row) / 2 (second row); then extend the
    marks across the run by closeness to each row's mean
    (split_doubleline3 split_doubleline.cpp:150-317)."""
    fix_chain_info(P, chains)
    for chain in chains:
        if len(chain) < 3:
            continue
        if any(P.double_line[b] > 0 for b in chain):
            continue
        direction = P.direction[chain[0]]
        if abs(direction) < M_PI_4:
            last_sx = last_ex = -1.0
            last_idx = -1
            for b in chain:
                if P.is_ruby(b):
                    continue
                cx, w = P.cx[b], P.w[b]
                minx = max(last_sx, cx - w / 2)
                maxx = min(last_ex, cx + w / 2)
                if last_idx >= 0 and minx < maxx and (maxx - minx) > w * 0.2:
                    if P.cy[last_idx] < P.cy[b]:
                        if P.cy[last_idx] + P.h[last_idx] / 2 * 0.75 < \
                                P.cy[b] - P.h[b] / 2 * 0.75:
                            P.double_line[last_idx] = 1
                            P.double_line[b] = 2
                    else:
                        if P.cy[b] + P.h[b] / 2 * 0.75 < \
                                P.cy[last_idx] - P.h[last_idx] / 2 * 0.75:
                            P.double_line[last_idx] = 2
                            P.double_line[b] = 1
                last_sx, last_ex = cx - w / 2, cx + w / 2
                last_idx = b
            if any(P.double_line[b] > 0 for b in chain):
                h1 = [P.h[b] for b in chain if P.double_line[b] > 0]
                cy1 = [P.cy[b] for b in chain if P.double_line[b] == 1]
                cy2 = [P.cy[b] for b in chain if P.double_line[b] == 2]
                h_s = sum(h1) / len(h1)
                cy1_s = sum(cy1) / len(cy1) if cy1 else -1
                cy2_s = sum(cy2) / len(cy2) if cy2 else -1
                splitcount = 0
                for b in chain:
                    if P.is_ruby(b):
                        continue
                    if P.double_line[b] > 0:
                        splitcount += 1
                    if splitcount > 1 and P.double_line[b] == 0:
                        if abs(P.cy[b] - cy1_s) < h_s / 5:
                            P.double_line[b] = 1
                        elif abs(P.cy[b] - cy2_s) < h_s / 5:
                            P.double_line[b] = 2
                        else:
                            splitcount = 0
        else:
            max_h = max((P.h[b] for b in chain), default=0.0)
            last_sy = last_ey = -1.0
            last_idx = -1
            for b in chain:
                if P.is_ruby(b):
                    continue
                cy, h = P.cy[b], P.h[b]
                miny = max(last_sy, cy - h / 2)
                maxy = min(last_ey, cy + h / 2)
                if last_idx >= 0 and h < max_h * 0.75 and \
                        miny < maxy and (maxy - miny) > h * 0.2:
                    if P.cx[last_idx] > P.cx[b]:
                        if P.cx[b] + P.w[b] / 2 * 0.75 < \
                                P.cx[last_idx] - P.w[last_idx] / 2 * 0.75:
                            P.double_line[last_idx] = 1
                            P.double_line[b] = 2
                    else:
                        if P.cx[last_idx] + P.w[last_idx] / 2 * 0.75 < \
                                P.cx[b] - P.w[b] / 2 * 0.75:
                            P.double_line[last_idx] = 2
                            P.double_line[b] = 1
                last_sy, last_ey = cy - h / 2, cy + h / 2
                last_idx = b
            if any(P.double_line[b] > 0 for b in chain):
                w1 = [P.w[b] for b in chain if P.double_line[b] > 0]
                s1 = [max(P.w[b], P.h[b]) for b in chain if P.double_line[b] > 0]
                cx1 = [P.cx[b] for b in chain if P.double_line[b] == 1]
                cx2 = [P.cx[b] for b in chain if P.double_line[b] == 2]
                w_s = sum(w1) / len(w1)
                s_s = sum(s1) / len(s1)
                cx1_s = sum(cx1) / len(cx1) if cx1 else -1
                cx2_s = sum(cx2) / len(cx2) if cx2 else -1
                splitcount = 0
                for b in chain:
                    if P.is_ruby(b):
                        continue
                    if P.double_line[b] > 0:
                        splitcount += 1
                    elif splitcount > 2:
                        if max(P.w[b], P.h[b]) > s_s * 1.5:
                            splitcount = 0
                            continue
                        if P.cx[b] - P.w[b] / 2 * 0.75 > cx2_s + w_s / 2 * 0.75:
                            P.double_line[b] = 1
                        elif P.cx[b] + P.w[b] / 2 * 0.75 < cx1_s - w_s / 2 * 0.75:
                            P.double_line[b] = 2
                        else:
                            splitcount = 0


def search_loop(P: Page, chains: list[list[int]], idimage: np.ndarray) -> None:
    """combine/fix fixpoint + warichu split + space chains
    (search_loop search_loop.cpp:1251-1270)."""
    while True:
        combine_chains(P, chains)
        if not fix_unbined(P, chains):
            break
    split_doubleline1(P, chains)
    split_doubleline2(P, chains)
    split_doubleline3(P, chains)
    chain_space(P, chains, idimage)


# ---------------------------------------------------------------- after_search

def fix_shortchain(P: Page, chains: list[list[int]]) -> None:
    """Short chains re-derive direction from their endpoints
    (fix_shortchain after_search.cpp:17-41)."""
    for chain in chains:
        if 0 < len(chain) < 3:
            id1, id2 = chain[0], chain[-1]
            diffx = abs(P.cx[id1] - P.cx[id2])
            diffy = abs(P.cy[id1] - P.cy[id2])
            d = 0.0 if diffx > diffy else M_PI_2
            for b in chain:
                P.direction[b] = d


def register_chainid(P: Page, chains: list[list[int]]) -> None:
    """Write chain ids into box.idx + set the vertical subtype bit
    (register_chainid after_search.cpp:44-59)."""
    for chainid, chain in enumerate(chains):
        for b in chain:
            P.idx[b] = chainid
            if abs(P.direction[b]) < M_PI_4:
                P.subtype[b] &= ~SUBTYPE_VERTICAL
            else:
                P.subtype[b] |= SUBTYPE_VERTICAL


def renumber_chain(P: Page) -> int:
    """A14 dense renumber of surviving chain ids in first-appearance order
    then sorted (renumber_chain after_search.cpp:62-79)."""
    bound = P.idx >= 0
    used = np.unique(P.idx[bound])
    P.idx[bound] = np.searchsorted(used, P.idx[bound])
    return len(used)


def search_ruby(P: Page, chains: list[list[int]], idimage: np.ndarray) -> None:
    """J4 ruby band attach + interleave (search_ruby ruby_search.cpp:12-713).

    Phase 1: probe 1.25x line-size above (horizontal) / right (vertical)
    of each chain's track line for ruby boxes no chain holds (idx < 0),
    each once, and re-home them: nothing is taken out of another chain.
    Phase 2 per chain: split base/ruby; find rubybase runs; assign each
    ruby to the run whose span contains it, resolve strays through
    neighbor-ruby continuity; drop garbage rubies (<13 px); interleave
    each base run's rubies directly after the run; orphan rubies re-enter
    the line as plain glyphs at their axis position."""
    cmap = create_chainid_map(P, chains)

    for chainid, chain in enumerate(chains):
        if len(chain) < 2:
            continue
        sort_chain(chain, P)
        xs, ys, direction, w, h = make_track_line(P, chains, chainid, 1)
        # band probe over a (K-1, n) grid: per track point the walk climbs
        # k = 1..K-1 transverse cells and stops at the first blocker or
        # foreign-chain cell — a prefix AND down the grid; candidates come
        # out in the scalar loop's (point, k) discovery order
        horizontal = abs(direction) < M_PI_4
        K = max(1, int((h if horizontal else w) * 1.25 / SCALE))
        xa = np.asarray(xs, dtype=np.int64) // SCALE
        ya = np.asarray(ys, dtype=np.int64) // SCALE
        inb = (xa >= 0) & (xa < P.W) & (ya >= 0) & (ya < P.H)
        xa, ya = xa[inb], ya[inb]
        ruby_boxid: list[int] = []
        if len(xa) and K > 1:
            depth = np.arange(1, K)[:, None]
            if horizontal:
                rr = ya - depth
                cc = np.broadcast_to(xa, rr.shape)
                inside = rr >= 0
            else:
                cc = xa + depth
                rr = np.broadcast_to(ya, cc.shape)
                inside = cc < P.W
            rr = np.where(inside, rr, 0)
            cc = np.where(inside, cc, 0)
            oc = cmap[rr, cc]
            open_ = inside & ~P.lineblocker[rr, cc] & ~((oc >= 0)
                                                        & (oc != chainid))
            oid = idimage[rr, cc].astype(np.int64)
            hit = np.logical_and.accumulate(open_, axis=0) & (oid >= 0)
            ids = np.where(hit, oid, 0)
            hit &= ((P.subtype[ids] & 6) == 6) & (P.idx[ids] < 0)
            pt, kk = np.nonzero(hit.T)
            ruby_boxid = list(dict.fromkeys(oid[kk, pt].tolist()))
        P.idx[ruby_boxid] = chainid
        P.direction[ruby_boxid] = direction
        chain.extend(ruby_boxid)

    fix_chain_info(P, chains)

    # phase 2 reads and writes the box state as lists, stored back at the end
    st, idx, sub = P.subtype.tolist(), P.idx.tolist(), P.subidx.tolist()
    for chainid, chain in enumerate(chains):
        sort_chain(chain, P)
        baseid = [b for b in chain if (st[b] & 6) != 6]
        rubyid = [b for b in chain if (st[b] & 6) == 6]

        if not rubyid:
            for subidx, b in enumerate(chain):
                st[b] &= ~RUBY_BITS
                idx[b] = chainid
                sub[b] = subidx
            continue

        horizontal = abs(P.direction.item(chain[0])) < M_PI_4
        axis = P.lcx if horizontal else P.lcy
        size = P.lw if horizontal else P.lh
        rubyid.sort()
        rubyid.sort(key=axis.__getitem__)

        # rubybase runs within the base sequence (ruby_search.cpp:151-167)
        rubybase_block: list[list[int]] = []
        tmp: list[int] = []
        for b in baseid:
            if (st[b] & RUBY_BITS) == SUBTYPE_RUBYBASE:
                tmp.append(b)
            else:
                if tmp:
                    rubybase_block.append(tmp)
                    tmp = []
        if tmp:
            rubybase_block.append(tmp)

        s1 = max((size[b] for b in baseid), default=0.0)
        s2 = max((size[b] for b in rubyid), default=0.0)
        block_span = [(axis[blk[0]] - s1, axis[blk[-1]] + s1)
                      for blk in rubybase_block]

        ruby_to_base = [-1] * len(rubyid)
        for i, rid in enumerate(rubyid):
            for j, (lo, hi) in enumerate(block_span):
                if lo < axis[rid] < hi:
                    ruby_to_base[i] = j
                    break

        # strays: resolve through neighbor-ruby continuity
        # (ruby_search.cpp:209-355)
        if any(r < 0 for r in ruby_to_base) and any(r >= 0 for r in ruby_to_base):
            def _dist(i: int, j: int) -> float:
                return axis[rubyid[j]] - axis[rubyid[i]]

            def _search_fwd(i: int) -> int:
                for k in range(i - 1, 0, -1):
                    if _dist(k - 1, k) <= s2 * 2:
                        if ruby_to_base[k - 1] < 0:
                            continue
                        return ruby_to_base[k - 1]
                    break
                return -1

            def _search_bwd(i: int) -> int:
                for k in range(i + 1, len(rubyid) - 1):
                    if _dist(k, k + 1) <= s2 * 2:
                        if ruby_to_base[k + 1] < 0:
                            continue
                        return ruby_to_base[k + 1]
                    break
                return -1

            for i in range(len(rubyid)):
                if ruby_to_base[i] >= 0:
                    continue
                d1 = _dist(i - 1, i) if i > 0 else math.inf
                d2 = _dist(i, i + 1) if i < len(rubyid) - 1 else math.inf
                if d1 <= s2 * 2 and d2 <= s2 * 2:
                    if ruby_to_base[i - 1] < 0 and ruby_to_base[i + 1] < 0:
                        r = _search_fwd(i)
                        if r < 0:
                            r = _search_bwd(i)
                        if r >= 0:
                            ruby_to_base[i] = r
                        continue
                    if ruby_to_base[i - 1] >= 0 and ruby_to_base[i + 1] >= 0:
                        if ruby_to_base[i - 1] != ruby_to_base[i + 1]:
                            ruby_to_base[i] = (ruby_to_base[i - 1] if d1 < d2
                                               else ruby_to_base[i + 1])
                        else:
                            ruby_to_base[i] = ruby_to_base[i - 1]
                        continue
                    if ruby_to_base[i - 1] >= 0:
                        ruby_to_base[i] = ruby_to_base[i - 1]
                        continue
                    if ruby_to_base[i + 1] >= 0:
                        ruby_to_base[i] = ruby_to_base[i + 1]
                        continue
                if d1 > s2 * 2 and d2 > s2 * 2:
                    continue  # isolated: probably a misdetection
                if d1 <= s2 * 2:
                    if i > 0 and ruby_to_base[i - 1] >= 0:
                        ruby_to_base[i] = ruby_to_base[i - 1]
                        continue
                    r = _search_fwd(i)
                    if r >= 0:
                        ruby_to_base[i] = r
                    continue
                if i < len(rubyid) - 1 and ruby_to_base[i + 1] >= 0:
                    ruby_to_base[i] = ruby_to_base[i + 1]
                    continue
                r = _search_bwd(i)
                if r >= 0:
                    ruby_to_base[i] = r

        # garbage rubies (<13 px): alone-ruby flag, detach
        # (ruby_search.cpp:357-382)
        ruby_count = [0] * len(rubybase_block)
        for r in ruby_to_base:
            if r >= 0:
                ruby_count[r] += 1
        for i, rid in enumerate(rubyid):
            if ruby_to_base[i] < 0:
                if max(P.lw[rid], P.lh[rid]) < 13:
                    st[rid] |= SUBTYPE_ALONE_RUBY
                    idx[rid] = -1
            elif ruby_count[ruby_to_base[i]] < 2:
                if max(P.lw[rid], P.lh[rid]) < 13:
                    st[rid] |= SUBTYPE_ALONE_RUBY
                    idx[rid] = -1
                    for b in rubybase_block[ruby_to_base[i]]:
                        st[b] &= ~RUBY_BITS

        # interleave: each base run's rubies follow the run's last box
        # (ruby_search.cpp:384-400)
        baselast = [blk[-1] for blk in rubybase_block]
        fixlist: list[int] = []
        for b in baseid:
            fixlist.append(b)
            if b not in baselast:
                continue
            j = baselast.index(b)
            for i, rid in enumerate(rubyid):
                if idx[rid] < 0:
                    continue
                if ruby_to_base[i] == j:
                    fixlist.append(rid)

        # base runs that got no ruby lose the rubybase marking
        # (ruby_search.cpp:402-409)
        for j, blk in enumerate(rubybase_block):
            if j not in ruby_to_base:
                for b in blk:
                    st[b] &= ~RUBY_BITS

        # orphan rubies re-enter the line as plain glyphs
        # (ruby_search.cpp:411-430)
        for i, rid in enumerate(rubyid):
            if idx[rid] < 0:
                continue
            if ruby_to_base[i] == -1:
                st[rid] &= ~RUBY_BITS
                st[rid] |= SUBTYPE_ALONE_RUBY
                x = axis[rid]
                pos = len(fixlist)
                for k, b in enumerate(fixlist):
                    if x < axis[b] - size[b] / 2:
                        pos = k
                        break
                fixlist.insert(pos, rid)

        for subidx, b in enumerate(fixlist):
            if horizontal:
                st[b] &= ~SUBTYPE_VERTICAL
            else:
                st[b] |= SUBTYPE_VERTICAL
            idx[b] = chainid
            sub[b] = subidx
    P.subtype[:], P.idx[:], P.subidx[:] = st, idx, sub

    # rubies that never joined a line lose the ruby marking
    # (ruby_search.cpp:707-712)
    P.subtype[P.idx < 0] &= ~RUBY_BITS


def number_unbind(P: Page, idimage: np.ndarray, next_id: int) -> int:
    """Cluster still-unbound boxes into ad-hoc lines (number_unbind
    number_unbind.cpp:12-363): boxes agglomerate along the cross axis
    (cy for horizontal candidates, cx for vertical), then along the main
    axis with lineblocker and bound-box collision tests; direction
    conflicts resolve to the longer chain; leftovers become singleton
    lines in the page's majority direction."""
    allow_maindiff = 1.0
    allow_subdiff = 10.0
    unbind = [i for i in range(P.n)
              if P.idx[i] < 0 and (P.subtype[i] & SUBTYPE_ALONE_RUBY) == 0]
    if not unbind:
        return next_id

    direction_vote = 0
    for i in range(P.n):
        if P.idx[i] < 0:
            continue
        direction_vote += 1 if (P.subtype[i] & SUBTYPE_VERTICAL) == 0 else -1

    hori_lines: list[list[int]] = []
    vert_lines: list[list[int]] = []
    if len(unbind) > 1:
        # horizontal candidates: cy clusters then cx order
        # (number_unbind.cpp:48-157)
        sortedcy = sorted(unbind, key=lambda b: (P.cy[b], b))
        agg: list[list[int]] = []
        for b1, b2 in zip(sortedcy, sortedcy[1:]):
            s = max(max(P.w[b1], P.h[b1]), max(P.w[b2], P.h[b2]))
            if P.cy[b2] - P.cy[b1] < s * allow_maindiff:
                hit = next((g for g in agg if b1 in g), None)
                if hit is None:
                    agg.append([b1, b2])
                else:
                    hit.append(b2)
        for group in agg:
            scx = sorted(group, key=lambda b: (P.cx[b], b))
            for b1, b2 in zip(scx, scx[1:]):
                s = max(P.w[b1], P.h[b1])
                if abs(P.cy[b2] - P.cy[b1]) > s * allow_maindiff:
                    continue
                if P.cx[b2] - P.cx[b1] > s * allow_subdiff:
                    continue
                # line-cut test (lineblocker between the boxes)
                x1 = P.cx[b1] + P.w[b1] / 2
                x2 = P.cx[b2] - P.w[b2] / 2
                y1, y2 = P.cy[b1], P.cy[b2]
                blocked = False
                if abs(x1 - x2) > 0:
                    a = (y2 - y1) / (x2 - x1)
                    xq = x1
                    while xq < x2:
                        xi = int(xq / SCALE)
                        yi = int((a * (xq - x1) + y1) / SCALE)
                        xq += SCALE
                        if not (0 <= xi < P.W and 0 <= yi < P.H):
                            continue
                        if P.lineblocker[yi, xi]:
                            blocked = True
                            break
                if blocked:
                    continue
                # bound-box collision test (number_unbind.cpp:126-135)
                for k in range(P.n):
                    if P.idx[k] < 0:
                        continue
                    if P.cx[b1] < P.cx[k] < P.cx[b2]:
                        lo = min(P.cy[b1] - P.h[b1] / 2, P.cy[b2] - P.h[b2] / 2)
                        hi = max(P.cy[b1] + P.h[b1] / 2, P.cy[b2] + P.h[b2] / 2)
                        if lo < P.cy[k] < hi:
                            blocked = True
                            break
                if blocked:
                    continue
                hit = next((g for g in hori_lines if b1 in g), None)
                if hit is None:
                    hori_lines.append([b1, b2])
                else:
                    hit.append(b2)

        # vertical candidates (number_unbind.cpp:159-267)
        sortedcx = sorted(unbind, key=lambda b: (P.cx[b], b))
        agg = []
        for b1, b2 in zip(sortedcx, sortedcx[1:]):
            s = max(max(P.w[b1], P.h[b1]), max(P.w[b2], P.h[b2]))
            if P.cx[b2] - P.cx[b1] < s * allow_maindiff:
                hit = next((g for g in agg if b1 in g), None)
                if hit is None:
                    agg.append([b1, b2])
                else:
                    hit.append(b2)
        for group in agg:
            scy = sorted(group, key=lambda b: (P.cy[b], b))
            for b1, b2 in zip(scy, scy[1:]):
                s = max(P.w[b1], P.h[b1])
                if abs(P.cx[b2] - P.cx[b1]) > s * allow_maindiff:
                    continue
                if P.cy[b2] - P.cy[b1] > s * allow_subdiff:
                    continue
                y1 = P.cy[b1] + P.h[b1] / 2
                y2 = P.cy[b2] - P.h[b2] / 2
                x1, x2 = P.cx[b1], P.cx[b2]
                blocked = False
                if abs(y1 - y2) > 0:
                    a = (x2 - x1) / (y2 - y1)
                    yq = y1
                    while yq < y2:
                        xi = int((a * (yq - y1) + x1) / SCALE)
                        yi = int(yq / SCALE)
                        yq += SCALE
                        if not (0 <= xi < P.W and 0 <= yi < P.H):
                            continue
                        if P.lineblocker[yi, xi]:
                            blocked = True
                            break
                if blocked:
                    continue
                for k in range(P.n):
                    if P.idx[k] < 0:
                        continue
                    if P.cy[b1] < P.cy[k] < P.cy[b2]:
                        lo = min(P.cx[b1] - P.w[b1] / 2, P.cx[b2] - P.w[b2] / 2)
                        hi = max(P.cx[b1] + P.w[b1] / 2, P.cx[b2] + P.w[b2] / 2)
                        if lo < P.cx[k] < hi:
                            blocked = True
                            break
                if blocked:
                    continue
                hit = next((g for g in vert_lines if b1 in g), None)
                if hit is None:
                    vert_lines.append([b1, b2])
                else:
                    hit.append(b2)

        # direction conflicts: the longer chain wins; ties by tighter
        # spacing (number_unbind.cpp:269-319)
        dup = sorted({b for g in hori_lines for b in g}
                     & {b for g in vert_lines for b in g})
        for d in dup:
            hp = next((g for g in hori_lines if d in g), None)
            vp = next((g for g in vert_lines if d in g), None)
            if hp is None or vp is None:
                continue
            if len(hp) == len(vp):
                hs = sum(P.cx[hp[k + 1]] - P.cx[hp[k]]
                         for k in range(len(hp) - 1))
                vs = sum(P.cy[hp[k + 1]] - P.cy[hp[k]]
                         for k in range(len(hp) - 1))
                if hs < vs:
                    hori_lines.remove(hp)
                else:
                    vert_lines.remove(vp)
            elif len(hp) > len(vp):
                vert_lines.remove(vp)
            else:
                hori_lines.remove(hp)

        for group in hori_lines:
            for subidx, b in enumerate(group):
                P.idx[b] = next_id
                P.subidx[b] = subidx
                P.subtype[b] &= ~SUBTYPE_VERTICAL
                P.direction[b] = 0.0
            next_id += 1
        for group in vert_lines:
            for subidx, b in enumerate(group):
                P.idx[b] = next_id
                P.subidx[b] = subidx
                P.subtype[b] |= SUBTYPE_VERTICAL
                P.direction[b] = M_PI_2
            next_id += 1

    # isolated boxes: singleton lines in the majority direction
    # (number_unbind.cpp:345-362)
    for b in unbind:
        if P.idx[b] < 0:
            P.idx[b] = next_id
            next_id += 1
            P.subidx[b] = 0
            if direction_vote < 0:
                P.subtype[b] |= SUBTYPE_VERTICAL
                P.direction[b] = M_PI_2
            else:
                P.subtype[b] &= ~SUBTYPE_VERTICAL
                P.direction[b] = 0.0
    return next_id


# ---------------------------------------------------------------- make_block

class _LineParam:
    __slots__ = ("d", "doubleline", "count", "size",
                 "cx1", "cy1", "cx2", "cy2", "section")

    def __init__(self):
        self.d = 0
        self.doubleline = 0
        self.count = 0
        self.size = 0.0
        self.cx1 = self.cy1 = math.inf
        self.cx2 = self.cy2 = -math.inf
        self.section = 0


def _overlap(a1: float, a2: float, b1: float, b2: float) -> bool:
    return min(a2, b2) - max(a1, b1) > 0


def renumber_id(P: Page, id_max: int) -> int:
    """Dense chain renumber + section (column) assignment — a deterministic
    re-expression of renumber_id (make_block.cpp:580-1359).

    The reference's imperative partition/sort dance assigns each line a
    ``section`` so that side-by-side columns read column-by-column. The
    observable semantics re-expressed here: within each direction family,
    lines whose cross-axis intervals transitively overlap form a column;
    if at least two columns overlap along the reading axis (i.e. truly
    side-by-side), each column is its own section, ordered left-to-right
    for horizontal text (make_block.cpp:727-897) and top-then-right for
    vertical (make_block.cpp:1000-1296); otherwise everything shares one
    section. Vertical sections number after horizontal ones
    (make_block.cpp:998).

    Table-vs-columns (make_block.cpp:906-980): side-by-side horizontal
    groups only become per-column sections when at least two of their
    bottoms align within 4x the first line's size (true 段組 runs to a
    common baseline); ragged bottoms mean a grid of short cells — a
    table — which shares ONE section and reads row-major via the
    reference's insertion order (_table_interleave)."""
    params: dict[int, _LineParam] = {}
    chain_ids: list[int] = []
    major_direction = 0
    cx, cy, bw, bh = P.lcx, P.lcy, P.lw, P.lh
    idx, st = P.idx.tolist(), P.subtype.tolist()
    for i in range(P.n):
        cid = idx[i]
        if cid < 0:
            continue
        if cid not in params:
            params[cid] = _LineParam()
            chain_ids.append(cid)
        if (st[i] & 6) == 6 or (st[i] & SUBTYPE_ALONE_RUBY):
            continue
        lp = params[cid]
        lp.d = 0 if (st[i] & SUBTYPE_VERTICAL) == 0 else 1
        major_direction += 1 if lp.d == 0 else -1
        lp.cx1 = min(lp.cx1, cx[i] - bw[i] / 2)
        lp.cy1 = min(lp.cy1, cy[i] - bh[i] / 2)
        lp.cx2 = max(lp.cx2, cx[i] + bw[i] / 2)
        lp.cy2 = max(lp.cy2, cy[i] + bh[i] / 2)
        lp.size = max(lp.size, bw[i], bh[i])
        lp.count += 1
    for lp in params.values():
        if lp.count <= 1:
            lp.d = 0 if major_direction >= 0 else 1

    chain_ids.sort()
    horiz = [c for c in chain_ids if params[c].d == 0 and params[c].count > 0]
    vert = [c for c in chain_ids if params[c].d == 1 and params[c].count > 0]

    def _table_interleave(groups: list[list[int]]) -> list[int]:
        """Reference table-order insertion (make_block.cpp:941-975):
        place section 0's lines top-down; each later-section line (in
        cy1 order, sections ascending) inserts right after the FIRST
        already-placed previous-section line it y-overlaps, else appends
        — a grid of cells comes out row-major."""
        placed: list[tuple[int, int]] = [
            (c, 0) for c in sorted(groups[0],
                                   key=lambda c: (params[c].cy1, c))]
        for s in range(1, len(groups)):
            for c in sorted(groups[s], key=lambda c: (params[c].cy1, c)):
                pos = next(
                    (k for k, (pc, ps) in enumerate(placed)
                     if ps == s - 1 and _overlap(params[pc].cy1,
                                                 params[pc].cy2,
                                                 params[c].cy1,
                                                 params[c].cy2)), None)
                if pos is None:
                    placed.append((c, s))
                else:
                    placed.insert(pos + 1, (c, s))
        return [c for c, _ in placed]

    def _column_sections(ids: list[int], horizontal: bool, base: int
                         ) -> tuple[int, list[int] | None]:
        """Transitive cross-axis interval overlap -> columns; sections only
        when columns are actually side-by-side. Returns (next_base,
        explicit_order) — explicit_order is non-None when the
        table-vs-columns heuristic fired (the table reading order can't be
        expressed as a per-line sort key)."""
        if not ids:
            return base, None
        uf = _UnionFind(len(ids))
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                pa, pb = params[ids[a]], params[ids[b]]
                if horizontal:
                    if _overlap(pa.cx1, pa.cx2, pb.cx1, pb.cx2):
                        uf.union(a, b)
                else:
                    if _overlap(pa.cy1, pa.cy2, pb.cy1, pb.cy2):
                        uf.union(a, b)
        comps: dict[int, list[int]] = {}
        for a in range(len(ids)):
            comps.setdefault(uf.find(a), []).append(ids[a])
        groups = list(comps.values())
        side_by_side = False
        for gi in range(len(groups)):
            for gj in range(gi + 1, len(groups)):
                for a in groups[gi]:
                    for b in groups[gj]:
                        pa, pb = params[a], params[b]
                        if horizontal and _overlap(pa.cy1, pa.cy2,
                                                   pb.cy1, pb.cy2):
                            side_by_side = True
                        if not horizontal and _overlap(pa.cx1, pa.cx2,
                                                       pb.cx1, pb.cx2):
                            side_by_side = True
        if len(groups) < 2 or not side_by_side:
            for c in ids:
                params[c].section = base
            return base + 1, None
        if horizontal:
            groups.sort(key=lambda g: min(params[c].cx1 for c in g))
            # table-vs-columns (make_block.cpp:906-980): genuine
            # side-by-side columns run to a common baseline — at least TWO
            # section bottoms within 4x the first line's size of the
            # deepest one. Ragged bottoms mean a grid of short cells (a
            # table): one shared section, read row-major via the
            # reference's insertion order instead of column-major.
            bottoms = [max(params[c].cy2 for c in g) for g in groups]
            b = max(bottoms)
            s4 = params[ids[0]].size * 4
            if sum(1 for x in bottoms if abs(b - x) < s4) <= 1:
                for c in ids:
                    params[c].section = base
                return base + 1, _table_interleave(groups)
        else:
            groups.sort(key=lambda g: (min(params[c].cy1 for c in g),
                                       -max(params[c].cx2 for c in g)))
        for k, g in enumerate(groups):
            for c in g:
                params[c].section = base + k
        return base + len(groups), None

    nsec, horiz_order = _column_sections(horiz, True, 0)
    _, vert_order = _column_sections(vert, False, nsec)

    # geometric chain reorder — this is what renumber_id actually returns
    # through box.idx (make_block.cpp:1350-1357): horizontal lines first,
    # by (section, top, left) (make_block.cpp:699-701,983-989); vertical
    # lines after, by (section, RIGHTMOST first, top)
    # (make_block.cpp:1001-1003,1283-1287) — vertical columns read
    # right-to-left
    if horiz_order is not None:
        horiz = horiz_order
    else:
        horiz.sort(key=lambda c: (params[c].section, params[c].cy1,
                                  params[c].cx1, c))
    if vert_order is not None:
        vert = vert_order
    else:
        vert.sort(key=lambda c: (params[c].section, -params[c].cx2,
                                 params[c].cy1, c))
    ordered = horiz + vert + [c for c in chain_ids
                              if params[c].count == 0]
    remap = {old: new for new, old in enumerate(ordered)}
    bound = P.idx >= 0
    P.idx[bound] = [remap[old] for old in P.idx[bound].tolist()]
    P.section[bound] = [params[old].section for old in idx if old >= 0]
    return len(chain_ids)


def process_line(P: Page, id_max: int, chains: list[list[int]],
                 lineparams: list[_LineParam],
                 cmap: np.ndarray) -> tuple[list[list[int]], list[list[int]]]:
    """J6 line -> next-line edges (process_line make_block.cpp:21-204):
    from each line's size-filtered baseline, scan forward and backward
    along the axis, probing (0.5+1.5)*size transverse for the next
    parallel line; separator pixels and a >ALLOW_SIZEDIFF size difference
    reject; a perpendicular line breaks the probe in BOTH orientations
    (the reference consults the blocker in both families —
    make_block.cpp:77,101,157,183)."""
    scanwidth = 0.5 + ALLOWWIDTH_NEXT_BLOCK
    chain_next: list[list[int]] = [[] for _ in range(id_max)]
    chain_prev: list[list[int]] = [[] for _ in range(id_max)]
    # one scan per line direction: (chainid, steps, a, c1, t1,
    # horizontal, K, size), in the reference's chain / forward-backward
    # order
    scans: list[tuple] = []
    cx, cy, bw, bh = P.lcx, P.lcy, P.lw, P.lh
    st, dl = P.subtype.tolist(), P.double_line.tolist()
    for chainid in range(id_max):
        chain = chains[chainid]
        if not chain:
            continue
        lp = lineparams[chainid]
        if lp.d not in (1, 2):
            continue
        sz = [bw[b] if bw[b] >= bh[b] else bh[b] for b in chain]
        s_s = max(sz)
        # |sz - s_s| / min(sz, s_s) > 0.5, a zero size as NumPy reads it
        base = [b for b, z in zip(chain, sz)
                if not ((s_s - z) / z > 0.5 if z else s_s > z)
                and (st[b] & 6) != 6 and dl[b] <= 0]
        cx1 = cy1 = cx2 = cy2 = -1.0
        if lp.d == 2:
            for b in base:
                if cx1 < 0 and cy1 < 0:
                    cx1 = cx[b] - bw[b] / 2
                    cy1 = cy[b]
                cx2 = cx[b] + bw[b] / 2
                cy2 = cy[b]
            if cx2 - cx1 < SCALE:
                continue
            a = (cy2 - cy1) / (cx2 - cx1)
            K = int(s_s / SCALE * scanwidth)  # range(yi, int(yi+c)) length
            mid = int((cx1 + cx2) / 2)
            fwd = np.arange(mid, int(cx2 + s_s), SCALE, dtype=np.float64)
            bwd = np.arange(mid, int(cx1 - s_s), -SCALE, dtype=np.float64)
            scans.append((chainid, fwd, a, cx1, cy1, True, K, lp.size))
            scans.append((chainid, bwd, a, cx1, cy1, True, K, lp.size))
        else:
            for b in base:
                if cx1 < 0 and cy1 < 0:
                    cx1 = cx[b]
                    cy1 = cy[b] - bh[b] / 2
                cx2 = cx[b]
                cy2 = cy[b] + bh[b] / 2
            if cy2 - cy1 < SCALE:
                continue
            a = (cx2 - cx1) / (cy2 - cy1)
            # range(xi, int(xi-c), -1) spans ceil(c) cells (int() truncates
            # toward zero; out-of-page cells are masked dead below)
            c = s_s / SCALE * scanwidth
            K = int(math.ceil(c))
            mid = int((cy1 + cy2) / 2)
            fwd = np.arange(mid, int(cy2 + s_s), SCALE, dtype=np.float64)
            bwd = np.arange(mid, int(cy1 - s_s), -SCALE, dtype=np.float64)
            scans.append((chainid, fwd, a, cy1, cx1, False, K, lp.size))
            scans.append((chainid, bwd, a, cy1, cx1, False, K, lp.size))
    if not scans:
        return chain_next, chain_prev

    # All scans at once. A scan walks its steps up to the first blocker
    # and probes depth k of an in-page step while every shallower cell
    # was in the page and neither blocker nor perpendicular line (a
    # prefix AND down each step's K cells). Cell-stride note: the
    # reference steps per PIXEL (make_block.cpp:67,91) but every probe is
    # a cell lookup, so SCALE-strided steps visit the identical cells.
    chainid, steps, a, c1, t1, hor, K, lp_size = zip(*scans)
    n = np.array([len(st) for st in steps])
    steps = np.concatenate(steps)
    a, c1, t1, hor, lp_size, chainid = (
        np.repeat(np.array(v), n)
        for v in (a, c1, t1, hor, lp_size, chainid))
    K = np.maximum(np.repeat(np.array(K), n), 0)
    t = a * (steps - c1) + t1
    along = (steps / SCALE).astype(np.int64)
    across = (t / SCALE).astype(np.int64)
    xi = np.where(hor, along, across)
    yi = np.where(hor, across, along)
    inb = (xi >= 0) & (xi < P.W) & (yi >= 0) & (yi < P.H)
    blocked = inb & P.lineblocker[np.where(inb, yi, 0), np.where(inb, xi, 0)]
    # blocked steps so far, counted from the start of each scan
    seen = np.concatenate([[0], np.cumsum(blocked)])
    seen = seen[1:] - np.repeat(seen[np.cumsum(n) - n], n)
    walk = np.flatnonzero(inb & (seen == 0) & (K > 0))
    if not len(walk):
        return chain_next, chain_prev
    # the grid: every walked step's K depth cells, step by step
    Kw = K[walk]
    step = np.repeat(walk, Kw)
    depth = ramp(Kw)
    hz = hor[step]
    rr = yi[step] + np.where(hz, depth, 0)
    cc = xi[step] - np.where(hz, 0, depth)
    inside = np.where(hz, rr < P.H, cc >= 0)
    rr = np.where(inside, rr, 0)
    cc = np.where(inside, cc, 0)
    blk = P.lineblocker[rr, cc]
    oc = cmap[rr, cc]
    cid = chainid[step]
    # only cells off the page, on a blocker or on a foreign chain decide
    # anything: the walk goes on through every other cell
    ev = np.flatnonzero(~inside | blk | ((oc >= 0) & (oc != cid)))
    step, depth, hz, inside, blk, cid = (
        v[ev] for v in (step, depth, hz, inside, blk, cid))
    oc = oc[ev].astype(np.int64)
    foreign = inside & ~blk
    oc_s = np.where(foreign, oc, 0)
    dvals = np.array([lp.d for lp in lineparams], dtype=np.int64)
    sizes = np.array([lp.size for lp in lineparams], dtype=np.float64)
    perp = foreign & (dvals[oc_s] == np.where(hz, 1, 2))
    osz = sizes[oc_s]
    own = lp_size[step]
    denom = np.where(hz, np.minimum(own, osz), np.maximum(own, osz))
    ratio = np.where(denom > 0,
                     np.abs(osz - own) / np.where(denom > 0, denom, 1.0),
                     np.inf)
    bad = ~(inside & ~blk & ~perp)
    # bad cells before each cell, less those before its step's first
    shallower = np.cumsum(bad) - bad
    first = np.flatnonzero(np.r_[True, step[1:] != step[:-1]][:len(step)])
    alive = inside & (shallower == np.repeat(
        shallower[first], np.diff(np.r_[first, len(step)])))
    accept = np.flatnonzero(alive & foreign & ~perp
                            & (ratio <= ALLOW_SIZEDIFF))
    # replay the accept-candidates in (scan, step, depth) order: whether
    # one ends its step's walk depends on the dedup state (a chain
    # already linked lets the reference keep walking)
    done_depth: dict[int, int] = {}
    for j, k, c_from, c_to in zip(step[accept].tolist(),
                                  depth[accept].tolist(),
                                  cid[accept].tolist(),
                                  oc[accept].tolist()):
        if j in done_depth and k > done_depth[j]:
            continue
        if c_to not in chain_next[c_from]:
            chain_next[c_from].append(c_to)
            chain_prev[c_to].append(c_from)
            done_depth[j] = k
    return chain_next, chain_prev


def rechain_search(P: Page, chains: list[list[int]],
                   chain_next: list[list[int]],
                   chain_prev: list[list[int]]) -> bool:
    """Lines with multiple next/prev edges may actually be one split line:
    try to tab-join them (rechain_search make_block.cpp:255-577), marking
    the joined head with space+tab_split. Returns True when nothing
    merged (fixpoint reached)."""
    ret = True

    def _try_merge(agg: list[int]) -> bool:
        nonlocal ret
        merged_any = False
        for j in range(len(agg)):
            for k in range(len(agg)):
                if j == k:
                    continue
                n, m = agg[j], agg[k]
                if not chains[n] or not chains[m]:
                    continue
                n_i, m_i = chains[n][0], chains[m][0]
                size = 0.0
                for b in chains[n]:
                    size = max(size, P.w[b], P.h[b])
                for b in chains[m]:
                    size = max(size, P.w[b], P.h[b])
                same_dir = (P.subtype[n_i] & SUBTYPE_VERTICAL) == \
                           (P.subtype[m_i] & SUBTYPE_VERTICAL)
                if same_dir:
                    vert = (P.subtype[n_i] & SUBTYPE_VERTICAL) != 0
                elif len(chains[n]) < 2:
                    vert = (P.subtype[m_i] & SUBTYPE_VERTICAL) != 0
                elif len(chains[m]) < 2:
                    vert = (P.subtype[n_i] & SUBTYPE_VERTICAL) != 0
                else:
                    continue
                if not vert:
                    if P.cx[chains[n][-1]] < P.cx[chains[m][0]] and \
                            abs(P.cy[chains[n][-1]] - P.cy[chains[m][0]]) < size:
                        P.subtype[chains[m][0]] |= SUBTYPE_SPACE | SUBTYPE_TAB_SPLIT
                        chains[n].extend(chains[m])
                        chains[m] = []
                        ret = False
                        merged_any = True
                        continue
                    if P.cx[chains[m][-1]] < P.cx[chains[n][0]] and \
                            abs(P.cy[chains[m][-1]] - P.cy[chains[n][0]]) < size:
                        P.subtype[chains[n][0]] |= SUBTYPE_SPACE | SUBTYPE_TAB_SPLIT
                        chains[m].extend(chains[n])
                        chains[n] = []
                        ret = False
                        merged_any = True
                        continue
                else:
                    if P.cy[chains[n][-1]] < P.cy[chains[m][0]] and \
                            abs(P.cx[chains[n][-1]] - P.cx[chains[m][0]]) < size:
                        P.subtype[chains[m][0]] |= SUBTYPE_SPACE | SUBTYPE_TAB_SPLIT
                        chains[n].extend(chains[m])
                        chains[m] = []
                        ret = False
                        merged_any = True
                        continue
                    if P.cy[chains[m][-1]] < P.cy[chains[n][0]] and \
                            abs(P.cx[chains[m][-1]] - P.cx[chains[n][0]]) < size:
                        P.subtype[chains[n][0]] |= SUBTYPE_SPACE | SUBTYPE_TAB_SPLIT
                        chains[m].extend(chains[n])
                        chains[n] = []
                        ret = False
                        merged_any = True
                        continue
        return merged_any

    for edges in (chain_next, chain_prev):
        if any(len(e) > 1 for e in edges):
            for i in range(len(edges)):
                if len(edges[i]) <= 1:
                    continue
                agg = [i]
                tmp = list(edges[i])
                while tmp:
                    j = tmp.pop()
                    if j not in agg:
                        agg.append(j)
                        tmp.extend(edges[j])
                agg = sorted(set(agg))
                _try_merge(agg)
        if not ret:
            return ret
    return ret


def block_chain_search(id_max: int, chain_next: list[list[int]],
                       chain_prev: list[list[int]]) -> list[list[int]]:
    """J7 block grouping: DFS over next-line edges from the root lines
    (no prev edge) -> connected components = blocks
    (block_chain_search make_block.cpp:207-253)."""
    block_chain: list[list[int]] = []
    roots = [c for c in range(id_max) if not chain_prev[c]]
    done: set[int] = set()
    for root in roots:
        stack = [root]
        tmp: list[int] = []
        while stack:
            j = stack.pop()
            if j in done or j in tmp:
                continue
            tmp.append(j)
            for nxt in chain_next[j]:
                if nxt not in stack:
                    stack.append(nxt)
        tmp = sorted(set(tmp))
        done.update(tmp)
        block_chain.append(tmp)
    return block_chain


def make_block(P: Page) -> None:
    """Block formation + reading order (make_block make_block.cpp:1364-1843):
    fixpoint of (renumber, section assign, next-line edges, tab-rejoin),
    then DFS blocks, A8 block bbox/stats, A9 orientation vote, W3 block
    order (section, then overlap-partitioned geometry sort), dense
    renumber, W5 warichu reorder, W2 final sort."""
    while True:
        id_max = renumber_chain(P)
        id_max = renumber_id(P, id_max)

        chains: list[list[int]] = [[] for _ in range(id_max)]
        lineparams = [_LineParam() for _ in range(id_max)]
        idx, st, sub = P.idx.tolist(), P.subtype.tolist(), P.subidx.tolist()
        dl = P.double_line.tolist()
        for i in range(P.n):
            cid = idx[i]
            if cid < 0:
                continue
            if (st[i] & 6) == 6 or (st[i] & SUBTYPE_ALONE_RUBY):
                continue
            chains[cid].append(i)
            lp = lineparams[cid]
            lp.size = max(lp.size, P.lw[i], P.lh[i])
            lp.count += 1
            if (st[i] & SUBTYPE_VERTICAL) == 0:
                lp.d = 2 if len(chains[cid]) > 1 else 0
            else:
                lp.d = 1 if len(chains[cid]) > 1 else 0
        # chains are built in box-id order: a stable sort keeps id on ties
        for chain in chains:
            chain.sort(key=sub.__getitem__)

        # warichu (double-line) run count per line (make_block.cpp:1417-1443)
        for chain in chains:
            if not chain:
                continue
            count = count1 = count2 = 0
            cid = -1
            for b in chain:
                cid = idx[b]
                if dl[b] == 0:
                    if count1 > 1 or count2 > 1:
                        count += 1
                    count1 = count2 = 0
                elif dl[b] == 1:
                    count1 += 1
                elif dl[b] == 2:
                    count2 += 1
            if count1 > 1 or count2 > 1:
                count += 1
            if cid >= 0:
                lineparams[cid].doubleline = count

        cmap = create_chainid_map(P, chains)
        chain_next, chain_prev = process_line(P, id_max, chains,
                                              lineparams, cmap)

        full_chains: list[list[int]] = [[] for _ in range(id_max)]
        for i in range(P.n):
            if idx[i] >= 0:
                full_chains[idx[i]].append(i)
        for chain in full_chains:
            chain.sort(key=sub.__getitem__)

        if rechain_search(P, full_chains, chain_next, chain_prev):
            break

        full_chains = [c for c in full_chains if c]
        for chainid, chain in enumerate(full_chains):
            for bidx, b in enumerate(chain):
                P.idx[b] = chainid
                P.subidx[b] = bidx

    blocks = block_chain_search(id_max, chain_next, chain_prev)

    # A8 block bbox + stats (make_block.cpp:1489-1540)
    class _BlockParam:
        __slots__ = ("d", "p", "sec", "count", "size",
                     "x_min", "x_max", "y_min", "y_max")

    bparams: list[_BlockParam] = []
    for _ in blocks:
        bp = _BlockParam()
        bp.d = 0
        bp.p = 0
        bp.sec = 0
        bp.count = 0
        bp.size = 0.0
        bp.x_min = P.W * SCALE
        bp.y_min = P.H * SCALE
        bp.x_max = 0.0
        bp.y_max = 0.0
        bparams.append(bp)
    block_of_chain = [-1] * id_max
    for bi, chains_in in enumerate(blocks):
        for c in chains_in:
            block_of_chain[c] = bi
    cx, cy, bw, bh = P.lcx, P.lcy, P.lw, P.lh
    idx, st, sec = P.idx.tolist(), P.subtype.tolist(), P.section.tolist()
    for i in range(P.n):
        if idx[i] < 0 or (st[i] & SUBTYPE_ALONE_RUBY):
            continue
        bi = block_of_chain[idx[i]]
        if bi < 0:
            continue
        bp = bparams[bi]
        bp.d = 0 if (st[i] & SUBTYPE_VERTICAL) == 0 else 1
        bp.count += 1
        bp.size = max(bp.size, bw[i], bh[i])
        bp.sec = sec[i]
        bp.x_min = min(bp.x_min, cx[i] - bw[i] / 2)
        bp.y_min = min(bp.y_min, cy[i] - bh[i] / 2)
        bp.x_max = max(bp.x_max, cx[i] + bw[i] / 2)
        bp.y_max = max(bp.y_max, cy[i] + bh[i] / 2)
    for bp in bparams:
        if bp.x_min > bp.x_max:
            bp.x_min, bp.x_max = bp.x_max, bp.x_min
        if bp.y_min > bp.y_max:
            bp.y_min, bp.y_max = bp.y_max, bp.y_min

    # A9 orientation vote (make_block.cpp:1543-1553)
    orientation = 0.0
    for bp in bparams:
        area = (bp.x_max - bp.x_min) * (bp.y_max - bp.y_min)
        orientation += area if bp.d == 0 else -area

    # W3 block reading order (make_block.cpp:1633-1694): page, section,
    # then overlap-partitioned geometry sort
    block_idx = sorted(range(len(blocks)),
                       key=lambda b: (bparams[b].p, bparams[b].sec))
    st = 0
    while st < len(block_idx):
        ed = st
        while ed < len(block_idx) and \
                bparams[block_idx[ed]].p == bparams[block_idx[st]].p and \
                bparams[block_idx[ed]].sec == bparams[block_idx[st]].sec:
            ed += 1
        group = block_idx[st:ed]
        if orientation < 0:
            group.sort(key=lambda b: (-bparams[b].x_max, b))
            i1 = 0
            while i1 < len(group):
                x_min = bparams[group[i1]].x_min
                x_max = bparams[group[i1]].x_max
                over = [b for b in group[i1:]
                        if _overlap(x_min, x_max,
                                    bparams[b].x_min, bparams[b].x_max)]
                rest = [b for b in group[i1:] if b not in over]
                over.sort(key=lambda b: (bparams[b].y_min, b))
                group[i1:] = over + rest
                i1 += len(over)
        else:
            group.sort(key=lambda b: (bparams[b].y_min, b))
            i1 = 0
            while i1 < len(group):
                y_min = bparams[group[i1]].y_min
                y_max = bparams[group[i1]].y_max
                over = [b for b in group[i1:]
                        if _overlap(y_min, y_max,
                                    bparams[b].y_min, bparams[b].y_max)]
                rest = [b for b in group[i1:] if b not in over]
                over.sort(key=lambda b: (bparams[b].x_min, b))
                group[i1:] = over + rest
                i1 += len(over)
        block_idx[st:ed] = group
        st = ed

    # assign block numbers (make_block.cpp:1696-1715)
    chain_remap = np.full(id_max, -1, dtype=np.int64)
    chain_page = np.zeros(id_max, dtype=np.int64)
    for renum, bi in enumerate(block_idx):
        for c in blocks[bi]:
            chain_remap[c] = renum
            chain_page[c] = bparams[bi].p
    bound = P.idx >= 0
    P.block[bound] = chain_remap[P.idx[bound]]
    P.page[bound] = chain_page[P.idx[bound]]

    # A14 dense per-block line renumber (make_block.cpp:1717-1737)
    idx, blk = P.idx.tolist(), P.block.tolist()
    idx_in_block: dict[int, set[int]] = {}
    for i in range(P.n):
        if idx[i] >= 0 and blk[i] >= 0:
            idx_in_block.setdefault(blk[i], set()).add(idx[i])
    rank = {b: {c: r for r, c in enumerate(sorted(v))}
            for b, v in idx_in_block.items()}
    P.idx[:] = [rank[blk[i]][idx[i]] if idx[i] >= 0 and blk[i] >= 0
                else idx[i] for i in range(P.n)]


def warichu_reorder(P: Page, order: list[int]) -> None:
    """W5 warichu reorder (make_block.cpp:1764-1826): within a same-line
    run of >2 double_line boxes, reassign the run's subidx set so all
    first-row (double_line=1) boxes precede second-row (=2), each row in
    axis order."""
    runs: list[list[int]] = []
    tmp: list[int] = []
    prev_key = None
    for i in order:
        key = (int(P.block[i]), int(P.idx[i]))
        if prev_key != key:
            if len(tmp) > 2:
                runs.append(tmp)
            tmp = []
        prev_key = key
        if P.double_line[i] > 0:
            tmp.append(i)
        else:
            if len(tmp) > 2:
                runs.append(tmp)
            tmp = []
    if len(tmp) > 2:
        runs.append(tmp)
    for run in runs:
        if (P.subtype[run[0]] & SUBTYPE_VERTICAL) == 0:
            sortidx = sorted(range(len(run)),
                             key=lambda a: (P.double_line[run[a]],
                                            P.cx[run[a]], run[a]))
        else:
            sortidx = sorted(range(len(run)),
                             key=lambda a: (P.double_line[run[a]],
                                            P.cy[run[a]], run[a]))
        subidx = sorted(int(P.subidx[i]) for i in run)
        for j, k in enumerate(sortidx):
            P.subidx[run[k]] = subidx[j]


# ---------------------------------------------------------------- space_check

def remove_dupspace(P: Page, order: list[int]) -> None:
    """W6 duplicate-space removal (remove_dupspace space_check.cpp:40-73):
    of consecutive space-flagged boxes (in reading order) that overlap at
    all (IoU > 0), only the first keeps the flag."""
    sp = [i for i in order if (P.subtype[i] & SUBTYPE_SPACE) == SUBTYPE_SPACE]
    for a, b in zip(sp, sp[1:]):
        if (P.subtype[a] & SUBTYPE_SPACE) != SUBTYPE_SPACE:
            continue
        ix = min(P.cx[a] + P.w[a] / 2, P.cx[b] + P.w[b] / 2) - \
            max(P.cx[a] - P.w[a] / 2, P.cx[b] - P.w[b] / 2)
        iy = min(P.cy[a] + P.h[a] / 2, P.cy[b] + P.h[b] / 2) - \
            max(P.cy[a] - P.h[a] / 2, P.cy[b] - P.h[b] / 2)
        inter = max(ix, 0.0) * max(iy, 0.0)
        union = P.w[a] * P.h[a] + P.w[b] * P.h[b] - inter
        iou = inter / union if union > 0 else 0.0
        if iou > 0:
            P.subtype[b] &= ~SUBTYPE_SPACE


def find_lostspace(P: Page, order: list[int]) -> None:
    """W6 lost-space detection (find_lostspace space_check.cpp:76-673):
    per block, take each line's first <=3 non-ruby boxes, reject thin /
    deeply-indented lines; walk the lines with the amx running-margin
    estimate (EMA slope delta, space_check.cpp:254-301) deciding per head
    whether it sits AT the margin or one character IN (indent) — a head
    that matches neither expectation is skipped; then least-squares fit
    the margin curve over the trusted heads (the reference uses MINPACK
    lmdif with n=min(4,m) coefficients — np.polyfit(deg=n-1) is the same
    fit, space_check.cpp:638-643) using the indent-corrected edge points
    (sx[0] for indented heads, sx[1] otherwise, space_check.cpp:625-636);
    finally every line's head space flag is re-derived from
    cx_head > fitted margin (space_check.cpp:658-671).

    The walk is seeded at the line whose wide head (w >= 0.6*s0) starts
    furthest toward the margin (space_check.cpp:181-208) — NOT blindly at
    the first line, so header/ornament lines at the top of a block cannot
    mis-anchor the margin estimate. Seed in the top half: forward walk
    from the seed, then a reverse pass over the whole block; seed in the
    bottom half: backward walk, then a forward pass
    (space_check.cpp:209-600, incl. the per-pass threshold asymmetries
    0.85/0.75/1.0 of the reference)."""
    # box state as lists; the flags read below (ruby, vertical) are not
    # the space bit this function rewrites
    blk, st, idx = P.block.tolist(), P.subtype.tolist(), P.idx.tolist()
    blocks = sorted({blk[i] for i in order if blk[i] >= 0})
    for b in blocks:
        lines: dict[int, list[int]] = {}
        s0 = 0.0
        vertical = False
        for i in order:
            if blk[i] != b or (st[i] & 6) == 6:
                continue
            vertical = (st[i] & SUBTYPE_VERTICAL) != 0
            s0 = max(s0, P.lh[i] if vertical else P.lw[i])
            lines.setdefault(idx[i], [])
            if len(lines[idx[i]]) < 3:
                lines[idx[i]].append(i)
        axis = P.lcy if vertical else P.lcx
        size = P.lh if vertical else P.lw
        cross = P.lcx if vertical else P.lcy

        # drop lines of only-thin chars (space_check.cpp:107-132)
        kept = [ln for ln in sorted(lines)
                if any(s0 - size[i] < s0 * 0.5 for i in lines[ln])]
        if len(kept) < 2:
            continue
        # drop deep indents (space_check.cpp:136-169)
        x0 = min(axis[lines[ln][0]] - size[lines[ln][0]] / 2 for ln in kept)
        kept = [ln for ln in kept
                if axis[lines[ln][0]] - size[lines[ln][0]] / 2 - x0 <= s0 * 2.5]
        if len(kept) < 2:
            continue
        n = len(kept)

        # current head flags, up front (space_check.cpp:172-177)
        head_indent = [
            (P.subtype[lines[ln][0]] & SUBTYPE_SPACE) == SUBTYPE_SPACE
            for ln in kept]
        head_skip = [False] * n
        amx = [0.0] * n

        def head_geom(pos: int) -> tuple[float, float] | None:
            lb = lines[kept[pos]]
            if len(lb) < 2:
                return None
            mx2 = (axis[lb[0]] + size[lb[0]] / 2 +
                   axis[lb[1]] - size[lb[1]] / 2) / 2
            mx2 = max(mx2, (axis[lb[0]] + axis[lb[1]]) / 2)
            return mx2, mx2 - s0

        def base_skip(pos: int, sizesum_th: float, span_hi_inner_only: bool,
                      span_lo_th: float = 1.0) -> bool:
            """Per-pass untrustworthy-head rejection
            (space_check.cpp:219-252 and the pass variants)."""
            lb = lines[kept[pos]]
            if axis[lb[1]] - axis[lb[0]] > s0 * 1.15:
                return True
            if size[lb[0]] + size[lb[1]] < s0 * sizesum_th:
                return True
            if len(lb) == 3:
                span = axis[lb[2]] - axis[lb[0]]
                if span < s0 * span_lo_th:
                    return True
                if span > s0 * 2.2 and \
                        (not span_hi_inner_only or 0 < pos < n - 1):
                    return True
            return False

        def classify(pos: int, fmx: float | None) -> None:
            """amx/flag update given the forecast margin (the shared body
            of every pass, space_check.cpp:260-301)."""
            geom = head_geom(pos)
            mx2, sx2 = geom
            if fmx is not None:
                if mx2 < fmx and abs(fmx - mx2) > s0 * 0.25:
                    head_skip[pos] = True
                elif abs(fmx - mx2) < s0 * 0.6:
                    head_indent[pos] = False
                elif abs(fmx - s0 - mx2) < s0 * 0.6:
                    head_indent[pos] = False
                elif abs(fmx - sx2) < s0 * 0.6:
                    head_indent[pos] = True
                else:
                    head_skip[pos] = True
            if not head_skip[pos]:
                amx[pos] = sx2 if head_indent[pos] else mx2

        def delta_fwd(lo: int, hi: int) -> float:
            d = 0.0
            for j in range(lo, hi):
                if amx[j] != 0 and amx[j - 1] != 0:
                    d = (amx[j] - amx[j - 1]) * 0.25 + d * 0.75
            return d

        def delta_bwd(hi: int, lo: int) -> float:
            d = 0.0
            for j in range(hi, lo, -1):
                if amx[j] != 0 and amx[j + 1] != 0:
                    d = (amx[j] - amx[j + 1]) * 0.25 + d * 0.75
            return d

        # seed: the line with a wide head (>= 0.6*s0) starting furthest
        # toward the margin (space_check.cpp:181-208)
        k = 0
        minx = math.inf
        for pos, ln in enumerate(kept):
            lb = lines[ln]
            if len(lb) < 2 or size[lb[0]] < s0 * 0.6:
                continue
            sx = axis[lb[0]] - size[lb[0]] / 2
            if sx < minx:
                minx = sx
                k = pos

        if k < n / 2:
            # forward walk from the seed (space_check.cpp:209-301)
            for i in range(k, n):
                if len(lines[kept[i]]) < 2:
                    continue
                if base_skip(i, 0.85, False):
                    head_skip[i] = True
                    if i > 0 and amx[i - 1] != 0:
                        amx[i] = amx[i - 1] + delta_fwd(k + 1, i)
                    continue
                d = delta_fwd(k + 1, i)
                fmx = amx[i - 1] + d if (i > 0 and amx[i - 1] != 0) else None
                classify(i, fmx)
                if head_skip[i] and i > 0 and amx[i - 1] != 0:
                    amx[i] = amx[i - 1] + d
            # reverse pass over the whole block (space_check.cpp:303-398)
            head_skip = [False] * n
            for i in range(n - 1, -1, -1):
                if len(lines[kept[i]]) < 2:
                    continue
                if base_skip(i, 0.85, True):
                    head_skip[i] = True
                    if i < n - 1 and amx[i + 1] != 0 and amx[i] == 0:
                        amx[i] = amx[i + 1] + delta_bwd(n - 2, i)
                    continue
                d = delta_bwd(n - 2, i)
                if i < n - 1 and amx[i + 1] != 0:
                    fmx = amx[i] if (amx[i] != 0 and d == 0) \
                        else amx[i + 1] + d
                else:
                    fmx = None
                classify(i, fmx)
                if head_skip[i] and i < n - 1 and amx[i + 1] != 0 \
                        and amx[i] == 0:
                    amx[i] = amx[i + 1] + d
        else:
            # backward walk from the seed (space_check.cpp:400-494)
            for i in range(k, -1, -1):
                if len(lines[kept[i]]) < 2:
                    continue
                if base_skip(i, 0.75, True):
                    head_skip[i] = True
                    if i < n - 1 and amx[i + 1] != 0:
                        amx[i] = amx[i + 1] + delta_bwd(k - 1, i)
                    continue
                d = delta_bwd(k - 1, i)
                fmx = amx[i + 1] + d if (i < n - 1 and amx[i + 1] != 0) \
                    else None
                classify(i, fmx)
                if head_skip[i] and i < n - 1 and amx[i + 1] != 0:
                    amx[i] = amx[i + 1] + d
            # forward pass over the whole block (space_check.cpp:496-600;
            # note the reference's vertical-family quirks: size-sum < s0
            # and 3-box span < 0.75*s0)
            head_skip = [False] * n
            for i in range(n):
                if len(lines[kept[i]]) < 2:
                    continue
                if vertical:
                    bs = base_skip(i, 1.0, False, span_lo_th=0.75)
                else:
                    bs = base_skip(i, 0.75, False)
                if bs:
                    head_skip[i] = True
                    if i > 0 and amx[i - 1] != 0 and amx[i] == 0:
                        amx[i] = amx[i - 1] + delta_fwd(1, i)
                    continue
                d = delta_fwd(1, i)
                if i > 0 and amx[i - 1] != 0:
                    fmx = amx[i] if (amx[i] != 0 and d == 0) \
                        else amx[i - 1] + d
                else:
                    fmx = None
                classify(i, fmx)
                if head_skip[i] and i > 0 and amx[i - 1] != 0 \
                        and amx[i] == 0:
                    amx[i] = amx[i - 1] + d

        # margin-curve fit over trusted heads (space_check.cpp:602-643):
        # left edge for indented heads, first box's right edge otherwise
        fit_pts: list[tuple[float, float]] = []
        for pos, ln in enumerate(kept):
            lb = lines[ln]
            if head_skip[pos]:
                continue
            edge = (axis[lb[0]] - size[lb[0]] / 2 if head_indent[pos]
                    else axis[lb[0]] + size[lb[0]] / 2)
            fit_pts.append((float(cross[lb[0]]), float(edge)))
        if len(fit_pts) < 2:
            continue
        xs_fit = np.array([p[0] for p in fit_pts])
        ys_fit = np.array([p[1] for p in fit_pts])
        deg = min(3, len(fit_pts) - 1)
        coeffs = np.polyfit(xs_fit, ys_fit, deg)

        for ln in kept:
            lb = lines[ln]
            lx = float(np.polyval(coeffs, float(cross[lb[0]])))
            if axis[lb[0]] > lx:
                P.subtype[lb[0]] |= SUBTYPE_SPACE
            else:
                P.subtype[lb[0]] &= ~SUBTYPE_SPACE


# ---------------------------------------------------------------- public API

def _reading_sort(P: Page, order: list[int]) -> None:
    """W2 final sort (main.cpp:156-161): block, idx, subidx, subtype, id."""
    keys = list(zip(P.block.tolist(), P.idx.tolist(), P.subidx.tolist(),
                    P.subtype.tolist(), range(P.n)))
    order.sort(key=keys.__getitem__)


def run_textline_detect(boxes: dict, line_runs: np.ndarray,
                        sep_runs: np.ndarray, sep_vals: np.ndarray):
    """Full group stage for one page (process.cpp:46-67 + main.cpp:156-161
    final sort). Returns ``(P, order)`` — the mutated :class:`Page` (whose
    block/idx/subidx/subtype/double_line/section arrays carry the per-box
    results) and ``order``, the final reading-order permutation of the
    input box indices (boxes the reference drops, block<0, are excluded)."""
    P = Page(boxes, line_runs, sep_runs, sep_vals)
    idimage, idimage_main = prepare_id_image(P)
    make_lineblocker(P)
    chains = linefind(P)
    search_loop(P, chains, idimage_main)

    # after_search (after_search.cpp:227-251)
    fix_shortchain(P, chains)
    register_chainid(P, chains)
    search_ruby(P, chains, idimage)
    id_max = renumber_chain(P)
    number_unbind(P, idimage, id_max)
    make_block(P)

    order = [i for i in range(P.n) if P.block[i] >= 0 and P.idx[i] >= 0]
    _reading_sort(P, order)
    warichu_reorder(P, order)
    _reading_sort(P, order)
    remove_dupspace(P, order)
    find_lostspace(P, order)
    return P, order
