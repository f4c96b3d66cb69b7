"""Loop reference for the textline kernel (operators/textline.py).

These are the textline functions as they were before their hot loops were
batched into whole-array NumPy work, kept verbatim: one scalar step at a
time, in the reference C++ program's order. ``REWRITTEN`` names the
functions the kernel replaced; ``test_textline_reference.py`` patches them
back into the kernel module and requires identical results. Functions the
rewrite left alone are imported from the kernel, so a patched run mixes
nothing but reference code with unchanged kernel code.
"""

from __future__ import annotations

import math

import numpy as np

from findtextcenternet_spark.config import (
    ALLOW_SIZEDIFF,
    ALLOWWIDTH_NEXT_BLOCK,
    LINE_VALUETH,
    SCALE,
    SEP_CLUSTERTH,
    SEP_VALUETH,
    SUBTYPE_ALONE_RUBY,
    SUBTYPE_RUBYBASE,
    SUBTYPE_SPACE,
    SUBTYPE_VERTICAL,
)
from findtextcenternet_spark.operators.textline import (
    M_PI,
    M_PI_2,
    M_PI_4,
    RUBY_BITS,
    Page,
    _LineParam,
    _overlap,
    _UnionFind,
    block_chain_search,
    count_unbind,
    fix_chain_info,
    fix_shortchain,
    linefind,
    number_unbind,
    process_merge,
    rechain_search,
    register_chainid,
    remove_dupspace,
    search_loop,
    warichu_reorder,
)

REWRITTEN = (
    "_runs_of_mask",
    "prepare_id_image",
    "make_lineblocker",
    "_detect_line_fast",
    "detect_line",
    "set_angle",
    "chain_boxes",
    "line_grow",
    "sort_chain",
    "search_chain",
    "find_linecenter_id",
    "_interp_samples",
    "make_track_line",
    "create_chainid_map",
    "_chain_max_wh",
    "_ema_toward_front",
    "_ema_toward_back",
    "_mean_gap",
    "combine_chains",
    "fix_unbined",
    "renumber_chain",
    "search_ruby",
    "renumber_id",
    "process_line",
    "make_block",
    "find_lostspace",
    "run_textline_detect",
)


def _label_components_4(mask: np.ndarray) -> tuple[np.ndarray, int]:
    """4-neighborhood connected components over a boolean mask, as
    run-length union-find (A11; search_connection prepare.cpp:6-66
    semantics — labels renumbered in row-major first-appearance order,
    which is exactly the scan order the C++ assigns cluster ids in).
    Returns (label map int[H,W] with -1 background, n_components)."""
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
        for j in row_runs.get(y + 1, ()):
            jy, jx1, jx2 = runs[j]
            if jx1 > x2:
                break
            if jx2 >= x1:
                uf.union(i, j)
    remap: dict[int, int] = {}
    for i, (y, x1, x2) in enumerate(runs):
        r = uf.find(i)
        if r not in remap:
            remap[r] = len(remap)
        labels[y, x1:x2 + 1] = remap[r]
    return labels, len(remap)


def _runs_of_mask(mask: np.ndarray) -> list[tuple[int, int, int]]:
    """Row-major RLE of a boolean mask: (y, x1, x2) inclusive."""
    out = []
    for y in range(mask.shape[0]):
        row = mask[y]
        if not row.any():
            continue
        d = np.diff(row.astype(np.int8))
        starts = np.nonzero(d == 1)[0] + 1
        ends = np.nonzero(d == -1)[0]
        if row[0]:
            starts = np.concatenate([[0], starts])
        if row[-1]:
            ends = np.concatenate([ends, [len(row) - 1]])
        for s, e in zip(starts, ends):
            out.append((y, int(s), int(e)))
    return out


def prepare_id_image(P: Page) -> tuple[np.ndarray, np.ndarray]:
    """Box-id rasters (prepare.cpp:68-97): idimage stamps every box,
    idimage_main skips ruby glyphs; later box ids overwrite earlier."""
    idimage = np.full((P.H, P.W), -1, dtype=np.int32)
    idimage_main = np.full((P.H, P.W), -1, dtype=np.int32)
    for i in range(P.n):
        left = int((P.cx[i] - P.w[i] / 2) / SCALE)
        right = int((P.cx[i] + P.w[i] / 2) / SCALE) + 1
        top = int((P.cy[i] - P.h[i] / 2) / SCALE)
        bottom = int((P.cy[i] + P.h[i] / 2) / SCALE) + 1
        if left < 0 or right >= P.W:
            continue
        if top < 0 or bottom >= P.H:
            continue
        if not P.is_ruby(i):
            idimage_main[top:bottom, left:right] = i
        idimage[top:bottom, left:right] = i
    return idimage, idimage_main


def make_lineblocker(P: Page) -> None:
    """Separator mask -> lineblocker (prepare.cpp:99-170):
    threshold at SEP_VALUETH, 4-CC, erase clusters with value-sum below
    SEP_CLUSTERTH (A12 cluster weight prune), then hysteresis-regrow each
    surviving cell to 8-neighbors above 0.1x its own value (A13)."""
    blocker = P.sepimage > SEP_VALUETH
    labels, n_comp = _label_components_4(blocker)
    if n_comp:
        weights = np.zeros(n_comp)
        on = labels >= 0
        np.add.at(weights, labels[on], P.sepimage[on])
        light = weights < SEP_CLUSTERTH
        blocker[on & light[np.clip(labels, 0, None)]] = False

    # hysteresis grow (prepare.cpp:135-169): seeds in row-major order,
    # 8-neighborhood stack walk down to 0.1 * seed value
    seeds = np.nonzero(blocker)
    sep = P.sepimage
    H, W = P.H, P.W
    for y0, x0 in zip(seeds[0].tolist(), seeds[1].tolist()):
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
                    if blocker[yy, xx]:
                        continue
                    if sep.item(yy, xx) < value_th:
                        continue
                    stack.append((yy, xx))
    P.lineblocker = blocker


def _detect_line_fast(P: Page, on_mask: np.ndarray
                      ) -> tuple[np.ndarray, int]:
    """5x5-neighborhood components as run-length union-find — valid only
    when no blocker cell sits within the 5x5 reach of any line cell (the
    common page: separators live in block gaps, far from the lines).
    Components get ids in row-major first-cell order, matching the
    descending-value scan for our binary line maps."""
    runs = _runs_of_mask(on_mask)
    n = len(runs)
    labels = np.full(on_mask.shape, -1, dtype=np.int32)
    if n == 0:
        return labels, 0
    uf = _UnionFind(n)
    row_runs: dict[int, list[int]] = {}
    for i, (y, _x1, _x2) in enumerate(runs):
        row_runs.setdefault(y, []).append(i)
    for i, (y, x1, x2) in enumerate(runs):
        for dy in (0, 1, 2):
            for j in row_runs.get(y + dy, ()):
                if dy == 0 and j <= i:
                    continue
                jy, jx1, jx2 = runs[j]
                if jx1 > x2 + 2:
                    break
                if jx2 >= x1 - 2:
                    uf.union(i, j)
    remap: dict[int, int] = {}
    for i, (y, x1, x2) in enumerate(runs):
        r = uf.find(i)
        if r not in remap:
            remap[r] = len(remap)
        labels[y, x1:x2 + 1] = remap[r]
    return labels, len(remap)


def detect_line(P: Page) -> tuple[np.ndarray, int]:
    """Textline components (hough_linefind.cpp:200-255): flood fill with a
    5x5 neighborhood from cells in descending lineimage order, a blocker
    cell anywhere in the window stops expansion from that cell."""
    H, W = P.H, P.W
    lineid_map = np.full((H, W), -1, dtype=np.int32)
    on = np.nonzero(P.lineimage.ravel() >= LINE_VALUETH)[0]
    if len(on) == 0:
        return lineid_map, 0

    # fast path: if no blocker is within the 5x5 reach of any line cell,
    # the blocker-barrier rule can never fire — use run-length union-find
    on_mask = P.lineimage >= LINE_VALUETH
    if P.lineblocker.any():
        near = np.zeros((H, W), dtype=bool)
        b = P.lineblocker
        for dy in (-2, -1, 0, 1, 2):
            ys_lo, ys_hi = max(0, dy), H + min(0, dy)
            yd_lo, yd_hi = max(0, -dy), H + min(0, -dy)
            for dx in (-2, -1, 0, 1, 2):
                xs_lo, xs_hi = max(0, dx), W + min(0, dx)
                xd_lo, xd_hi = max(0, -dx), W + min(0, -dx)
                near[yd_lo:yd_hi, xd_lo:xd_hi] |= b[ys_lo:ys_hi, xs_lo:xs_hi]
        clear = not (near & on_mask).any()
    else:
        clear = True
    if clear:
        return _detect_line_fast(P, on_mask)
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
    the C++ p1/p2 scan)."""
    angle_map = np.full((P.H, P.W), np.nan, dtype=np.float32)
    new_map = np.full((P.H, P.W), -1, dtype=np.int32)
    new_count = 0
    for lid in range(lineid_count):
        ys, xs = np.nonzero(lineid_map == lid)
        if len(ys) == 0:
            continue
        if xs.max() - xs.min() < ys.max() - ys.min():
            # vertical: topmost -> bottommost
            k1 = np.lexsort((xs, ys))[0]
            k2 = np.lexsort((xs, -ys))[0]
            angle = math.atan2(float(ys[k2] - ys[k1]), float(xs[k2] - xs[k1]))
        else:
            # horizontal: leftmost -> rightmost
            k1 = np.lexsort((ys, xs))[0]
            k2 = np.lexsort((ys, -xs))[0]
            angle = math.atan2(float(ys[k2] - ys[k1]), float(xs[k2] - xs[k1]))
        angle_map[ys, xs] = angle
        new_map[ys, xs] = new_count
        new_count += 1
    return angle_map, new_map, new_count


def chain_boxes(P: Page, lineid_count: int, angle_map: np.ndarray,
                lineid_map: np.ndarray) -> list[list[int]]:
    """J1 box<->line spatial join (chain_boxes hough_linefind.cpp:13-121):
    march outward from each non-ruby box center (left, right, up, down at
    each radius, scale-px steps) until a textline cell is hit; attach the
    box to that line and inherit its direction."""
    chains: list[list[int]] = [[] for _ in range(lineid_count)]
    H, W = P.H, P.W
    for boxid in range(P.n):
        if P.is_ruby(boxid):
            continue
        cx, cy = P.cx[boxid], P.cy[boxid]
        found = False
        for di in range(0, int(max(P.w[boxid], P.h[boxid]) / 2) + 1, SCALE):
            for xi, yi in ((cx - di, cy), (cx + di, cy),
                           (cx, cy - di), (cx, cy + di)):
                x, y = int(xi / SCALE), int(yi / SCALE)
                if not (0 <= x < W and 0 <= y < H):
                    continue
                lineid = lineid_map.item(y, x)
                direction = angle_map.item(y, x)
                if lineid >= 0 and not math.isnan(direction):
                    chains[lineid].append(boxid)
                    P.direction[boxid] = direction
                    found = True
                    break
            if found:
                break
    return chains


def line_grow(P: Page, lineid_count: int, angle_map: np.ndarray,
              lineid_map: np.ndarray, chains: list[list[int]]) -> np.ndarray:
    """Thicken each line by its chained boxes' max size so a second
    chain_boxes pass catches boxes the thin skeleton missed
    (line_grow hough_linefind.cpp:123-198). Horizontal lines grow upward
    by max height; vertical grow sideways by max width/2."""
    line_width = np.zeros(lineid_count)
    for lid in range(lineid_count):
        mw = 0.0
        for boxid in chains[lid]:
            if abs(P.direction[boxid]) < M_PI_4:
                mw = max(mw, P.h[boxid])
            else:
                mw = max(mw, P.w[boxid], P.h[boxid])
        line_width[lid] = mw / SCALE
    H, W = P.H, P.W
    map2 = np.full((H, W), -1, dtype=np.int32)
    ys, xs = np.nonzero(lineid_map >= 0)
    for y, x in zip(ys.tolist(), xs.tolist()):
        if P.lineblocker[y, x]:
            continue
        lid = lineid_map.item(y, x)
        map2[y, x] = lid
        direction = angle_map.item(y, x)
        mw = int(line_width[lid])
        if abs(direction) < M_PI_4:
            for y2 in range(y, max(-1, y - mw - 1), -1):
                if P.lineblocker[y2, x]:
                    break
                if map2.item(y2, x) < 0:
                    map2[y2, x] = lid
                    angle_map[y2, x] = direction
        else:
            for x2 in range(x, max(-1, x - mw // 2 - 1), -1):
                if P.lineblocker[y, x2]:
                    break
                if map2.item(y, x2) < 0:
                    map2[y, x2] = lid
                    angle_map[y, x2] = direction
            for x2 in range(x, min(W, x + mw // 2 + 1)):
                if P.lineblocker[y, x2]:
                    break
                if map2.item(y, x2) < 0:
                    map2[y, x2] = lid
                    angle_map[y, x2] = direction
    return map2


def sort_chain(chain: list[int], P: Page) -> None:
    """W1 in-chain reading sort (sort_chain search_loop.cpp:12-65): sort by
    the line axis; runs of boxes overlapping the group head's span re-sort
    by the cross axis (e.g. stacked punctuation in horizontal text)."""
    if not chain:
        return
    if abs(P.direction[chain[0]]) < M_PI_4:
        chain.sort(key=lambda a: (P.cx[a], a))
        i = 0
        while i < len(chain):
            j = i + 1
            while j < len(chain) and \
                    P.cx[chain[i]] + P.w[chain[i]] / 2 > P.cx[chain[j]]:
                j += 1
            if j - i > 1:
                chain[i:j] = sorted(chain[i:j], key=lambda a: (P.cy[a], a))
            i = j
    else:
        chain.sort(key=lambda a: (P.cy[a], a))
        i = 0
        while i < len(chain):
            j = i + 1
            while j < len(chain) and \
                    P.cy[chain[i]] + P.h[chain[i]] / 2 > P.cy[chain[j]]:
                j += 1
            if j - i > 1:
                chain[i:j] = sorted(chain[i:j], key=lambda a: (P.cx[a], a))
            i = j


def search_chain(P: Page, chain: list[int]):
    """A5 weighted endpoint anchors (search_chain search_loop.cpp:87-177):
    start/end transverse anchor = positional-decay weighted mean of the
    non-ruby, non-warichu boxes; direction re-derived from the anchors."""
    nonruby = [i for i in chain
               if not P.is_ruby(i) and P.double_line[i] == 0]
    if not nonruby:
        return 0.0, 0.0, 0.0, -1.0, -1.0, -1.0, -1.0
    w = max(P.w[i] for i in nonruby)
    h = max(P.h[i] for i in nonruby)
    direction = P.direction[nonruby[0]]
    n = len(nonruby)
    if abs(direction) < M_PI_4:
        wt1 = np.array([P.w[i] * P.h[i] / (k + 1) for k, i in enumerate(nonruby)])
        wt2 = np.array([P.w[i] * P.h[i] / (n - k) for k, i in enumerate(nonruby)])
        cys = np.array([P.cy[i] for i in nonruby])
        start_cy = float((cys * wt1).sum() / wt1.sum())
        end_cy = float((cys * wt2).sum() / wt2.sum())
        start_cx = float(P.cx[nonruby[0]])
        end_cx = float(P.cx[nonruby[-1]])
        direction = math.atan2(end_cy - start_cy, end_cx - start_cx)
        if direction > M_PI_2:
            direction -= M_PI
    else:
        wt1 = np.array([P.w[i] * P.h[i] / (k + 1) for k, i in enumerate(nonruby)])
        wt2 = np.array([P.w[i] * P.h[i] / (n - k) for k, i in enumerate(nonruby)])
        cxs = np.array([P.cx[i] for i in nonruby])
        start_cx = float((cxs * wt1).sum() / wt1.sum())
        end_cx = float((cxs * wt2).sum() / wt2.sum())
        start_cy = float(P.cy[nonruby[0]])
        end_cy = float(P.cy[nonruby[-1]])
        direction = math.atan2(end_cy - start_cy, end_cx - start_cx)
    return direction, w, h, start_cx, start_cy, end_cx, end_cy


def find_linecenter_id(P: Page, chains: list[list[int]], chainid: int):
    """Boxes tracking the line center (find_linecenter_id
    search_loop.cpp:180-236): big-enough non-ruby boxes within half a
    line-size of the center fit line."""
    direction, w, h, s_cx, s_cy, e_cx, e_cy = search_chain(P, chains[chainid])
    sel: list[int] = []
    cand = [i for i in chains[chainid]
            if not P.is_ruby(i) and P.double_line[i] == 0
            and (max(P.w[i], P.h[i]) / max(w, h) >= 0.4 if max(w, h) > 0 else False)]
    if not cand:
        return sel, direction, w, h, s_cx, s_cy, e_cx, e_cy
    center_x = sum(P.cx[i] for i in cand) / len(cand)
    center_y = sum(P.cy[i] for i in cand) / len(cand)
    if abs(direction) < M_PI_4:
        for i in cand:
            yi = math.tan(direction) * (P.cx[i] - center_x) + center_y
            if abs(yi - P.cy[i]) < max(w, h) / 2:
                sel.append(i)
    else:
        for i in cand:
            xi = math.tan(M_PI_2 - direction) * (P.cy[i] - center_y) + center_x
            if abs(xi - P.cx[i]) < max(w, h) / 2:
                sel.append(i)
    return sel, direction, w, h, s_cx, s_cy, e_cx, e_cy


def _interp_samples(p1, q1, p2, q2):
    """Vectorized polyline sampling — exact equivalent of the scalar
    per-segment walk ``xp = int(p1); while xp < p2: emit (xp,
    int((xp - p1) * a + q1)); xp += SCALE`` over all segments at once
    (same truncation-toward-zero semantics via astype(int64))."""
    p1 = np.asarray(p1, dtype=np.float64)
    q1 = np.asarray(q1, dtype=np.float64)
    p2 = np.asarray(p2, dtype=np.float64)
    q2 = np.asarray(q2, dtype=np.float64)
    valid = p2 != p1
    a = np.where(valid, (q2 - q1) / np.where(valid, p2 - p1, 1.0), 0.0)
    ip1 = p1.astype(np.int64)
    n = np.ceil((p2 - ip1) / SCALE).astype(np.int64)
    n = np.where(valid, np.maximum(n, 0), 0)
    total = int(n.sum())
    if total == 0:
        return [], []
    k_idx = np.arange(total) - np.repeat(np.cumsum(n) - n, n)
    p_all = np.repeat(ip1, n) + SCALE * k_idx
    q_all = ((p_all - np.repeat(p1, n)) * np.repeat(a, n)
             + np.repeat(q1, n)).astype(np.int64)
    return p_all.tolist(), q_all.tolist()


def make_track_line(P: Page, chains: list[list[int]], chainid: int,
                    extra_len: int = 0):
    """Center track polyline of a chain, sampled every SCALE px
    (make_track_line search_loop.cpp:239-449). Returns (xs, ys, direction,
    w, h) in pixel coords; extra_len extends past both ends (ruby probe)."""
    sel, direction, w, h, s_cx, s_cy, e_cx, e_cy = \
        find_linecenter_id(P, chains, chainid)
    sel_set = set(sel)
    xs: list[int] = []
    ys: list[int] = []
    if abs(direction) < M_PI_4:
        xi: list[float] = []
        yi: list[float] = []
        if sel:
            j = sel[0]
            track = P.cy[j]
            xi.append(P.cx[j] - P.w[j] / 2)
            yi.append(track)
        else:
            return xs, ys, direction, w, h
        for boxid in chains[chainid]:
            if P.is_ruby(boxid):
                continue
            if boxid in sel_set:
                track = (track + P.cy[boxid]) / 2
            xi.append(P.cx[boxid])
            yi.append(track)
        j = sel[-1]
        track = P.cy[j]
        xi.append(P.cx[j] + P.w[j] / 2)
        yi.append(track)

        if extra_len > 0 and len(xi) >= 2:
            x1, y1, x2, y2 = xi[0], yi[0], xi[1], yi[1]
            a = (y2 - y1) / (x2 - x1) if x2 != x1 else 0.0
            head_x: list[int] = []
            head_y: list[int] = []
            xp = int(x1)
            while xp > x1 - extra_len * w * 2:
                yp = int((xp - x1) * a + y1)
                xp1, yp1 = xp // SCALE, yp // SCALE
                if 0 <= xp1 < P.W and 0 <= yp1 < P.H:
                    if P.lineblocker[yp1, xp1]:
                        break
                    head_x.append(xp)
                    head_y.append(yp)
                xp -= SCALE
            xs.extend(reversed(head_x))
            ys.extend(reversed(head_y))

        px, py = _interp_samples(xi[:-1], yi[:-1], xi[1:], yi[1:])
        xs.extend(px)
        ys.extend(py)

        if extra_len > 0 and len(xi) >= 2:
            x1, y1 = xi[-2], yi[-2]
            x2, y2 = xi[-1], yi[-1]
            a = (y2 - y1) / (x2 - x1) if x2 != x1 else 0.0
            xp = int(x2)
            while xp < x2 + extra_len * w * 2:
                yp = int((xp - x1) * a + y1)
                xp1, yp1 = xp // SCALE, yp // SCALE
                if 0 <= xp1 < P.W and 0 <= yp1 < P.H:
                    if P.lineblocker[yp1, xp1]:
                        break
                    xs.append(xp)
                    ys.append(yp)
                xp += SCALE
    else:
        xi = []
        yi = []
        if sel:
            j = sel[0]
            track = P.cx[j]
            xi.append(track)
            yi.append(P.cy[j] - P.h[j] / 2)
        else:
            return xs, ys, direction, w, h
        for boxid in chains[chainid]:
            if P.is_ruby(boxid):
                continue
            if boxid in sel_set:
                track = (track + P.cx[boxid]) / 2
            xi.append(track)
            yi.append(P.cy[boxid])
        j = sel[-1]
        track = P.cx[j]
        xi.append(track)
        yi.append(P.cy[j] + P.h[j] / 2)

        if extra_len > 0 and len(yi) >= 2:
            x1, y1, x2, y2 = xi[0], yi[0], xi[1], yi[1]
            a = (x2 - x1) / (y2 - y1) if y2 != y1 else 0.0
            head_x = []
            head_y = []
            yp = int(y1)
            while yp > y1 - extra_len * h * 2:
                xp = int((yp - y1) * a + x1)
                xp1, yp1 = xp // SCALE, yp // SCALE
                if 0 <= xp1 < P.W and 0 <= yp1 < P.H:
                    if P.lineblocker[yp1, xp1]:
                        break
                    head_x.append(xp)
                    head_y.append(yp)
                yp -= SCALE
            xs.extend(reversed(head_x))
            ys.extend(reversed(head_y))

        py, px = _interp_samples(yi[:-1], xi[:-1], yi[1:], xi[1:])
        xs.extend(px)
        ys.extend(py)

        if extra_len > 0 and len(yi) >= 2:
            x1, y1 = xi[-2], yi[-2]
            x2, y2 = xi[-1], yi[-1]
            a = (x2 - x1) / (y2 - y1) if y2 != y1 else 0.0
            yp = int(y2)
            while yp < y2 + extra_len * h * 2:
                xp = int((yp - y1) * a + x1)
                xp1, yp1 = xp // SCALE, yp // SCALE
                if 0 <= xp1 < P.W and 0 <= yp1 < P.H:
                    if P.lineblocker[yp1, xp1]:
                        break
                    xs.append(xp)
                    ys.append(yp)
                yp += SCALE
    return xs, ys, direction, w, h


def create_chainid_map(P: Page, chains: list[list[int]], ratio: float = 1.0,
                       extra_len: int = 0) -> np.ndarray:
    """Chain-id raster: the spatial index that turns every probe join into
    an O(1) lookup (create_chainid_map search_loop.cpp:451-522). Track
    lines are stamped with a transverse band of size/3*ratio, then each
    chained non-ruby box's rectangle is stamped."""
    cmap = np.full((P.H, P.W), -1, dtype=np.int32)
    for chainid, chain in enumerate(chains):
        if not chain:
            continue
        xs, ys, direction, w, h = make_track_line(P, chains, chainid,
                                                  extra_len)
        if not xs:
            continue
        s_s = max(w, h)
        band = int(s_s / 3 / SCALE * ratio)
        # vectorized band fill: one fancy assignment per band offset
        # (duplicate indices within one chain write the same value, so
        # last-wins fancy indexing is equivalent to the scalar loop)
        xa = np.asarray(xs, dtype=np.int64) // SCALE
        ya = np.asarray(ys, dtype=np.int64) // SCALE
        inb = (xa >= 0) & (xa < P.W) & (ya >= 0) & (ya < P.H)
        xa, ya = xa[inb], ya[inb]
        if abs(direction) < M_PI_4:
            for dy in range(-band, band):
                yy = ya + dy
                m = (yy >= 0) & (yy < P.H)
                sel_y, sel_x = yy[m], xa[m]
                free = cmap[sel_y, sel_x] < 0
                cmap[sel_y[free], sel_x[free]] = chainid
        else:
            for dx in range(-band, band):
                xx = xa + dx
                m = (xx >= 0) & (xx < P.W)
                sel_y, sel_x = ya[m], xx[m]
                free = cmap[sel_y, sel_x] < 0
                cmap[sel_y[free], sel_x[free]] = chainid
    # box-rect stamping: bounds computed vectorized over all chained
    # non-ruby boxes (the per-box slice write itself stays — rects vary)
    all_b: list[int] = []
    all_c: list[int] = []
    for chainid, chain in enumerate(chains):
        for boxid in chain:
            all_b.append(boxid)
            all_c.append(chainid)
    if all_b:
        bb = np.asarray(all_b, dtype=np.int64)
        cc_ids = np.asarray(all_c, dtype=np.int64)
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
        for li, ri, ti, bi, ci in zip(left.tolist(), right.tolist(),
                                      top.tolist(), bottom.tolist(),
                                      cc_ids.tolist()):
            if li >= ri or ti >= bi:
                continue
            view = cmap[ti:bi, li:ri]
            view[view < 0] = ci
    return cmap


def _chain_max_wh(P: Page, chain: list[int]) -> tuple[float, float]:
    """A4 per-chain extrema (transform_reduce search_loop.cpp:594-605)."""
    w = max((P.w[i] for i in chain), default=0.0)
    h = max((P.h[i] for i in chain), default=0.0)
    return w, h


def _ema_toward_front(P: Page, chain: list[int], axis: np.ndarray) -> float:
    """A6 EMA scan folded back-to-front: anchor for the chain start
    (combine_chains search_loop.cpp:607-613)."""
    v = float(axis[chain[-1]])
    for boxid in reversed(chain):
        v = 0.25 * v + 0.75 * float(axis[boxid])
    return v


def _ema_toward_back(P: Page, chain: list[int], axis: np.ndarray) -> float:
    """A6 EMA scan folded front-to-back: anchor for the chain end
    (combine_chains search_loop.cpp:615-619)."""
    v = float(axis[chain[0]])
    for boxid in chain:
        v = 0.25 * v + 0.75 * float(axis[boxid])
    return v


def _mean_gap(P: Page, chain: list[int], horizontal: bool) -> float:
    """A7 mean positive inter-box gap along the chain axis
    (combine_chains search_loop.cpp:621-632)."""
    total = 0.0
    for a, b in zip(chain, chain[1:]):
        if horizontal:
            g = (P.cx[b] - P.w[b] / 2) - (P.cx[a] + P.w[a] / 2)
        else:
            g = (P.cy[b] - P.h[b] / 2) - (P.cy[a] + P.h[a] / 2)
        if g > 0:
            total += g
    return max(0.0, total / (len(chain) - 1)) if len(chain) > 1 else 0.0


def combine_chains(P: Page, chains: list[list[int]]) -> None:
    """J2 chain-merge fixpoint (combine_chains search_loop.cpp:576-891):
    each chain probes (maxsize+meangap)*3 along its axis from both ends,
    in an 11-point transverse band around the EMA anchor (A6); a unique
    same-direction same-double_line hit whose EMA anchor is within
    max(h, h_other) merges. Iterates (via process_merge) to fixpoint."""
    blocker = P.lineblocker
    H, W = P.H, P.W
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
            if abs(P.direction[boxid1]) < M_PI_4:
                start_cy0 = _ema_toward_front(P, chain, P.cy)
                end_cy0 = _ema_toward_back(P, chain, P.cy)
                space = _mean_gap(P, chain, True)

                # head: search left (search_loop.cpp:640-690)
                other1: list[int] = []
                done: list[int] = []
                blocked = False
                for xs in range(0, int((w + space) * 3.0), SCALE):
                    x = int((P.cx[boxid1] - w / 2 - xs) / SCALE)
                    if x < 0 or x >= W:
                        continue
                    for yk in range(-5, 6):
                        y = int((start_cy0 + h / 8.0 * yk / 5) / SCALE)
                        if y < 0 or y >= H:
                            continue
                        if blocker[y, x]:
                            other1 = []
                            blocked = True
                            break
                        oc = cmap.item(y, x)
                        if oc >= 0 and oc != chainid and oc not in done \
                                and oc not in other1:
                            och = chains[oc]
                            if och and abs(P.direction[och[-1]]) < M_PI_4 \
                                    and P.double_line[och[-1]] == P.double_line[boxid1]:
                                h1 = max(P.h[i] for i in och)
                                end_cy1 = _ema_toward_back(P, och, P.cy)
                                if abs(start_cy0 - end_cy1) < max(h, h1):
                                    other1.append(oc)
                                    continue
                            done.append(oc)
                    if blocked or done:
                        break
                if len(other1) == 1:
                    merge_chain[chainid] = other1[0]

                # tail: search right (search_loop.cpp:693-745)
                other2: list[int] = []
                blocked = False
                for xs in range(0, int((w + space) * 3.0), SCALE):
                    x = int((P.cx[boxid2] + w / 2 + xs) / SCALE)
                    if x < 0 or x >= W:
                        continue
                    for yk in range(-5, 6):
                        y = int((end_cy0 + h / 8.0 * yk / 5) / SCALE)
                        if y < 0 or y >= H:
                            continue
                        if blocker[y, x]:
                            other2 = []
                            blocked = True
                            break
                        oc = cmap.item(y, x)
                        if oc >= 0 and oc != chainid and oc not in done \
                                and oc not in other2:
                            och = chains[oc]
                            if och and abs(P.direction[och[-1]]) < M_PI_4 \
                                    and P.double_line[och[0]] == P.double_line[boxid2]:
                                h1 = max(P.h[i] for i in och)
                                start_cy1 = _ema_toward_front(P, och, P.cy)
                                if abs(end_cy0 - start_cy1) < max(h, h1):
                                    other2.append(oc)
                            done.append(oc)
                    if blocked or done:
                        break
                if len(other2) == 1:
                    merge_chain[other2[0]] = chainid
            else:
                start_cx0 = _ema_toward_front(P, chain, P.cx)
                end_cx0 = _ema_toward_back(P, chain, P.cx)
                space = _mean_gap(P, chain, False)

                # head: search up (search_loop.cpp:779-828)
                other1 = []
                done = []
                blocked = False
                for ys in range(0, int((h + space) * 3.0), SCALE):
                    y = int((P.cy[boxid1] - h / 2 - ys) / SCALE)
                    if y < 0 or y >= H:
                        continue
                    for xk in range(-5, 6):
                        x = int((start_cx0 + w / 8.0 * xk / 5) / SCALE)
                        if x < 0 or x >= W:
                            continue
                        if blocker[y, x]:
                            other1 = []
                            blocked = True
                            break
                        oc = cmap.item(y, x)
                        if oc >= 0 and oc != chainid and oc not in done \
                                and oc not in other1:
                            och = chains[oc]
                            if och and abs(P.direction[och[-1]]) > M_PI_4 \
                                    and P.double_line[och[-1]] == P.double_line[boxid1]:
                                w1 = max(P.w[i] for i in och)
                                end_cx1 = _ema_toward_back(P, och, P.cx)
                                if abs(start_cx0 - end_cx1) < max(w, w1):
                                    other1.append(oc)
                            done.append(oc)
                    if blocked or done:
                        break
                if len(other1) == 1:
                    merge_chain[chainid] = other1[0]

                # tail: search down (search_loop.cpp:831-875)
                other2 = []
                blocked = False
                for ys in range(0, int((h + space) * 3.0), SCALE):
                    y = int((P.cy[boxid2] + h / 2 + ys) / SCALE)
                    if y < 0 or y >= H:
                        continue
                    for xk in range(-5, 6):
                        x = int((end_cx0 + w / 8.0 * xk / 5) / SCALE)
                        if x < 0 or x >= W:
                            continue
                        if blocker[y, x]:
                            other2 = []
                            blocked = True
                            break
                        oc = cmap.item(y, x)
                        if oc >= 0 and oc != chainid and oc not in done \
                                and oc not in other2:
                            och = chains[oc]
                            if och and abs(P.direction[och[-1]]) > M_PI_4 \
                                    and P.double_line[och[0]] == P.double_line[boxid2]:
                                w1 = max(P.w[i] for i in och)
                                start_cx1 = _ema_toward_front(P, och, P.cx)
                                if abs(end_cx0 - start_cx1) < max(w, w1):
                                    other2.append(oc)
                            done.append(oc)
                    if blocked or done:
                        break
                if len(other2) == 1:
                    merge_chain[other2[0]] = chainid

        if all(m == -1 for m in merge_chain):
            break
        process_merge(chains, merge_chain)


def fix_unbined(P: Page, chains: list[list[int]]) -> bool:
    """J3 unbound-box attach (fix_unbined search_loop.cpp:904-1088):
    9-point probe of each unattached non-ruby box against the chain-id
    raster; then directional searches 1.5x the box size (right, left for
    horizontal chains; down, up for vertical). Loops until no attach
    succeeds. Returns True if the unbound count changed."""
    fix_chain_info(P, chains)
    unbind_count = count_unbind(P, chains)
    while True:
        fix_chain_info(P, chains)
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
    return unbind_count != count_unbind(P, chains)


def renumber_chain(P: Page) -> int:
    """A14 dense renumber of surviving chain ids in first-appearance order
    then sorted (renumber_chain after_search.cpp:62-79)."""
    used = sorted({int(i) for i in P.idx if i >= 0})
    remap = {old: new for new, old in enumerate(used)}
    for i in range(P.n):
        if P.idx[i] >= 0:
            P.idx[i] = remap[int(P.idx[i])]
    return len(used)


def search_ruby(P: Page, chains: list[list[int]], idimage: np.ndarray) -> None:
    """J4 ruby band attach + interleave (search_ruby ruby_search.cpp:12-713).

    Phase 1: probe 1.25x line-size above (horizontal) / right (vertical)
    of each chain's track line for unclaimed ruby boxes; re-home them.
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
        # vectorized band probe: per track point the walk climbs k =
        # 1..K-1 transverse cells, stopping at the first blocker or
        # foreign-chain cell — a per-column prefix-AND over the (K, n)
        # cell grid; candidate extraction preserves the scalar loop's
        # (point, k) discovery order exactly
        horizontal = abs(direction) < M_PI_4
        K = max(1, int((h if horizontal else w) * 1.25 / SCALE))
        xa = np.asarray(xs, dtype=np.int64) // SCALE
        ya = np.asarray(ys, dtype=np.int64) // SCALE
        inb = (xa >= 0) & (xa < P.W) & (ya >= 0) & (ya < P.H)
        xa, ya = xa[inb], ya[inb]
        ruby_boxid: list[int] = []
        if len(xa) and K > 1:
            alive = np.ones(len(xa), dtype=bool)
            cand: list[tuple[int, int, int]] = []  # (point, k, oid)
            for k in range(1, K):
                if horizontal:
                    rq, cq = ya - k, xa
                    ok = rq >= 0
                else:
                    rq, cq = ya, xa + k
                    ok = cq < P.W
                alive = alive & ok
                if not alive.any():
                    break
                rr = np.where(alive, rq, 0)
                cc = np.where(alive, cq, 0)
                barrier = P.lineblocker[rr, cc]
                oc = cmap[rr, cc]
                barrier |= (oc >= 0) & (oc != chainid)
                alive = alive & ~barrier
                oid = idimage[rr, cc]
                hit = alive & (oid >= 0)
                if hit.any():
                    ids = oid[hit].astype(np.int64)
                    good = (((P.subtype[ids] & 6) == 6)
                            & (P.idx[ids] < 0))
                    for pt, o in zip(np.nonzero(hit)[0][good].tolist(),
                                     ids[good].tolist()):
                        cand.append((pt, k, o))
            seen: set[int] = set()
            for _pt, _k, o in sorted(cand):
                if o not in seen:
                    seen.add(o)
                    ruby_boxid.append(o)
        for rid in ruby_boxid:
            if P.idx[rid] >= 0:
                if rid in chains[P.idx[rid]]:
                    chains[P.idx[rid]].remove(rid)
            else:
                P.idx[rid] = chainid
                P.direction[rid] = direction
            chain.append(rid)

    fix_chain_info(P, chains)

    for chainid, chain in enumerate(chains):
        sort_chain(chain, P)
        baseid = [b for b in chain if not P.is_ruby(b)]
        rubyid = [b for b in chain if P.is_ruby(b)]

        if not rubyid:
            for subidx, b in enumerate(chain):
                P.subtype[b] &= ~RUBY_BITS
                P.idx[b] = chainid
                P.subidx[b] = subidx
            continue

        horizontal = abs(P.direction[chain[0]]) < M_PI_4
        axis = P.cx if horizontal else P.cy
        size = P.w if horizontal else P.h
        rubyid.sort(key=lambda b: (axis[b], b))

        # rubybase runs within the base sequence (ruby_search.cpp:151-167)
        rubybase_block: list[list[int]] = []
        tmp: list[int] = []
        for b in baseid:
            if (P.subtype[b] & RUBY_BITS) == SUBTYPE_RUBYBASE:
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
                if max(P.w[rid], P.h[rid]) < 13:
                    P.subtype[rid] |= SUBTYPE_ALONE_RUBY
                    P.idx[rid] = -1
            elif ruby_count[ruby_to_base[i]] < 2:
                if max(P.w[rid], P.h[rid]) < 13:
                    P.subtype[rid] |= SUBTYPE_ALONE_RUBY
                    P.idx[rid] = -1
                    for b in rubybase_block[ruby_to_base[i]]:
                        P.subtype[b] &= ~RUBY_BITS

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
                if P.idx[rid] < 0:
                    continue
                if ruby_to_base[i] == j:
                    fixlist.append(rid)

        # base runs that got no ruby lose the rubybase marking
        # (ruby_search.cpp:402-409)
        for j, blk in enumerate(rubybase_block):
            if j not in ruby_to_base:
                for b in blk:
                    P.subtype[b] &= ~RUBY_BITS

        # orphan rubies re-enter the line as plain glyphs
        # (ruby_search.cpp:411-430)
        for i, rid in enumerate(rubyid):
            if P.idx[rid] < 0:
                continue
            if ruby_to_base[i] == -1:
                P.subtype[rid] &= ~RUBY_BITS
                P.subtype[rid] |= SUBTYPE_ALONE_RUBY
                x = axis[rid]
                pos = len(fixlist)
                for k, b in enumerate(fixlist):
                    if x < axis[b] - size[b] / 2:
                        pos = k
                        break
                fixlist.insert(pos, rid)

        for subidx, b in enumerate(fixlist):
            if horizontal:
                P.subtype[b] &= ~SUBTYPE_VERTICAL
            else:
                P.subtype[b] |= SUBTYPE_VERTICAL
            P.idx[b] = chainid
            P.subidx[b] = subidx

    # rubies that never joined a line lose the ruby marking
    # (ruby_search.cpp:707-712)
    for i in range(P.n):
        if P.idx[i] < 0:
            P.subtype[i] &= ~RUBY_BITS


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
    for i in range(P.n):
        if P.idx[i] < 0:
            continue
        cid = int(P.idx[i])
        if cid not in params:
            params[cid] = _LineParam()
            chain_ids.append(cid)
        if P.is_ruby(i) or (P.subtype[i] & SUBTYPE_ALONE_RUBY):
            continue
        lp = params[cid]
        lp.d = 0 if (P.subtype[i] & SUBTYPE_VERTICAL) == 0 else 1
        major_direction += 1 if lp.d == 0 else -1
        lp.cx1 = min(lp.cx1, P.cx[i] - P.w[i] / 2)
        lp.cy1 = min(lp.cy1, P.cy[i] - P.h[i] / 2)
        lp.cx2 = max(lp.cx2, P.cx[i] + P.w[i] / 2)
        lp.cy2 = max(lp.cy2, P.cy[i] + P.h[i] / 2)
        lp.size = max(lp.size, P.w[i], P.h[i])
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
    for i in range(P.n):
        if P.idx[i] < 0:
            continue
        old = int(P.idx[i])
        P.idx[i] = remap[old]
        P.section[i] = params[old].section
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
    dvals = np.array([lp.d for lp in lineparams], dtype=np.int64)
    sizes = np.array([lp.size for lp in lineparams], dtype=np.float64)

    def _scan(chainid: int, steps: np.ndarray, a: float, c1: float,
              t1: float, horizontal: bool, K: int, lp_size: float) -> None:
        """One scan direction, vectorized: the transverse walk per outer
        cell is a prefix-alive pass over a (K, n) grid — barriers
        (blocker, perpendicular line) pre-compute; accept-candidates are
        then replayed scalar-side in exact (outer, depth) order, because
        whether an acceptance breaks the walk depends on the mutable
        dedup state (a seen chain lets the reference keep walking).
        Cell-stride note: the reference steps per PIXEL
        (make_block.cpp:67,91) but every probe is a cell lookup, so
        SCALE-strided steps visit the identical cell sequence."""
        if len(steps) == 0 or K <= 0:
            return
        t = a * (steps - c1) + t1
        if horizontal:
            xi = (steps / SCALE).astype(np.int64)
            yi = (t / SCALE).astype(np.int64)
        else:
            xi = (t / SCALE).astype(np.int64)
            yi = (steps / SCALE).astype(np.int64)
        inb = (xi >= 0) & (xi < P.W) & (yi >= 0) & (yi < P.H)
        xs_s = np.where(inb, xi, 0)
        ys_s = np.where(inb, yi, 0)
        blocked = inb & P.lineblocker[ys_s, xs_s]
        nz = np.nonzero(blocked)[0]
        cut = int(nz[0]) if len(nz) else len(steps)
        walk = inb[:cut]
        if not walk.any():
            return
        cols = xi[:cut][walk]
        rows = yi[:cut][walk]
        jidx = np.nonzero(walk)[0]
        perp_d = 1 if horizontal else 2
        alive = np.ones(len(cols), dtype=bool)
        events: list[tuple[int, int, int]] = []
        for k in range(K):
            if horizontal:
                rr, cc = rows + k, cols
                alive = alive & (rr < P.H)
            else:
                rr, cc = rows, cols - k
                alive = alive & (cc >= 0)
            if not alive.any():
                break
            rr_s = np.where(alive, rr, 0)
            cc_s = np.where(alive, cc, 0)
            blk = alive & P.lineblocker[rr_s, cc_s]
            oc = cmap[rr_s, cc_s]
            foreign = alive & ~blk & (oc >= 0) & (oc != chainid)
            if not foreign.any():
                alive = alive & ~blk
                continue
            fj = np.nonzero(foreign)[0]
            oc_f = oc[fj].astype(np.int64)
            perp_f = dvals[oc_f] == perp_d
            osz = sizes[oc_f]
            denom = (np.minimum(lp_size, osz) if horizontal
                     else np.maximum(lp_size, osz))
            ratio = np.where(denom > 0,
                             np.abs(osz - lp_size)
                             / np.where(denom > 0, denom, 1.0), np.inf)
            accept_f = ~perp_f & (ratio <= ALLOW_SIZEDIFF)
            alive = alive & ~blk
            if perp_f.any():
                alive[fj[perp_f]] = False
            for j, o in zip(fj[accept_f].tolist(),
                            oc_f[accept_f].tolist()):
                events.append((int(jidx[j]), k, int(o)))
            # an acceptance only ends the walk when the chain is NEW —
            # resolved below; deeper candidates stay collected
        done_depth: dict[int, int] = {}
        for j, k, oc_v in sorted(events):
            if j in done_depth and k > done_depth[j]:
                continue
            if oc_v not in chain_next[chainid]:
                chain_next[chainid].append(oc_v)
                chain_prev[oc_v].append(chainid)
                done_depth[j] = k

    for chainid in range(id_max):
        chain = chains[chainid]
        if not chain:
            continue
        lp = lineparams[chainid]
        if lp.d == 2:
            s_s = max(max(P.w[b], P.h[b]) for b in chain)
            cx1 = cy1 = cx2 = cy2 = -1.0
            for b in chain:
                s = max(P.w[b], P.h[b])
                if abs(s - s_s) / min(s, s_s) > 0.5:
                    continue
                if P.is_ruby(b) or P.double_line[b] > 0:
                    continue
                if cx1 < 0 and cy1 < 0:
                    cx1 = P.cx[b] - P.w[b] / 2
                    cy1 = P.cy[b]
                cx2 = P.cx[b] + P.w[b] / 2
                cy2 = P.cy[b]
            if cx2 - cx1 < SCALE:
                continue
            a = (cy2 - cy1) / (cx2 - cx1)
            K = int(s_s / SCALE * scanwidth)  # range(yi, int(yi+c)) length
            mid = int((cx1 + cx2) / 2)
            fwd = np.arange(mid, int(cx2 + s_s), SCALE, dtype=np.float64)
            bwd = np.arange(mid, int(cx1 - s_s), -SCALE, dtype=np.float64)
            _scan(chainid, fwd, a, cx1, cy1, True, K, lp.size)
            _scan(chainid, bwd, a, cx1, cy1, True, K, lp.size)
        elif lp.d == 1:
            s_s = max(max(P.w[b], P.h[b]) for b in chain)
            cx1 = cy1 = cx2 = cy2 = -1.0
            for b in chain:
                s = max(P.w[b], P.h[b])
                if abs(s - s_s) / min(s, s_s) > 0.5:
                    continue
                if P.is_ruby(b) or P.double_line[b] > 0:
                    continue
                if cx1 < 0 and cy1 < 0:
                    cx1 = P.cx[b]
                    cy1 = P.cy[b] - P.h[b] / 2
                cx2 = P.cx[b]
                cy2 = P.cy[b] + P.h[b] / 2
            if cy2 - cy1 < SCALE:
                continue
            a = (cx2 - cx1) / (cy2 - cy1)
            # range(xi, int(xi-c), -1) spans ceil(c) cells (int() truncates
            # toward zero; out-of-page cells are masked dead in _scan)
            c = s_s / SCALE * scanwidth
            K = int(math.ceil(c))
            mid = int((cy1 + cy2) / 2)
            fwd = np.arange(mid, int(cy2 + s_s), SCALE, dtype=np.float64)
            bwd = np.arange(mid, int(cy1 - s_s), -SCALE, dtype=np.float64)
            _scan(chainid, fwd, a, cy1, cx1, False, K, lp.size)
            _scan(chainid, bwd, a, cy1, cx1, False, K, lp.size)
    return chain_next, chain_prev


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
        for i in range(P.n):
            if P.idx[i] < 0:
                continue
            if P.is_ruby(i) or (P.subtype[i] & SUBTYPE_ALONE_RUBY):
                continue
            cid = int(P.idx[i])
            chains[cid].append(i)
            lp = lineparams[cid]
            lp.size = max(lp.size, P.w[i], P.h[i])
            lp.count += 1
            if (P.subtype[i] & SUBTYPE_VERTICAL) == 0:
                lp.d = 2 if len(chains[cid]) > 1 else 0
            else:
                lp.d = 1 if len(chains[cid]) > 1 else 0
        for chain in chains:
            chain.sort(key=lambda b: (P.subidx[b], b))

        # warichu (double-line) run count per line (make_block.cpp:1417-1443)
        for chain in chains:
            if not chain:
                continue
            count = count1 = count2 = 0
            cid = -1
            for b in chain:
                cid = int(P.idx[b])
                if P.double_line[b] == 0:
                    if count1 > 1 or count2 > 1:
                        count += 1
                    count1 = count2 = 0
                elif P.double_line[b] == 1:
                    count1 += 1
                elif P.double_line[b] == 2:
                    count2 += 1
            if count1 > 1 or count2 > 1:
                count += 1
            if cid >= 0:
                lineparams[cid].doubleline = count

        cmap = create_chainid_map(P, chains, 1.0, 0)
        chain_next, chain_prev = process_line(P, id_max, chains,
                                              lineparams, cmap)

        full_chains: list[list[int]] = [[] for _ in range(id_max)]
        for i in range(P.n):
            if P.idx[i] < 0:
                continue
            full_chains[int(P.idx[i])].append(i)
        for chain in full_chains:
            chain.sort(key=lambda b: (P.subidx[b], b))

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
    for i in range(P.n):
        if P.idx[i] < 0 or (P.subtype[i] & SUBTYPE_ALONE_RUBY):
            continue
        bi = block_of_chain[int(P.idx[i])]
        if bi < 0:
            continue
        bp = bparams[bi]
        bp.d = 0 if (P.subtype[i] & SUBTYPE_VERTICAL) == 0 else 1
        bp.count += 1
        bp.size = max(bp.size, P.w[i], P.h[i])
        bp.sec = int(P.section[i])
        bp.x_min = min(bp.x_min, P.cx[i] - P.w[i] / 2)
        bp.y_min = min(bp.y_min, P.cy[i] - P.h[i] / 2)
        bp.x_max = max(bp.x_max, P.cx[i] + P.w[i] / 2)
        bp.y_max = max(bp.y_max, P.cy[i] + P.h[i] / 2)
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
    chain_remap = [-1] * id_max
    chain_page = [0] * id_max
    for renum, bi in enumerate(block_idx):
        for c in blocks[bi]:
            chain_remap[c] = renum
            chain_page[c] = bparams[bi].p
    for i in range(P.n):
        if P.idx[i] < 0:
            continue
        P.block[i] = chain_remap[int(P.idx[i])]
        P.page[i] = chain_page[int(P.idx[i])]

    # A14 dense per-block line renumber (make_block.cpp:1717-1737)
    idx_in_block: dict[int, list[int]] = {}
    for i in range(P.n):
        if P.idx[i] < 0 or P.block[i] < 0:
            continue
        idx_in_block.setdefault(int(P.block[i]), []).append(int(P.idx[i]))
    for bi in idx_in_block:
        idx_in_block[bi] = sorted(set(idx_in_block[bi]))
    for i in range(P.n):
        if P.idx[i] < 0 or P.block[i] < 0:
            continue
        P.idx[i] = idx_in_block[int(P.block[i])].index(int(P.idx[i]))


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
    blocks = sorted({int(P.block[i]) for i in order if P.block[i] >= 0})
    for b in blocks:
        lines: dict[int, list[int]] = {}
        s0 = 0.0
        vertical = False
        for i in order:
            if P.block[i] != b or P.is_ruby(i):
                continue
            vertical = (P.subtype[i] & SUBTYPE_VERTICAL) != 0
            s0 = max(s0, P.h[i] if vertical else P.w[i])
            lines.setdefault(int(P.idx[i]), [])
            if len(lines[int(P.idx[i])]) < 3:
                lines[int(P.idx[i])].append(i)
        axis = P.cy if vertical else P.cx
        size = P.h if vertical else P.w
        cross = P.cx if vertical else P.cy

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
    order.sort(key=lambda i: (P.block[i], P.idx[i], P.subidx[i],
                              P.subtype[i], i))
    warichu_reorder(P, order)
    order.sort(key=lambda i: (P.block[i], P.idx[i], P.subidx[i],
                              P.subtype[i], i))
    remove_dupspace(P, order)
    find_lostspace(P, order)
    return P, order
