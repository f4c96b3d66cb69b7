"""The pipeline's raster leg, batched, against the golden page by page.

``pipeline._raster_records`` runs the pages of one Arrow batch up to
their windows one at a time, then decodes every window of the batch in
one ``mask_predict`` (surrogate head) and assembles each page.
``golden.extract_raster_page`` keeps one decode per window, so here
batched must equal golden for every clean page: text, ruby variants,
spans, lines and blocks, value for value. One batch holds pages from
the smallest to the largest layouts, a page long enough for several
windows, pages whose space-flagged glyphs re-mask in decode round 0, a
page with no glyphs, pages whose content reaches past, and exactly to,
the group stage's 192-cell grid floor, a page with separators only, and
a poison page in the middle; only the poison page may come back as an
error row. The frozen benchmark's traced replay
(``perfbench/layers.replay_raster``) must read the same text off the
detect, group and decode frames.
"""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from findtextcenternet_spark import pipeline
from findtextcenternet_spark.config import (
    FEATURE_DIM,
    MAX_ENCODERLEN,
    REMASK_P,
)
from findtextcenternet_spark.corpus import (
    LANGS,
    RASTER_MARKER,
    make_layout,
    make_raster_page,
)
from findtextcenternet_spark.golden import extract_raster_page
from findtextcenternet_spark.operators import model_registry, models
from findtextcenternet_spark.operators.decode import (
    TK_SPACE,
    _residue_head,
    tokenize_page,
)
from findtextcenternet_spark.operators.detect import (
    detect_page,
    feature_embedding,
    parse_layout,
)
from findtextcenternet_spark.operators.group import group_page

FIELDS = ("text", "aozora", "noruby", "spans", "lines", "blocks")
POISON = "https://raster.example.org/poison"
BLANK = "https://raster.example.org/blank"
LONG = "https://raster.example.org/long"
SEPS = "https://raster.example.org/seps"
SNOWMAN = 0x2603


def _page(layout: dict) -> bytes:
    return RASTER_MARKER + json.dumps(layout).encode()


def _row_page(right: float, page_w: int) -> dict:
    """One horizontal line of 20 px glyphs on a 32 px pitch whose last
    glyph ends at ``right`` px: the group stage's grid covers
    ceil(right / 4) cells across, floored at 192."""
    xs = np.arange(right - 10.0, 40.0, -32.0)[::-1]
    glyphs = [{"cx": float(x), "cy": 100.0, "w": 20.0, "h": 20.0,
               "cp": 0x61 + k % 26, "ruby": 0, "rubybase": 0,
               "emphasis": 0, "space": 0} for k, x in enumerate(xs)]
    return {"page_w": page_w, "page_h": 400, "vertical": 0,
            "glyphs": glyphs, "seps": [],
            "textlines": [{"x1": float(xs[0]), "x2": float(xs[-1]),
                           "y1": 100.0, "y2": 100.0, "vertical": 0}]}


@pytest.fixture(scope="module")
def batch() -> pd.DataFrame:
    """One Arrow batch: 8 layouts spread over the glyph-count range, the
    poison page fourth, a multi-window page, the blank page last."""
    rng = np.random.default_rng(20240611)
    layouts = sorted((make_raster_page(rng, LANGS[k % len(LANGS)])[0]
                      for k in range(24)), key=lambda lo: len(lo["glyphs"]))
    picked = [layouts[k] for k in (0, 3, 7, 10, 13, 16, 20, 23)]
    sizes = [len(lo["glyphs"]) for lo in picked]
    assert sizes[-1] > 3 * sizes[0] > 0, sizes
    assert any(g["space"] for lo in picked for g in lo["glyphs"])
    blank = {"page_w": 768, "page_h": 768, "vertical": 0,
             "glyphs": [], "textlines": [], "seps": []}
    rows = [(f"https://raster.example.org/{k}", _page(lo))
            for k, lo in enumerate(picked)]
    rows.insert(3, (POISON, RASTER_MARKER + b'{"glyphs": [{"cx": '))
    long_page = make_layout([["word " * 30] * 6 for _ in range(4)],
                            vertical=False)
    rows.append((LONG, _page(long_page)))
    # content past the grid floor (243 cells), then exactly at it
    rows.append(("https://raster.example.org/wide", _page(
        _row_page(970.0, 1000))))
    rows.append(("https://raster.example.org/at192", _page(
        _row_page(766.0, 800))))
    seps = dict(blank, seps=[
        {"x1": 40, "x2": 700, "y1": 300, "y2": 300},
        {"x1": 380, "x2": 380, "y1": 20, "y2": 740, "v": 0.6}])
    rows.append((SEPS, _page(seps)))
    rows.append((BLANK, _page(blank)))
    return pd.DataFrame(rows, columns=["url", "html"])


@pytest.fixture(scope="module")
def weights(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("weights") / "tiny.npz")
    models.save_tiny_random_weights(p, seed=11)
    return p


def _records(pdf: pd.DataFrame, weights_path=None) -> dict:
    out = pd.concat(pipeline._unified_impl(iter([pdf]), weights_path))
    assert out["url"].tolist() == pdf["url"].tolist()
    return {r["url"]: r for r in out.to_dict("records")}


def _assert_golden(recs: dict, pdf: pd.DataFrame, errors: set,
                   weights_path=None) -> None:
    for url, html in zip(pdf["url"], pdf["html"]):
        rec = recs[url]
        assert rec["path"] == "raster"
        if url in errors:
            assert rec["error"] and rec["text"] is None, url
            continue
        assert rec["error"] is None, (url, rec["error"])
        golden = extract_raster_page(html, weights_path)
        for f in FIELDS:
            assert rec[f] == golden[f], (url, f)


def _texts(pdf: pd.DataFrame) -> list:
    return [None if url == POISON else extract_raster_page(html)["text"]
            for url, html in zip(pdf["url"], pdf["html"])]


def _counting(monkeypatch) -> list:
    sizes: list[int] = []
    real = pipeline.mask_predict

    def counted(tokens, head=None):
        sizes.append(len(tokens))
        return real(tokens, head)

    monkeypatch.setattr(pipeline, "mask_predict", counted)
    return sizes


def test_batched_decode_equals_golden_per_page(batch, monkeypatch):
    sizes = _counting(monkeypatch)
    recs = _records(batch)
    assert len(sizes) == 1  # one decode for every window of the batch
    _assert_golden(recs, batch, {POISON})
    assert recs[BLANK]["text"] == "" == recs[SEPS]["text"]
    assert len(recs[LONG]["text"]) > MAX_ENCODERLEN
    for url, cells in (("wide", 243), ("at192", 192)):
        boxes, _ = detect_page(parse_layout(
            batch.set_index("url").at[f"https://raster.example.org/{url}",
                                      "html"]))
        assert int(np.ceil((boxes.cx + boxes.w / 2).max() / 4)) == cells
        assert recs[f"https://raster.example.org/{url}"]["text"]


def test_traced_replay_reads_golden_text(batch):
    """``perfbench/layers.replay_raster`` (the benchmark's ``--trace 1``
    kernel replay, which calls ``detect_page``, ``group_page`` and
    ``tokenize_page`` and counts lines off the ordered frame) returns
    the golden's text for every clean page."""
    path = Path(__file__).resolve().parents[1] / "perfbench" / "layers.py"
    spec = importlib.util.spec_from_file_location("perfbench_layers", path)
    layers = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(layers)
    pages = [(u, h) for u, h in zip(batch["url"], batch["html"])
             if u != POISON]
    totals, texts = layers.replay_raster(pages)
    assert totals["pages"] == len(pages) and totals["lines"] > 0
    assert texts == {u: extract_raster_page(h)["text"] for u, h in pages}


def test_space_glyphs_remask_in_round_zero(batch):
    """The batch exercises re-masking: the surrogate head's round-0
    confidence for space-flagged glyph rows is under ``REMASK_P``."""
    remasked = 0
    for url, html in zip(batch["url"], batch["html"]):
        if url == POISON:
            continue
        tokens, _ = tokenize_page(group_page(*detect_page(
            parse_layout(html))))
        _, probs = _residue_head(tokens, np.ones(len(tokens), bool), 0)
        space = tokens[:, FEATURE_DIM + TK_SPACE] > 0
        remasked += int((probs[space, 0, 0] < REMASK_P).sum())
    assert remasked > 0


def test_real_head_decodes_per_window_and_equals_golden(batch, weights,
                                                        monkeypatch):
    """The real head's float32 matmul rounds differently as its row
    count changes, so it keeps one ``mask_predict`` per window; the batch
    must still equal the golden with the same head. The tiny random
    detector finds no glyphs on these pages, so both sides pair the
    surrogate detector with the real residue head."""
    detector = model_registry.get_detector_model
    monkeypatch.setattr(model_registry, "get_detector_model",
                        lambda weights_path=None: detector(None))
    batched = _counting(monkeypatch)
    _records(batch)
    sizes = _counting(monkeypatch)
    recs = _records(batch, weights)
    _assert_golden(recs, batch, {POISON}, weights)
    # every non-blank clean page has a window; the long page has several
    assert len(sizes) > len(batch) - 2
    assert sum(sizes) == batched[0]
    assert any(recs[u]["text"] != golden_surrogate for u, golden_surrogate
               in zip(batch["url"], _texts(batch)) if u != POISON)


def test_failed_batch_decode_quarantines_only_its_page(batch, monkeypatch):
    """A decode that raises on one page's glyphs: the batched call fails,
    the pages decode one at a time, and only that page is an error row."""
    rng = np.random.default_rng(5)
    layout, _ = make_raster_page(rng, "ja")
    layout["glyphs"][0]["cp"] = SNOWMAN
    bad_url = "https://raster.example.org/snowman"
    pdf = pd.concat([batch.iloc[:5],
                     pd.DataFrame([(bad_url, _page(layout))],
                                  columns=["url", "html"]),
                     batch.iloc[5:]], ignore_index=True)
    poison_row = feature_embedding(np.array([SNOWMAN]))[0]
    real = pipeline.mask_predict

    def fragile(tokens, head=None):
        if (tokens[:, :FEATURE_DIM] == poison_row).all(axis=1).any():
            raise FloatingPointError("decode failed")
        return real(tokens, head)

    monkeypatch.setattr(pipeline, "mask_predict", fragile)
    recs = _records(pdf)
    assert recs[bad_url]["error"] == "FloatingPointError: decode failed"
    _assert_golden(recs, pdf, {POISON, bad_url})
