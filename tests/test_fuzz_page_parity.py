"""Page-level fuzz-to-parity (VERDICT r4 item 5).

The layout fuzzer (test_textline_fuzz.py) checks hard invariants on the
textline kernel in isolation; this renders seeded structured-random
layouts into full raster PAGES and asserts the distributed pipeline's
extracted text is byte-identical to the single-process golden. Golden and
Spark share the per-page kernels, so this checks what sits between them:
the url spread, Arrow batching, the kernel's kind dispatch and the
nested-record serialization.

Seeds are disjoint from the corpus fixture ids, so these pages never
appear in the curated parity tests. Page count defaults to 200
(SPARK_GRAFT_PAGE_FUZZ_N to change); a failure prints the page url,
which encodes its seed for standalone reproduction.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from findtextcenternet_spark.config import LANGS
from findtextcenternet_spark.corpus import RASTER_MARKER, make_raster_page
from findtextcenternet_spark.golden import extract_page_golden
from findtextcenternet_spark.pipeline import (
    extract_documents,
    pages_from_pandas,
)

SEED_BASE = 7_700_000  # disjoint from corpus doc-id seed space


def _page_bytes(layout: dict) -> bytes:
    return RASTER_MARKER + json.dumps(
        layout, ensure_ascii=False, separators=(",", ":")).encode("utf-8")


def _edge_pages() -> list[dict]:
    """Degenerate layouts the random generator rarely emits."""
    base = {"page_w": 768, "page_h": 768, "vertical": 0,
            "seps": [], "textlines": []}
    g = {"cx": 100.0, "cy": 100.0, "w": 24.0, "h": 24.0, "cp": 65,
         "vertical": 0, "ruby": 0, "rubybase": 0, "space": 0,
         "emphasis": 0, "line_id": 0}
    return [
        {**base, "glyphs": []},                       # empty page
        {**base, "glyphs": [g]},                      # single glyph
        {**base, "glyphs": [dict(g, cx=50.0 + 30.0 * k, cp=65 + k)
                            for k in range(5)]},      # one bare line,
        # no textline evidence — grouping must still assign the chain
    ]


def fuzz_pages(n: int) -> pd.DataFrame:
    rows = []
    for i in range(n):
        rng = np.random.default_rng(SEED_BASE + i)
        lang = LANGS[i % len(LANGS)]
        layout, text = make_raster_page(rng, lang)
        rows.append({"url": f"https://fuzz.example.org/seed/{SEED_BASE + i}",
                     "warc_ts": pd.Timestamp("2024-06-01"),
                     "html": _page_bytes(layout),
                     "text": text, "lang": f"raster:{lang}"})
    for j, layout in enumerate(_edge_pages()):
        rows.append({"url": f"https://fuzz.example.org/edge/{j}",
                     "warc_ts": pd.Timestamp("2024-06-01"),
                     "html": _page_bytes(layout),
                     "text": "", "lang": "raster:xx"})
    df = pd.DataFrame(rows)
    df["warc_ts"] = pd.to_datetime(df["warc_ts"])
    return df


@pytest.fixture(scope="module")
def fuzz_corpus():
    n = int(os.environ.get("SPARK_GRAFT_PAGE_FUZZ_N", "200"))
    pdf = fuzz_pages(n)
    golden = {r.url: extract_page_golden(r.url, bytes(r.html))
              for r in pdf.itertuples()}
    # the golden itself must reproduce the generator's expected text on
    # every seeded page (edge pages assert empty-vs-nonempty only)
    for r in pdf.itertuples():
        if "/seed/" in r.url:
            assert golden[r.url]["text"] == r.text, r.url
    return pdf, golden


def test_fuzz_page_parity(spark, fuzz_corpus):
    pdf, golden = fuzz_corpus
    pages = pages_from_pandas(spark, pdf)
    out = extract_documents(pages, num_partitions=8).toPandas()
    assert len(out) == len(pdf)
    assert out["error"].isna().all(), \
        out.loc[out["error"].notna(), ["url", "error"]].head()
    for r in out.itertuples():
        g = golden[r.url]
        assert r.text == g["text"], r.url
        assert r.aozora == g["aozora"], r.url
        assert r.noruby == g["noruby"], r.url
