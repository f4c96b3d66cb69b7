"""HTML main-content extraction tests (reference: get_aozora.py:49-101)."""

import pandas as pd
import pytest

from findtextcenternet_spark.corpus import generate_pages
from findtextcenternet_spark.functions.html_extract import (
    extract_main_text,
    extract_main_text_series,
    gaiji_codepoint,
    gaiji_key,
)


def test_boilerplate_stripped():
    html = ('<html><body><div class="header">NAV</div>'
            '<div class="main_text">hello world</div>'
            '<div class="footer">FOOT</div></body></html>')
    assert extract_main_text(html) == "hello world"


def test_nested_divs():
    html = ('<div class="main_text">a<div class="inner">b</div>c</div>'
            '<div>outside</div>')
    assert extract_main_text(html) == "abc"


def test_ruby_normalized():
    html = ('<div class="main_text"><ruby><rb>漢</rb><rp>（</rp>'
            '<rt>かん</rt><rp>）</rp></ruby>字</div>')
    assert extract_main_text(html) == "￹漢￺かん￻字"


def test_notes_stripped_and_tags_removed():
    html = ('<div class="main_text">x<span class="notes">［＃note］</span>'
            '<br>y<em>z</em></div>')
    assert extract_main_text(html) == "xyz"


def test_gaiji_roundtrip():
    for cp in (0x4E00, 0x4E01, 0x4F60, 0x5B57):
        assert gaiji_codepoint(gaiji_key(cp)) == cp


def test_gaiji_replaced():
    key = gaiji_key(0x4F60)
    html = (f'<div class="main_text">a<img src="../g/{key}.png" '
            f'class="gaiji">b</div>')
    assert extract_main_text(html) == "a" + chr(0x4F60) + "b"


def test_kurikaeshi():
    html = '<div class="main_text">く／＼と／″＼</div>'
    assert extract_main_text(html) == "く〳〵と〴〵"


def test_no_main_div_yields_empty():
    assert extract_main_text("<html><body>nope</body></html>") == ""


def test_series_kernel_matches_scalar_on_corpus():
    pdf = generate_pages(60)
    html_docs = pdf[~pdf.lang.str.startswith("raster:")
                & ~pdf.lang.str.startswith("pdf:")]
    from findtextcenternet_spark.functions.html_extract import (
        decode_page_bytes,
    )
    got = extract_main_text_series(html_docs.html)
    want = pd.Series(
        [extract_main_text(decode_page_bytes(b)) for b in html_docs.html],
        index=html_docs.index)
    assert (got == want).all()
    assert (got == html_docs.text).all()


def test_decode_page_bytes_charsets():
    from findtextcenternet_spark.functions.html_extract import (
        decode_page_bytes,
    )
    # declared shift_jis honored
    b = ('<html><head><meta charset="shift_jis"></head>'
         '<div class="main_text">あい</div></html>').encode("cp932")
    assert "あい" in decode_page_bytes(b)
    # undeclared cp932 still decodes (utf-8 strict fails first)
    b2 = '<div class="main_text">漢字かな</div>'.encode("cp932")
    assert "漢字かな" in decode_page_bytes(b2)
    # plain utf-8 unaffected
    assert decode_page_bytes("abcあ".encode()) == "abcあ"
    # arbitrary binary never raises (latin-1 total fallback)
    assert isinstance(decode_page_bytes(b"\xff\xfe\x00junk"), str)


def test_cp932_page_extracts_byte_exact():
    import numpy as np

    from findtextcenternet_spark.corpus import generate_pages
    from findtextcenternet_spark.golden import extract_page_golden
    pdf = generate_pages(300)
    cp932 = [r for r in pdf.itertuples()
             if b'charset="shift_jis"' in bytes(r.html)[:400]]
    assert len(cp932) >= 3
    for row in cp932:
        rec = extract_page_golden(row.url, bytes(row.html))
        assert rec["text"] == row.text


# pages whose decoded text holds a lone surrogate, which UTF-8 (and so
# Arrow) cannot encode: a gaiji key mapping to U+D800 (4-94-79), and two
# declared charsets that decode to one
SURROGATE_PAGES = [
    b'<div class="main_text">a<img src="gaiji/4-94-79.png">b</div>',
    b'<html><head><meta charset="utf-7"></head>'
    b'<div class="main_text">a+2AA-b</div></html>',
    b'<html><head><meta charset="unicode_escape"></head>'
    b'<div class="main_text">a\\ud800b</div></html>',
]


@pytest.mark.parametrize("page", SURROGATE_PAGES,
                         ids=["gaiji", "utf-7", "unicode_escape"])
def test_surrogates_become_replacement_char(page):
    from findtextcenternet_spark.functions.html_extract import (
        decode_page_bytes,
    )
    assert extract_main_text(decode_page_bytes(page)) == "a\ufffdb"
    got = extract_main_text_series(pd.Series([page])).iloc[0]
    assert got == "a\ufffdb"
    got.encode("utf-8")  # strict: raises on a lone surrogate
