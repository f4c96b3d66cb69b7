"""HTML main-content extraction (SURVEY.md S5/F10) — the pure-HTML path.

Semantics mirror the reference's Aozora scraper
(make_traindata/render_font/get_aozora.py:49-101):

1. locate ``<div class="main_text">`` and its matching ``</div>``
   (depth-aware over nested divs) — everything outside is boilerplate;
2. kurikaeshi normalization ``／″＼``→``〴〵``, ``／＼``→``〳〵`` (:91-92);
3. ``<ruby><rb>b</rb>…<rt>r</rt>…</ruby>`` → U+FFF9 b U+FFFA r U+FFFB (:93);
4. gaiji ``<img …/d-dd-dd.png…>`` → codepoint (:95-98) — the reference uses
   a CSV lookup table; this engine uses a deterministic arithmetic map
   (``gaiji_codepoint``) that the synthetic corpus generator inverts, so
   round-trip parity is exact without external data;
5. strip single-line ``<span class="notes">…</span>`` (:99);
6. strip all remaining tags (:100);
7. F3 codepoint guard (process_ocr_base.py:236-247, as in
   ``functions/crt.py``): lone surrogates U+D800–DFFF and codes above
   ``MAX_CODEPOINT`` become U+FFFD. A gaiji key or a declared charset
   (utf-7, unicode_escape) can yield surrogates, and UTF-8 — hence
   Arrow — cannot encode them.

Implementation is a brand-new vectorized pandas kernel: the regex steps run
as pandas ``str.replace`` over the whole Arrow batch; only the depth-aware
div scan is per-string (bounded by tag count, not text length). On Spark it
runs as a scalar ``pandas_udf`` — one Python crossing per batch, never per
row.
"""

from __future__ import annotations

import re

import pandas as pd

from ..config import MAX_CODEPOINT

_CHARSET_RE = re.compile(rb'charset=["\']?([\w-]+)', re.I)
_CHARSET_ALIAS = {
    "shift_jis": "cp932", "shift-jis": "cp932", "sjis": "cp932",
    "x-sjis": "cp932", "windows-31j": "cp932", "ms932": "cp932",
}


def decode_page_bytes(b) -> str:
    """Bytes -> str with charset handling (a real web corpus is full of
    non-UTF-8 pages; the reference's own scraper decodes cp932,
    get_aozora.py:76): honor a <meta charset=...> declaration in the head,
    else try utf-8 strict, then cp932 strict, then latin-1 (total)."""
    if isinstance(b, str):
        return b
    b = bytes(b)
    m = _CHARSET_RE.search(b[:2048])
    if m:
        enc = m.group(1).decode("ascii", "ignore").lower()
        enc = _CHARSET_ALIAS.get(enc, enc)
        try:
            return b.decode(enc)
        except (UnicodeDecodeError, LookupError):
            pass
    for enc in ("utf-8", "cp932"):
        try:
            return b.decode(enc)
        except UnicodeDecodeError:
            continue
    return b.decode("latin-1")


_MAIN_DIV_RE = re.compile(r'<div[^>]*class="main_text"[^>]*>')
_DIV_RE = re.compile(r"<div\b[^>]*>|</div>")
_RUBY_HTML_RE = re.compile(r"<ruby><rb>(.*?)</rb>.*?<rt>(.*?)</rt>.*?</ruby>")
_GAIJI_RE = re.compile(r"<img [^>]*?/(\d-\d\d-\d\d)\.png[^>]*?>")
_NOTES_RE = re.compile(r'<span class="notes">.*?</span>')
_TAG_RE = re.compile(r"<[^>]*?>")
_BAD_CP_RE = re.compile(
    f"[\\ud800-\\udfff\\U{MAX_CODEPOINT + 1:08x}-\\U0010ffff]")


def gaiji_codepoint(key: str) -> int:
    """Deterministic gaiji key ('d1-d2-d3', JIS-plane style) -> codepoint.

    cp = 0x4E00 + ((d1-1)*94 + (d2-1))*94 + (d3-1).  The corpus generator
    uses the exact inverse (``gaiji_key``), making extraction lossless.
    """
    d1, d2, d3 = (int(p) for p in key.split("-"))
    return 0x4E00 + ((d1 - 1) * 94 + (d2 - 1)) * 94 + (d3 - 1)


def gaiji_key(cp: int) -> str:
    off = cp - 0x4E00
    if off < 0:
        raise ValueError(f"codepoint below gaiji base: {cp:#x}")
    d3 = off % 94
    d2 = (off // 94) % 94
    d1 = off // (94 * 94)
    return f"{d1 + 1}-{d2 + 1:02d}-{d3 + 1:02d}"


def _slice_main_text(html: str) -> str:
    """Return the raw source between <div class="main_text"> and its
    matching </div> (tags included; they are stripped later)."""
    m = _MAIN_DIV_RE.search(html)
    if m is None:
        return ""
    depth = 1
    for tag in _DIV_RE.finditer(html, m.end()):
        if tag.group(0).startswith("</"):
            depth -= 1
            if depth == 0:
                return html[m.start() : tag.start()]
        else:
            depth += 1
    return html[m.start() :]


def extract_main_text(html: str) -> str:
    """Full extraction kernel for one document (golden reference shares it)."""
    text = _slice_main_text(html)
    text = text.replace("／″＼", "〴〵").replace("／＼", "〳〵")
    text = _RUBY_HTML_RE.sub("￹\\1￺\\2￻", text)
    text = _GAIJI_RE.sub(lambda m: chr(gaiji_codepoint(m.group(1))), text)
    text = _NOTES_RE.sub("", text)
    text = _TAG_RE.sub("", text)
    return _BAD_CP_RE.sub("\ufffd", text)


def extract_main_text_series(html: pd.Series) -> pd.Series:
    """Vectorized batch kernel: Series[bytes|str] -> Series[str].

    The regex cascade runs as pandas vectorized str ops; the div-depth scan
    is the only per-string step.
    """
    s = html.map(lambda b: decode_page_bytes(b) if b is not None else "")
    s = s.map(_slice_main_text)
    s = s.str.replace("／″＼", "〴〵", regex=False)
    s = s.str.replace("／＼", "〳〵", regex=False)
    s = s.str.replace(_RUBY_HTML_RE, "￹\\1￺\\2￻", regex=True)
    s = s.map(lambda t: _GAIJI_RE.sub(lambda m: chr(gaiji_codepoint(m.group(1))), t) if "<img" in t else t)
    s = s.str.replace(_NOTES_RE, "", regex=True)
    s = s.str.replace(_TAG_RE, "", regex=True)
    return s.str.replace(_BAD_CP_RE, "\ufffd", regex=True)
