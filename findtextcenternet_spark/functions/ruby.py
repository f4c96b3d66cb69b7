"""Interlinear (ruby/furigana) markup codec (SURVEY.md F4/F5).

The canonical in-engine form is U+FFF9 base U+FFFA ruby U+FFFB
(reference: util_func.py:128-139). Output renderings:
  aozora  ｜base《ruby》
  html    <ruby><rb>base</rb><rp>(</rp><rt>ruby</rt><rp>)</rp></ruby>
  noruby  base

All three are single regex substitutions. ``decode_ruby`` is the kernel
form: the extraction pipeline's kind-dispatching kernel
(``pipeline._unified_impl``) and the golden reference call it on every
HTML and PDF document. ``decode_ruby_col`` is the same substitution as a
JVM-side ``regexp_replace`` Column, for plans over text already in a
DataFrame.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import RUBY_CLOSE, RUBY_MID, RUBY_OPEN

_RUBY_RE = re.compile(f"{RUBY_OPEN}(.*?){RUBY_MID}(.*?){RUBY_CLOSE}")
_RUBY_PATTERN_SQL = f"{RUBY_OPEN}(.*?){RUBY_MID}(.*?){RUBY_CLOSE}"
_HTML_RUBY_RE = re.compile(
    r"<ruby><rb>(.*?)</rb><rp>\(</rp><rt>(.*?)</rt><rp>\)</rp></ruby>"
)


def decode_ruby(text: str, outtype: str = "aozora") -> str:
    """Kernel form (extraction kernel, golden reference)."""
    if outtype == "aozora":
        return _RUBY_RE.sub(r"｜\1《\2》", text)
    if outtype == "html":
        return _RUBY_RE.sub(
            r"<ruby><rb>\1</rb><rp>(</rp><rt>\2</rt><rp>)</rp></ruby>", text
        )
    if outtype == "noruby":
        return _RUBY_RE.sub(r"\1", text)
    raise ValueError(f"unknown outtype: {outtype}")


def encode_rubyhtml(text: str) -> str:
    """Inverse of decode_ruby(..., 'html')."""
    return _HTML_RUBY_RE.sub(f"{RUBY_OPEN}\\1{RUBY_MID}\\2{RUBY_CLOSE}", text)


# --- Spark Column expressions (JVM-side, Catalyst-visible) ---

def decode_ruby_col(col: Column, outtype: str = "aozora") -> Column:
    if outtype == "aozora":
        return F.regexp_replace(col, _RUBY_PATTERN_SQL, "｜$1《$2》")
    if outtype == "html":
        return F.regexp_replace(
            col,
            _RUBY_PATTERN_SQL,
            "<ruby><rb>$1</rb><rp>(</rp><rt>$2</rt><rp>)</rp></ruby>",
        )
    if outtype == "noruby":
        return F.regexp_replace(col, _RUBY_PATTERN_SQL, "$1")
    raise ValueError(f"unknown outtype: {outtype}")
