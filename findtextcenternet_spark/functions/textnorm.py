"""The reference's whitespace character set (SURVEY.md F6).

Mirrors process_ocr_base.py:11-37 / dataset/data_transformer.py:25-51 —
the 25 Unicode whitespace characters, which the assemble stage tests
characters against. The F6/F7 whitespace ops are native Column
expressions in plans/relational.py.
"""

from __future__ import annotations

# The reference's 25 Unicode whitespace characters (process_ocr_base.py:11-37).
_WS_CODES = (
    0x0009, 0x000A, 0x000B, 0x000C, 0x000D, 0x0020, 0x0085, 0x00A0,
    0x1680, 0x2000, 0x2001, 0x2002, 0x2003, 0x2004, 0x2005, 0x2006,
    0x2007, 0x2008, 0x2009, 0x200A, 0x2028, 0x2029, 0x202F, 0x205F,
    0x3000,
)
WHITESPACE_CHARS = "".join(map(chr, _WS_CODES))
