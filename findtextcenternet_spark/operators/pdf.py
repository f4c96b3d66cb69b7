"""PDF text-layer extraction (north rule: "HTML boilerplate strip,
PDF/layout parse, DOM heuristics").

A real-but-minimal parser for the uncompressed PDF 1.4 subset the fixture
generator emits: objects, a page tree, and content streams whose text is
drawn with BT/ET blocks, Tf/Td/TD/T* positioning and Tj/TJ show operators.
Text assembly follows the layout: shows on one baseline concatenate, a Td/TD
with a negative y-move (or T*) starts a new line, and a gap of more than one
leading starts a new paragraph — the same geometry→reading-order rule the
raster leg's grouping applies.

Stream filters cover the shapes a real web-crawl PDF population actually
uses: FlateDecode (the overwhelmingly dominant case — stdlib zlib),
ASCIIHexDecode / ASCII85Decode (stdlib binascii/base64), LZWDecode
(pre-Flate writers; decoder below implements the PDF variant: MSB-first
variable-width 9→12-bit codes, Clear=256/EOD=257, EarlyChange=1), filter
CHAINS applied in declaration order (``/Filter [/ASCII85Decode
/FlateDecode]``), and PNG predictors (``/DecodeParms /Predictor >=10``,
reusing the RFC 2083 row unfilter from the image codecs). Stream bytes
are sliced by the dict's ``/Length`` when present — resolved through one
level of indirection (``/Length 6 0 R``) since many real writers emit the
length as a separate object — falling back to the delimiter scan (a
byte-exact slice matters: compressed data may contain the literal bytes
``endstream``). Text shows accept literal AND hex strings (``<...> Tj``,
hex entries in TJ arrays).
Scope guard: encrypted PDFs, TIFF predictor 2, and codec filters that
cannot carry a text layer losslessly without font tables (DCT/JBIG2/CID
encodings) raise NotImplementedError; the Spark plumbing (binary column
in, text out through the same vectorized UDF surface) is identical either
way.
"""

from __future__ import annotations

import base64
import binascii
import re
import zlib

import numpy as np

PDF_MAGIC = b"%PDF-"

_STREAM_START_RE = re.compile(rb"stream\r?\n")
# (?!\d) pins the match to the FULL number so backtracking can't peel
# digits off an indirect reference: without it, "/Length 60 0 R" lets
# (\d+) retreat to "6" and the (?!\s+\d+\s+R) lookahead then passes
# against "0 0 R" — returning a bogus direct length of 6.
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)")
_LENGTH_REF_RE = re.compile(rb"/Length\s+(\d+)\s+(\d+)\s+R")
# the whole /Filter entry: a single name or an array of names
_FILTER_ENTRY_RE = re.compile(rb"/Filter\s*(\[[^\]]*\]|/\w+)")
_NAME_RE = re.compile(rb"/(\w+)")
_PREDICTOR_RE = re.compile(rb"/Predictor\s+(\d+)")
_COLUMNS_RE = re.compile(rb"/Columns\s+(\d+)")
_COLORS_RE = re.compile(rb"/Colors\s+(\d+)")
_BPC_RE = re.compile(rb"/BitsPerComponent\s+(\d+)")
_TEXT_BLOCK_RE = re.compile(rb"BT(.*?)ET", re.S)
# operators we execute: Tf (font+size), Td/TD (move), T* (next line),
# TL (leading), Tj / TJ (show)
_OP_RE = re.compile(
    rb"(?:/(?P<font>\w+)\s+(?P<size>[\d.]+)\s+Tf)"
    rb"|(?:(?P<tx>-?[\d.]+)\s+(?P<ty>-?[\d.]+)\s+(?P<mv>Td|TD))"
    rb"|(?P<tstar>T\*)"
    rb"|(?:(?P<lead>-?[\d.]+)\s+TL)"
    rb"|(?:\((?P<tj>(?:[^()\\]|\\.)*)\)\s*Tj)"
    rb"|(?:<(?P<tjh>[0-9A-Fa-f\s]*)>\s*Tj)"
    rb"|(?:\[(?P<tja>.*?)\]\s*TJ)", re.S)
_TJA_STR_RE = re.compile(rb"\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>")

_ESCAPES = {b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b", b"f": "\f",
            b"(": "(", b")": ")", b"\\": "\\"}


def _decode_pdf_string(raw: bytes) -> str:
    """PDF literal string → text. Octal and symbolic escapes; fixture
    strings are UTF-8 inside the literal (fixture-only simplification; real
    PDFs need font encoding tables — out of scope, guarded)."""
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i:i + 1]
        if c == b"\\":
            nxt = raw[i + 1:i + 2]
            if nxt.isdigit():
                j = i + 1
                while j < len(raw) and j < i + 4 and raw[j:j + 1].isdigit():
                    j += 1
                out.append(int(raw[i + 1:j], 8))
                i = j
                continue
            if nxt in _ESCAPES:
                out.extend(_ESCAPES[nxt].encode("utf-8"))
                i += 2
                continue
            i += 1
            continue
        out.extend(c)
        i += 1
    return out.decode("utf-8", errors="replace")


def _decode_pdf_hex_string(raw: bytes) -> str:
    """PDF hex string ``<...>`` body → text. Whitespace is ignored; an odd
    final digit is padded with 0 (PDF 32000-1 §7.3.4.3). Bytes decode as
    UTF-8 like literal strings (fixture simplification; CID-keyed fonts
    need ToUnicode CMaps — out of scope, guarded at the filter layer)."""
    hx = re.sub(rb"\s", b"", raw)
    if len(hx) % 2:
        hx += b"0"
    return binascii.unhexlify(hx).decode("utf-8", errors="replace")


def _lzw_decode(data: bytes) -> bytes:
    """PDF LZWDecode (PDF 32000-1 §7.4.4): MSB-first bitstream of
    variable-width codes starting at 9 bits, 0-255 literal bytes,
    256 = clear table, 257 = EOD; the width grows to 10/11/12 one code
    EARLY (the spec default /EarlyChange 1)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    bitbuf = 0
    nbits = 0
    width = 9
    prev: bytes | None = None
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = (bitbuf >> nbits) & ((1 << width) - 1)
            if code == 257:
                return bytes(out)
            if code == 256:
                del table[258:]
                width = 9
                prev = None
                continue
            if prev is None:
                if code >= len(table):
                    raise ValueError("LZW: first code after clear not literal")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # the cScSc case
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("LZW: code beyond table")
            out.extend(entry)
            prev = entry
            # EarlyChange=1: widen when the NEXT added entry would need it
            if len(table) + 1 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _lzw_encode(data: bytes) -> bytes:
    """Inverse of :func:`_lzw_decode` for the fixture generator (and the
    roundtrip tests). Emits Clear, codes, EOD with the same EarlyChange=1
    width schedule."""
    codes: list[int] = [256]
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    nxt = 258
    run = b""
    for b in data:
        cand = run + bytes([b])
        if cand in table:
            run = cand
        else:
            codes.append(table[run])
            if nxt >= 4095:
                # table full: emit Clear and restart (decoder resets too)
                codes.append(256)
                table = {bytes([i]): i for i in range(256)}
                nxt = 258
            else:
                table[cand] = nxt
                nxt += 1
            run = bytes([b])
    if run:
        codes.append(table[run])
    codes.append(257)
    out = bytearray()
    bitbuf = 0
    nbits = 0
    width = 9
    # mirror the DECODER's table length exactly: it appends one entry per
    # data code except the first after a clear, and widens (EarlyChange=1)
    # when the next append would overflow the current width
    size = 258
    first = True
    for code in codes:
        bitbuf = (bitbuf << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((bitbuf >> nbits) & 0xFF)
        if code == 256:
            size, width, first = 258, 9, True
        elif code != 257:
            if first:
                first = False
            else:
                size += 1
            if size + 1 >= (1 << width) and width < 12:
                width += 1
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


def _apply_predictor(data: bytes, parms: bytes) -> bytes:
    """Reverse a /DecodeParms predictor. PNG predictors (>=10) reuse the
    RFC 2083 row unfilter shared with the image codecs; TIFF predictor 2
    is out of scope (never seen on content streams)."""
    pm = _PREDICTOR_RE.search(parms)
    pred = int(pm.group(1)) if pm else 1
    if pred <= 1:
        return data
    if pred < 10:
        raise NotImplementedError("TIFF predictor 2 is out of scope")
    cm = _COLUMNS_RE.search(parms)
    colm = int(cm.group(1)) if cm else 1
    km = _COLORS_RE.search(parms)
    colors = int(km.group(1)) if km else 1
    bm = _BPC_RE.search(parms)
    bpc = int(bm.group(1)) if bm else 8
    stride = (colm * colors * bpc + 7) // 8
    bpp = max(1, colors * bpc // 8)
    if len(data) % (stride + 1):
        raise ValueError("predictor data not a whole number of rows")
    from .multimodal import _png_unfilter
    h = len(data) // (stride + 1)
    raw = np.frombuffer(data, dtype=np.uint8)
    return _png_unfilter(raw, h, stride, bpp).tobytes()


def _apply_filters(data: bytes, dct: bytes) -> bytes:
    """Run the stream's /Filter chain (single name or array, applied in
    declaration order) and any /DecodeParms predictor."""
    fe = _FILTER_ENTRY_RE.search(dct)
    if fe is None:
        return data
    for name in _NAME_RE.findall(fe.group(1)):
        if name == b"FlateDecode":
            data = zlib.decompress(data)
        elif name == b"ASCIIHexDecode":
            hx = re.sub(rb"\s", b"", data.split(b">", 1)[0])
            if len(hx) % 2:
                hx += b"0"
            data = binascii.unhexlify(hx)
        elif name == b"ASCII85Decode":
            body = re.sub(rb"\s", b"", data)
            if body.startswith(b"<~"):
                body = body[2:]
            end = body.find(b"~>")
            if end >= 0:
                body = body[:end]
            data = base64.a85decode(body)
        elif name == b"LZWDecode":
            data = _lzw_decode(data)
        else:
            raise NotImplementedError(
                f"unsupported stream filter /{name.decode()}")
    dp = re.search(rb"/DecodeParms\s*(<<.*?>>)", dct, re.S)
    if dp is not None:
        data = _apply_predictor(data, dp.group(1))
    return data


def _governing_dict(head: bytes) -> bytes:
    """The ``<< ... >>`` dict ending nearest the stream keyword, with
    nesting balanced — a naive rfind(b"<<") would land INSIDE a nested
    sub-dict like ``/DecodeParms << ... >>`` and lose /Length+/Filter."""
    end = head.rfind(b">>")
    if end < 0:
        return b""
    depth = 1
    i = end
    while depth and i > 0:
        nxt_open = head.rfind(b"<<", 0, i)
        nxt_close = head.rfind(b">>", 0, i)
        if nxt_open < 0:
            return b""
        if nxt_close > nxt_open:
            depth += 1
            i = nxt_close
        else:
            depth -= 1
            i = nxt_open
    return head[i:end + 2]


def _resolve_length(blob: bytes, dct: bytes) -> int | None:
    """/Length as a direct int, or through ONE level of indirection
    (``/Length 6 0 R`` → the integer body of object 6) — the shape most
    real writers emit because the length is only known after the
    compressed stream is written."""
    # the indirect form first: it is the more specific pattern, so a
    # dict that matches it can never be a direct length
    rm = _LENGTH_REF_RE.search(dct)
    if rm is None:
        lm = _LENGTH_RE.search(dct)
        return int(lm.group(1)) if lm else None
    om = re.search(rb"(?:^|[\r\n>])\s*" + rm.group(1) + rb"\s+"
                   + rm.group(2) + rb"\s+obj\s*(\d+)\s*endobj", blob)
    return int(om.group(1)) if om else None


def _iter_streams(blob: bytes):
    """Yield decoded content-stream bytes. The governing dict is the
    nearest ``<< ... >>`` ending before the ``stream`` keyword (content
    stream dicts are flat: /Length and optionally /Filter); its /Length
    (direct or one-level indirect) slices the data byte-exactly, else the
    ``endstream`` scan bounds it. The /Filter chain then decodes in
    declaration order (corrupt data raises — the caller's quarantine
    path); unknown filters raise NotImplementedError.

    Positional scan, not finditer: the keyword bytes ``stream\\n`` can
    occur INSIDE compressed payloads (and inside ``endstream``), so each
    stream's data must be consumed before searching for the next."""
    pos = 0
    while True:
        m = _STREAM_START_RE.search(blob, pos)
        if m is None:
            return
        if blob[max(0, m.start() - 3):m.start()] == b"end":
            pos = m.end()  # matched the tail of 'endstream'
            continue
        head = blob[max(0, m.start() - 1024):m.start()]
        dct = _governing_dict(head)
        length = _resolve_length(blob, dct)
        if length is not None:
            end = m.end() + length
            data = blob[m.end():end]
        else:
            end = blob.find(b"endstream", m.end())
            if end < 0:
                end = len(blob)
            data = blob[m.end():end].rstrip(b"\r\n")
        pos = end
        yield _apply_filters(data, dct)


def extract_pdf_text(blob: bytes) -> str:
    """Binary PDF → flat text (lines joined by \\n, paragraphs by \\n\\n)."""
    if not blob.startswith(PDF_MAGIC):
        raise ValueError("not a PDF")
    if b"/Encrypt" in blob:
        raise NotImplementedError("encrypted PDFs are out of scope")

    paras: list[list[str]] = []
    lines: list[str] = []
    cur: list[str] = []
    for stream in _iter_streams(blob):
        for block in _TEXT_BLOCK_RE.findall(stream):
            leading = 14.0
            for m in _OP_RE.finditer(block):
                if m.group("lead"):
                    leading = float(m.group("lead"))
                elif m.group("mv"):
                    ty = float(m.group("ty"))
                    if m.group("mv") == b"TD":
                        leading = -ty if ty < 0 else leading
                    if ty < 0:
                        if cur:
                            lines.append("".join(cur))
                            cur = []
                        # bigger drop than one leading = paragraph break
                        if -ty > 1.5 * leading and lines:
                            paras.append(lines)
                            lines = []
                elif m.group("tstar"):
                    if cur:
                        lines.append("".join(cur))
                        cur = []
                elif m.group("tj") is not None:
                    cur.append(_decode_pdf_string(m.group("tj")))
                elif m.group("tjh") is not None:
                    cur.append(_decode_pdf_hex_string(m.group("tjh")))
                elif m.group("tja") is not None:
                    for s in _TJA_STR_RE.findall(m.group("tja")):
                        if s.startswith(b"<"):
                            cur.append(_decode_pdf_hex_string(s[1:-1]))
                        else:
                            cur.append(_decode_pdf_string(s[1:-1]))
            if cur:
                lines.append("".join(cur))
                cur = []
    if lines:
        paras.append(lines)
    return "\n\n".join("\n".join(ls) for ls in paras)


# --- fixture generator (inverse of the parser) -----------------------------

def _encode_pdf_string(s: str) -> bytes:
    out = bytearray()
    for b in s.encode("utf-8"):
        if b in (0x28, 0x29, 0x5C):  # ( ) \
            out.extend(b"\\" + bytes([b]))
        elif b < 0x20:
            out.extend(("\\%03o" % b).encode())
        else:
            out.append(b)
    return bytes(out)


_ENCODERS = {
    "FlateDecode": zlib.compress,
    "ASCIIHexDecode": lambda d: binascii.hexlify(d).upper() + b">",
    "ASCII85Decode": lambda d: base64.a85encode(d) + b"~>",
    "LZWDecode": _lzw_encode,
}


def render_pdf(paras: list[list[str]], rng: np.random.Generator,
               compress: bool | None = None,
               filters: list[str] | None = None,
               hex_frac: float = 0.0,
               indirect_length: bool = False) -> bytes:
    """Golden paragraphs → a valid single-page PDF whose text layer
    extracts back to exactly flat_text(paras). ``compress=None`` draws
    from rng: half the fixtures FlateDecode their content stream (the
    real-world-dominant shape), half stay uncompressed. ``filters``
    overrides that draw with an explicit /Filter chain in DECODE order
    (data is encoded by applying the chain back-to-front);
    ``hex_frac`` emits that fraction of show ops as hex strings;
    ``indirect_length`` routes /Length through a separate object, the
    shape most real writers emit."""
    ops = [b"BT", b"/F1 10 Tf", b"14 TL", b"72 770 Td"]
    first = True
    for lines in paras:
        if not first:
            ops.append(b"0 -28 Td")  # 2x leading => paragraph break
        first = False
        for i, ln in enumerate(lines):
            if i:
                ops.append(b"0 -14 Td")
            if hex_frac and rng.random() < hex_frac:
                hx = binascii.hexlify(ln.encode("utf-8")).upper()
                ops.append(b"<" + hx + b"> Tj")
            elif rng.random() < 0.3 and len(ln) > 4:
                # split across a TJ array to exercise that operator
                half = len(ln) // 2
                ops.append(b"[" + b"(" + _encode_pdf_string(ln[:half])
                           + b") -20 (" + _encode_pdf_string(ln[half:])
                           + b")] TJ")
            else:
                ops.append(b"(" + _encode_pdf_string(ln) + b") Tj")
    ops.append(b"ET")
    content = b"\n".join(ops)
    if filters is None:
        if compress is None:
            compress = bool(rng.random() < 0.5)
        filters = ["FlateDecode"] if compress else []
    for name in reversed(filters):
        content = _ENCODERS[name](content)
    parts = [b"<<"]
    if indirect_length:
        parts.append(b" /Length 6 0 R")
    else:
        parts.append(b" /Length " + str(len(content)).encode())
    if len(filters) == 1:
        parts.append(b" /Filter /" + filters[0].encode())
    elif filters:
        parts.append(b" /Filter [ "
                     + b" ".join(b"/" + f.encode() for f in filters) + b" ]")
    parts.append(b" >>")
    stream_dict = b"".join(parts)

    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        stream_dict + b"\nstream\n" + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    if indirect_length:
        objs.append(str(len(content)).encode())
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out.extend(f"{i} 0 obj\n".encode() + body + b"\nendobj\n")
    xref_at = len(out)
    out.extend(b"xref\n0 " + str(len(objs) + 1).encode() + b"\n")
    out.extend(b"0000000000 65535 f \n")
    for off in offsets:
        out.extend(f"{off:010d} 00000 n \n".encode())
    out.extend(b"trailer\n<< /Size " + str(len(objs) + 1).encode()
               + b" /Root 1 0 R >>\nstartxref\n"
               + str(xref_at).encode() + b"\n%%EOF\n")
    return bytes(out)
