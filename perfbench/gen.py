"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(workload, seed)`` and is written once
under ``perfbench/.cache/<workload>-s<seed>-v<CORPUS_VERSION>-g<hash>``,
where ``<hash>`` is that of this file (only the newest entry per workload
is kept). The program under test
receives only the generated inputs; the expected outputs live beside them
in files the program never reads.

* ``extract_raster`` — all-raster layout pages plus ``RASTER_POISON``
  unparseable layout records (exactly that many quarantine rows).
* ``extract_web`` — 90% HTML / 10% PDF pages; each HTML page is padded
  after its main-text div with boilerplate (nav, script, style, footer) to
  a log-normal size (median 16 KiB, sigma 0.6, clipped to 4-96 KiB), so
  the expected text and the 2 KiB charset sniff are unchanged. Plus
  ``WEB_POISON`` null page cells (exactly that many quarantine rows).
* ``crawl_corpus`` — WARC archives of HTML captures and 10% PDFs with
  known injected counts: utm/fragment re-captures, transitive near-dup
  chains, a shared boilerplate paragraph, short and repetitive pages,
  emails and IPv4 addresses, and one host above the cap. The expected
  crawl summary, extracted text and WET corpus are derived here in plain
  Python.
* ``curate_queries`` — small TPC-H-shaped tables plus ``events``,
  ``documents`` (with exact and near duplicates) and ``embeddings``.
"""

from __future__ import annotations

import datetime as dt
import functools
import hashlib
import json
import os
import re
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from findtextcenternet_spark.corpus import (
    CORPUS_VERSION,
    RASTER_MARKER,
    generate_pages_range,
)

CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

RASTER_DOCS = 160
RASTER_POISON = 3
WEB_DOCS = 2000
WEB_POISON = 3

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
EXPECTED_SCHEMA = pa.schema([
    ("url", pa.string()), ("text", pa.string()), ("poison", pa.bool_()),
])


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.PCG64([seed, stream]))


def cached(workload: str, seed: int, build) -> str:
    """Directory holding the inputs of ``(workload, seed)``; ``build(dir)``
    fills a fresh directory when the cache has no complete entry."""
    with open(__file__, "rb") as f:
        gen_hash = hashlib.sha1(f.read()).hexdigest()[:10]
    key = f"{workload}-s{seed}-v{CORPUS_VERSION}-g{gen_hash}"
    path = os.path.join(CACHE, key)
    if os.path.exists(os.path.join(path, "_COMPLETE")):
        return path
    os.makedirs(CACHE, exist_ok=True)
    for old in os.listdir(CACHE):
        if old.startswith(workload + "-"):
            shutil.rmtree(os.path.join(CACHE, old), ignore_errors=True)
    tmp = path + ".tmp"
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
        f.write(key)
    os.rename(tmp, path)
    return path


def _write_pages(path: str, pdf: pd.DataFrame, n_files: int) -> None:
    """Pages table as a directory of part files. The ``text`` column is
    written empty: the expected text is kept apart from the input."""
    os.makedirs(path)
    pdf = pdf.assign(text=None)
    for i in range(n_files):
        part = pdf.iloc[i::n_files]
        pq.write_table(pa.Table.from_pandas(part, schema=PAGES_SCHEMA,
                                            preserve_index=False),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _write_expected(path: str, urls, texts, poison) -> None:
    pq.write_table(pa.table({"url": list(urls), "text": list(texts),
                             "poison": list(poison)},
                            schema=EXPECTED_SCHEMA), path)


# --------------------------------------------------------------- extraction

# Raster kernel cost per page tracks the layout record's size (r = 0.97,
# coefficient of variation 0.47 over 300 pages). Pages are drawn into six
# size strata, bounded at the sextiles of 1,500 pages of seed 0, with an
# equal quota each, so every seed carries the same amount of kernel work.
RASTER_SIZE_EDGES = (4377, 6945, 10687, 15093, 22998)


@functools.lru_cache(maxsize=2)
def raster_pages(seed: int) -> pd.DataFrame:
    """The raster workload's ``RASTER_DOCS`` layout pages (with expected
    text): pages of ``seed`` in doc-id order, each kept while its size
    stratum's quota is open."""
    quota = [RASTER_DOCS // (len(RASTER_SIZE_EDGES) + 1)] * (
        len(RASTER_SIZE_EDGES) + 1)
    quota[0] += RASTER_DOCS - sum(quota)
    keep = []
    lo = 0
    while any(quota):
        batch = generate_pages_range(lo, lo + 64, seed, raster_frac=1.0,
                                     pdf_frac=0.0)
        for i, html in enumerate(batch["html"]):
            s = int(np.searchsorted(RASTER_SIZE_EDGES, len(html)))
            if quota[s]:
                quota[s] -= 1
                keep.append(batch.iloc[i])
        lo += 64
    return pd.DataFrame(keep).reset_index(drop=True)


def _raster_poison(seed: int) -> pd.DataFrame:
    blobs = [RASTER_MARKER + b'{"page_w": 640, "glyphs": [',   # truncated
             RASTER_MARKER + b"[]",                           # wrong type
             RASTER_MARKER + b"{}"]                           # no fields
    rows = [{"url": f"https://poison.example.org/raster/{seed}/{i}",
             "warc_ts": dt.datetime(2024, 6, 1), "html": blobs[i % 3],
             "text": None, "lang": "raster:en"}
            for i in range(RASTER_POISON)]
    return pd.DataFrame(rows)


def build_extract_raster(seed: int) -> str:
    def build(d: str) -> None:
        good = raster_pages(seed)
        pages = pd.concat([good, _raster_poison(seed)], ignore_index=True)
        pages["warc_ts"] = pd.to_datetime(pages["warc_ts"])
        _write_pages(os.path.join(d, "pages"), pages, 8)
        _write_expected(os.path.join(d, "expected.parquet"), pages["url"],
                        list(good["text"]) + [None] * RASTER_POISON,
                        [False] * len(good) + [True] * RASTER_POISON)
    return cached("extract_raster", seed, build)


_PAD_WORDS = ("home news sport world business culture travel weather video "
              "archive contact about privacy terms help login subscribe "
              "search menu share follow more latest popular events").split()
_PAD_TAIL = b"</body>\n</html>\n"


def pad_target(rng: np.random.Generator) -> int:
    """Total page size in bytes: log-normal, median 16 KiB, sigma 0.6,
    clipped to 4-96 KiB."""
    return int(np.clip(np.exp(rng.normal(np.log(16384), 0.6)),
                       4096, 98304))


@functools.lru_cache(maxsize=2)
def _fragments(seed: int) -> tuple[bytes, ...]:
    """A site's pool of ASCII boilerplate fragments (valid in utf-8 and
    cp932 pages alike): nav lists, inline scripts, style rules, footers."""
    rng = _rng(seed, 3)
    out = []
    for k in range(256):
        w = [_PAD_WORDS[int(i)] for i in rng.integers(0, len(_PAD_WORDS), 8)]
        kind = k % 4
        if kind == 0:
            frag = ('<nav class="menu"><ul>' + "".join(
                f'<li><a href="/{w[j]}/{k}-{j}">{w[j].title()} {j}</a></li>'
                for j in range(8)) + "</ul></nav>\n")
        elif kind == 1:
            frag = (f'<script type="text/javascript">var cfg{k} = '
                    f'{{"id": {k}, "slot": "{w[0]}-{w[1]}", "ttl": '
                    f'{int(rng.integers(10, 9999))}}}; function t{k}(a)'
                    f'{{return a * {k} + {len(w[2])};}}</script>\n')
        elif kind == 2:
            frag = (f"<style>.{w[0]}-{k} {{ margin: {k % 17}px; padding: "
                    f"{k % 7}px; color: #{int(rng.integers(0, 1 << 24)):06x}"
                    f"; }} .{w[1]}-{k} a {{ text-decoration: none; }}"
                    "</style>\n")
        else:
            frag = ('<div class="footer"><p>' + " | ".join(
                f'<a href="/{x}">{x}</a>' for x in w) +
                f"</p><p>&copy; 2024 {w[0]} {w[1]} media</p></div>\n")
        out.append(frag.encode("ascii"))
    return tuple(out)


def pad_page(html: bytes, rng: np.random.Generator,
             pool: tuple[bytes, ...]) -> bytes:
    """Insert boilerplate fragments between the main-text div and
    ``</body>`` until the page reaches its drawn size."""
    if not html.endswith(_PAD_TAIL):
        raise ValueError("unexpected page tail")
    need = pad_target(rng) - len(html)
    picks: list[bytes] = []
    while need > 0:
        for i in rng.integers(0, len(pool), 16):
            picks.append(pool[int(i)])
            need -= len(pool[int(i)])
            if need <= 0:
                break
    return html[:-len(_PAD_TAIL)] + b"".join(picks) + _PAD_TAIL


def web_pages(seed: int, lo: int, hi: int) -> pd.DataFrame:
    """Pages ``lo..hi`` of the web workload (with expected text): HTML
    pages padded to the stated size distribution, PDFs as generated."""
    pdf = generate_pages_range(lo, hi, seed, raster_frac=0.0, pdf_frac=0.1)
    html = []
    for i, blob in zip(range(lo, hi), pdf["html"]):
        if bytes(blob).startswith(b"%PDF-"):
            html.append(blob)
        else:
            html.append(pad_page(bytes(blob), _rng(seed, 1_000_000 + i),
                                 _fragments(seed)))
    pdf["html"] = html
    return pdf


def build_extract_web(seed: int) -> str:
    def build(d: str) -> None:
        good = web_pages(seed, 0, WEB_DOCS)
        poison = pd.DataFrame([{
            "url": f"https://poison.example.org/web/{seed}/{i}",
            "warc_ts": dt.datetime(2024, 6, 1), "html": None, "text": None,
            "lang": "en"} for i in range(WEB_POISON)])
        pages = pd.concat([good, poison], ignore_index=True)
        pages["warc_ts"] = pd.to_datetime(pages["warc_ts"])
        _write_pages(os.path.join(d, "pages"), pages, 8)
        _write_expected(os.path.join(d, "expected.parquet"), pages["url"],
                        list(good["text"]) + [None] * WEB_POISON,
                        [False] * len(good) + [True] * WEB_POISON)
    return cached("extract_web", seed, build)


# -------------------------------------------------------------- crawl corpus

CRAWL_PAGES = 200          # plain pages on ordinary hosts
CRAWL_HOSTS = 40           # ordinary hosts: at most 5 + injections each
HOST_CAP = 8
HOT_EXTRA = 5              # the hot host holds HOST_CAP + HOT_EXTRA pages
N_VARIANTS = 12            # utm / fragment re-captures of plain pages
N_CHAINS = 5               # transitive near-dup chains of 3 pages
N_BOILER = 10              # pages sharing one boilerplate paragraph
PARA_DEDUP_MAX = 2         # so that paragraph (count N_BOILER) is dropped
N_SHORT = 4                # below the quality gate's 5-word floor
N_REPETITIVE = 4           # above its repetition ceiling
N_EMAIL = 9
N_IPV4 = 7
N_PDF = 20                 # plain pages served as PDFs
N_ARCHIVES = 4

_SYL = ("ba be bi bo bu da de di do du fa fe fi fo fu ga ge gi go gu ka ke "
        "ki ko ku la le li lo lu ma me mi mo mu na ne ni no nu pa pe pi po "
        "pu ra re ri ro ru sa se si so su ta te ti to tu va ve vi vo vu "
        "za ze zi zo zu").split()
VOCAB = sorted({_SYL[a] + _SYL[b] + _SYL[c]
                for a, b, c in np.random.default_rng(2024).integers(
                    0, len(_SYL), (400, 3))})[:300]
_BOILER_PARA = ("subscribe to our weekly newsletter for the latest stories "
                "offers and updates from the editors")
_EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
_IPV4_RE = re.compile(r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}")


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [VOCAB[int(i)] for i in rng.integers(0, len(VOCAB), n)]


def _paragraph(rng: np.random.Generator, lo: int = 25, hi: int = 60) -> str:
    return " ".join(_words(rng, int(rng.integers(lo, hi))))


def crawl_html(url: str, text: str, nav: int) -> bytes:
    return ("<html><head><title>" + url + "</title></head><body>"
            f'<div class="header"><a href="/nav/{nav}">home</a></div>'
            '<div class="main_text">' + text + "</div>"
            '<div class="footer">all rights reserved</div></body></html>'
            ).encode("utf-8")


def _crawl_payload(c: dict, seed: int, k: int) -> None:
    """Set the capture's payload bytes and mime type."""
    if c.get("pdf"):
        from findtextcenternet_spark.operators.pdf import render_pdf

        c["mime"] = "application/pdf"
        # one paragraph of lines: the PDF text layer gives back exactly
        # the capture's text (a blank line would be a shared paragraph)
        c["html"] = render_pdf([c["text"].split("\n")], _rng(seed, 500 + k),
                               filters=["FlateDecode"])
    else:
        c["mime"] = "text/html"
        c["html"] = crawl_html(c["url"], c["text"], c["nav"])


def crawl_captures(seed: int) -> tuple[list[dict], dict]:
    """(captures, expected): the crawl's captures in archive order and the
    exact outcome of every crawl post-pass over them."""
    rng = _rng(seed, 7)
    ts0 = dt.datetime(2025, 3, 1)
    caps: list[dict] = []

    def host_of(i: int) -> str:
        return f"https://h{i % CRAWL_HOSTS:02d}.example.org"

    def add(url: str, text: str, nav: int = 0) -> dict:
        c = {"url": url, "text": text, "nav": nav,
             "warc_ts": ts0 + dt.timedelta(seconds=len(caps))}
        caps.append(c)
        return c

    plain = []
    for i in range(CRAWL_PAGES):
        n_par = int(rng.integers(2, 5))
        text = "\n".join(_paragraph(rng) for _ in range(n_par))
        plain.append(add(f"{host_of(i)}/a/{seed}-{i}", text))
    # shared boilerplate paragraph (dropped by the paragraph pass)
    for c in plain[10:10 + N_BOILER]:
        c["text"] += "\n" + _BOILER_PARA
    # PII in plain pages (redacted right before the WET sink)
    for j, c in enumerate(plain[40:40 + N_EMAIL]):
        c["text"] += f"\nwrite to editor{j}.{seed}@mail{j}.example.com today"
    for j, c in enumerate(plain[60:60 + N_IPV4]):
        c["text"] += (f"\nmirror at 10.{j + 1}.{seed % 250}."
                      f"{int(rng.integers(1, 250))} is live")
    for c in plain[150:150 + N_PDF]:
        c["pdf"] = True
    # utm / fragment re-captures of plain pages: same text, other bytes
    suffixes = ("?utm_source=feed&utm_medium=rss", "#comments",
                "?utm_campaign=spring#top")
    for j in range(N_VARIANTS):
        base = plain[100 + j]
        add(base["url"] + suffixes[j % 3], base["text"], nav=j + 1)
    # transitive near-dup chains A ~ B ~ C (single paragraph each)
    for j in range(N_CHAINS):
        words = _words(rng, 130)
        b = list(words)
        b[3] = "xqzb" + str(j)
        c = list(b)
        c[60] = "xqzc" + str(j)
        for tag, ws in (("a", words), ("b", b), ("c", c)):
            add(f"{host_of(j * 7 + 3)}/chain/{seed}-{j}{tag}", " ".join(ws))
    # quality-gate rejects
    for j in range(N_SHORT):
        add(f"{host_of(j * 11 + 5)}/short/{seed}-{j}",
            f"{VOCAB[j]} {VOCAB[j + 50]} {VOCAB[j + 100]}")
    for j in range(N_REPETITIVE):
        pair = f"{VOCAB[150 + j]} {VOCAB[200 + j]}"
        add(f"{host_of(j * 13 + 1)}/spam/{seed}-{j}", " ".join([pair] * 40))
    # one host above the cap
    hot = [add(f"https://hot.example.org/p/{seed}-{j}",
               "\n".join(_paragraph(rng) for _ in range(2)))
           for j in range(HOST_CAP + HOT_EXTRA)]

    for k, c in enumerate(caps):
        _crawl_payload(c, seed, k)
    # archive order is shuffled so no archive holds one kind only
    order = rng.permutation(len(caps))
    caps = [caps[int(i)] for i in order]

    # ---- expected outcome, pass by pass ---------------------------------
    variants = {c["url"] for c in caps
                if c["url"].split("?")[0].split("#")[0] != c["url"]}
    docs = {c["url"]: c["text"] for c in caps if c["url"] not in variants}

    def drop_boiler(t: str) -> str:
        return "\n".join(p for p in t.split("\n") if p != _BOILER_PARA)

    docs = {u: drop_boiler(t) for u, t in docs.items()}
    rejected = {u for u in docs if "/short/" in u or "/spam/" in u}
    docs = {u: t for u, t in docs.items() if u not in rejected}
    chain_losers = {u for u in docs if "/chain/" in u
                    and not u.endswith("a")}
    docs = {u: t for u, t in docs.items() if u not in chain_losers}
    hot_urls = sorted((c["url"] for c in hot),
                      key=lambda u: hashlib.md5(u.encode()).hexdigest())
    capped = set(hot_urls[HOST_CAP:])
    docs = {u: t for u, t in docs.items() if u not in capped}
    redactions = sum(len(_EMAIL_RE.findall(t)) + len(_IPV4_RE.findall(t))
                     for t in docs.values())
    wet = {u: _IPV4_RE.sub("<IP>", _EMAIL_RE.sub("<EMAIL>", t))
           for u, t in docs.items()}
    expected = {
        "summary": {
            "n_docs": len(caps), "n_quarantined": 0,
            "url_collapsed": N_VARIANTS,
            "paragraphs_dropped": N_BOILER,
            "quality_rejected": N_SHORT + N_REPETITIVE,
            "near_dup_clustered": 3 * N_CHAINS,
            "near_dup_dropped": 2 * N_CHAINS,
            "host_capped": HOT_EXTRA,
            "pii_redactions": redactions,
            "wet_records": len(wet),
        },
        "extracted": {c["url"]: c["text"] for c in caps},
        "wet": wet,
    }
    if redactions != N_EMAIL + N_IPV4:
        raise AssertionError("PII injection miscounted")
    return caps, expected


def build_crawl_corpus(seed: int) -> str:
    from findtextcenternet_spark.sources.warc import write_warc

    def build(d: str) -> None:
        caps, expected = crawl_captures(seed)
        os.makedirs(os.path.join(d, "warc"))
        for k in range(N_ARCHIVES):
            rows = [{"url": c["url"], "warc_ts": c["warc_ts"],
                     "html": c["html"], "mime": c["mime"]}
                    for c in caps[k::N_ARCHIVES]]
            with open(os.path.join(d, "warc",
                                   f"crawl-{k:05d}.warc.gz"), "wb") as f:
                f.write(write_warc(rows))
        with open(os.path.join(d, "expected.json"), "w") as f:
            json.dump(expected, f)
    return cached("crawl_corpus", seed, build)


# ------------------------------------------------------------ curation tables

N_LINEITEM = 30000
N_ORDERS = 7500
N_CUSTOMER = 750
N_EVENTS = 6000
N_USERS = 60
N_DOCUMENTS = 1200
N_EMBEDDINGS = 500
EMB_DIM = 64
_DOC_VOCAB = ("a agg batch big column customer data dup fast filter group "
              "hash join key line merge order part query row scan slow "
              "small sort spark stream table the value vector window").split()


def _days(rng, n, start: dt.datetime, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span_days, n) * 86_400_000_000
                   ).astype("timedelta64[us]")


def curation_tables(seed: int) -> dict[str, pd.DataFrame]:
    """The tables the 18 curation queries read. Money columns hold
    binary-exact values (halves, discounts in 64ths), so sums agree to the
    last bit between Spark and the DuckDB oracle whatever the order."""
    rng = _rng(seed, 11)
    li = pd.DataFrame({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
        "l_partkey": rng.integers(0, 2000, N_LINEITEM),
        "l_suppkey": rng.integers(0, 100, N_LINEITEM),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype("int32"),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype("float64"),
        "l_extendedprice": rng.integers(1800, 200000, N_LINEITEM) * 0.5,
        "l_discount": rng.integers(0, 7, N_LINEITEM) / 64.0,
        "l_tax": rng.integers(0, 6, N_LINEITEM) / 64.0,
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": _days(rng, N_LINEITEM, dt.datetime(1995, 1, 2), 2499),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(N_ORDERS, dtype="int64"),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": rng.integers(2000, 800000, N_ORDERS) * 0.5,
        "o_orderdate": _days(rng, N_ORDERS, dt.datetime(1995, 1, 1), 2404),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, N_ORDERS)],
    })
    cust = pd.DataFrame({
        "c_custkey": np.arange(N_CUSTOMER, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype("int32"),
        "c_acctbal": rng.integers(-99900, 999900, N_CUSTOMER) / 100.0,
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[
            rng.integers(0, 5, N_CUSTOMER)],
    })
    ts = np.sort(np.datetime64(dt.datetime(2024, 1, 1), "us")
                 + rng.integers(0, 30 * 86_400_000_000, N_EVENTS
                                ).astype("timedelta64[us]"))
    events = pd.DataFrame({
        "event_id": np.arange(N_EVENTS, dtype="int64"),
        "ts": ts,
        "user_id": rng.integers(0, N_USERS, N_EVENTS),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, N_EVENTS)],
        "value": rng.integers(0, 40000, N_EVENTS) / 100.0,
        "props": [f'{{"k": {int(k)}}}' for k in
                  rng.integers(0, 100, N_EVENTS)],
    })
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        roll = rng.random()
        if i > 20 and roll < 0.05:          # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 20 and roll < 0.10:        # near duplicate: one word swapped
            ws = texts[int(rng.integers(0, i))].split()
            ws[int(rng.integers(0, len(ws)))] = "dup"
            texts.append(" ".join(ws))
        else:
            texts.append(" ".join(
                _DOC_VOCAB[int(j)] for j in rng.integers(
                    0, len(_DOC_VOCAB), int(rng.integers(10, 100)))))
    docs = pd.DataFrame({
        "doc_id": np.arange(N_DOCUMENTS, dtype="int64"),
        "text": texts,
        "lang": np.array(["de", "en", "en", "en", "es", "fr", "zh"])[
            rng.integers(0, 7, N_DOCUMENTS)],
        "source": [f"src{int(s)}" for s in
                   rng.integers(0, 20, N_DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    vec = rng.normal(size=(N_EMBEDDINGS, EMB_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pd.DataFrame({
        "vec_id": np.arange(N_EMBEDDINGS, dtype="int64"),
        "embedding": list(vec.astype("float32")),
        "label": rng.integers(0, 10, N_EMBEDDINGS).astype("int32"),
    })
    return {"lineitem": li, "orders": orders, "customer": cust,
            "events": events, "documents": docs, "embeddings": emb}


def build_curate_queries(seed: int) -> str:
    def build(d: str) -> None:
        for name, df in curation_tables(seed).items():
            table = pa.Table.from_pandas(df, preserve_index=False)
            if name == "embeddings":
                table = table.cast(pa.schema([
                    ("vec_id", pa.int64()),
                    ("embedding", pa.list_(pa.float32())),
                    ("label", pa.int32())]))
            # one file, one row group: the layout of the sf fixtures
            pq.write_table(table, os.path.join(d, f"{name}.parquet"))
    return cached("curate_queries", seed, build)
