"""WARC source: record/HTTP parsing units + Spark ingest to extraction."""

import gzip
import pathlib
import re

import numpy as np
import pandas as pd
import pytest

import findtextcenternet_spark
from findtextcenternet_spark.corpus import generate_pages
from findtextcenternet_spark.sources.warc import (
    decode_http_payload,
    pages_from_warc_bytes,
    read_warc,
    split_http_response,
    write_warc,
)


@pytest.fixture(scope="module")
def corpus():
    return generate_pages(60)


def _rows(pdf: pd.DataFrame) -> list[dict]:
    return pdf.to_dict("records")


def test_roundtrip_plain_and_gzip(corpus):
    rows = _rows(corpus)
    for gz in (False, True):
        blob = write_warc(rows, gzip_records=gz)
        got = pages_from_warc_bytes(blob)
        assert got["error"].isna().all()
        assert list(got["url"]) == list(corpus["url"])
        for h1, h2 in zip(got["html"], corpus["html"]):
            assert bytes(h1) == bytes(h2)   # payload byte-exact
        # warcinfo + request records were skipped
        assert len(got) == len(corpus)


def test_chunked_and_content_encoding(corpus):
    rng = np.random.default_rng(5)
    rows = _rows(corpus)
    blob = write_warc(rows, gzip_records=True, chunked_frac=0.5,
                      gzip_body_frac=0.5, rng=rng)
    got = pages_from_warc_bytes(blob)
    assert got["error"].isna().all()
    for h1, h2 in zip(got["html"], corpus["html"]):
        assert bytes(h1) == bytes(h2)
    # the codings were actually drawn
    assert b"Transfer-Encoding: chunked" in gzip.decompress(blob)


def test_content_type_filter(corpus):
    """content_types drops non-matching HTTP payloads inside the record
    walk — the crawl's image/css/js bulk never reaches the Arrow exchange."""
    rows = _rows(corpus.head(12))
    for i, r in enumerate(rows):
        if i % 3 == 1:
            r["mime"] = "image/png"
        elif i % 3 == 2:
            r["mime"] = "text/css"
    blob = write_warc(rows)
    got = pages_from_warc_bytes(blob, content_types=("text/html",))
    want = [r["url"] for i, r in enumerate(rows) if i % 3 == 0]
    assert list(got["url"]) == want
    # charset parameters still match the prefix
    got2 = pages_from_warc_bytes(blob, content_types=("text/",))
    assert len(got2) == 8
    # default keeps everything
    assert len(pages_from_warc_bytes(blob)) == 12


def test_content_type_filter_skips_payload_decode():
    """A filtered-out record's payload is never de-chunked/gunzipped:
    a junk record with a CORRUPT gzip body parses cleanly when filtered
    away, and becomes an error row under its own url when it must be
    decoded."""
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n"
            b"Content-Encoding: gzip\r\nContent-Length: 9\r\n\r\n"
            b"not-gzip!")
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: http://x.example/bad.png\r\n"
           b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
           b"Content-Type: application/http; msgtype=response\r\n"
           b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
           + http + b"\r\n\r\n")
    filtered = pages_from_warc_bytes(rec, content_types=("text/html",))
    assert len(filtered) == 0            # skipped without decoding
    unfiltered = pages_from_warc_bytes(rec)
    assert len(unfiltered) == 1          # decode attempted -> error row
    assert unfiltered.iloc[0]["error"] is not None
    assert unfiltered.iloc[0]["url"] == "http://x.example/bad.png"


def _parse_http(body: bytes) -> tuple[dict, bytes]:
    hdrs, raw = split_http_response(body)
    return hdrs, decode_http_payload(hdrs, raw)


def test_http_parse_units():
    hdrs, payload = _parse_http(
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
        b"5\r\nhello\r\n6;ext=1\r\n world\r\n0\r\n\r\n")
    assert hdrs["_status"] == "HTTP/1.1 200 OK"
    assert payload == b"hello world"
    import zlib
    hdrs, payload = _parse_http(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n"
        + zlib.compress(b"abc"))
    assert payload == b"abc"
    with pytest.raises(ValueError, match="Content-Encoding"):
        _parse_http(
            b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\nxx")


def test_corrupt_tail_salvages_rows(corpus):
    rows = _rows(corpus)[:10]
    blob = write_warc(rows, gzip_records=False)
    got = pages_from_warc_bytes(blob + b"WARC/1.0\r\nbroken")
    errs = got[got["error"].notna()]
    assert len(errs) == 1
    assert "salvaged 10 rows" in errs.iloc[0]["error"]
    assert len(got) == 11                       # 10 good + 1 error marker
    # truncated mid-record: same contract
    got2 = pages_from_warc_bytes(blob[:len(blob) // 2])
    assert got2["error"].notna().sum() == 1
    assert got2["error"].isna().sum() < 10


def test_cli_warc_ingest_resume_and_quarantine(spark, tmp_path, corpus):
    """End-to-end CLI path: --format warc extracts a mixed archive set
    (one archive has a corrupt tail), the tail lands in the quarantine
    under its per-archive url, and a second invocation resumes to zero
    new docs."""
    import json

    from findtextcenternet_spark.__main__ import main

    rows = _rows(corpus)[:30]
    d = tmp_path / "warcs"
    d.mkdir()
    (d / "good.warc.gz").write_bytes(write_warc(rows[:20]))
    (d / "bad.warc").write_bytes(
        write_warc(rows[20:], gzip_records=False) + b"WARC/1.0\r\nbroken")
    out = tmp_path / "out"

    rc = main([str(d), str(out), "--format", "warc", "--run-id", "r1"])
    assert rc == 0
    docs = spark.read.parquet(str(out / "docs"))
    ok = docs.filter("error is null").toPandas()
    assert len(ok) == 30
    quar = spark.read.parquet(str(out / "_quarantine")).toPandas()
    assert len(quar) == 1
    assert quar.iloc[0]["url"].startswith("warc:tail-error:")
    assert quar.iloc[0]["url"].endswith("bad.warc")
    # the reader's own error text, not the null-page fallback
    assert quar.iloc[0]["error"].startswith("warc: ")
    assert "salvaged 10 rows" in quar.iloc[0]["error"]

    rc = main([str(d), str(out), "--format", "warc", "--run-id", "r2"])
    assert rc == 0
    docs2 = spark.read.parquet(str(out / "docs")).toPandas()
    assert len(docs2) == len(docs.toPandas())   # resume: nothing re-done


def test_stream_extract_warc_incremental(spark, tmp_path, corpus):
    """Streaming crawl ingest: tail a landing dir of WARC archives with a
    checkpointed query; a restart picks up ONLY newly-landed archives
    (no re-extraction, no duplicates), a corrupt tail flows to an error
    row instead of stalling the stream, and the streamed text matches the
    golden per url."""
    from findtextcenternet_spark.golden import extract_corpus_golden
    from findtextcenternet_spark.sources.warc import read_warc_stream
    from findtextcenternet_spark.streaming import stream_extract

    rows = _rows(corpus)[:24]
    land = tmp_path / "landing"
    land.mkdir()
    (land / "seg0.warc.gz").write_bytes(write_warc(rows[:12]))
    out, ckpt = str(tmp_path / "docs"), str(tmp_path / "ckpt")

    q = stream_extract(read_warc_stream(spark, str(land)), out, ckpt)
    q.awaitTermination(240)
    got = spark.read.parquet(out).toPandas()
    assert len(got) == 12 and got["error"].isna().all()

    # two new archives land (one with a corrupt tail); the restarted
    # query resumes from the checkpoint and processes only the new files
    (land / "seg1.warc.gz").write_bytes(write_warc(rows[12:]))
    (land / "seg2.warc").write_bytes(
        write_warc([], gzip_records=False) + b"WARC/1.0\r\nbroken")
    q2 = stream_extract(read_warc_stream(spark, str(land)), out, ckpt)
    q2.awaitTermination(240)
    got2 = spark.read.parquet(out).toPandas()
    ok = got2[got2["error"].isna()]
    assert len(ok) == 24 and ok["url"].nunique() == 24
    bad = got2[got2["error"].notna()]
    assert len(bad) == 1
    assert bad.iloc[0]["url"].endswith("seg2.warc")

    want = extract_corpus_golden(corpus.iloc[:24]).set_index("url")
    for _, r in ok.iterrows():
        assert r["text"] == want.loc[r["url"], "text"]


def test_wet_sink_roundtrip(spark, tmp_path, corpus):
    """Crawl-native loop: WARC archives in → extraction → WET shards out
    (the format Common Crawl publishes extracted text in) → read_wet
    recovers every (url, text) byte-identically. Shard count follows the
    partitioning, and the manifest accounts for every record."""
    from findtextcenternet_spark.pipeline import extract_documents
    from findtextcenternet_spark.sources.warc import read_wet, write_wet

    rows = _rows(corpus)[:20]
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.warc.gz").write_bytes(write_warc(rows))
    docs = extract_documents(read_warc(spark, str(src)).drop("error"))

    out = tmp_path / "wet"
    manifest = write_wet(docs.repartition(3, "url"), str(out)).toPandas()
    assert manifest["n_records"].sum() == 20
    assert len(manifest) <= 3
    assert all(p.endswith(".warc.wet.gz") for p in manifest["path"])

    back = read_wet(spark, str(out)).toPandas()
    assert back["error"].isna().all() and len(back) == 20
    want = docs.select("url", "text").toPandas().set_index("url")
    for _, r in back.iterrows():
        assert r["text"] == want.loc[r["url"], "text"]

    # retry idempotence: re-running the sink (same docs, same
    # partitioning) rewrites every shard byte-identically — record ids
    # are stable digests and gzip headers carry no wall-clock mtime
    before = {p.name: p.read_bytes() for p in out.glob("*.warc.wet.gz")}
    write_wet(docs.repartition(3, "url"), str(out)).collect()
    after = {p.name: p.read_bytes() for p in out.glob("*.warc.wet.gz")}
    assert before == after

    # corrupt shard tail -> salvage + per-shard error row, task survives
    shard = sorted(out.glob("*.warc.wet.gz"))[0]
    shard.write_bytes(shard.read_bytes() + b"\x1f\x8bgarbage")
    back2 = read_wet(spark, str(out)).toPandas()
    bad = back2[back2["error"].notna()]
    assert len(bad) == 1 and bad.iloc[0]["url"].startswith("wet:tail-error:")


def test_spark_ingest_to_extraction(spark, tmp_path, corpus):
    """WARC files on disk → read_warc → extract_documents reproduces the
    golden text for every page — the full crawl-native ingest path."""
    from findtextcenternet_spark.golden import extract_corpus_golden
    from findtextcenternet_spark.pipeline import extract_documents

    rows = _rows(corpus)
    rng = np.random.default_rng(11)
    d = tmp_path / "warcs"
    d.mkdir()
    for i in range(3):                          # 3 archives, 20 pages each
        part = rows[i * 20:(i + 1) * 20]
        (d / f"crawl-{i:02d}.warc.gz").write_bytes(
            write_warc(part, gzip_records=True, chunked_frac=0.3,
                       gzip_body_frac=0.3, rng=rng))
    pages = read_warc(spark, str(d))
    got_pages = pages.toPandas()
    assert got_pages["error"].isna().all()
    assert len(got_pages) == 60
    empty = tmp_path / "empty"                 # a landing dir before data
    empty.mkdir()
    assert read_warc(spark, str(empty)).count() == 0
    docs = (extract_documents(pages.drop("error"))
            .select("url", "text").toPandas().set_index("url"))
    want = extract_corpus_golden(corpus).set_index("url")
    assert len(docs) == 60
    for url in want.index:
        assert docs.loc[url, "text"] == want.loc[url, "text"], url


def test_warc11_fractional_second_dates(corpus):
    """ADVICE r5: WARC 1.1 allows fractional seconds in WARC-Date
    ('2017-03-06T04:03:53.405Z'). A ValueError mid-walk used to trip the
    corrupt-tail salvage and silently drop every remaining record."""
    rows = _rows(corpus)[:4]
    blob = write_warc(rows, gzip_records=False)
    # rewrite every WARC-Date to the fractional form
    patched = re.sub(rb"(WARC-Date: \d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})Z",
                     rb"\g<1>.405Z", blob)
    assert patched != blob
    got = pages_from_warc_bytes(patched)
    ok = got[got.error.isna()] if "error" in got.columns else got
    assert len(ok) == len(rows)
    assert all(ts.microsecond == 405000 for ts in ok["warc_ts"])


def test_warc_offset_dates_normalize_to_naive_utc(corpus):
    """Review r6: '+HH:MM' offset dates must come back NAIVE UTC — a
    tz-aware value mixed with naive Z-dates fails the pandas→Arrow
    conversion outside the salvage path and kills the task."""
    rows = _rows(corpus)[:3]
    blob = write_warc(rows, gzip_records=False)
    patched = re.sub(rb"(WARC-Date: \d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})Z",
                     rb"\g<1>+02:00", blob)
    assert patched != blob
    got = pages_from_warc_bytes(patched)
    ok = got[got.error.isna()] if "error" in got.columns else got
    assert len(ok) == len(rows)
    assert all(ts.tzinfo is None for ts in ok["warc_ts"])
    # -2h vs the Z form (the offset was subtracted, not dropped)
    base = pages_from_warc_bytes(blob)
    assert all((b - a).total_seconds() == 7200
               for a, b in zip(ok["warc_ts"], base["warc_ts"]))


def test_stream_extract_warc_quality_gate(spark, tmp_path, corpus):
    """quality_gate=True inside the stream: a repetitive junk page comes
    out as a quality:<reason> error row (the quarantine idiom — never
    silently dropped from the effectively-once output), clean pages are
    untouched."""
    from findtextcenternet_spark.sources.warc import read_warc_stream
    from findtextcenternet_spark.streaming import stream_extract

    rows = _rows(corpus)[:8]
    junk_html = ("<html><body><div class=\"main_text\">"
                 + "spam ham " * 60 + "</div></body></html>").encode()
    rows.append({"url": "https://w.example.org/junk", "warc_ts": rows[0]["warc_ts"],
                 "html": junk_html, "text": "", "lang": "en"})
    land = tmp_path / "landing"
    land.mkdir()
    (land / "seg0.warc.gz").write_bytes(write_warc(rows))
    out, ckpt = str(tmp_path / "docs"), str(tmp_path / "ckpt")

    q = stream_extract(read_warc_stream(spark, str(land)), out, ckpt,
                       quality_gate=True)
    q.awaitTermination(240)
    got = spark.read.parquet(out).toPandas()
    # nothing vanishes: every input page is in the output exactly once
    assert len(got) == 9
    assert got["url"].nunique() == 9
    bad = got[got["error"].notna()].set_index("url")["error"].to_dict()
    assert bad["https://w.example.org/junk"] == "quality:too_repetitive"
    # CJK pages are NOT gated "too_short" (script-aware word floor) —
    # the two spaceless Japanese fixture pages survive the stream gate
    for u in ("https://site04.example.org/doc/1",
              "https://site02.example.org/doc/6"):
        assert u not in bad
    # stream gate == batch gate on the same docs (micro-batching is
    # invisible: the quarantine labels agree row for row)
    from findtextcenternet_spark.crawl import apply_quality_gate
    from findtextcenternet_spark.pipeline import extract_documents
    from findtextcenternet_spark.sources.warc import read_warc

    batch_docs = extract_documents(
        read_warc(spark, str(land)).drop("error"))
    want = {r["url"]: r["error"] for r in
            apply_quality_gate(batch_docs).select("url", "error")
            .collect() if r["error"] is not None}
    assert bad == want


_PKG = pathlib.Path(findtextcenternet_spark.__file__).parent
_RECORD_RULE = re.compile(
    r"""["']warc-type["']|split_http_response\(|decode_http_payload\("""
    r"""|except SALVAGE_ERRORS|format\(["']binaryFile["']\)""")


def test_only_warc_reads_records():
    """No module but ``sources/warc.py`` reads a record's ``warc-type``,
    splits/decodes an HTTP response, catches ``SALVAGE_ERRORS`` or reads
    ``binaryFile``: every archive walk goes through ``iter_responses``,
    the one record rule, every archive read through ``per_archive`` and
    every structural fault through ``salvage``."""
    hits = [f"{path.relative_to(_PKG)}:{n}"
            for path in sorted(_PKG.rglob("*.py"))
            if path.relative_to(_PKG).as_posix() != "sources/warc.py"
            for n, line in enumerate(path.read_text().splitlines(), 1)
            if _RECORD_RULE.search(line)]
    assert not hits, hits
