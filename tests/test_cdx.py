"""CDX index: offset math units + Spark build/publish/fetch parity."""

import base64
import gzip
import hashlib
import re

import pandas as pd
import pytest

from findtextcenternet_spark.corpus import generate_pages
from findtextcenternet_spark.sources.cdx import (
    CDX_SCHEMA,
    build_cdx,
    fetch_cdx_records,
    iter_cdx_entries,
    latest_unique_captures,
    read_cdxj,
    surt_key,
    write_cdxj,
)
from findtextcenternet_spark.sources.warc import (
    iter_responses,
    read_warc,
    write_warc,
)


@pytest.fixture(scope="module")
def corpus():
    return generate_pages(40)


def _rows(pdf: pd.DataFrame) -> list[dict]:
    return pdf.to_dict("records")


def test_surt_key():
    assert surt_key("https://www.Example.com/A?b=2&a=1") == \
        "com,example)/a?a=1&b=2"
    assert surt_key("http://sub.site.org:8080/p/q") == \
        "org,site,sub:8080/p/q".replace("/p/q", ")/p/q")
    assert surt_key("http://user@host.net:80/") == "net,host)/"
    assert surt_key("example.com") == "com,example)/"
    assert surt_key("https://example.com/p?a=1#frag") == \
        "com,example)/p?a=1"
    assert surt_key("https://example.com/p#frag") == "com,example)/p"


@pytest.mark.parametrize("gz", [True, False])
def test_entries_address_their_records(corpus, gz):
    """Every entry's (offset, length) slice decodes to exactly its
    record, and the digest is the payload's sha1-base32 — the contract a
    range fetch depends on."""
    import io

    rows = _rows(corpus.head(10))
    blob = write_warc(rows, gzip_records=gz)
    entries = iter_cdx_entries(blob, "fixture.warc")
    assert len(entries) == 10 and all(e["error"] is None for e in entries)
    for e, want in zip(entries, rows):
        raw = blob[e["offset"]:e["offset"] + e["length"]]
        if gz:
            raw = gzip.decompress(raw)
        recs = list(iter_responses(io.BytesIO(raw)))
        assert len(recs) == 1
        assert recs[0].url == want["url"] == e["url"]
        payload = recs[0].payload
        assert payload == bytes(want["html"])
        assert e["digest"] == \
            base64.b32encode(hashlib.sha1(payload).digest()).decode()
        assert e["urlkey"] == surt_key(want["url"])
        assert e["mime"] == "text/html" and e["status"] == 200


def test_whole_file_gzip_shares_one_slice(corpus):
    """An archive gzipped as ONE member (not member-per-record) indexes
    every record at the same slice; the fetch path filters inside it."""
    rows = _rows(corpus.head(6))
    blob = gzip.compress(write_warc(rows, gzip_records=False))
    entries = iter_cdx_entries(blob, "whole.warc.gz")
    assert len(entries) == 6
    assert {(e["offset"], e["length"]) for e in entries} == {(0, len(blob))}


def test_corrupt_tail_salvage(corpus):
    rows = _rows(corpus.head(5))
    blob = write_warc(rows, gzip_records=False) + b"WARC/1.0\r\nbroken"
    entries = iter_cdx_entries(blob, "bad.warc")
    good = [e for e in entries if e["error"] is None]
    bad = [e for e in entries if e["error"] is not None]
    assert len(good) == 5 and len(bad) == 1
    assert "salvaged 5" in bad[0]["error"]
    assert bad[0]["filename"] == "bad.warc"


def _fractional_dates(plain: bytes, gzip_records: bool) -> bytes:
    """A plain archive with every WARC-Date in the WARC 1.1
    fractional-second form ('...T04:03:53.405Z'), optionally re-gzipped
    one member per record (the Common Crawl layout)."""
    patched = re.sub(
        rb"(WARC-Date: \d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})Z",
        rb"\g<1>.405Z", plain)
    assert patched != plain
    if not gzip_records:
        return patched
    return b"".join(gzip.compress(rec) for rec in
                    re.split(rb"(?=WARC/1\.0\r\n)", patched) if rec)


def test_build_fetch_parity(spark, tmp_path, corpus):
    """Spark build over a directory == in-memory entries; a filtered
    fetch returns exactly the full-walk reader's rows for the records it
    fetches — fractional-second WARC 1.1 dates included, although the
    fetch matches captures at the index's second grain."""
    rows = _rows(corpus)
    (tmp_path / "a.warc.gz").write_bytes(_fractional_dates(
        write_warc(rows[:25], gzip_records=False), gzip_records=True))
    (tmp_path / "b.warc").write_bytes(_fractional_dates(
        write_warc(rows[25:], gzip_records=False), gzip_records=False))

    cdx = build_cdx(spark, str(tmp_path) + "/*.warc*")
    got = cdx.toPandas().sort_values("url").reset_index(drop=True)
    assert got["error"].isna().all() and len(got) == 40
    assert got["filename"].str.startswith("file:").all()

    # prune to ~half the index by urlkey prefix, fetch only those slices
    keys = sorted(got["urlkey"])
    cut = keys[len(keys) // 2]
    picked = cdx.filter(cdx.urlkey < cut)
    pages = fetch_cdx_records(spark, picked).toPandas()
    assert pages["error"].isna().all()
    want = {r["url"]: bytes(r["html"]) for r in rows
            if surt_key(r["url"]) < cut}
    assert {u: bytes(h) for u, h in zip(pages["url"], pages["html"])} \
        == want

    # and every fetched row IS the full walk's row for that record
    full = read_warc(spark, str(tmp_path) + "/*.warc*").toPandas()
    assert full["error"].isna().all() and len(full) == 40
    assert all(ts.microsecond == 405000 for ts in full["warc_ts"])
    cols = ["url", "warc_ts", "html", "lang"]
    walk = {r["url"]: r for r in full[cols].to_dict("records")}
    for r in pages[cols].to_dict("records"):
        w = walk[r["url"]]
        assert (r["warc_ts"], bytes(r["html"]), r["lang"]) == \
            (w["warc_ts"], bytes(w["html"]), w["lang"]), r["url"]


def test_latest_unique_captures(spark, tmp_path, corpus):
    """Re-captures of identical content collapse to the newest entry per
    digest before any archive byte is fetched."""
    import datetime as dt

    rows = _rows(corpus.head(8))
    later = []
    for r in rows[:3]:                   # re-capture 3 pages later,
        r2 = dict(r)                     # identical bytes
        r2["warc_ts"] = r["warc_ts"] + pd.Timedelta(days=30)
        later.append(r2)
    (tmp_path / "a.warc.gz").write_bytes(write_warc(rows))
    (tmp_path / "b.warc.gz").write_bytes(write_warc(later))

    cdx = build_cdx(spark, str(tmp_path) + "/*.warc.gz")
    assert cdx.count() == 11
    kept = latest_unique_captures(cdx).toPandas()
    assert len(kept) == 8                # one per distinct content
    by_url = kept.set_index("url")
    for r in rows[:3]:                   # the NEWER capture survives
        assert by_url.loc[r["url"], "warc_ts"].to_pydatetime() \
            == (r["warc_ts"] + pd.Timedelta(days=30)).to_pydatetime()
    # deduped index still fetches cleanly
    pages = fetch_cdx_records(
        spark, spark.createDataFrame(kept, CDX_SCHEMA)).toPandas()
    assert len(pages) == 8 and pages["error"].isna().all()
    # plan: one digest shuffle, no SinglePartition window
    phys = latest_unique_captures(cdx)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange SinglePartition" not in phys
    assert phys.count("Exchange hashpartitioning(digest") == 1


def test_fetch_offset_banding(spark, tmp_path, corpus):
    """A tiny band size forces one archive's slices across many bands
    (the hot-archive anti-straggler spread); the fetch stays complete
    and byte-identical — banding changes task assignment only."""
    rows = _rows(corpus)
    (tmp_path / "hot.warc.gz").write_bytes(write_warc(rows))
    cdx = build_cdx(spark, str(tmp_path / "hot.warc.gz"))
    # band ~= a few records wide
    pages = fetch_cdx_records(spark, cdx, band_bytes=2048).toPandas()
    assert pages["error"].isna().all()
    got = {u: bytes(h) for u, h in zip(pages["url"], pages["html"])}
    assert got == {r["url"]: bytes(r["html"]) for r in rows}
    # sanity: the fixture really spans multiple bands at this size
    offs = cdx.toPandas()["offset"]
    assert (offs // 2048).nunique() > 1


def test_fetch_plan_one_exchange_pruned(spark, tmp_path, corpus):
    """Plan gate: the fetch is ONE hash exchange on (filename, band) of
    a 4-column projection of the index — never the full 10-column index
    row, and never a second shuffle."""
    (tmp_path / "p.warc.gz").write_bytes(write_warc(_rows(corpus)[:5]))
    cdx = build_cdx(spark, str(tmp_path / "p.warc.gz"))
    df = fetch_cdx_records(spark, cdx)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert phys.count("Exchange hashpartitioning(filename") == 1, phys
    assert phys.count("Exchange") == 1, phys
    # the shuffle payload (the Project feeding the exchange / the fetch
    # kernel's input) carries only the 4 fetch columns — the index
    # kernel itself must emit all 10, so scope the check to those lines
    payload_lines = [ln for ln in phys.splitlines()
                     if "MapInPandas _fetch" in ln or
                     ("Project [" in ln and "url#" in ln)]
    assert payload_lines, phys
    for ln in payload_lines:
        for col in ("urlkey", "digest", "mime", "status"):
            assert col not in ln, f"unpruned index column {col} in:\n{ln}"


def test_cdxj_roundtrip_and_shard_ranges(spark, tmp_path, corpus):
    rows = _rows(corpus)
    src = tmp_path / "w"
    src.mkdir()
    (src / "a.warc.gz").write_bytes(write_warc(rows))
    cdx = build_cdx(spark, str(src))

    out = tmp_path / "idx"
    manifest = write_cdxj(cdx, str(out), num_shards=3).toPandas() \
        .sort_values("first_key").reset_index(drop=True)
    assert manifest["n_records"].sum() == 40
    assert all(p.endswith(".cdx.gz") for p in manifest["path"])
    # shards are globally range-disjoint and internally ordered
    for i in range(len(manifest) - 1):
        assert manifest.loc[i, "last_key"] <= manifest.loc[i + 1,
                                                           "first_key"]

    back = read_cdxj(spark, str(out)).toPandas()
    assert back["error"].isna().all()
    a = cdx.toPandas().drop(columns=["error"]) \
        .sort_values(["urlkey", "warc_ts"]).reset_index(drop=True)
    b = back.drop(columns=["error"]) \
        .sort_values(["urlkey", "warc_ts"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b.astype(a.dtypes.to_dict()))

    # retry idempotence: regenerating rewrites shards byte-identically
    before = {p.name: p.read_bytes() for p in out.glob("*.cdx.gz")}
    write_cdxj(cdx, str(out), num_shards=3).collect()
    after = {p.name: p.read_bytes() for p in out.glob("*.cdx.gz")}
    assert before == after


def test_fuzz_index_addresses_every_layout():
    """Property fuzz (no Spark): random corpora, random HTTP codings and
    mimes, all three storage layouts — every index entry's slice must
    decode to exactly its record with the right digest, and entry count
    must equal the response count."""
    import io

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(st.integers(0, 2**32 - 1), st.integers(1, 8),
           st.sampled_from(["member", "plain", "whole"]),
           st.floats(0, 1), st.floats(0, 1))
    def run(seed, n, layout, chunked, gzipped):
        rng = np.random.default_rng(seed)
        rows = _rows(generate_pages(n))
        mimes = ["text/html", "image/png", "application/pdf"]
        for r in rows:
            r["mime"] = mimes[int(rng.integers(0, 3))]
        blob = write_warc(rows, gzip_records=(layout == "member"),
                          chunked_frac=chunked, gzip_body_frac=gzipped,
                          rng=rng)
        if layout == "whole":
            blob = gzip.compress(blob)
        entries = iter_cdx_entries(blob, "fuzz.warc")
        assert all(e["error"] is None for e in entries)
        assert len(entries) == n
        for e, want in zip(entries, rows):
            raw = blob[e["offset"]:e["offset"] + e["length"]]
            if blob[:2] == b"\x1f\x8b":
                raw = gzip.decompress(raw)
            hits = [r for r in iter_responses(io.BytesIO(raw))
                    if r.url == want["url"]]
            assert len(hits) == 1
            payload = hits[0].payload
            assert payload == bytes(want["html"])
            assert e["digest"] == base64.b32encode(
                hashlib.sha1(payload).digest()).decode()
            assert e["mime"] == want["mime"]

    run()


def test_cli_index_then_extract(spark, tmp_path, corpus):
    """The corpus-scale two-phase CLI flow: --format warc --index walks
    the archives once and publishes the CDXJ index; --format cdx runs a
    mime-pruned, range-fetched lineage extraction FROM that index. The
    docs match extracting the html subset of the archives directly."""
    import json as _json

    from findtextcenternet_spark.__main__ import main
    from findtextcenternet_spark.pipeline import extract_documents

    rows = _rows(corpus)[:24]
    for i, r in enumerate(rows):
        if i % 4 == 3:
            r["mime"] = "application/javascript"
    d = tmp_path / "warcs"
    d.mkdir()
    (d / "a.warc.gz").write_bytes(write_warc(rows[:12]))
    (d / "b.warc.gz").write_bytes(write_warc(rows[12:]))

    idx_dir = tmp_path / "cdx"
    rc = main([str(d), str(idx_dir), "--format", "warc", "--index",
               "--partitions", "2"])
    assert rc == 0
    assert len(list(idx_dir.glob("*.cdx.gz"))) == 2

    out = tmp_path / "out"
    rc = main([str(idx_dir), str(out), "--format", "cdx",
               "--cdx-mime", "text/html", "--run-id", "r1"])
    assert rc == 0
    docs = spark.read.parquet(str(out / "docs")) \
        .filter("error is null").toPandas()
    want = extract_documents(
        read_warc(spark, str(d), content_types=("text/html",))
        .drop("error")).toPandas()
    a = docs.sort_values("url").reset_index(drop=True)
    b = want.sort_values("url").reset_index(drop=True)
    assert list(a["url"]) == list(b["url"]) and len(a) == 18
    assert list(a["text"]) == list(b["text"])

    # --cdx-dedup: re-running into a fresh out_dir after a re-crawl of
    # identical bytes extracts each distinct content once
    (d / "recrawl.warc.gz").write_bytes(write_warc(
        [{**rows[0], "warc_ts": rows[0]["warc_ts"]
          + pd.Timedelta(days=7)}]))
    idx2 = tmp_path / "cdx2"
    assert main([str(d), str(idx2), "--format", "warc", "--index"]) == 0
    out2 = tmp_path / "out2"
    rc = main([str(idx2), str(out2), "--format", "cdx",
               "--cdx-mime", "text/html", "--cdx-dedup",
               "--run-id", "r1"])
    assert rc == 0
    docs2 = spark.read.parquet(str(out2 / "docs")) \
        .filter("error is null").toPandas()
    assert len(docs2) == 18             # the re-capture collapsed


def test_prune_shards_unit():
    """Pure interval math on a synthetic manifest — no Spark, no files."""
    m = pd.DataFrame([
        {"path": "s0", "first_key": "com,a)/", "last_key": "com,m)/x"},
        {"path": "s1", "first_key": "com,m)/y", "last_key": "org,c)/"},
        {"path": "s2", "first_key": "org,d)/", "last_key": "org,z)/"},
    ])
    from findtextcenternet_spark.sources.cdx import prune_shards
    assert prune_shards(m, "com,b)") == ["s0"]
    assert prune_shards(m, "com,m)") == ["s0", "s1"]   # straddles
    assert prune_shards(m, "org,zz)") == []            # above all
    assert prune_shards(m, "aaa)") == []               # below all
    assert prune_shards(m, "") == ["s0", "s1", "s2"]   # match-all


def test_manifest_pruned_lookup(spark, tmp_path, corpus):
    """cluster.idx pattern: a host-prefix lookup opens only the shards
    whose key range can match, and returns the same rows as filtering
    the full index."""
    from findtextcenternet_spark.sources.cdx import (
        lookup_cdxj, prune_shards)

    rows = _rows(corpus)
    src = tmp_path / "w"
    src.mkdir()
    (src / "a.warc.gz").write_bytes(write_warc(rows))
    cdx = build_cdx(spark, str(src))
    out = tmp_path / "idx"
    manifest = write_cdxj(cdx, str(out), num_shards=4).toPandas()
    assert len(manifest) >= 3

    full = cdx.toPandas()
    prefix = sorted(full["urlkey"])[0].split(")")[0] + ")"  # one host
    pruned = prune_shards(manifest, prefix)
    # a host's keys are contiguous in the sort, so they straddle at
    # most one shard boundary
    assert 1 <= len(pruned) <= 2 < len(manifest)
    got = lookup_cdxj(spark, manifest, prefix).toPandas()
    assert got["error"].isna().all()
    want = full[full["urlkey"].str.startswith(prefix)]
    assert sorted(got["url"]) == sorted(want["url"]) and len(want) > 0
    # an impossible prefix prunes to zero shards and returns no rows
    # without touching storage
    assert prune_shards(manifest, chr(0x10FFFF)) == []
    assert lookup_cdxj(spark, manifest, chr(0x10FFFF)).count() == 0


def test_stream_index_warc_incremental(spark, tmp_path, corpus):
    """Streaming indexer: entries match the batch build, a restarted
    query indexes ONLY newly-landed archives, and a corrupt tail lands
    as an error row naming its archive instead of stalling the stream."""
    from findtextcenternet_spark.streaming import stream_index_warc

    rows = _rows(corpus)[:16]
    land = tmp_path / "landing"
    land.mkdir()
    (land / "seg0.warc.gz").write_bytes(write_warc(rows[:8]))
    out, ckpt = str(tmp_path / "idx"), str(tmp_path / "ckpt")

    q = stream_index_warc(spark, str(land), out, ckpt)
    q.awaitTermination(240)
    first = spark.read.parquet(out).toPandas()
    assert len(first) == 8 and first["error"].isna().all()

    (land / "seg1.warc.gz").write_bytes(write_warc(rows[8:]))
    (land / "seg2.warc").write_bytes(
        write_warc(rows[:2], gzip_records=False) + b"WARC/1.0\r\nbroken")
    q2 = stream_index_warc(spark, str(land), out, ckpt)
    q2.awaitTermination(240)
    allidx = spark.read.parquet(out).toPandas()
    good = allidx[allidx["error"].isna()]
    assert len(good) == 18              # 8 + 8 + 2 salvaged, no re-index
    bad = allidx[allidx["error"].notna()]
    assert len(bad) == 1 and bad.iloc[0]["filename"].endswith("seg2.warc")

    # the streamed table equals the batch build over the same archives
    batch = build_cdx(spark, str(land)).toPandas()
    key = ["urlkey", "warc_ts", "digest", "offset", "length", "filename"]
    a = good[key].sort_values(key).reset_index(drop=True)
    b = batch[batch["error"].isna()][key].sort_values(key) \
        .reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_index_pruned_extraction(spark, tmp_path, corpus):
    """The 100 TB flow in miniature: index once, prune by mime+key,
    range-fetch, extract — output matches extracting the full archive
    then filtering."""
    from findtextcenternet_spark.pipeline import extract_documents

    rows = _rows(corpus.head(20))
    for i, r in enumerate(rows):          # a third of the crawl is junk
        if i % 3 == 2:
            r["mime"] = "image/png"
    (tmp_path / "seg.warc.gz").write_bytes(write_warc(rows))

    cdx = build_cdx(spark, str(tmp_path / "seg.warc.gz"))
    picked = cdx.filter("mime = 'text/html'")
    pages = fetch_cdx_records(spark, picked)
    docs = extract_documents(pages.drop("error")).toPandas()

    all_pages = read_warc(spark, str(tmp_path / "seg.warc.gz"),
                          content_types=("text/html",))
    want = extract_documents(all_pages.drop("error")).toPandas()
    a = docs.sort_values("url").reset_index(drop=True)
    b = want.sort_values("url").reset_index(drop=True)
    assert list(a["url"]) == list(b["url"])
    assert list(a["text"]) == list(b["text"])


def test_surt_key_review_r6_edges():
    """Review r6: query before any path slash stays out of the host
    segment; spaces are %20-escaped (CDXJ lines are space-delimited)."""
    assert surt_key("https://example.com?a=1") == "com,example)/?a=1"
    assert surt_key("https://example.com/?a=1") == "com,example)/?a=1"
    assert surt_key("http://example.com/a b") == "com,example)/a%20b"


def test_zlib_corruption_salvaged(corpus):
    """Review r6: a bit-flipped gzip member raises zlib.error — it must
    land in the tail-salvage row, not escape and kill the task."""
    rows = _rows(corpus.head(8))
    blob = bytearray(write_warc(rows, gzip_records=True))
    # corrupt deflate data inside the LAST member (flip bytes near EOF,
    # clear of the 10-byte header of the first member)
    for i in range(len(blob) - 40, len(blob) - 20):
        blob[i] ^= 0xFF
    entries = iter_cdx_entries(bytes(blob), "bitflip.warc.gz")
    good = [e for e in entries if e["error"] is None]
    bad = [e for e in entries if e["error"] is not None]
    assert len(bad) == 1 and "salvaged" in bad[0]["error"]
    assert len(good) >= 1        # earlier members survived


def test_unsupported_content_encoding_is_record_level(spark, tmp_path,
                                                      corpus):
    """Review r6: a 'Content-Encoding: br' record must not poison the
    archive tail — it is indexed with the raw stored payload's digest
    and the walk continues to the records after it. The full walk and
    the index-driven fetch both give the six clean pages plus ONE error
    row under the br record's own url."""
    raw_payload = b"\x8b\x02\x80fake-brotli-bytes"
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Encoding: br\r\n\r\n" + raw_payload)
    rec = (b"WARC/1.0\r\n"
           b"WARC-Type: response\r\n"
           b"WARC-Date: 2026-03-01T00:00:00Z\r\n"
           b"WARC-Record-ID: <urn:uuid:br-1>\r\n"
           b"Content-Type: application/http; msgtype=response\r\n"
           b"WARC-Target-URI: http://br.example.org/x\r\n"
           b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
           + http + b"\r\n\r\n")
    before = _rows(corpus.head(3))
    after = _rows(corpus.iloc[3:6])
    blob = (write_warc(before, gzip_records=False) + rec
            + write_warc(after, gzip_records=False))
    entries = iter_cdx_entries(blob, "br.warc")
    assert all(e["error"] is None for e in entries)
    assert len(entries) == 7                  # 3 + br + 3: walk continued
    br = next(e for e in entries if e["url"] == "http://br.example.org/x")
    assert br["digest"] == base64.b32encode(
        hashlib.sha1(raw_payload).digest()).decode()

    (tmp_path / "br.warc").write_bytes(blob)
    want = {r["url"] for r in before + after}
    walk = read_warc(spark, str(tmp_path / "br.warc")).toPandas()
    fetched = fetch_cdx_records(
        spark, build_cdx(spark, str(tmp_path / "br.warc"))).toPandas()
    for got in (walk, fetched):
        ok, bad = got[got["error"].isna()], got[got["error"].notna()]
        assert set(ok["url"]) == want and len(ok) == 6
        assert list(bad["url"]) == ["http://br.example.org/x"]
        assert "Content-Encoding 'br'" in bad.iloc[0]["error"]
        assert bad.iloc[0]["html"] is None

    # the extraction's quarantine row keeps the reader's error text
    from findtextcenternet_spark.pipeline import extract_documents
    from findtextcenternet_spark.sources import read_pages

    write_cdxj(build_cdx(spark, str(tmp_path / "br.warc")),
               str(tmp_path / "cdx")).collect()
    docs = extract_documents(
        read_pages(spark, str(tmp_path / "cdx"), "cdx")).toPandas()
    quar = docs[docs["error"].notna()]
    assert list(quar["url"]) == ["http://br.example.org/x"]
    assert "Content-Encoding 'br'" in quar.iloc[0]["error"]


def test_read_cdxj_truncated_shard_salvages(spark, tmp_path, corpus):
    """Review r6: a truncated .cdx.gz shard yields an error row, not a
    task failure (decompression now inside the salvage try)."""
    rows = _rows(corpus.head(10))
    warc_path = tmp_path / "a.warc.gz"
    warc_path.write_bytes(write_warc(rows))
    man = write_cdxj(build_cdx(spark, str(warc_path)),
                     str(tmp_path / "cdx")).collect()
    shard = man[0].path
    data = open(shard, "rb").read()
    open(shard, "wb").write(data[:len(data) // 2])     # truncate
    out = read_cdxj(spark, shard).toPandas()
    errs = out[out.error.notna()]
    assert len(errs) == 1 and "cdxj" in errs.iloc[0]["error"]


def test_fetch_shared_slice_filters_by_capture(spark, tmp_path, corpus):
    """Review r6: a whole-file-gzip archive holds TWO captures of one
    url in one shared slice; fetching only the newer index entry must
    return exactly that capture, not both."""
    import datetime as dt

    rows = _rows(corpus.head(3))
    dup = dict(rows[0])
    dup["warc_ts"] = rows[0]["warc_ts"] + pd.Timedelta(hours=2)
    dup["text"] = rows[0]["text"] + " newer"
    dup["html"] = rows[0]["html"] + b" newer"
    all_rows = rows + [dup]
    blob = gzip.compress(write_warc(all_rows, gzip_records=False))
    warc_path = tmp_path / "whole.warc.gz"
    warc_path.write_bytes(blob)
    cdx = build_cdx(spark, str(warc_path))
    assert cdx.filter(cdx.error.isNull()).count() == 4
    newest = latest_unique_captures(cdx).filter(
        cdx.url == rows[0]["url"])
    # two distinct digests for the url -> both kept by digest dedup;
    # fetch only the NEWER capture's entry
    import pyspark.sql.functions as F

    newer_entry = (cdx.filter(cdx.error.isNull())
                   .filter(cdx.url == rows[0]["url"])
                   .orderBy(F.col("warc_ts").desc()).limit(1))
    got = fetch_cdx_records(spark, newer_entry).toPandas()
    got = got[got.error.isna()]
    assert len(got) == 1
    assert bytes(got.iloc[0]["html"]).endswith(b" newer")


def test_warc_datasource_empty_dir(spark, tmp_path):
    """Reading or indexing an empty landing dir returns an empty frame,
    not an error."""
    d = tmp_path / "empty"
    d.mkdir()
    assert read_warc(spark, str(d)).count() == 0
    assert build_cdx(spark, str(d)).count() == 0


def test_diff_cdx_snapshots(spark):
    """Incremental-crawl planner: new/changed/unchanged/gone per urlkey,
    judged on the NEWEST capture per url in each snapshot."""
    import datetime as dt

    from findtextcenternet_spark.sources.cdx import diff_cdx_snapshots

    def row(urlkey, ts_day, digest):
        return (urlkey, dt.datetime(2026, 8, ts_day), "https://" + urlkey,
                "text/html", 200, digest, 10, 0, "x.warc.gz", None)

    old = spark.createDataFrame([
        row("a/", 1, "d1"),
        row("b/", 1, "d2"),
        row("c/", 1, "dOLD"), row("c/", 2, "d3"),   # newest old c/ is d3
    ], CDX_SCHEMA)
    new = spark.createDataFrame([
        row("b/", 9, "d2"),                          # same digest
        row("c/", 9, "d4"),                          # digest moved
        row("d/", 9, "d5"),                          # first seen
    ], CDX_SCHEMA)

    got = {r.urlkey: (r.status, r.old_digest, r.new_digest)
           for r in diff_cdx_snapshots(old, new).collect()}
    assert got == {
        "a/": ("gone", "d1", None),
        "b/": ("unchanged", "d2", "d2"),
        "c/": ("changed", "d3", "d4"),
        "d/": ("new", None, "d5"),
    }
    # the fetch set for the re-crawl is exactly the changed tail
    fetch = (diff_cdx_snapshots(old, new)
             .filter("status IN ('new', 'changed')"))
    assert sorted(r.urlkey for r in fetch.collect()) == ["c/", "d/"]
