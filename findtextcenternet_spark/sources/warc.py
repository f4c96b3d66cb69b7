"""WARC source — ingest Common-Crawl-style archives (north rule: the
input is an Iceberg table of Common-Crawl-style web pages; this source
is the step that PRODUCES that table from the crawl's native format).

Layout mirrors how production Spark pipelines process Common Crawl: one
~1 GB ``.warc.gz`` file per task via ``spark.read.format("binaryFile")``
(file = partition; 100 TB = ~100k files = ~100k tasks, far above any
executor count, so the stage load-balances itself), a ``mapInPandas``
kernel that walks each archive's records incrementally (GzipFile
streams the per-record gzip members — the archive is never materialized
decompressed), and a standard pages-schema output that feeds straight
into ``pipeline.extract_documents`` or the lineage runner.
``binaryFile`` hands each archive to its task as ONE binary cell, so an
archive must fit in task memory and under Arrow's 2 GB cell limit.

Format coverage (ISO 28500 / WARC 1.0, and RFC 9112 for the embedded
HTTP):

* plain ``.warc`` and ``.warc.gz`` (member-per-record, the Common Crawl
  shape; GzipFile consumes concatenated members transparently);
* only ``WARC-Type: response`` records carrying ``application/http``
  payloads yield rows — warcinfo/request/metadata records are skipped;
* chunked transfer-encoding is de-chunked, gzip/deflate
  Content-Encoding is decompressed;
* ``WARC-Target-URI`` → ``url``, ``WARC-Date`` (ISO 8601) → ``warc_ts``,
  decoded HTTP body → ``html``.

One seam serves every archive read (the pages walk and the WET reader
here, the CDX index, CDXJ reader and range fetch in ``cdx.py``):

* :func:`per_archive` — the one-archive-per-task loop over a
  ``binaryFile`` frame (:func:`archive_files`, :func:`archive_stream`);
* :func:`iter_responses` — the one record rule: a record whose payload
  cannot be decoded is a RECORD-level outcome (an error row under its
  own url; the walk goes on);
* :func:`salvage` — the one structural-fault rule: a corrupt record
  poisons only its FILE TAIL, not the task: the walk stops at the first
  unparseable record and reports the rows salvaged before it plus one
  ``error`` marker row, matching the pipeline's row-level quarantine
  convention.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import io
import zlib
from functools import partial
from typing import Iterator, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import PAGES_ERROR_SCHEMA

_PAGES_COLS = PAGES_ERROR_SCHEMA.fieldNames()

# what ends a walk in :func:`salvage` (and marks an undecodable payload
# in :func:`iter_responses`): zlib.error is NOT a ValueError/OSError —
# omitting it lets mid-member deflate corruption escape the salvage and
# kill the whole Spark task; UnicodeDecodeError is a ValueError
SALVAGE_ERRORS = (ValueError, KeyError, OSError, EOFError, zlib.error)


def _read_headers(fp) -> dict[str, str] | None:
    """One CRLF-terminated header block → dict (first line under
    ``_proto``). Returns None at clean EOF."""
    line = fp.readline()
    while line in (b"\r\n", b"\n"):          # skip inter-record blank lines
        line = fp.readline()
    if not line:
        return None
    headers = {"_proto": line.strip().decode("latin-1")}
    while True:
        line = fp.readline()
        if not line:
            raise ValueError("WARC header block truncated")
        if line in (b"\r\n", b"\n"):
            return headers
        if b":" not in line:
            raise ValueError(f"malformed WARC header line {line[:60]!r}")
        k, v = line.split(b":", 1)
        headers[k.strip().decode("latin-1").lower()] = \
            v.strip().decode("latin-1")


def iter_warc_records(fp) -> Iterator[tuple[dict, bytes]]:
    """Incrementally yield (headers, body) from a WARC byte stream."""
    while True:
        headers = _read_headers(fp)
        if headers is None:
            return
        if not headers["_proto"].startswith("WARC/"):
            raise ValueError(f"not a WARC record: {headers['_proto']!r}")
        n = int(headers["content-length"])
        body = fp.read(n)
        if len(body) != n:
            raise ValueError("WARC record body truncated")
        yield headers, body


def _dechunk(body: bytes) -> bytes:
    """Reverse HTTP/1.1 chunked transfer coding (RFC 9112 §7.1)."""
    out = bytearray()
    pos = 0
    while True:
        eol = body.index(b"\r\n", pos)
        size = int(body[pos:eol].split(b";")[0], 16)   # ignore extensions
        if size == 0:
            return bytes(out)
        out += body[eol + 2:eol + 2 + size]
        pos = eol + 2 + size + 2                       # skip chunk CRLF


def split_http_response(body: bytes) -> tuple[dict[str, str], bytes]:
    """(headers, RAW still-encoded payload) — header parse only, so
    callers filtering on Content-Type can discard a record WITHOUT
    paying its de-chunk/gunzip cost (on a real crawl that is most of
    the bytes)."""
    sep = body.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("HTTP response has no header terminator")
    headers: dict[str, str] = {}
    lines = body[:sep].split(b"\r\n")
    headers["_status"] = lines[0].decode("latin-1")
    for line in lines[1:]:
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().decode("latin-1").lower()] = \
                v.strip().decode("latin-1")
    return headers, body[sep + 4:]


def decode_http_payload(headers: dict[str, str], payload: bytes) -> bytes:
    """De-chunk, then reverse Content-Encoding."""
    if "chunked" in headers.get("transfer-encoding", "").lower():
        payload = _dechunk(payload)
    enc = headers.get("content-encoding", "").lower()
    if enc == "gzip":
        payload = gzip.decompress(payload)
    elif enc == "deflate":
        try:
            payload = zlib.decompress(payload)
        except zlib.error:                     # raw-deflate servers
            payload = zlib.decompress(payload, -zlib.MAX_WBITS)
    elif enc and enc != "identity":
        raise ValueError(f"unsupported Content-Encoding {enc!r}")
    return payload


def _parse_warc_date(s: str) -> dt.datetime:
    """WARC 1.0 dates are second-grain; WARC 1.1 permits fractional
    seconds ('2017-03-06T04:03:53.405Z'). Accept both — a ValueError
    here would trip the corrupt-tail salvage and silently drop every
    remaining record in the archive."""
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            return dt.datetime.strptime(s, fmt)
        except ValueError:
            continue
    # offset forms ('+00:00'): normalize to NAIVE UTC — a tz-aware value
    # mixed with the naive Z-dates would fail the pandas→Arrow conversion
    # outside the salvage try/except and kill the whole task
    parsed = dt.datetime.fromisoformat(s.rstrip("Z"))
    if parsed.tzinfo is not None:
        parsed = parsed.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return parsed


class Response(NamedTuple):
    """One HTTP response record, as every archive walk sees it."""
    url: str
    warc_ts: dt.datetime
    http: dict[str, str]      # HTTP headers; status line under ``_status``
    raw: bytes                # payload as stored (transfer/content-coded)
    payload: bytes | None     # decoded payload; None if it cannot be decoded
    error: str | None         # why the payload could not be decoded

    def page_row(self) -> dict:
        """This record's pages row: clean, or an error row (null html)
        under the record's own url, which the extraction quarantines."""
        return {"url": self.url, "warc_ts": self.warc_ts,
                "html": self.payload, "text": None, "lang": "",
                "error": self.error}


def iter_responses(fp, content_types: tuple[str, ...] | None = None
                   ) -> Iterator[Response]:
    """The record rule every archive walk consumes (the pages walk, the
    CDX index and the CDX fetch): the ``WARC-Type: response`` records
    carrying ``application/http`` of a WARC byte stream, as
    :class:`Response`.

    ``content_types``: optional HTTP Content-Type prefixes to keep (a
    real crawl archive interleaves html with images/scripts/fonts). The
    filter reads the HTTP headers only, so a filtered-out record's
    payload is never de-chunked or gunzipped. A payload that cannot be
    decoded (``Content-Encoding: br``, a corrupt body gzip) is a
    record-level outcome: the record comes back with ``payload`` None
    and ``error`` set, and the walk goes on. Structural corruption (a
    broken WARC or HTTP header block, a truncated record, a bad date)
    raises one of :data:`SALVAGE_ERRORS` and ends the walk."""
    for headers, body in iter_warc_records(fp):
        if headers.get("warc-type") != "response" \
                or "application/http" not in headers.get("content-type", ""):
            continue
        http, raw = split_http_response(body)
        if content_types is not None:
            ct = http.get("content-type", "").lower()
            if not any(ct.startswith(p) for p in content_types):
                continue
        url = headers.get("warc-target-uri", "")
        ts = _parse_warc_date(headers["warc-date"])
        try:
            payload, error = decode_http_payload(http, raw), None
        except SALVAGE_ERRORS as exc:
            payload, error = None, f"warc: {type(exc).__name__}: {exc}"
        yield Response(url, ts, http, raw, payload, error)


def _open_archive(blob: bytes):
    """Plain or gzip archive bytes → a stream of its WARC records."""
    raw = io.BytesIO(blob)
    return gzip.GzipFile(fileobj=raw) if blob[:2] == b"\x1f\x8b" \
        else io.BufferedReader(raw)


def salvage(rows: Iterator[dict], columns: list[str], marker: dict,
            tag: str) -> list[dict]:
    """The one structural-fault salvage rule: walk ``rows`` until one of
    :data:`SALVAGE_ERRORS` ends it, then append ONE error row — null in
    every column, overlaid with ``marker`` (the per-archive key) and an
    ``error`` that carries the salvage count. So a corrupt archive tail
    never fails the Spark task: the rows before it survive and the
    quarantine names the archive. Every column is set explicitly: a
    missing one would come back NaN, which Arrow will not cast to a
    timestamp."""
    out: list[dict] = []
    try:
        for row in rows:
            out.append(row)
    except SALVAGE_ERRORS as exc:
        out.append({**dict.fromkeys(columns), **marker,
                    "error": f"{tag}: {type(exc).__name__}: {exc} "
                             f"(salvaged {len(out)} rows)"})
    return out


def pages_from_warc_bytes(blob: bytes, source: str = "",
                          content_types: tuple[str, ...] | None = None,
                          ) -> pd.DataFrame:
    """One WARC archive (plain or gzip) → pages rows, one per
    :func:`iter_responses` record (``content_types`` filters there,
    before the rows enter the Arrow exchange). Corruption stops the walk
    (:func:`salvage`). The error row's url is
    ``warc:tail-error:<source>`` — a stable per-archive key, so the
    lineage quarantine records WHICH archive to re-fetch and a re-run
    over a repaired archive still extracts its pages (their own urls are
    not in the done-set)."""
    rows = (r.page_row()
            for r in iter_responses(_open_archive(blob), content_types))
    return pd.DataFrame(
        salvage(rows, _PAGES_COLS,
                {"url": f"warc:tail-error:{source}", "lang": ""}, "warc"),
        columns=_PAGES_COLS)


def per_archive(files: DataFrame, parse, schema) -> DataFrame:
    """The one-archive-per-task loop every archive reader shares: each
    ``(path, content)`` row of a ``binaryFile`` frame
    (:func:`archive_files` or :func:`archive_stream`) is one archive, and
    ``parse(blob, path)`` turns it into one pandas frame of ``schema``."""
    def _parse(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for src, blob in zip(pdf["path"], pdf["content"]):
                yield parse(bytes(blob), str(src))
    return files.select("path", "content").mapInPandas(_parse, schema)


def archive_files(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """The archives at ``path`` (a file, dir, glob or list), one
    ``binaryFile`` row each: one archive is one task, the right grain for
    ~1 GB crawl files (Common Crawl's own Spark examples use the same
    file-per-task layout)."""
    return spark.read.format("binaryFile").load(path)


def read_warc(spark: SparkSession, path: str,
              content_types: tuple[str, ...] | None = None) -> DataFrame:
    """WARC files → pages DataFrame (standard corpus schema + ``error``).

    One archive per task (:func:`per_archive`); the record walk streams
    the gzip members, so peak memory is the compressed file + one record.
    ``content_types`` (e.g. ``("text/html",)``) drops non-matching HTTP
    payloads inside the record walk — in a real crawl archive that is
    most of the bytes, filtered before they ever cross into Arrow."""
    return per_archive(archive_files(spark, path),
                       partial(pages_from_warc_bytes,
                               content_types=content_types),
                       PAGES_ERROR_SCHEMA)


_BINARYFILE_SCHEMA = ("path string, modificationTime timestamp, "
                      "length long, content binary")

# newly-landed archives one micro-batch takes at most: a few ~1 GB crawl
# files, so trigger latency stays flat as the landing dir grows
_FILES_PER_TRIGGER = 4


def archive_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """Stream of the ``*.warc*`` archives landing in ``input_dir`` (the
    shape of a live Common Crawl segment drop), at most
    ``_FILES_PER_TRIGGER`` archives a micro-batch. ``binaryFile`` is a
    file-format source, so the standard file-stream machinery applies —
    the checkpoint's file log records which archives each micro-batch
    consumed, and a restarted query resumes after the last committed
    archive. One archive = one task, the batch readers' grain."""
    return (spark.readStream.format("binaryFile")
            .schema(_BINARYFILE_SCHEMA)
            .option("pathGlobFilter", "*.warc*")
            .option("maxFilesPerTrigger", str(_FILES_PER_TRIGGER))
            .load(input_dir))


def read_warc_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming twin of :func:`read_warc`: tail a crawl landing directory
    (:func:`archive_stream`) as new ``.warc``/``.warc.gz`` archives
    arrive."""
    return per_archive(archive_stream(spark, input_dir),
                       pages_from_warc_bytes, PAGES_ERROR_SCHEMA)


# --- WET sink/source (crawl-native extracted-text archives) ----------------

_WET_MANIFEST = "path string, n_records long, bytes long"


def _wet_record(url: str, ts, text: str) -> bytes:
    """One WARC/1.0 ``conversion`` record (the WET shape: plain-text body,
    no HTTP envelope), gzip-compressed as its own member — Common Crawl's
    member-per-record layout, so readers can stream records without
    decompressing the whole shard."""
    body = text.encode("utf-8")
    when = dt.datetime(1970, 1, 1) if ts is None or pd.isna(ts) else ts
    hdr = [b"WARC/1.0",
           b"WARC-Type: conversion",
           b"WARC-Target-URI: " + url.encode(),
           b"WARC-Date: " + when.strftime("%Y-%m-%dT%H:%M:%SZ").encode(),
           # stable digest, not hash(): PYTHONHASHSEED varies per worker,
           # and retried tasks must rewrite their shard byte-identically
           b"WARC-Record-ID: <urn:uuid:" +
           hashlib.md5(b"wet:" + url.encode()).hexdigest().encode() + b">",
           b"Content-Type: text/plain",
           b"Content-Length: " + str(len(body)).encode()]
    # mtime=0: the gzip header must not embed wall-clock time, or a
    # retried task's shard would differ byte-wise from the original
    return gzip.compress(b"\r\n".join(hdr) + b"\r\n\r\n" + body + b"\r\n\r\n",
                         mtime=0)


def write_wet(docs: DataFrame, out_dir: str) -> DataFrame:
    """Extracted docs → ``.warc.wet.gz`` shards (the format Common Crawl
    itself publishes extracted text in), one shard per partition, named by
    partition id. Returns the shard manifest (path, n_records, bytes) —
    the ACTION is the returned DataFrame's evaluation, so callers collect
    or write the manifest to run the sink.

    Scale shape: one output file per input partition with no extra
    shuffle — size shards by ``repartition(n)`` upstream (at 100 TB,
    target ~1 GB per shard like the crawl's own segments). Task retries
    are safe: the shard name is a pure function of the partition id and
    the write goes through ``fsutil.write_shard`` (local: tmpfile +
    atomic rename; object-store URI: single idempotent PUT), so a
    speculative or retried task overwrites its own output
    byte-identically and out_dir may live on any pyarrow filesystem."""
    from . import fsutil

    def _write(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        blobs: list[bytes] = []
        n = 0
        for pdf in it:
            for url, ts, text in zip(pdf["url"], pdf["warc_ts"],
                                     pdf["text"]):
                if text is None:
                    continue
                blobs.append(_wet_record(str(url), ts, str(text)))
                n += 1
        if n == 0:                       # empty partition -> no shard
            return
        out = fsutil.join(out_dir, f"part-{pid:05d}.warc.wet.gz")
        data = b"".join(blobs)
        fsutil.write_shard(out, data)
        yield pd.DataFrame([{"path": out, "n_records": n,
                             "bytes": len(data)}])

    fsutil.makedirs(out_dir)
    from pyspark.sql import functions as F

    # the extraction output drops warc_ts (it's input metadata); records
    # then carry the epoch sentinel date
    ts = (F.col("warc_ts") if "warc_ts" in docs.columns
          else F.lit(None).cast("timestamp").alias("warc_ts"))
    return (docs.select("url", ts, "text")
            .mapInPandas(_write, _WET_MANIFEST))


_WET_COLS = ["url", "warc_ts", "text", "error"]


def _wet_frame(blob: bytes, source: str) -> pd.DataFrame:
    def rows() -> Iterator[dict]:
        for headers, body in iter_warc_records(_open_archive(blob)):
            if headers.get("warc-type") != "conversion":
                continue
            yield {"url": headers.get("warc-target-uri", ""),
                   "warc_ts": _parse_warc_date(headers["warc-date"]),
                   "text": body.decode("utf-8"), "error": None}
    return pd.DataFrame(
        salvage(rows(), _WET_COLS, {"url": f"wet:tail-error:{source}"},
                "wet"),
        columns=_WET_COLS)


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """WET shards → (url, warc_ts, text) DataFrame. Same file-per-task
    grain and corrupt-tail salvage contract as :func:`read_warc`, reading
    ``conversion`` records instead of HTTP responses."""
    return per_archive(archive_files(spark, path), _wet_frame,
                       "url string, warc_ts timestamp, text string, "
                       "error string")


# --- fixture writer (inverse of the parser) --------------------------------

def write_warc(rows: list[dict], gzip_records: bool = True,
               chunked_frac: float = 0.0, gzip_body_frac: float = 0.0,
               rng=None) -> bytes:
    """Corpus rows → a valid WARC/1.0 archive: a warcinfo record, then a
    request record (must be skipped) and a response record per row.
    ``chunked_frac``/``gzip_body_frac`` apply those HTTP codings to a
    fraction of responses (drawn from ``rng``) to exercise the decode
    paths."""
    def record(rtype: str, uri: str | None, ts, body: bytes,
               ctype: str) -> bytes:
        hdr = [b"WARC/1.0",
               b"WARC-Type: " + rtype.encode(),
               b"WARC-Date: " + ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode(),
               b"WARC-Record-ID: <urn:uuid:%d>" % abs(hash((rtype, uri))),
               b"Content-Type: " + ctype.encode(),
               b"Content-Length: " + str(len(body)).encode()]
        if uri:
            hdr.append(b"WARC-Target-URI: " + uri.encode())
        rec = b"\r\n".join(hdr) + b"\r\n\r\n" + body + b"\r\n\r\n"
        return gzip.compress(rec) if gzip_records else rec

    out = bytearray()
    ts0 = dt.datetime(2024, 1, 1)
    out += record("warcinfo", None, ts0, b"software: fixture-writer\r\n",
                  "application/warc-fields")
    for row in rows:
        ts = row["warc_ts"].to_pydatetime() \
            if hasattr(row["warc_ts"], "to_pydatetime") else row["warc_ts"]
        out += record("request", row["url"], ts,
                      b"GET / HTTP/1.1\r\nHost: x\r\n\r\n",
                      "application/http; msgtype=request")
        payload = bytes(row["html"])
        # a real crawl interleaves html with images/css/js — rows may
        # carry a "mime" key to exercise the content-type filter
        mime = row.get("mime", "text/html")
        http_hdr = [b"HTTP/1.1 200 OK",
                    b"Content-Type: " + mime.encode()]
        if rng is not None and rng.random() < gzip_body_frac:
            payload = gzip.compress(payload)
            http_hdr.append(b"Content-Encoding: gzip")
        if rng is not None and rng.random() < chunked_frac:
            chunks = bytearray()
            for i in range(0, len(payload), 777):
                part = payload[i:i + 777]
                chunks += b"%x\r\n" % len(part) + part + b"\r\n"
            chunks += b"0\r\n\r\n"
            payload = bytes(chunks)
            http_hdr.append(b"Transfer-Encoding: chunked")
        else:
            http_hdr.append(b"Content-Length: %d" % len(payload))
        body = b"\r\n".join(http_hdr) + b"\r\n\r\n" + payload
        out += record("response", row["url"], ts, body,
                      "application/http; msgtype=response")
    return bytes(out)
