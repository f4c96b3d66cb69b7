"""CDX index over WARC archives — the crawl's own lookup structure.

At 10^12 documents you cannot re-walk every archive to find the pages a
job needs; Common Crawl publishes a CDX(J) index instead: one line per
captured url carrying ``(urlkey, timestamp, url, mime, status, digest,
length, offset, filename)``, where ``offset``/``length`` address the
record's own gzip member inside the ``.warc.gz``, so a reader fetches
ONE record with a byte-range request and decompresses just that member.
This module builds, publishes, reads, and consumes that index with
Spark-native grain:

* :func:`build_cdx` — one task per archive (``warc.per_archive``, the
  same grain as the WARC source); the record walk tracks compressed
  member offsets, so the index it emits supports range fetches. Corrupt
  archive tails follow the source's salvage rule (``warc.salvage``: good
  entries survive, one error row names the archive).
* :func:`write_cdxj` / :func:`read_cdxj` — publish the index in the
  crawl's CDXJ text format, range-partitioned by ``urlkey`` and sorted
  within each shard, with a shard manifest carrying first/last keys
  (Common Crawl's ``cluster.idx`` pattern) so lookups prune shards
  without opening them.
* :func:`fetch_cdx_records` — the payoff: given index rows (typically
  after a urlkey-prefix / mime / status filter), fetch exactly those
  records. Rows are shuffled to their archive (one open per file per
  task), slices are seek+read — on an object store this is the S3
  range-request pattern; the archive's other 99% of bytes never move.

Reference parity note: the reference repo processes one local image set
per invocation (no index; see README.en.md workflow) — the CDX layer is
part of the corpus-scale plumbing the north rule adds on top.
"""

from __future__ import annotations

import base64
import datetime as dt
import gzip
import hashlib
import io
import json
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import PAGES_ERROR_SCHEMA, fsutil
from .fsutil import open_binary
from .warc import (
    _PAGES_COLS,
    archive_files,
    archive_stream,
    iter_responses,
    iter_warc_records,
    per_archive,
    salvage,
)

CDX_SCHEMA = ("urlkey string, warc_ts timestamp, url string, mime string, "
              "status int, digest string, length bigint, offset bigint, "
              "filename string, error string")

_CDX_COLS = ["urlkey", "warc_ts", "url", "mime", "status", "digest",
             "length", "offset", "filename", "error"]


def surt_key(url: str) -> str:
    """Simplified SURT canonical key (the index's sort order): lowercase,
    scheme and userinfo dropped, host reversed comma-joined with a
    leading ``www.`` stripped, default ports dropped, query params
    sorted, fragment dropped — ``https://www.Example.com/A?b=2&a=1#s`` →
    ``com,example)/a?a=1&b=2``. Deterministic string math only, so the
    same url always lands in the same index shard."""
    u = url.strip().split("#", 1)[0]
    rest = u.split("://", 1)[1] if "://" in u else u
    # the query can start BEFORE any path slash ('example.com?a=1') —
    # cut it off first so it never leaks into the host segment
    pre, _, query = rest.partition("?")
    hostport, _, path = pre.partition("/")
    host = hostport.rsplit("@", 1)[-1]
    port = ""
    if ":" in host:
        host, port = host.rsplit(":", 1)
    host = host.lower().rstrip(".")
    if host.startswith("www."):
        host = host[4:]
    key = ",".join(reversed(host.split(".")))
    if port and port not in ("80", "443"):
        key += ":" + port
    out = key + ")/" + path.lower()
    if query:
        out += "?" + "&".join(sorted(query.lower().split("&")))
    # CDXJ lines are space-delimited: a raw space in the key would shift
    # every later field on read-back
    return out.replace(" ", "%20")


def _iter_gzip_members(blob: bytes) -> Iterator[tuple[int, int, bytes]]:
    """(offset, compressed_length, decompressed_bytes) per gzip member.
    GzipFile hides member boundaries; decompressobj(wbits=31) stops at
    each member's end and reports the leftover via ``unused_data``, which
    is exactly the boundary the CDX offset must record."""
    # feed the decompressor fixed-size windows of a memoryview — slicing
    # the whole remaining tail per member would be O(members × filesize)
    # memcpy on member-per-record archives (the Common Crawl shape)
    view = memoryview(blob)
    pos, n = 0, len(blob)
    chunk_sz = 1 << 20
    while pos < n:
        d = zlib.decompressobj(31)
        parts: list[bytes] = []
        p = pos
        while not d.eof:
            if p >= n:
                raise ValueError("truncated gzip member")
            window = view[p:p + chunk_sz]
            parts.append(d.decompress(window))
            p += len(window)
        consumed = (p - pos) - len(d.unused_data)
        yield pos, consumed, b"".join(parts)
        pos += consumed


def _iter_slices(blob: bytes) -> Iterator[tuple[int, int, bytes]]:
    """(offset, length, record bytes) slices of one archive. Gzip
    archives slice at member boundaries (the Common Crawl layout puts one
    record per member; a whole-file-gzip archive yields one big slice —
    entries then share it, documented in :func:`iter_cdx_entries`).
    Plain archives slice at record boundaries by re-serializing each
    record's span from its parsed length."""
    if blob[:2] == b"\x1f\x8b":
        yield from _iter_gzip_members(blob)
        return
    fp = io.BytesIO(blob)
    while True:
        # skip inter-record blank lines, remembering the record start
        while True:
            start = fp.tell()
            line = fp.readline()
            if line not in (b"\r\n", b"\n"):
                break
        if not line:
            return
        fp.seek(start)
        one = iter_warc_records(fp)
        try:
            next(one)
        except StopIteration:
            return
        end = fp.tell()
        yield start, end - start, blob[start:end]


def iter_cdx_entries(blob: bytes, filename: str) -> list[dict]:
    """One archive → CDX entries for its HTTP response records
    (``warc.iter_responses``). The digest is the sha1-base32 of the
    decoded payload (Common Crawl's convention); a payload that cannot be
    decoded (e.g. ``Content-Encoding: br``) is indexed with the digest of
    the raw stored payload. ``offset``/``length`` address the record's
    slice of the archive as stored (compressed member for
    ``.warc.gz``). When a slice holds several records (whole-file gzip),
    its entries share the slice address and :func:`fetch_cdx_records`
    filters inside it — same result, coarser fetch grain. Corrupt tails
    stop the walk (``warc.salvage``): the salvaged entries are returned
    plus one error row naming the archive (``cdx:tail-error:<filename>``),
    mirroring the WARC source."""
    def rows() -> Iterator[dict]:
        for offset, length, rec_bytes in _iter_slices(blob):
            for r in iter_responses(io.BytesIO(rec_bytes)):
                status_line = r.http.get("_status", "").split()
                yield {
                    "urlkey": surt_key(r.url),
                    "warc_ts": r.warc_ts,
                    "url": r.url,
                    "mime": r.http.get("content-type", "")
                            .split(";")[0].strip().lower(),
                    "status": int(status_line[1])
                              if len(status_line) > 1
                              and status_line[1].isdigit() else None,
                    "digest": base64.b32encode(hashlib.sha1(
                        r.raw if r.payload is None else r.payload
                    ).digest()).decode(),
                    "length": length,
                    "offset": offset,
                    "filename": filename,
                    "error": None,
                }
    return salvage(rows(), _CDX_COLS,
                   {"urlkey": f"cdx:tail-error:{filename}",
                    "filename": filename}, "cdx")


def _cdx_frame(blob: bytes, filename: str) -> pd.DataFrame:
    return pd.DataFrame(iter_cdx_entries(blob, filename), columns=_CDX_COLS)


def build_cdx(spark: SparkSession, path: str) -> DataFrame:
    """WARC files → CDX index DataFrame. One archive per task
    (``warc.per_archive``, the WARC source's grain); output is ~100
    bytes/record vs ~50 KB/page, so the index of a 100 TB crawl is
    ~200 GB — small enough to keep as a regular table and semi-join
    against every downstream job."""
    return per_archive(archive_files(spark, path), _cdx_frame, CDX_SCHEMA)


def build_cdx_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming twin of :func:`build_cdx`: index archives AS THEY LAND
    (Common Crawl publishes per-segment cdx files alongside the segment
    for exactly this reason). Same file stream as ``read_warc_stream``
    (``warc.archive_stream``) — the checkpoint commits whole archives, so
    a committed archive's entries are in exactly one micro-batch. The
    stream appends to the index TABLE; the globally-sorted CDXJ shards
    (:func:`write_cdxj`) are a periodic batch compaction over it, like
    the crawl's own cluster index."""
    return per_archive(archive_stream(spark, input_dir), _cdx_frame,
                       CDX_SCHEMA)


# --- CDXJ publication (the crawl's text format) -----------------------------

_CDXJ_MANIFEST = ("path string, n_records bigint, first_key string, "
                  "last_key string")


def _cdxj_line(r: dict) -> bytes:
    ts14 = r["warc_ts"].strftime("%Y%m%d%H%M%S")
    # "-" for absent status, the crawl's own missing-field marker
    status = r["status"]
    meta = {"url": r["url"], "mime": r["mime"],
            "status": "-" if status is None or pd.isna(status)
                      else str(int(status)),
            "digest": r["digest"],
            "length": str(r["length"]), "offset": str(r["offset"]),
            "filename": r["filename"]}
    return (f"{r['urlkey']} {ts14} ".encode()
            + json.dumps(meta, sort_keys=True).encode() + b"\n")


def write_cdxj(cdx: DataFrame, out_dir: str, num_shards: int = 1
               ) -> DataFrame:
    """Index rows → sorted ``.cdx.gz`` text shards + a manifest with each
    shard's first/last urlkey. ``repartitionByRange(urlkey)`` makes the
    shards globally range-disjoint and ``sortWithinPartitions`` orders
    each one — together that is Common Crawl's ``cluster.idx`` layout: a
    lookup binary-searches the manifest, opens ONE shard, and scans a
    sorted run. Error rows are excluded (they live in the quarantine
    path, not the published index). Same retry-safe write as the WET
    sink (``fsutil.write_shard``: local tmpfile + atomic rename,
    object-store URI single idempotent PUT): shard name is a pure
    function of the partition id, gzip mtime=0."""
    fsutil.makedirs(out_dir)

    def _write(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        lines: list[bytes] = []
        first = last = None
        for pdf in it:
            for r in pdf.to_dict("records"):
                if first is None:
                    first = r["urlkey"]
                last = r["urlkey"]
                lines.append(_cdxj_line(r))
        if not lines:
            return
        out = fsutil.join(out_dir, f"cdx-{pid:05d}.cdx.gz")
        fsutil.write_shard(out, gzip.compress(b"".join(lines), mtime=0))
        yield pd.DataFrame([{"path": out, "n_records": len(lines),
                             "first_key": first, "last_key": last}])

    clean = cdx.filter(cdx.error.isNull()).drop("error")
    return (clean.repartitionByRange(num_shards, "urlkey", "warc_ts")
            .sortWithinPartitions("urlkey", "warc_ts")
            .mapInPandas(_write, _CDXJ_MANIFEST))


def read_cdxj(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """CDXJ shards → index DataFrame (CDX_SCHEMA; ``error`` marks
    unparseable shard tails, same salvage contract as every source).
    ``path`` may be a glob or an explicit shard list (the pruned-lookup
    path hands one in)."""
    return per_archive(archive_files(spark, path), _cdxj_frame, CDX_SCHEMA)


def _cdxj_frame(blob: bytes, source: str) -> pd.DataFrame:
    def rows() -> Iterator[dict]:
        # decompress INSIDE the salvage walk: a truncated shard raises
        # EOFError/BadGzipFile here, the most common shard corruption
        text = gzip.decompress(blob) if blob[:2] == b"\x1f\x8b" else blob
        for line in text.splitlines():
            if not line.strip():
                continue
            urlkey, ts14, meta_s = line.decode().split(" ", 2)
            m = json.loads(meta_s)
            yield {"urlkey": urlkey,
                   "warc_ts": dt.datetime.strptime(ts14, "%Y%m%d%H%M%S"),
                   "url": m["url"], "mime": m["mime"],
                   "status": None if m["status"] == "-"
                             else int(m["status"]),
                   "digest": m["digest"],
                   "length": int(m["length"]), "offset": int(m["offset"]),
                   "filename": m["filename"], "error": None}
    return pd.DataFrame(
        salvage(rows(), _CDX_COLS,
                {"urlkey": f"cdx:tail-error:{source}", "filename": source},
                "cdxj"),
        columns=_CDX_COLS)


def latest_unique_captures(cdx: DataFrame) -> DataFrame:
    """One fetch target per distinct content: the crawl captures the
    same page under many timestamps (and mirrored content under many
    urls); the payload digest identifies duplicates WITHOUT touching
    archive bytes, so deduplicating on the index before
    :func:`fetch_cdx_records` multiplies the fetch savings. Keeps the
    newest capture per digest (ties broken by urlkey for determinism).
    Scale shape: one hash shuffle on digest — rank inside partitions,
    no collect, no join."""
    return _newest_clean_per(cdx, "digest", "urlkey")


def latest_capture_per_url(cdx: DataFrame) -> DataFrame:
    """Newest successful capture per urlkey — PAGE identity, unlike
    :func:`latest_unique_captures`' payload-digest identity (a page
    keeps its urlkey when its content changes; that change is exactly
    what the snapshot diff below must see). Ties broken by digest for
    determinism."""
    return _newest_clean_per(cdx, "urlkey", "digest")


def _newest_clean_per(cdx: DataFrame, key: str, tie: str) -> DataFrame:
    """The newest error-free entry per ``key`` (ties broken by ``tie``):
    one window over one hash shuffle on ``key``."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(key).orderBy(F.col("warc_ts").desc(),
                                        F.col(tie))
    return (cdx.filter(cdx.error.isNull())
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def diff_cdx_snapshots(old: DataFrame, new: DataFrame) -> DataFrame:
    """Incremental-crawl planner: classify every urlkey of the NEW
    index snapshot against the OLD one —

    * ``new``       first seen in the new snapshot
    * ``changed``   payload digest moved (content actually changed)
    * ``unchanged`` same digest as before
    * ``gone``      vanished from the crawl

    A rolling pipeline fetches only ``status IN ('new', 'changed')``
    rows (join back to the new index on urlkey and range-fetch via
    :func:`fetch_cdx_records`), so a re-crawl moves bytes for exactly
    the changed tail of the web, never the full archive.

    Scale shape: one urlkey window per snapshot plus ONE full-outer
    shuffle join on urlkey — both sides arrive hash-partitioned on the
    join key from their windows, so the join reuses the exchange; no
    collect, no driver-side diffing."""
    from pyspark.sql import functions as F

    o = latest_capture_per_url(old).select(
        "urlkey", F.col("url").alias("old_url"),
        F.col("digest").alias("old_digest"))
    n = latest_capture_per_url(new).select(
        "urlkey", F.col("url").alias("new_url"),
        F.col("digest").alias("new_digest"))
    status = (F.when(F.col("old_digest").isNull(), "new")
              .when(F.col("new_digest").isNull(), "gone")
              .when(F.col("old_digest") == F.col("new_digest"),
                    "unchanged")
              .otherwise("changed"))
    return (o.join(n, "urlkey", "full_outer")
            .select("urlkey",
                    F.coalesce("new_url", "old_url").alias("url"),
                    status.alias("status"), "old_digest", "new_digest"))


def prune_shards(manifest: pd.DataFrame, prefix: str) -> list[str]:
    """Shard paths whose ``[first_key, last_key]`` range can contain a
    key with ``prefix`` — pure interval math on the (tiny) manifest, so
    it is unit-checkable and costs nothing at any index size. A key
    matches iff ``prefix <= key < prefix + U+10FFFF``; a shard overlaps
    that interval iff it is neither entirely below nor entirely above."""
    hi = prefix + chr(0x10FFFF)
    keep = manifest[(manifest["last_key"] >= prefix)
                    & (manifest["first_key"] < hi)]
    return sorted(keep["path"].tolist())


def lookup_cdxj(spark: SparkSession, manifest: pd.DataFrame,
                prefix: str) -> DataFrame:
    """Prefix lookup against a published CDXJ index: prune shards with
    the manifest (Common Crawl's ``cluster.idx`` pattern — at a real
    crawl's ~300 shards a single-host lookup opens ONE), read only the
    survivors, filter to the prefix. Returns an empty index frame when
    no shard can match, without touching storage."""
    paths = prune_shards(manifest, prefix)
    if not paths:
        return spark.createDataFrame([], CDX_SCHEMA)
    from pyspark.sql import functions as F

    return read_cdxj(spark, paths).filter(
        F.col("urlkey").startswith(prefix) | F.col("error").isNotNull())


# --- range fetch (the index's payoff) ---------------------------------------

def fetch_cdx_records(spark: SparkSession, cdx: DataFrame,
                      num_partitions: int | None = None,
                      band_bytes: int = 1 << 30) -> DataFrame:
    """Index rows → pages rows, reading ONLY the addressed slices.

    Shape: shuffle the (tiny) index rows on ``(filename, offset //
    band_bytes)`` — co-located per archive so a file is opened once per
    task, but banded by offset so ONE hot multi-GB archive spreads over
    several tasks instead of becoming a straggler (reads inside a band
    stay sequential-forward; a slice is assigned by its START offset, so
    it belongs to exactly one band and is read exactly once even if it
    extends past the band edge).
    Sort by offset, then seek+read each distinct slice once and parse
    just that member. Fetching 0.1% of a crawl costs 0.1% of the byte
    traffic plus one tiny shuffle of index rows — against local files
    the seek is ``f.seek``; on an object store the identical offsets
    become ranged GETs. A slice shared by several requested entries
    (whole-file-gzip archives) is read once and filtered to the
    requested captures inside. Each fetched record goes through
    ``warc.iter_responses`` and comes back as the full walk's row for it
    (fractional-second ``warc_ts`` included; a payload that cannot be
    decoded is an error row under its own url). Structural corruption
    ends the archive's fetch with one ``cdx-fetch:error:<file>`` row
    carrying the salvage count."""
    from pyspark.sql import functions as F

    n = num_partitions or spark.sparkContext.defaultParallelism

    def _records(fname: str, want: dict) -> Iterator[dict]:
        # local paths via open(); s3/hdfs/gs URIs via pyarrow.fs —
        # seek+read there IS a ranged GET
        with open_binary(fname) as f:
            for (off, ln) in sorted(want):
                f.seek(off)
                raw = f.read(ln)
                if raw[:2] == b"\x1f\x8b":
                    raw = gzip.decompress(raw)
                for rec in iter_responses(io.BytesIO(raw)):
                    if (rec.url, rec.warc_ts.replace(microsecond=0)) \
                            in want[(off, ln)]:
                        yield rec.page_row()

    def _fetch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[dict] = []
            for fname, grp in pdf.groupby("filename", sort=False):
                # a shared slice (whole-file gzip) can hold SEVERAL
                # captures of a url — key the filter on (url, ts) at
                # second grain (CDXJ stores 14-digit timestamps) so only
                # the addressed captures come back (filtering on url
                # alone would reintroduce re-captures the index dedup
                # removed)
                want: dict[tuple[int, int], set] = {}
                for r in grp.to_dict("records"):
                    ts = r["warc_ts"].to_pydatetime().replace(microsecond=0)
                    want.setdefault(
                        (int(r["offset"]), int(r["length"])),
                        set()).add((r["url"], ts))
                rows += salvage(_records(fname, want), _PAGES_COLS,
                                {"url": f"cdx-fetch:error:{fname}",
                                 "lang": ""}, "cdx-fetch")
            yield pd.DataFrame(rows, columns=_PAGES_COLS)

    keep = cdx.filter(cdx.error.isNull()) \
              .select("url", "warc_ts", "filename", "offset", "length")
    band = F.floor(F.col("offset") / F.lit(band_bytes))
    return (keep.repartition(n, F.col("filename"), band)
            .sortWithinPartitions("filename", "offset")
            .mapInPandas(_fetch, PAGES_ERROR_SCHEMA))
