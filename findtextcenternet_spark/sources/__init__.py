"""Sources & sinks (SURVEY.md §2.1)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# the pages table every extraction run consumes (Common Crawl's shape)
PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])
# what the archive readers emit: the pages columns plus a row-level error
# (null = clean row)
PAGES_ERROR_SCHEMA = T.StructType(
    PAGES_SCHEMA.fields + [T.StructField("error", T.StringType())])


def read_pages(spark: SparkSession, path: str, input_format: str, *,
               cdx_mime: str | None = None,
               cdx_prefix: str | None = None,
               cdx_diff_old: str | None = None,
               cdx_dedup: bool = True) -> DataFrame:
    """The pages frame an extraction run consumes, from any input shape.

    ``'parquet'``: a pages parquet. ``'warc'``: a full archive walk; its
    error rows keep flowing with a null html and the reader's ``error``
    text, so the pipeline quarantines them with that text: an
    undecodable payload under its own url, a corrupt archive tail under
    the per-archive ``warc:tail-error:<path>`` url. ``'cdx'``:
    index-driven — prune by mime/prefix, optionally keep only urls new
    or changed since the ``cdx_diff_old`` snapshot, collapse re-captures
    to the newest entry per payload digest (``cdx_dedup``), then
    range-fetch only the selected records (error rows as for
    ``'warc'``)."""
    from pyspark.sql import functions as F

    if input_format == "warc":
        from .warc import read_warc

        return read_warc(spark, path)
    if input_format != "cdx":
        return spark.read.parquet(path)

    from .cdx import (
        diff_cdx_snapshots,
        fetch_cdx_records,
        latest_unique_captures,
        read_cdxj,
    )

    idx = read_cdxj(spark, path)
    if cdx_mime:
        idx = idx.filter(F.col("mime") == cdx_mime)
    if cdx_prefix:
        idx = idx.filter(F.col("urlkey").startswith(cdx_prefix))
    if cdx_diff_old:
        # incremental re-crawl: judge THIS index against the previous
        # snapshot and fetch only urls whose content is new or changed —
        # unchanged bytes never leave the archive (resume dedups at the
        # extraction grain; this saves the FETCH)
        changed = (diff_cdx_snapshots(read_cdxj(spark, cdx_diff_old), idx)
                   .filter(F.col("status").isin("new", "changed"))
                   .select("urlkey"))
        idx = idx.join(changed, "urlkey", "left_semi")
    if cdx_dedup:
        idx = latest_unique_captures(idx)
    return fetch_cdx_records(spark, idx)
