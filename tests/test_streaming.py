"""Structured Streaming tests (SURVEY.md §2.9): checkpointed extraction with
resume, watermarked windows, stateful Welford — all driven with
trigger(availableNow) so they run bounded."""

import os

import numpy as np
import pytest

from findtextcenternet_spark.corpus import generate_pages
from findtextcenternet_spark.streaming import (
    read_pages_stream,
    stream_extract,
    stream_quality_windows,
    stream_welford_by_lang,
)


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages_stream"))
    pdf = generate_pages(120)
    # two flat files so the file source sees multiple input files
    kw = dict(index=False, coerce_timestamps="us",
              allow_truncated_timestamps=True)
    pdf.iloc[::2].to_parquet(os.path.join(d, "a.parquet"), **kw)
    pdf.iloc[1::2].to_parquet(os.path.join(d, "b.parquet"), **kw)
    return d


def test_stream_extract_html_and_resume(spark, pages_dir, tmp_path):
    """The one stream extracts every page kind, not only html, and a restart
    on the same checkpoint adds no rows."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = stream_extract(read_pages_stream(spark, pages_dir), out, ckpt)
    q.awaitTermination(240)
    got = spark.read.parquet(out)
    assert got.count() == 120
    assert set(got.select("path").distinct().toPandas()["path"]) == {
        "html", "raster", "pdf"}

    # resume with the same checkpoint: no new input -> no duplicate output
    q2 = stream_extract(read_pages_stream(spark, pages_dir), out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 120


def test_stream_foreachbatch_full_pipeline(spark, pages_dir, tmp_path):
    """The batch plan once per micro-batch: every page is extracted exactly
    once and equals the batch output per url."""
    out = str(tmp_path / "out_full")
    ckpt = str(tmp_path / "ckpt_full")
    q = stream_extract(read_pages_stream(spark, pages_dir), out, ckpt)
    q.awaitTermination(240)
    got = spark.read.parquet(out)
    assert got.count() == 120
    assert got.select("url").distinct().count() == 120
    from findtextcenternet_spark.pipeline import (
        extract_documents,
        pages_from_pandas,
    )
    batch = (extract_documents(
        pages_from_pandas(spark, generate_pages(120)))
        .select("url", "text").toPandas().set_index("url")["text"])
    streamed = got.select("url", "text").toPandas().set_index("url")["text"]
    assert streamed.sort_index().equals(batch.sort_index())


def test_stream_quality_windows(spark, pages_dir, tmp_path):
    agg = stream_quality_windows(spark, pages_dir)
    q = (agg.writeStream.format("memory").queryName("qual")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt_q"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # complete mode keeps every window (watermark still bounds state in a
    # long-running query); totals must equal the input exactly
    got = spark.sql("SELECT sum(n_docs) AS n FROM qual").collect()[0]["n"]
    assert got == 120
    assert spark.sql(
        "SELECT count(DISTINCT lang) AS n FROM qual").collect()[0]["n"] >= 2


def test_stream_welford_matches_batch(spark, pages_dir, tmp_path):
    out = stream_welford_by_lang(spark, pages_dir)
    q = (out.writeStream.format("memory").queryName("welford")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt_w"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # last update per lang == exact batch mean/variance
    stream_rows = (spark.sql(
        "SELECT lang, n, mean_chars, var_chars FROM welford")
        .toPandas().drop_duplicates("lang", keep="last")
        .set_index("lang"))
    pdf = generate_pages(120)
    pdf["n_chars"] = pdf["text"].str.len().astype(float)
    for lang, grp in pdf.groupby("lang"):
        got = stream_rows.loc[lang]
        assert int(got["n"]) == len(grp)
        assert np.isclose(got["mean_chars"], grp["n_chars"].mean())
        if len(grp) > 1:
            assert np.isclose(got["var_chars"], grp["n_chars"].var(ddof=1))


def test_stream_sessionize(spark, pages_dir, tmp_path):
    from findtextcenternet_spark.streaming import stream_sessionize
    agg = stream_sessionize(spark, pages_dir)
    q = (agg.writeStream.format("memory").queryName("sess")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt_s"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    total = spark.sql("SELECT sum(n_docs) AS n FROM sess").collect()[0]["n"]
    assert total == 120
    # session windows are disjoint per lang and each spans >= one doc
    bad = spark.sql(
        "SELECT count(*) AS n FROM sess WHERE sess.end <= sess.start"
    ).collect()[0]["n"]
    assert bad == 0


def test_stream_dedup_exact(spark, tmp_path):
    """Streaming digest dedup: first capture of each payload passes, the
    byte-identical re-capture (different url, later ts) is dropped;
    distinct payloads all survive. Bounded state via
    dropDuplicatesWithinWatermark."""
    import pandas as pd

    from findtextcenternet_spark.streaming import stream_dedup_exact

    pdf = generate_pages(40)
    dup = pdf.iloc[:5].copy()
    dup["url"] = dup["url"] + "?mirror"          # same bytes, new url
    dup["warc_ts"] = dup["warc_ts"] + pd.Timedelta(minutes=5)
    d = str(tmp_path / "in")
    os.makedirs(d)
    kw = dict(index=False, coerce_timestamps="us",
              allow_truncated_timestamps=True)
    pdf.to_parquet(os.path.join(d, "a.parquet"), **kw)
    dup.to_parquet(os.path.join(d, "b.parquet"), **kw)

    out = stream_dedup_exact(spark, d)
    q = (out.writeStream.format("memory").queryName("dd")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT url, fp FROM dd").toPandas()
    assert len(got) == 40                         # all dups dropped
    assert got["fp"].nunique() == 40              # one row per payload
    # exactly one of each (original, mirror) pair survived
    assert int(got["url"].str.endswith("?mirror").sum()) <= 5


def test_cli_streaming_quality_gate(spark, tmp_path):
    """--quality-gate combines with --streaming at the CLI (the gate is
    micro-batch-safe, unlike the corpus-wide dedup passes)."""
    import pandas as pd

    from findtextcenternet_spark.__main__ import main

    pdf = generate_pages(10)
    junk = pdf.iloc[:1].copy()
    junk["url"] = "https://q.example.org/junk"
    junk["html"] = ("<html><body><div class=\"main_text\">"
                    + "spam ham " * 60
                    + "</div></body></html>").encode()
    pdf = pd.concat([pdf, junk], ignore_index=True)
    d = str(tmp_path / "pages")
    os.makedirs(d)
    pdf.to_parquet(os.path.join(d, "a.parquet"), index=False,
                   coerce_timestamps="us", allow_truncated_timestamps=True)

    out = str(tmp_path / "out")
    assert main([d, out, "--streaming", "--quality-gate"]) == 0
    got = spark.read.parquet(os.path.join(out, "docs")).toPandas()
    assert got["url"].nunique() == 11
    bad = got[got["error"].notna()].set_index("url")["error"].to_dict()
    assert bad["https://q.example.org/junk"] == "quality:too_repetitive"
