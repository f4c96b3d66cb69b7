"""WARC data source over ``binaryFile``: the batch reader's corrupt-tail
contract and live tailing of a landing dir by the stream reader."""

import pytest

from findtextcenternet_spark.corpus import generate_pages
from findtextcenternet_spark.sources.warc import (
    read_warc,
    read_warc_stream,
    write_warc,
)


@pytest.fixture(scope="module")
def corpus():
    return generate_pages(40)


def test_batch_corrupt_tail(spark, tmp_path, corpus):
    """Every record before a corrupt tail is read; the tail is one error
    row naming its archive."""
    rows = corpus.to_dict("records")[:10]
    d = tmp_path / "warcs"
    d.mkdir()
    (d / "bad.warc").write_bytes(
        write_warc(rows, gzip_records=False) + b"WARC/1.0\r\nbroken")
    got = read_warc(spark, str(d)).toPandas()
    ok, bad = got[got["error"].isna()], got[got["error"].notna()]
    assert len(ok) == 10
    assert len(bad) == 1
    assert bad.iloc[0]["url"].endswith("bad.warc")


def test_stream_tails_landing_dir_live(spark, tmp_path, corpus):
    """ONE running query picks up newly-landed archives across
    micro-batches — no restart — and never re-reads a committed one; a
    corrupt tail is one error row naming its archive."""
    rows = corpus.to_dict("records")
    land = tmp_path / "landing"
    land.mkdir()
    (land / "seg0.warc.gz").write_bytes(write_warc(rows[:15]))

    q = (read_warc_stream(spark, str(land))
         .writeStream.format("memory").queryName("warc_live")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
        n1 = spark.sql("select count(*) c from warc_live").collect()[0].c
        assert n1 == 15

        (land / "seg1.warc").write_bytes(
            write_warc(rows[15:], gzip_records=False) + b"WARC/1.0\r\nbroken")
        q.processAllAvailable()
        got = spark.sql("select url, error from warc_live").toPandas()
    finally:
        q.stop()
    ok = got[got["error"].isna()]
    assert len(ok) == 40 and ok["url"].nunique() == 40
    bad = got[got["error"].notna()]
    assert len(bad) == 1 and bad.iloc[0]["url"].endswith("seg1.warc")
