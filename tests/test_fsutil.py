"""fsutil scheme dispatch: plain open vs pyarrow.fs, proven equivalent
through file:// URIs (pyarrow's LocalFileSystem is the same code path an
object-store URI takes)."""

import pandas as pd
import pytest

from findtextcenternet_spark.corpus import generate_pages
from findtextcenternet_spark.sources.fsutil import open_binary
from findtextcenternet_spark.sources.warc import read_warc, write_warc


def test_open_binary_all_forms(tmp_path):
    p = tmp_path / "x.bin"
    p.write_bytes(bytes(range(256)) * 4)
    for form in (str(p), f"file:{p}", f"file://{p}"):
        with open_binary(form) as f:
            assert f.read(4) == b"\x00\x01\x02\x03", form
            f.seek(300)
            assert f.read(2) == bytes([44, 45]), form   # ranged read


def test_datasource_and_fetch_through_uri(spark, tmp_path):
    """URI forms under Spark: the binaryFile archive reader loaded from a
    file:// URI matches the plain path, and a CDX fetch whose filenames
    are file:// URIs takes the executor-side pyarrow branch and matches
    the plain-path results."""
    from pyspark.sql import functions as F

    from findtextcenternet_spark.sources.cdx import (
        build_cdx, fetch_cdx_records)

    rows = generate_pages(12).to_dict("records")
    (tmp_path / "u.warc.gz").write_bytes(write_warc(rows))

    plain = read_warc(spark, str(tmp_path)).toPandas()
    via_uri = read_warc(spark, f"file://{tmp_path}").toPandas()
    assert sorted(via_uri["url"]) == sorted(plain["url"]) \
        and len(plain) == 12

    cdx = build_cdx(spark, str(tmp_path / "u.warc.gz"))
    # rewrite binaryFile's file:/x filenames to full file:// URIs so the
    # fetch kernel takes the pyarrow branch
    uri_cdx = cdx.withColumn(
        "filename", F.regexp_replace("filename", "^file:/", "file:///"))
    pages = fetch_cdx_records(spark, uri_cdx).toPandas()
    assert pages["error"].isna().all()
    assert {u: bytes(h) for u, h in zip(pages["url"], pages["html"])} \
        == {r["url"]: bytes(r["html"]) for r in rows}


def test_write_shard_and_makedirs_all_forms(tmp_path):
    """ADVICE r5: sink writes route through the same scheme dispatch as
    reads. Local and file:// forms both land atomically (no .inprogress
    leftovers) and byte-identically; file:// exercises the pyarrow branch's
    contract via _as_local."""
    import os

    from findtextcenternet_spark.sources import fsutil

    for i, base in enumerate((str(tmp_path / "a"), f"file://{tmp_path}/b")):
        out_dir = fsutil.join(base, "shards")
        fsutil.makedirs(out_dir)
        path = fsutil.join(out_dir, f"part-{i}.gz")
        fsutil.write_shard(path, b"payload-%d" % i)
        local = str(tmp_path / ("a" if i == 0 else "b") / "shards")
        files = os.listdir(local)
        assert files == [f"part-{i}.gz"]          # no tmp leftovers
        with open_binary(path) as f:
            assert f.read() == b"payload-%d" % i


def test_wet_and_cdxj_sinks_accept_file_uri(spark, tmp_path):
    """The WET sink and CDXJ index writer accept a scheme URI out_dir
    (object-store layout); manifest paths come back with the scheme so
    downstream opens route through the same filesystem."""
    from findtextcenternet_spark.sources.cdx import (
        build_cdx,
        read_cdxj,
        write_cdxj,
    )
    from findtextcenternet_spark.sources.warc import (
        read_wet,
        write_wet,
        write_warc,
    )

    pages = generate_pages(12)
    docs = spark.createDataFrame(
        pd.DataFrame({"url": pages["url"], "warc_ts": pages["warc_ts"],
                      "text": [f"doc {i}" for i in range(len(pages))]}))
    wet_dir = f"file://{tmp_path}/wet"
    man = write_wet(docs.repartition(2), wet_dir).collect()
    assert sum(r.n_records for r in man) == 12
    assert all(r.path.startswith("file://") for r in man)
    back = read_wet(spark, wet_dir).toPandas()
    assert sorted(back["url"]) == sorted(pages["url"])

    warc_path = tmp_path / "t.warc.gz"
    warc_path.write_bytes(write_warc(pages.to_dict("records")))
    cdx = build_cdx(spark, str(warc_path))
    idx_dir = f"file://{tmp_path}/cdx"
    man2 = write_cdxj(cdx, idx_dir, num_shards=2).collect()
    assert sum(r.n_records for r in man2) == 12
    idx = read_cdxj(spark, [r.path for r in man2]).toPandas()
    assert len(idx) == 12
