"""The resume/healing contract matrix, written ONCE and parameterized
over every DocStore (VERDICT r5 item 7): run_extract and the healing pass
must run UNCHANGED through any storage shape.

Stores in the matrix:
* ``parquet`` — ParquetDirStore, the real store: committed runs are
  partition dirs, done markers are files;
* ``memory`` — InMemoryCatalogStore, a catalog-style double: committed
  runs are metadata entries, no dirs, no marker files.

Adding a store = adding one entry to STORE_KINDS. Parquet-only behaviour
(done-set read pruning, never re-reading the docs dir, the spy-store
write order) stays in test_lineage.py."""

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from findtextcenternet_spark.corpus import RASTER_MARKER, generate_pages
from findtextcenternet_spark.lineage import (
    InMemoryCatalogStore,
    ParquetDirStore,
    run_extract,
)
from findtextcenternet_spark.pipeline import pages_from_pandas

STORE_KINDS = ["parquet", "memory"]


@pytest.fixture(params=STORE_KINDS)
def mkstore(request, spark):
    """Factory: a FRESH store of the parameterized kind for ``out_dir``."""
    if request.param == "parquet":
        return lambda out_dir: ParquetDirStore(spark, out_dir)
    return lambda out_dir: InMemoryCatalogStore(spark)


def _clear_done(store):
    """Simulate the crash window that loses the done append + its marks."""
    if isinstance(store, ParquetDirStore):
        shutil.rmtree(store.done_dir)
    else:
        store._parts["done"].clear()
        store._done_marked.clear()


def _all_urls(store):
    """url column of every committed run, read run by run."""
    urls = None
    for rid in store.committed_run_ids():
        u = store.read_run(rid).select("url")
        urls = u if urls is None else urls.unionByName(u)
    return urls


def test_store_resume_idempotent_and_complete(spark, tmp_path, mkstore):
    out_dir = str(tmp_path / "st1")
    store = mkstore(out_dir)
    all_pages = pages_from_pandas(spark, generate_pages(100))

    r1 = run_extract(all_pages.limit(60), out_dir, run_id="run1",
                     num_partitions=4, store=store)
    assert r1["n_docs"] == 60
    r2 = run_extract(all_pages, out_dir, run_id="run2",
                     num_partitions=4, store=store)
    assert r2["n_docs"] == 40

    assert store.committed_run_ids() == {"run1", "run2"}
    urls = _all_urls(store)
    assert urls.count() == 100
    assert urls.distinct().count() == 100

    r3 = run_extract(all_pages, out_dir, run_id="run3",
                     num_partitions=4, store=store)
    assert r3["n_docs"] == 0
    assert "run3" not in store.committed_run_ids() or \
        store.read_run("run3").count() == 0
    assert store.read("docs").count() == 100


def test_store_quarantine_settled_once(spark, tmp_path, mkstore):
    out_dir = str(tmp_path / "st2")
    store = mkstore(out_dir)
    good = generate_pages(30)
    bad = pd.DataFrame([{
        "url": "https://bad.example.org/truncated-layout",
        "warc_ts": good["warc_ts"].iloc[0],
        "html": RASTER_MARKER + b'{"page_w": 768, "glyphs": [{',
        "text": "", "lang": "raster:xx",
    }])
    pages = pages_from_pandas(spark, pd.concat([good, bad],
                                               ignore_index=True))
    r = run_extract(pages, out_dir, run_id="q1", num_partitions=4,
                    store=store)
    assert r["n_docs"] == 30
    assert r["n_quarantined"] == 1
    q = store.read("quarantine").toPandas()
    assert list(q["url"]) == ["https://bad.example.org/truncated-layout"]
    # quarantined url is settled: the resume neither re-parses nor
    # re-quarantines it
    r2 = run_extract(pages, out_dir, run_id="q2", num_partitions=4,
                     store=store)
    assert r2["n_docs"] == 0
    assert r2["n_quarantined"] == 0
    assert store.read("quarantine").count() == 1


def test_store_crash_between_appends_healed(spark, tmp_path, mkstore):
    """Docs committed (metadata entry present), done append lost: the
    healing pass must backfill from the metadata-keyed run read and not
    re-extract — zero dir listings regardless of store."""
    out_dir = str(tmp_path / "st3")
    store = mkstore(out_dir)
    all_pages = pages_from_pandas(spark, generate_pages(40))

    run_extract(all_pages.limit(25), out_dir, run_id="a",
                num_partitions=4, store=store)
    # crash window: run "a" committed docs but its done rows vanish
    _clear_done(store)

    r_b = run_extract(all_pages.limit(30), out_dir, run_id="b",
                      num_partitions=4, store=store)
    assert r_b["n_docs"] == 5          # "a" healed, not re-extracted
    r_c = run_extract(all_pages, out_dir, run_id="c",
                      num_partitions=4, store=store)
    assert r_c["n_docs"] == 10

    urls = _all_urls(store)
    assert urls.count() == 40
    assert urls.distinct().count() == 40
    # healing restored the done metadata too
    assert store.read("done").select("url").distinct().count() == 40
    assert {"a", "b", "c"} <= store.done_run_ids()


def test_store_partial_done_append_not_trusted(spark, tmp_path, mkstore):
    """A run_id visible in the done DATA but not marked complete must be
    backfilled in full — the marker is a metadata set, not a filesystem
    sentinel (ADVICE r4)."""
    from findtextcenternet_spark.pipeline import extract_documents

    out_dir = str(tmp_path / "st4")
    store = mkstore(out_dir)
    pages = pages_from_pandas(spark, generate_pages(40))
    run_extract(pages.limit(20), out_dir, run_id="a", num_partitions=4,
                store=store)

    b_pages = (pages_from_pandas(spark, generate_pages(30))
               .join(store.read("done").select("url"), "url", "left_anti"))
    b_out = (extract_documents(b_pages, num_partitions=4)
             .withColumn("part_id", F.spark_partition_id())
             .withColumn("run_id", F.lit("b"))
             .localCheckpoint(eager=True))
    store.append("docs", b_out)
    store.append("done", b_out.select("url").limit(5)
                 .withColumn("run_id", F.lit("b")))
    # NO store.mark_done(["b"]) — the crash window under test

    r = run_extract(pages, out_dir, run_id="c", num_partitions=4,
                    store=store)
    assert r["n_docs"] == 10
    urls = _all_urls(store)
    assert urls.count() == 40
    assert urls.distinct().count() == 40   # no duplicate doc rows
    assert "b" in store.done_run_ids()
    r2 = run_extract(pages, out_dir, run_id="d", num_partitions=4,
                     store=store)
    assert r2["n_docs"] == 0


def test_store_lineage_rows_cover_all_docs(spark, tmp_path, mkstore):
    out_dir = str(tmp_path / "st5")
    store = mkstore(out_dir)
    pages = pages_from_pandas(spark, generate_pages(80))
    run_extract(pages.limit(30), out_dir, run_id="a", num_partitions=4,
                store=store)
    run_extract(pages, out_dir, run_id="b", num_partitions=4, store=store)

    lin = store.read("lineage")
    per_run = {r["run_id"]: r["n"] for r in
               lin.groupBy("run_id")
               .agg(F.sum("n_docs").alias("n")).collect()}
    assert per_run == {"a": 30, "b": 50}
    # lineage doc counts reconcile exactly with the docs table
    assert sum(per_run.values()) == store.read("docs").count()
    assert lin.filter(F.col("wall_sec") <= 0).count() == 0
    assert lin.filter(F.col("committed_at").isNull()).count() == 0


def test_store_crash_before_mirror_heals_quarantine(spark, tmp_path,
                                                    mkstore):
    """Review r6: the quarantine MIRROR is post-docs state. A crash after
    the done append but before the mirror/lineage/marker writes must be
    healed on the next resume — the error rows are rebuilt from the
    committed docs, exactly once, and never re-extracted."""
    from findtextcenternet_spark.pipeline import extract_documents

    out_dir = str(tmp_path / "st6")
    store = mkstore(out_dir)
    good = generate_pages(20)
    bad_url = "https://bad.example.org/poison"
    bad = pd.DataFrame([{
        "url": bad_url,
        "warc_ts": good["warc_ts"].iloc[0],
        "html": RASTER_MARKER + b'{"page_w": 768, "glyphs": [{',
        "text": "", "lang": "raster:xx",
    }])
    pages = pages_from_pandas(spark, pd.concat([good, bad],
                                               ignore_index=True))
    out = (extract_documents(pages, num_partitions=4)
           .withColumn("part_id", F.spark_partition_id())
           .withColumn("run_id", F.lit("a"))
           .localCheckpoint(eager=True))
    store.append("docs", out)
    store.append("done", out.select("url", "run_id"))
    # CRASH: no quarantine mirror, no lineage, no done marker

    r = run_extract(pages, out_dir, run_id="b", num_partitions=4,
                    store=store)
    assert r["n_docs"] == 0 and r["n_quarantined"] == 0   # nothing redone
    q = store.read("quarantine").toPandas()
    assert list(q["url"]) == [bad_url]        # mirror healed from docs
    assert "a" in store.done_run_ids()
    # healing is once-only: another resume adds nothing
    run_extract(pages, out_dir, run_id="c", num_partitions=4, store=store)
    assert store.read("quarantine").count() == 1
