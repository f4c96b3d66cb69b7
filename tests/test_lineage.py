"""Resume + lineage contract (north rule: per-partition lineage, resume from
committed output)."""

from findtextcenternet_spark.corpus import generate_pages
from findtextcenternet_spark.lineage import ParquetDirStore, run_extract
from findtextcenternet_spark.pipeline import pages_from_pandas


def test_poison_pages_quarantined_not_fatal(spark, tmp_path):
    """One corrupt page in the batch must cost one quarantine row — never
    the job (at 10^12 docs a poison pill is a certainty); and it is
    quarantined exactly ONCE per output dir, not re-parsed every resume."""
    import pandas as pd

    from findtextcenternet_spark.corpus import RASTER_MARKER

    out_dir = str(tmp_path / "extracted3")
    good = generate_pandas = generate_pages(40)
    bad = pd.DataFrame([
        {"url": "https://bad.example.org/truncated-layout",
         "warc_ts": generate_pandas["warc_ts"].iloc[0],
         "html": RASTER_MARKER + b'{"page_w": 768, "glyphs": [{',
         "text": "", "lang": "raster:xx"},
        {"url": "https://bad.example.org/corrupt-flate-pdf",
         "warc_ts": generate_pandas["warc_ts"].iloc[0],
         # truly malformed: the FlateDecode stream carries garbage
         # deflate bytes (compression itself is SUPPORTED since r5)
         "html": b"%PDF-1.4\n1 0 obj\n"
         b"<< /Length 4 /Filter /FlateDecode >>\n"
         b"stream\nxxxx\nendstream\n",
         "text": "", "lang": "en"},
    ])
    pages = pages_from_pandas(
        spark, pd.concat([good, bad], ignore_index=True))
    r = run_extract(pages, out_dir, run_id="q1", num_partitions=4)
    assert r["n_docs"] == 40
    assert r["n_quarantined"] == 2
    q = spark.read.parquet(out_dir + "/_quarantine").toPandas()
    assert set(q["url"]) == {"https://bad.example.org/truncated-layout",
                             "https://bad.example.org/corrupt-flate-pdf"}
    assert q["error"].str.len().min() > 0
    # quarantined urls are settled: a resume run does NOT re-parse or
    # re-quarantine them (poison handled exactly once per output dir)
    r2 = run_extract(pages, out_dir, run_id="q2", num_partitions=4)
    assert r2["n_docs"] == 0
    assert r2["n_quarantined"] == 0
    q2 = spark.read.parquet(out_dir + "/_quarantine")
    assert q2.count() == 2


def test_numeric_looking_run_ids_stay_strings(spark, tmp_path, deadline):
    """run_ids are the docs table's partition values: an all-digit id
    and an exponent-shaped one (a 12-hex-digit uuid prefix is one of
    the two about 0.7% of the time) read back through the store as the
    same strings, and the read returns — left to type inference, the
    first lost its leading zeros and the second parsed as a decimal
    with a 4.9e9 exponent, a read that never ended."""
    out_dir = str(tmp_path / "ids")
    pages = pages_from_pandas(spark, generate_pages(6))
    with deadline(300):
        for rid, want in (("000000000042", {"000000000042"}),
                          ("8e4912345678", {"000000000042",
                                            "8e4912345678"})):
            run_extract(pages.limit(len(want) * 3), out_dir, run_id=rid)
            docs = ParquetDirStore(spark, out_dir).read("docs")
            assert {r.run_id for r in
                    docs.select("run_id").distinct().collect()} == want


def test_resume_reads_compact_done_set_urls_only(spark, tmp_path):
    """Scale contract for resume: the anti-join's done side must read the
    compact ``_done_urls`` side table (url column only), never the full
    docs table (VERDICT r2 weak-for-scale item)."""
    import os

    from findtextcenternet_spark.lineage import _settled_urls

    out_dir = str(tmp_path / "extracted5")
    pages = pages_from_pandas(spark, generate_pages(20))
    run_extract(pages, out_dir, run_id="r1", num_partitions=4)
    assert os.path.isdir(out_dir + "/_done_urls")

    done = _settled_urls(ParquetDirStore(spark, out_dir))
    assert done.count() == 20
    # scans _done_urls (not the docs table)
    files = done.inputFiles()
    assert files and all("_done_urls" in f for f in files)
    # and prunes to the url column (plan paths may be truncated; schema
    # is not)
    plan = done._jdf.queryExecution().executedPlan().toString()
    read = plan.split("ReadSchema:")[1][:200]
    assert "url" in read
    for heavy in ("text", "spans", "aozora", "html"):
        assert heavy not in read


def test_legacy_dir_two_resumes_no_duplicates(spark, tmp_path):
    """ADVICE r3 (high): an output dir written before ``_done_urls``
    existed must survive TWO resumes without re-extracting — the first
    post-upgrade run must backfill the legacy urls into the side table,
    or the second resume's anti-join (which prefers the now-non-empty
    side table) silently duplicates every legacy doc."""
    import shutil

    out_dir = str(tmp_path / "legacy")
    all_pages = pages_from_pandas(spark, generate_pages(50))

    # simulate a pre-side-table run: run normally, then delete _done_urls
    run_extract(all_pages.limit(30), out_dir, run_id="old", num_partitions=4)
    shutil.rmtree(out_dir + "/_done_urls")

    # first post-upgrade resume: extracts only the remaining 20 and
    # backfills the 30 legacy urls into the side table
    r1 = run_extract(all_pages, out_dir, run_id="up1", num_partitions=4)
    assert r1["n_docs"] == 20
    done = spark.read.parquet(out_dir + "/_done_urls")
    assert done.select("url").distinct().count() == 50

    # second resume: nothing to do, nothing duplicated
    r2 = run_extract(all_pages, out_dir, run_id="up2", num_partitions=4)
    assert r2["n_docs"] == 0
    docs = spark.read.parquet(out_dir + "/docs")
    assert docs.count() == 50
    assert docs.select("url").distinct().count() == 50


def test_docstore_seam_injectable_and_ordered(spark, tmp_path):
    """Storage seam (VERDICT r3 item 5): run_extract goes through the
    DocStore interface only, and in commit order — docs first (the
    commit point), then done-set, then quarantine/lineage. This spy
    store proves the calls and their order without any parquet-dir
    knowledge leaking."""
    from findtextcenternet_spark.lineage import ParquetDirStore

    calls = []

    class SpyStore(ParquetDirStore):
        def append(self, table, df):
            calls.append(table)
            super().append(table, df)

    out_dir = str(tmp_path / "seam")
    pages = pages_from_pandas(spark, generate_pages(12))
    store = SpyStore(spark, out_dir)
    r = run_extract(pages, out_dir, run_id="s1", num_partitions=4,
                    store=store)
    assert r["n_docs"] == 12
    assert calls == ["docs", "done", "lineage"]
    # resume through the same seam finds everything settled
    calls.clear()
    r2 = run_extract(pages, out_dir, run_id="s2", num_partitions=4,
                     store=SpyStore(spark, out_dir))
    assert r2["n_docs"] == 0


def test_run_extract_never_rereads_docs_dir(spark, tmp_path, monkeypatch):
    """VERDICT r3 item 5: the done-set/quarantine/lineage of a run derive
    from the pinned in-memory frame, never a re-list + re-read of the
    docs directory (a per-run full listing at 100 TB)."""
    from findtextcenternet_spark import lineage as L

    out_dir = str(tmp_path / "noreread")
    pages = pages_from_pandas(spark, generate_pages(15))

    reads = []
    orig = L.ParquetDirStore.read_run

    def spy(self, run_id):
        reads.append(run_id)
        return orig(self, run_id)

    monkeypatch.setattr(L.ParquetDirStore, "read_run", spy)
    real_read = spark.read.parquet

    def guard(*paths):
        assert not any(p.rstrip("/").endswith("/docs") for p in paths), \
            "run_extract must not read the whole docs dir"
        return real_read(*paths)

    monkeypatch.setattr(spark.read, "parquet", guard)
    r = run_extract(pages, out_dir, run_id="x", num_partitions=4)
    assert r["n_docs"] == 15
    assert reads == []  # no healing reads needed on a clean run either


def test_binary_junk_html_extracts_empty_not_fatal(spark, tmp_path):
    """Non-UTF-8 bytes on the HTML leg are NOT poison: charset fallback
    (utf-8 → cp932 → latin-1) decodes them and extraction yields empty
    text (no main div) — a no-content doc, not a quarantine row."""
    import pandas as pd

    out_dir = str(tmp_path / "extracted4")
    good = generate_pages(10)
    junk = pd.DataFrame([
        {"url": "https://odd.example.org/bin",
         "warc_ts": good["warc_ts"].iloc[0],
         "html": b"<html>\xff\xfe broken</html>",
         "text": "", "lang": "en"},
    ])
    pages = pages_from_pandas(spark, pd.concat([good, junk],
                                               ignore_index=True))
    r = run_extract(pages, out_dir, run_id="j1", num_partitions=4)
    assert r["n_docs"] == 11
    assert r["n_quarantined"] == 0
