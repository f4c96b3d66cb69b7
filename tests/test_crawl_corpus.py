"""End-to-end crawl→corpus flagship (crawl.crawl_to_corpus): the seam
test proving the CDX-indexed path equals the full-walk path minus
duplicates, plus the CLI invocation."""

import datetime as dt
import json
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

from findtextcenternet_spark.crawl import (
    crawl_to_corpus,
    near_dup_clusters,
    near_dup_filter,
)
from findtextcenternet_spark.sources.cdx import build_cdx, write_cdxj
from findtextcenternet_spark.sources.warc import read_wet, write_warc

_TS = dt.datetime(2026, 3, 1, 12, 0, 0)

_WORDS = ("spark shuffle partition broadcast join filter scan codegen "
          "arrow batch kernel lineage resume checkpoint digest minhash "
          "band bucket jaccard shingle cluster keeper corpus extract").split()


def _text(i: int, n_words: int = 120) -> str:
    """Deterministic per-doc word soup with RANDOM trigram structure —
    cyclically-shifted sequences would share their whole shingle set and
    make every page a near-dup of every other."""
    import random

    return " ".join(random.Random(i).choices(_WORDS, k=n_words))


def _page(url: str, text: str) -> dict:
    html = ('<html><head><title>t</title></head><body>'
            '<div class="header"><a href="/nav">nav</a></div>'
            '<div class="main_text">' + text + "</div>"
            '<div class="footer">shared boilerplate</div></body></html>')
    return {"url": url, "warc_ts": _TS, "html": html.encode(),
            "text": text, "lang": "en"}


def _mutate(text: str, pos: int, repl: str) -> str:
    ws = text.split(" ")
    ws[pos] = repl
    return " ".join(ws)


@pytest.fixture(scope="module")
def crawl_fixture():
    """20 unique pages + a transitive near-dup chain (A~B~C, where A and
    C differ by TWO words — only transitivity links them) + one
    byte-identical re-capture of page u05 under a different url (caught
    by the index digest dedup, never fetched twice)."""
    rows = [_page(f"https://c.example.org/u{i:02d}", _text(i))
            for i in range(20)]
    base = _text(9999, 130)
    rows.append(_page("https://c.example.org/dupA", base))
    rows.append(_page("https://c.example.org/dupB", _mutate(base, 3, "xq1")))
    rows.append(_page("https://c.example.org/dupC",
                      _mutate(_mutate(base, 3, "xq1"), 60, "xq2")))
    rows.append({**_page("https://c.example.org/mirror-of-u05", _text(5))})
    # the mirror's PAYLOAD must be byte-identical to u05's for the digest
    # collapse: same text -> same html bytes by construction
    return rows


def test_indexed_path_equals_full_walk_minus_duplicates(
        spark, tmp_path_factory, crawl_fixture):
    tp = tmp_path_factory.mktemp("crawlcorpus")
    warc = tp / "crawl-00000.warc.gz"
    warc.write_bytes(write_warc(crawl_fixture))

    # ---- path A: full archive walk, no dedup -------------------------
    full = crawl_to_corpus(spark, str(warc), str(tp / "full"),
                           input_format="warc", near_dedup=False)
    full_docs = (spark.read.parquet(str(tp / "full" / "docs"))
                 .filter(F.col("error").isNull())
                 .select("url", "text").toPandas())
    assert full["near_dup_dropped"] == 0
    assert len(full_docs) == 24          # every capture extracted

    # ---- path B: CDX index → selective fetch → dedup → WET -----------
    idx_dir = tp / "cdx"
    write_cdxj(build_cdx(spark, str(warc)), str(idx_dir),
               num_shards=2).collect()
    wet_dir = tp / "wet"
    summary = crawl_to_corpus(
        spark, str(idx_dir), str(tp / "indexed"), input_format="cdx",
        cdx_mime="text/html", near_dedup=True, wet_dir=str(wet_dir))

    # digest collapse: the byte-identical mirror never reaches extraction
    indexed_docs = (spark.read.parquet(str(tp / "indexed" / "docs"))
                    .filter(F.col("error").isNull())
                    .select("url").toPandas())
    assert len(indexed_docs) == 23
    mirror_or_u05 = {u for u in indexed_docs["url"] if "u05" in u
                     or "mirror" in u}
    assert len(mirror_or_u05) == 1       # exactly one survives the digest

    # transitive near-dup: A~B~C all collapse to keeper dupA
    assert summary["near_dup_clustered"] == 3
    assert summary["near_dup_dropped"] == 2

    back = read_wet(spark, str(wet_dir)).toPandas()
    kept = set(back["url"])
    expect = set(full_docs["url"]) - {
        "https://c.example.org/dupB", "https://c.example.org/dupC"}
    expect -= {next(iter(
        {"https://c.example.org/u05", "https://c.example.org/mirror-of-u05"}
        - mirror_or_u05))}
    assert kept == expect
    # byte-identical text per surviving url vs the full walk
    full_map = dict(zip(full_docs["url"], full_docs["text"]))
    for r in back.itertuples():
        assert r.text == full_map[r.url], r.url


def test_near_dup_filter_unit(spark):
    base = _text(7)
    docs = spark.createDataFrame(pd.DataFrame({
        "url": ["k1", "k2", "k3", "solo"],
        "text": [base, _mutate(base, 2, "zz"), base, _text(13)],
    }))
    kept, stats = near_dup_filter(docs)
    assert sorted(r.url for r in kept.collect()) == ["k1", "solo"]
    assert (stats.get["n"], stats.get["drop"]) == (3, 2)
    c = {r.url: r.keeper for r in near_dup_clusters(docs).collect()}
    assert c == {"k1": "k1", "k2": "k1", "k3": "k1"}


def test_near_dup_filter_keep_best(spark):
    """keep_best=True keeps the cluster member with the MOST tokens —
    the k2 mutation ADDS two tokens, so the longer near-dup wins over
    the min-id member; singletons pass through untouched. The keeper
    is captured twice: both of its rows survive, once each."""
    base = _text(7)
    best = _mutate(base, 2, "zz") + " extra tail"
    docs = spark.createDataFrame(pd.DataFrame({
        "url": ["k1", "k2", "k3", "solo", "k2"],
        "text": [base, best, base, _text(13), best],
    }))
    kept, stats = near_dup_filter(docs, keep_best=True)
    assert sorted(r.url for r in kept.collect()) == ["k2", "k2", "solo"]
    assert (stats.get["n"], stats.get["drop"]) == (4, 2)


def test_cli_crawl_to_corpus(tmp_path, crawl_fixture):
    warc = tmp_path / "c.warc.gz"
    warc.write_bytes(write_warc(crawl_fixture))
    out = subprocess.run(
        [sys.executable, "-m", "findtextcenternet_spark", str(warc),
         str(tmp_path / "out"), "--format", "warc", "--near-dedup",
         "--wet-out", str(tmp_path / "wet"), "--master", "local[4]",
         "--partitions", "4"],
        capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    summary = json.loads(out.stdout.strip().splitlines()[-1])
    assert summary["mode"] == "crawl_to_corpus"
    # full walk has no index digest collapse, so the byte-identical
    # mirror ALSO falls to the near-dup pass: dupB, dupC, mirror
    assert summary["near_dup_dropped"] == 3
    assert summary["wet_records"] == 21   # 24 captures - 3 near-dup losers


def test_crawl_to_corpus_resume(spark, tmp_path, crawl_fixture):
    """Re-invoking the flagship with the same out_dir extracts ZERO new
    docs (lineage resume) but still produces the full deduped corpus —
    dedup runs over the whole extracted store, so an incremental crawl
    re-dedups against everything already extracted."""
    warc = tmp_path / "c.warc.gz"
    warc.write_bytes(write_warc(crawl_fixture))
    s1 = crawl_to_corpus(spark, str(warc), str(tmp_path / "out"),
                         input_format="warc", near_dedup=True,
                         wet_dir=str(tmp_path / "wet1"))
    s2 = crawl_to_corpus(spark, str(warc), str(tmp_path / "out"),
                         input_format="warc", near_dedup=True,
                         wet_dir=str(tmp_path / "wet2"))
    assert s1["n_docs"] == 24 and s2["n_docs"] == 0    # resume: no re-extract
    assert s1["wet_records"] == s2["wet_records"] == 21
    a = read_wet(spark, str(tmp_path / "wet1")).toPandas()
    b = read_wet(spark, str(tmp_path / "wet2")).toPandas()
    assert sorted(a["url"]) == sorted(b["url"])


def test_crawl_to_corpus_through_catalog_store(spark, tmp_path,
                                               crawl_fixture):
    """The flagship runs UNCHANGED through a catalog-style DocStore
    (storage seam: the dedup post-pass reads committed docs via
    store.read_docs(), not a parquet path)."""
    from findtextcenternet_spark.lineage import InMemoryCatalogStore

    warc = tmp_path / "c.warc.gz"
    warc.write_bytes(write_warc(crawl_fixture))
    store = InMemoryCatalogStore(spark)
    s = crawl_to_corpus(spark, str(warc), str(tmp_path / "out"),
                        input_format="warc", near_dedup=True,
                        wet_dir=str(tmp_path / "wet"), store=store)
    assert s["n_docs"] == 24
    assert s["near_dup_dropped"] == 3
    assert s["wet_records"] == 21
    # nothing was written to the parquet docs dir — the store took it
    import os
    assert not os.path.isdir(tmp_path / "out" / "docs")


def test_crawl_to_corpus_empty_selection(spark, tmp_path, crawl_fixture):
    """Review r6: a filter that selects nothing yields an empty summary,
    not a crash — through the parquet store AND the catalog store."""
    from findtextcenternet_spark.lineage import InMemoryCatalogStore

    warc = tmp_path / "c.warc.gz"
    warc.write_bytes(write_warc(crawl_fixture))
    idx_dir = tmp_path / "cdx"
    write_cdxj(build_cdx(spark, str(warc)), str(idx_dir)).collect()
    for tag, store in (("p", None), ("m", InMemoryCatalogStore(spark))):
        s = crawl_to_corpus(
            spark, str(idx_dir), str(tmp_path / f"out_{tag}"),
            input_format="cdx", cdx_mime="application/nothing-matches",
            near_dedup=True, wet_dir=str(tmp_path / f"wet_{tag}"),
            store=store)
        assert s["n_docs"] == 0
        assert s["wet_records"] == 0 and s["near_dup_dropped"] == 0


def test_cli_flag_guards(tmp_path):
    """Incompatible flag combinations fail fast instead of silently
    dropping the requested corpus outputs."""
    from findtextcenternet_spark.__main__ import main

    for argv in (
        ["in", "out", "--streaming", "--near-dedup"],
        ["in", "out", "--format", "warc", "--index", "--wet-out", "w"],
        ["in", "out", "--format", "cdx", "--cdx-dedup", "--near-dedup"],
        ["in", "out", "--keep-best"],
        ["in", "out", "--streaming", "--index", "--format", "warc"],
        ["in", "out", "--streaming", "--format", "cdx"],
        ["in", "out", "--streaming", "--partitions", "4"],
        ["in", "out", "--streaming", "--run-id", "r1"],
        ["in", "out", "--cdx-mime", "text/html"],
        ["in", "out", "--format", "warc", "--cdx-prefix", "org,example"],
        ["in", "out", "--cdx-dedup"],
    ):
        with pytest.raises(SystemExit) as ei:
            main(argv)
        assert ei.value.code == 2, argv


def test_quality_gate_filter_unit(spark):
    """The gate drops exactly the too-short and too-repetitive docs,
    tags each rejection with a reason, and passes everything else
    through byte-untouched."""
    from findtextcenternet_spark.crawl import quality_gate_filter

    rows = [
        ("u/ok", _text(1, 60)),
        ("u/short", "three words only"),
        ("u/repeat", "spam ham " * 40),          # one bigram dominates
        ("u/ok2", _text(2, 60)),
        # spaceless Japanese: 0 whitespace tokens beyond 1, but the
        # script-aware floor counts its characters as words
        ("u/ja", "吾輩は猫である。名前はまだ無い。どこで生れたか頓と見当がつかぬ。"),
        # newline-separated words count too (the floor splits on any
        # whitespace, not just the space character)
        ("u/nl", "one\ntwo\nthree\nfour\nfive\nsix"),
        ("u/ja_short", "猫だ。"),                 # 3 CJK chars < 5
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "text"]))
    kept, rejected = quality_gate_filter(docs, min_words=5,
                                         max_top_bigram_frac=0.2)
    assert {r.url for r in kept.collect()} == {"u/ok", "u/ok2", "u/ja",
                                               "u/nl"}
    rej = {r.url: r.reason for r in rejected.collect()}
    assert rej == {"u/short": "too_short", "u/repeat": "too_repetitive",
                   "u/ja_short": "too_short"}
    # kept text is identical to the input (the gate never rewrites)
    orig = dict(rows)
    for r in kept.collect():
        assert r.text == orig[r.url]


def test_host_cap_filter_unit(spark):
    """At most N docs per host survive, chosen deterministically
    (md5-of-url order — two runs agree), and unparseable ids are their
    own singleton host (never capped away)."""
    from findtextcenternet_spark.crawl import host_cap_filter

    rows = ([(f"https://big.example.org/p{i}", f"t{i}") for i in range(9)]
            + [(f"https://small.example.org/p{i}", f"s{i}")
               for i in range(2)]
            + [("not-a-url", "x")])
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "text"]))
    capped1 = sorted(r.url for r in host_cap_filter(docs, 3).collect())
    capped2 = sorted(r.url for r in host_cap_filter(docs, 3).collect())
    assert capped1 == capped2                       # deterministic
    assert sum(u.startswith("https://big.") for u in capped1) == 3
    assert sum(u.startswith("https://small.") for u in capped1) == 2
    assert "not-a-url" in capped1


def test_crawl_to_corpus_quality_and_cap(spark, tmp_path, crawl_fixture):
    """Flagship with the gate + cap enabled: summary accounting matches
    the corpus delta, and the surviving corpus is the ungated corpus
    minus exactly the gated/capped docs."""
    warc = tmp_path / "a.warc"
    # add a repetitive junk page and a burst of extra pages on one host
    fixture = crawl_fixture + [
        _page("https://c.example.org/junk", "spam ham " * 40)]
    warc.write_bytes(write_warc(fixture))

    base = crawl_to_corpus(
        spark, str(warc), str(tmp_path / "o1"), input_format="warc",
        near_dedup=True, quality_gate=False)
    gated = crawl_to_corpus(
        spark, str(warc), str(tmp_path / "o2"), input_format="warc",
        near_dedup=True, quality_gate=True, host_cap=10)
    # 25 captures; near-dedup drops dupB, dupC and one of u05/mirror
    assert base["corpus_docs"] == 22
    assert gated["quality_rejected"] == 1            # the junk page
    # everything is one host: 21 survive the gate and dedup, 10 stay
    assert gated["host_capped"] == 11
    assert gated["corpus_docs"] == 10
    assert (gated["corpus_docs"]
            == base["corpus_docs"] - gated["quality_rejected"]
            - gated["host_capped"])


def test_url_canon_filter_unit(spark):
    """Re-captures of one canonical URL collapse to the min id; distinct
    real params survive; host case folds, path case does not."""
    from findtextcenternet_spark.crawl import url_canon_filter

    rows = [
        ("https://A.example.org/P?utm_source=x", "t1"),
        ("https://a.example.org/P#frag", "t2"),       # same canon as ^
        ("https://a.example.org/P?id=2", "t3"),       # real param: kept
        ("https://a.example.org/p", "t4"),            # path case differs
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "text"]))
    kept, collapsed = url_canon_filter(docs)
    assert {r.url for r in kept.collect()} == {
        "https://A.example.org/P?utm_source=x",   # min(url) of the pair
        "https://a.example.org/P?id=2",
        "https://a.example.org/p",
    }
    assert [r.url for r in collapsed.collect()] == [
        "https://a.example.org/P#frag"]


def test_pii_scrub_docs_unit(spark):
    """Emails/IPs are replaced in-place (schema unchanged), the audit
    count observed by the action over the scrubbed frame matches, and
    PII-free docs come through byte-identical."""
    from findtextcenternet_spark.crawl import pii_scrub_docs

    rows = [
        ("u/a", "mail me at bob@example.org or at 10.1.2.3 ok"),
        ("u/b", "clean text with no pii at all"),
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "text"]))
    out, audit = pii_scrub_docs(docs)
    assert out.columns == docs.columns
    got = {r.url: r.text for r in out.collect()}
    assert got["u/a"] == "mail me at <EMAIL> or at <IP> ok"
    assert got["u/b"] == rows[1][1]
    assert audit.get["n_redactions"] == 2


def test_crawl_to_corpus_url_canon_and_pii(spark, tmp_path, crawl_fixture):
    """Flagship with --url-canon and --pii-scrub: utm-noise re-captures
    collapse before dedup, PII is redacted in the WET output, and the
    summary accounts for both."""
    fixture = crawl_fixture + [
        # a tracking-noise re-capture of u07 under a different raw url
        _page("https://c.example.org/u07?utm_source=feed#top", _text(7)),
        _page("https://c.example.org/pii",
              _text(500) + " reach admin@example.org via 192.168.0.9"),
    ]
    warc = tmp_path / "a.warc"
    warc.write_bytes(write_warc(fixture))

    s = crawl_to_corpus(
        spark, str(warc), str(tmp_path / "o"), input_format="warc",
        near_dedup=True, url_canon=True, pii_scrub=True,
        wet_dir=str(tmp_path / "wet"))
    assert s["url_collapsed"] == 1
    assert s["pii_redactions"] == 2

    from findtextcenternet_spark.sources.warc import read_wet
    wet = read_wet(spark, str(tmp_path / "wet")).toPandas()
    urls = set(wet["url"])
    # the canonical keeper (bare u07) survived, the utm variant did not
    assert "https://c.example.org/u07" in urls
    assert "https://c.example.org/u07?utm_source=feed#top" not in urls
    pii_text = wet[wet["url"] == "https://c.example.org/pii"
                   ].iloc[0]["text"]
    assert "<EMAIL>" in pii_text and "<IP>" in pii_text
    assert "admin@example.org" not in pii_text
    assert "192.168.0.9" not in pii_text


def test_crawl_to_corpus_incremental_cdx_diff(spark, tmp_path):
    """--cdx-diff: the second crawl fetches ONLY new/changed urls — the
    unchanged re-captures never leave the archive."""
    snap1 = [_page(f"https://c.example.org/u{i:02d}", _text(i))
             for i in range(10)]
    snap2 = ([_page(f"https://c.example.org/u{i:02d}", _text(i))
              for i in range(10) if i != 3]
             + [_page("https://c.example.org/u03",
                      _text(3) + " freshly edited tail"),
                _page("https://c.example.org/u20", _text(20))])
    (tmp_path / "w1.warc.gz").write_bytes(write_warc(snap1))
    (tmp_path / "w2.warc.gz").write_bytes(write_warc(snap2))
    idx1, idx2 = tmp_path / "idx1", tmp_path / "idx2"
    write_cdxj(build_cdx(spark, str(tmp_path / "w1.warc.gz")),
               str(idx1)).collect()
    write_cdxj(build_cdx(spark, str(tmp_path / "w2.warc.gz")),
               str(idx2)).collect()

    s = crawl_to_corpus(spark, str(idx2), str(tmp_path / "out"),
                        input_format="cdx", cdx_diff_old=str(idx1),
                        near_dedup=False)
    docs = (spark.read.parquet(str(tmp_path / "out" / "docs"))
            .filter(F.col("error").isNull()).toPandas())
    assert sorted(docs["url"]) == ["https://c.example.org/u03",
                                   "https://c.example.org/u20"]
    assert s["near_dup_dropped"] == 0    # dedup off; diff did the saving
    assert docs.set_index("url").loc[
        "https://c.example.org/u03", "text"].endswith("freshly edited tail")


# ---- the summary funnel (observed, not counted by extra jobs) ---------

_FUNNEL = ("url_collapsed", "paragraphs_dropped", "boilerplate_only",
           "quality_rejected", "near_dup_clustered", "near_dup_dropped",
           "host_capped", "pii_redactions")
_ALL_FLAGS = dict(near_dedup=True, url_canon=True, para_dedup_max=2,
                  quality_gate=True, host_cap=10, pii_scrub=True)


def test_crawl_to_corpus_nothing_removed(spark, tmp_path, deadline):
    """Every post-pass on and none removes anything: no url variant, no
    shared paragraph, no gated page, no near-dup pair (so the cluster
    frame is empty), a cap above every host, no PII. Every funnel count
    is 0 and the corpus is the input, through both sinks. An
    Observation on a branch that AQE prunes as empty fails or never
    fills, so this also runs under a deadline."""
    warc = tmp_path / "a.warc"
    warc.write_bytes(write_warc(
        [_page(f"https://c.example.org/u{i:02d}", _text(i))
         for i in range(20)]))
    for tag, wet in (("wet", str(tmp_path / "wet")), ("count", None)):
        with deadline(600):
            s = crawl_to_corpus(spark, str(warc), str(tmp_path / tag),
                                input_format="warc", wet_dir=wet,
                                **{**_ALL_FLAGS, "host_cap": 100})
        assert {k: s[k] for k in _FUNNEL} == dict.fromkeys(_FUNNEL, 0)
        assert s["wet_records" if wet else "corpus_docs"] == 20


def test_crawl_to_corpus_all_quarantined(spark, tmp_path, deadline):
    """A store holding only quarantined rows: every post-pass runs over
    an empty frame, every funnel count is 0 and no WET shard is
    written — no crash, no hang."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "url": [f"https://c.example.org/bad{i}" for i in range(5)],
        "html": pa.array([None] * 5, pa.binary())}),
        str(tmp_path / "pages.parquet"))
    with deadline(600):
        s = crawl_to_corpus(spark, str(tmp_path / "pages.parquet"),
                            str(tmp_path / "out"), input_format="parquet",
                            wet_dir=str(tmp_path / "wet"), **_ALL_FLAGS)
    assert (s["n_docs"], s["n_quarantined"]) == (0, 5)
    assert {k: s[k] for k in _FUNNEL} == dict.fromkeys(_FUNNEL, 0)
    assert s["wet_records"] == s["wet_shards"] == 0


def test_crawl_to_corpus_near_dedup_keep_best(spark, tmp_path,
                                              crawl_fixture):
    """near_dedup_keep_best=True end to end: dupC carries two extra
    tokens, so the chain's LONGEST member survives in the WET output
    instead of the min-id dupA; the byte-identical u05/mirror pair ties
    on length and keeps its min id, the mirror. The keeper dupC and the
    loser dupA are each captured twice: both dupC rows reach the WET
    output once each, both dupA rows count as dropped, and the funnel
    conserves rows."""
    longer = _mutate(_mutate(_text(9999, 130), 3, "xq1"), 60, "xq2")
    fixture = ([r for r in crawl_fixture
                if r["url"] != "https://c.example.org/dupC"]
               + [_page("https://c.example.org/dupC",
                        longer + " extra tail")] * 2
               + [_page("https://c.example.org/dupA", _text(9999, 130))])
    warc = tmp_path / "a.warc"
    warc.write_bytes(write_warc(fixture))
    s = crawl_to_corpus(spark, str(warc), str(tmp_path / "out"),
                        input_format="warc", near_dedup=True,
                        near_dedup_keep_best=True,
                        wet_dir=str(tmp_path / "wet"))
    # rows: dupA x2, dupB, dupC x2 + u05, mirror; dropped dupA x2,
    # dupB, u05
    assert s["near_dup_clustered"] == 7
    assert s["near_dup_dropped"] == 4
    assert s["n_docs"] - s["near_dup_dropped"] == s["wet_records"] == 22
    wet = read_wet(spark, str(tmp_path / "wet")).toPandas()
    assert len(wet) == 22
    assert (wet["url"] == "https://c.example.org/dupC").sum() == 2
    urls = set(wet["url"])
    assert len(urls) == 21
    assert {"https://c.example.org/dupC",
            "https://c.example.org/mirror-of-u05"} <= urls
    assert not urls & {"https://c.example.org/dupA",
                       "https://c.example.org/dupB",
                       "https://c.example.org/u05"}


@pytest.fixture(scope="module")
def all_flags_run(spark, tmp_path_factory, crawl_fixture, query_ids):
    """One all-flags crawl_to_corpus over the crawl fixture plus a
    capture per post-pass, run under its own Spark job group:
    (summary, out dir, Spark jobs, SQL queries it ran)."""
    tp = tmp_path_factory.mktemp("allflags")
    pages = crawl_fixture + [
        _page("https://c.example.org/u07?utm_source=feed#top", _text(7)),
        _page("https://c.example.org/pii",
              _text(500) + " reach admin@example.org via 192.168.0.9"),
        # one url captured twice: two spam texts of EQUAL length
        _page("https://c.example.org/junk", "spam ham " * 40),
        _page("https://c.example.org/junk", "eggs jam " * 40),
        _page("https://c.example.org/short", "too short"),
    ] + [_page(f"https://d.example.org/p{i}",
               _text(300 + i) + "\nshared footer paragraph\n"
               + _text(400 + i)) for i in range(4)]
    warc = tp / "a.warc"
    warc.write_bytes(write_warc(pages))
    sc = spark.sparkContext
    group = "crawl-all-flags"
    last = max(query_ids(spark), default=-1)
    sc.setJobGroup(group, "all-flags crawl_to_corpus")
    try:
        s = crawl_to_corpus(spark, str(warc), str(tp / "out"),
                            input_format="warc", wet_dir=str(tp / "wet"),
                            **_ALL_FLAGS)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    queries = [q for q in query_ids(spark) if q > last]
    return (s, tp / "out", sc.statusTracker().getJobIdsForGroup(group),
            queries)


def test_crawl_to_corpus_funnel_matches_helpers(spark, all_flags_run):
    """Each funnel number equals what the standalone helpers find on the
    same store docs, and the funnel conserves rows: docs read − Σ rows
    removed = WET records.

    Counts are ROWS removed. The junk url is captured twice, and
    ``quality_gate_filter``'s ``rejected`` frame lists it once (its
    repetition side is one row per url and text length), but both rows
    leave the corpus: ``quality_rejected`` is 3, not that union's 2.
    No page here is all boilerplate at ``para_dedup_max=2``; see
    :func:`test_crawl_to_corpus_boilerplate_only_pages`."""
    from findtextcenternet_spark.crawl import (
        host_cap_filter,
        pii_scrub_docs,
        quality_gate_filter,
        url_canon_filter,
    )
    from findtextcenternet_spark.plans.training_data import (
        drop_repeated_paragraphs,
    )

    s, out, _, _ = all_flags_run
    docs = (spark.read.parquet(str(out / "docs"))
            .filter(F.col("error").isNull()).select("url", "text"))
    canon, collapsed = url_canon_filter(docs)
    cleaned = drop_repeated_paragraphs(
        canon, id_col="url", max_count=_ALL_FLAGS["para_dedup_max"])
    para = (cleaned.filter(F.col("clean_text").isNotNull())
            .select("url", F.col("clean_text").alias("text")))
    gated, rejected = quality_gate_filter(para)
    deduped, _ = near_dup_filter(gated)
    clusters = near_dup_clusters(gated)
    capped = host_cap_filter(deduped, 10)
    scrubbed, audit = pii_scrub_docs(capped)
    n_sink = scrubbed.count()
    want = {
        "url_collapsed": collapsed.count(),
        "paragraphs_dropped": cleaned.agg(F.sum("n_dropped")).first()[0],
        "boilerplate_only": cleaned.count() - para.count(),
        "quality_rejected": para.count() - gated.count(),
        "near_dup_clustered": clusters.count(),
        "near_dup_dropped": clusters.filter(
            F.col("url") != F.col("keeper")).count(),
        "host_capped": deduped.count() - n_sink,
        "pii_redactions": audit.get["n_redactions"],
    }
    assert {k: s[k] for k in _FUNNEL} == want
    # u07 variant; 4 shared footers; junk x2 + short; the A~B~C chain
    # and u05/mirror; c.example.org over the cap; one email, one IPv4
    assert want == {"url_collapsed": 1, "paragraphs_dropped": 4,
                    "boilerplate_only": 0,
                    "quality_rejected": 3, "near_dup_clustered": 5,
                    "near_dup_dropped": 3, "host_capped": 12,
                    "pii_redactions": 2}
    assert rejected.count() == 2
    assert (s["n_docs"], s["n_quarantined"]) == (docs.count(), 0)
    removed = (s["url_collapsed"] + s["boilerplate_only"]
               + s["quality_rejected"] + s["near_dup_dropped"]
               + s["host_capped"])
    assert s["n_docs"] - removed == s["wet_records"] == n_sink


def test_crawl_to_corpus_boilerplate_only_pages(spark, tmp_path,
                                                crawl_fixture):
    """At ``para_dedup_max=1`` the byte-identical u05/mirror pair shares
    its one paragraph, so both pages are all boilerplate and leave the
    corpus under ``boilerplate_only``; the funnel still conserves rows
    with the A~B~C chain's two losers dropped as near-dups."""
    warc = tmp_path / "a.warc"
    warc.write_bytes(write_warc(crawl_fixture))
    s = crawl_to_corpus(spark, str(warc), str(tmp_path / "out"),
                        input_format="warc", para_dedup_max=1,
                        wet_dir=str(tmp_path / "wet"))
    assert (s["paragraphs_dropped"], s["boilerplate_only"]) == (2, 2)
    assert s["near_dup_dropped"] == 2
    removed = (s["url_collapsed"] + s["boilerplate_only"]
               + s["quality_rejected"] + s["near_dup_dropped"]
               + s["host_capped"])
    assert s["n_docs"] - removed == s["wet_records"] == 20
    urls = set(read_wet(spark, str(tmp_path / "wet")).toPandas()["url"])
    assert not urls & {"https://c.example.org/u05",
                       "https://c.example.org/mirror-of-u05"}


def test_crawl_to_corpus_job_budget(all_flags_run):
    """ROADMAP aim 4: the funnel costs no Spark job of its own.

    The bound is on SQL queries, one per DataFrame action, write or
    pin (``sources.session.pin``): every counter-only action was one,
    and so was each connected-components fingerprint until it became
    the metrics of the round's pin. The job count itself is not a
    stable bound: AQE runs each query stage as a job, and how many it
    runs can vary by one from run to run. Measured on the all-flags
    run, 4 local cores: 10 queries and 53 jobs in each of 6 runs. With
    a separate fingerprint action per CC round it took 13 queries and
    55-56 jobs; when every funnel number was a separate action too
    (url-canon count, paragraph agg, rejected count, cluster agg,
    host-cap before/after counts, PII audit and run_extract's two
    counts) it took 21 queries and 95 jobs."""
    _, _, jobs, queries = all_flags_run
    assert len(queries) <= 10, (len(queries), len(jobs))
