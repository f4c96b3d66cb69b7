"""Distributed pipeline parity + determinism across parallelism
(BASELINE.md: byte-identical per-url text at every parallelism level)."""

import pandas as pd
import pytest

from findtextcenternet_spark.corpus import generate_pages
from findtextcenternet_spark.golden import (
    extract_corpus_golden,
    extract_page_golden,
)
from findtextcenternet_spark.pipeline import (
    extract_documents,
    pages_from_pandas,
)

N_DOCS = 80


@pytest.fixture(scope="module")
def corpus():
    return generate_pages(N_DOCS)


def _run(spark, pdf, n_parts):
    pages = pages_from_pandas(spark, pdf).repartition(n_parts, "url")
    out = extract_documents(pages).toPandas()
    return out.sort_values("url").reset_index(drop=True)


def _norm_nested(cells):
    """Normalize a spans/lines/blocks cell — list of pyspark Rows or
    golden dicts (or None/empty) — to a comparable tuple-of-tuples with
    keys in sorted order, so golden-vs-spark and run-vs-run compares
    are exact (floats must be bit-identical: same kernels, same math)."""
    if cells is None or (hasattr(cells, "__len__") and len(cells) == 0):
        return ()
    out = []
    for c in cells:
        d = c.asDict() if hasattr(c, "asDict") else dict(c)
        out.append(tuple((k, d[k]) for k in sorted(d)))
    return tuple(out)


NESTED = ["spans", "lines", "blocks"]


def test_spark_matches_golden(spark, corpus):
    out = _run(spark, corpus, 4)
    golden = extract_corpus_golden(corpus).sort_values("url").reset_index(drop=True)
    assert len(out) == len(golden) == N_DOCS
    g = golden.set_index("url")
    for r in out.itertuples():
        assert r.text == g.loc[r.url, "text"], r.url
        assert r.aozora == g.loc[r.url, "aozora"]
        assert r.noruby == g.loc[r.url, "noruby"]
        # north rule: text AND spans per document — the nested span/line/
        # block structures must match the golden exactly, not just exist
        for col in NESTED:
            assert _norm_nested(getattr(r, col)) == \
                _norm_nested(g.loc[r.url, col]), (r.url, col)


def test_partitioning_invariance(spark, corpus):
    a = _run(spark, corpus, 2)
    b = _run(spark, corpus, 7)
    # 2-row Arrow batches: the kernel's per-batch kind split sees many
    # tiny, mostly single-kind batches
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    try:
        c = _run(spark, corpus, 4)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    cols = ["url", "text", "aozora", "noruby", "path"]
    for other in (b, c):
        pd.testing.assert_frame_equal(a[cols], other[cols])
        for col in NESTED:
            assert a[col].map(_norm_nested).equals(
                other[col].map(_norm_nested))


def _assert_matches_golden(out, pdf):
    """Every output row equals ``extract_page_golden`` on its page."""
    html = dict(zip(pdf["url"], pdf["html"]))
    for r in out.itertuples():
        g = extract_page_golden(r.url, bytes(html[r.url]))
        assert (r.text, r.aozora, r.noruby, r.path) == \
            (g["text"], g["aozora"], g["noruby"], g["path"]), r.url
        for col in NESTED:
            assert _norm_nested(getattr(r, col)) == \
                _norm_nested(g[col]), (r.url, col)


def test_blank_layout_reaches_output_on_both_legs(spark, corpus):
    """A valid raster page with zero glyphs/textlines (and a zero-strength
    separator stroke) must yield an empty-text doc row equal to the
    golden's — not silently vanish (ADVICE r2: a url missing from the
    output never settles in the lineage done-set; detect also raised on
    v<=0 strokes)."""
    import json

    from findtextcenternet_spark.corpus import RASTER_MARKER

    blank = RASTER_MARKER + json.dumps(
        {"page_w": 768, "page_h": 768, "vertical": 0,
         "glyphs": [], "textlines": [], "seps": []}).encode()
    sep0 = RASTER_MARKER + json.dumps(
        {"page_w": 768, "page_h": 768, "vertical": 0,
         "glyphs": [], "textlines": [],
         "seps": [{"x1": 10, "x2": 700, "y1": 50, "y2": 50,
                   "v": 0.0}]}).encode()
    extra = pd.DataFrame([
        {"url": "https://blank.example.org/empty-layout",
         "warc_ts": corpus["warc_ts"].iloc[0], "html": blank,
         "text": "", "lang": "raster:ja"},
        {"url": "https://blank.example.org/zero-strength-sep",
         "warc_ts": corpus["warc_ts"].iloc[0], "html": sep0,
         "text": "", "lang": "raster:ja"},
    ])
    pdf = pd.concat([corpus.head(6), extra], ignore_index=True)
    out = _run(spark, pdf, 4)
    assert len(out) == len(pdf)
    assert out.error.isna().all()
    rows = out[out.url.str.startswith("https://blank.")]
    assert len(rows) == 2
    assert (rows.text == "").all()
    _assert_matches_golden(out, pdf)


def test_surrogate_html_page_does_not_fail_job(spark, corpus):
    """HTML pages whose decoded text holds a lone surrogate (a gaiji key
    mapping to U+D800; a utf-7 or unicode_escape charset declaration)
    used to kill the job in the Arrow output serializer, outside the
    kernel's quarantine. The codepoint guard makes them U+FFFD, so the
    job completes and every row equals the golden."""
    bad = [
        b'<div class="main_text">a<img src="gaiji/4-94-79.png">b</div>',
        b'<html><head><meta charset="utf-7"></head>'
        b'<div class="main_text">a+2AA-b</div></html>',
        b'<html><head><meta charset="unicode_escape"></head>'
        b'<div class="main_text">a\\ud800b</div></html>',
    ]
    extra = pd.DataFrame([
        {"url": f"https://surrogate.example.org/{i}",
         "warc_ts": corpus["warc_ts"].iloc[0], "html": b,
         "text": "", "lang": "ja"} for i, b in enumerate(bad)])
    pdf = pd.concat([corpus.head(6), extra], ignore_index=True)
    out = _run(spark, pdf, 4)
    assert len(out) == len(pdf)
    assert out.error.isna().all()
    rows = out[out.url.str.startswith("https://surrogate.")]
    assert (rows.text == "a\ufffdb").all()
    _assert_matches_golden(out, pdf)


def test_raster_records_nonempty(spark, corpus):
    out = _run(spark, corpus, 4)
    rast = out[out.path == "raster"]
    assert len(rast) > 0
    for r in rast.itertuples():
        assert len(r.spans) > 0
        assert len(r.lines) > 0
        assert len(r.blocks) > 0
        # block texts joined reproduce the flat text ('\n\n' between blocks)
        joined = "\n\n".join(b["text"].rstrip("\n") for b in r.blocks)
        assert joined == r.text


def test_null_html_quarantined_identically_in_both_plans(spark):
    """ADVICE r4 (medium): a null html cell must become ONE quarantine
    row — not a task crash (bytes(None)) and not a silently vanished url
    (the magic-byte probes return null on it) — while every other page
    still equals the golden."""
    from findtextcenternet_spark.pipeline import NULL_PAGE_ERROR

    good = generate_pages(10)
    nulls = pd.DataFrame([
        {"url": "https://null.example.org/missing-body",
         "warc_ts": good["warc_ts"].iloc[0],
         "html": None, "text": "", "lang": "en"},
    ])
    pages = pages_from_pandas(spark, pd.concat([good, nulls],
                                               ignore_index=True))
    out = (extract_documents(pages, num_partitions=4)
           .toPandas().sort_values("url").reset_index(drop=True))
    assert len(out) == 11  # the null url settles, never vanishes
    row = out[out["url"] == "https://null.example.org/missing-body"]
    assert len(row) == 1
    assert row["error"].iloc[0] == NULL_PAGE_ERROR
    assert row["path"].iloc[0] == "html"
    assert row["text"].iloc[0] is None
    rest = out[out["url"] != "https://null.example.org/missing-body"]
    assert rest.error.isna().all()
    _assert_matches_golden(rest, good)


def test_default_spread_runs_one_kernel_task_per_core(spark, corpus):
    """With no ``num_partitions``, the kernel stage runs exactly
    ``defaultParallelism`` Python tasks: every Python task pays a fixed
    start, and past one task per core more tasks only add starts. Read
    off the status tracker: the kernel is the result stage after the url
    exchange, the last stage of the write's jobs."""
    sc = spark.sparkContext
    group = "one-kernel-task-per-core"
    sc.setJobGroup(group, "extract_documents into the noop sink")
    try:
        (extract_documents(pages_from_pandas(spark, corpus))
         .write.format("noop").mode("overwrite").save())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stages = [s for j in tracker.getJobIdsForGroup(group)
              for s in tracker.getJobInfo(j).stageIds]
    kernel = tracker.getStageInfo(max(stages))
    assert kernel.numTasks == sc.defaultParallelism == 4
