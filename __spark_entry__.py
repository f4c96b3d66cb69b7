"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: wraps the shared ``documents`` table into
Common-Crawl-style HTML pages and runs the main-content extraction pipeline
(findtextcenternet_spark.pipeline) over them.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 plus the training-data ops; oracles run on DuckDB over the same
parquet. Extraction-pipeline entries that are not SQL-expressible
(detect/group/decode) are registered without an oracle (rows-only check);
their correctness gate is the byte-identical golden parity in tests/.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _wrap_documents_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → full HTML pages (boilerplate + main_text div)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    html = F.concat(
        F.lit('<html><head><title>doc</title></head><body>'
              '<div class="header"><h1>site</h1><a href="/nav">nav</a></div>'
              '<div class="main_text">'),
        F.col("text"),
        F.lit('</div><div class="footer">boilerplate footer</div>'
              "</body></html>"),
    )
    return docs.select(
        F.concat(F.lit("https://docs.example.org/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.col("doc_id"),
        html.cast("binary").alias("html"),
        "text", "lang",
    )


def _extract_html_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extraction plan (``extract_documents``) over wrapped documents;
    it inverts the wrap, so the DuckDB oracle is simply the original
    documents table. ``doc_id`` comes back from the url tail."""
    from findtextcenternet_spark.pipeline import extract_documents

    docs = extract_documents(_wrap_documents_as_pages(spark, sf_dir))
    return docs.select(
        F.substring_index("url", "/", -1).cast("long").alias("doc_id"),
        "text")


def _extract_synthetic_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full extraction pipeline over the deterministic synthetic corpus
    (detect/group/decode are not SQL-expressible → rows-only check; the
    byte-parity gate lives in tests/test_pipeline_spark.py)."""
    from findtextcenternet_spark.corpus import generate_pages
    from findtextcenternet_spark.pipeline import (
        extract_documents,
        pages_from_pandas,
    )

    pages = pages_from_pandas(spark, generate_pages(200))
    out = extract_documents(pages)
    return out.select("url", "path", "text",
                      F.size("spans").alias("n_spans"))


def _extract_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poison-pill path: corpus + two injected corrupt pages → the
    extraction's error rows, the quarantine (rows-only check; exact
    errors asserted in tests/test_lineage.py)."""
    import pandas as pd

    from findtextcenternet_spark.corpus import RASTER_MARKER, generate_pages
    from findtextcenternet_spark.pipeline import (
        extract_documents,
        pages_from_pandas,
    )

    good = generate_pages(50)
    bad = pd.DataFrame([
        {"url": "https://bad.example.org/truncated-layout",
         "warc_ts": good["warc_ts"].iloc[0],
         "html": RASTER_MARKER + b'{"page_w": 768, "glyphs": [{',
         "text": "", "lang": "raster:xx"},
        {"url": "https://bad.example.org/corrupt-flate-pdf",
         "warc_ts": good["warc_ts"].iloc[0],
         # truly malformed: the FlateDecode stream carries garbage
         # deflate bytes (compression itself is SUPPORTED since r5)
         "html": b"%PDF-1.4\n1 0 obj\n"
         b"<< /Length 4 /Filter /FlateDecode >>\n"
         b"stream\nxxxx\nendstream\n",
         "text": "", "lang": "en"},
    ])
    pages = pages_from_pandas(
        spark, pd.concat([good, bad], ignore_index=True))
    docs = extract_documents(pages, num_partitions=8)
    return docs.filter(F.col("error").isNotNull()).select(
        "url", F.substring("error", 1, 40).alias("error_head"))


def _crawl_corpus_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawl→corpus flagship (rows-only): wrap the documents
    table as HTML pages + inject a transitive near-dup chain, publish as
    a WARC archive, then CDX index → digest-collapsed range fetch →
    extraction → transitive near-dup cluster dedup → WET corpus. The
    hard gates live in tests/test_crawl_corpus.py (seam test: indexed
    path == full walk minus duplicates, byte-identical text per url)."""
    import shutil
    import tempfile

    from findtextcenternet_spark.crawl import crawl_to_corpus
    from findtextcenternet_spark.sources.cdx import build_cdx, write_cdxj
    from findtextcenternet_spark.sources.warc import read_wet, write_warc

    pages = (_wrap_documents_as_pages(spark, sf_dir)
             .orderBy("doc_id").limit(60).toPandas())
    rows = [{"url": r.url, "warc_ts": __import__("datetime").datetime(
                 2026, 3, 1), "html": bytes(r.html), "text": r.text,
             "lang": r.lang} for r in pages.itertuples()]
    # near-dup chain: A ~ B ~ C (single-word perturbations; A and C
    # differ by TWO words, so only transitivity links them)
    base = str(pages["text"].iloc[0])
    mut_b = base.split(" ")
    mut_b[min(2, len(mut_b) - 1)] = "xqzzy1"
    mut_c = list(mut_b)
    mut_c[min(40, len(mut_c) - 1)] = "xqzzy2"
    for tag, words in (("b", mut_b), ("c", mut_c)):
        rows.append({**rows[0], "url": f"https://docs.example.org/dup/{tag}",
                     "text": " ".join(words),
                     "html": bytes(pages["html"].iloc[0]).replace(
                         base.encode(), " ".join(words).encode())})
    tmp = tempfile.mkdtemp(prefix="crawl_flagship_")
    try:
        warc = f"{tmp}/c-00000.warc.gz"
        with open(warc, "wb") as f:
            f.write(write_warc(rows))
        write_cdxj(build_cdx(spark, warc), f"{tmp}/cdx").collect()
        crawl_to_corpus(spark, f"{tmp}/cdx", f"{tmp}/out",
                        input_format="cdx", near_dedup=True,
                        wet_dir=f"{tmp}/wet", num_partitions=8)
        out = (read_wet(spark, f"{tmp}/wet")
               .select("url", F.length("text").alias("n_chars"))
               .toPandas())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(out)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _extract_html_docs(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 entries — the driver's CORRECTNESS window records at
    most 50, so near-duplicate relational demos are folded into merged
    entries (plans/curated.py) and EVERY operator family (incl. all
    dedup/ANN/LLM-data ops and the pipeline legs) gets a driver row."""
    from findtextcenternet_spark.plans import curated_registry

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        name: fn for name, (fn, _sql) in curated_registry().items()
    }
    out["s5_extract_html_docs"] = _extract_html_docs
    out["pipeline_extract_corpus"] = _extract_synthetic_corpus
    out["pipeline_quarantine"] = _extract_quarantine
    out["pipeline_crawl_corpus"] = _crawl_corpus_flagship
    return out


def oracle_sql() -> dict[str, str]:
    from findtextcenternet_spark.plans import curated_registry

    out = {name: sql for name, (_fn, sql) in curated_registry().items()
           if sql is not None}
    out["s5_extract_html_docs"] = "SELECT doc_id, text FROM documents"
    return out
