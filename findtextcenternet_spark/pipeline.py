"""End-to-end Spark extraction pipeline (SURVEY.md §3.1 lifecycle).

One plan:

    pages ── spread(url) ── ONE kind-dispatching mapInPandas ── docs
             (1 scan, 1 shuffle, 2 stages)

The kernel splits each Arrow batch by magic bytes and runs the HTML
subset batch-vectorized, the PDF and raster subsets per-page — the
distributed form of ``golden.extract_page_golden``. Why one kernel and
not a union of per-kind legs over the spread: Catalyst pushes each leg's
kind filter BELOW its repartition, so such a union executes one source
scan, one exchange and one Python worker chain per kind.

Skew: urls are unique, so hashing on the full url is the perfect case of
salted domain repartition (tests/test_skew.py). Poison pills are handled
IN-PASS: the kernel catches per-page failures and emits an ``error`` row
(null for clean docs) — no separate validation probe, nothing parsed
twice, and one malformed page out of 10^12 costs one quarantine row,
never a task.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .corpus import RASTER_MARKER
from .functions.html_extract import extract_main_text_series
from .operators.pdf import PDF_MAGIC, extract_pdf_text

# ---------------------------------------------------------------- schemas

SPAN_TYPE = T.StructType([
    T.StructField("cx", T.DoubleType()), T.StructField("cy", T.DoubleType()),
    T.StructField("w", T.DoubleType()), T.StructField("h", T.DoubleType()),
    T.StructField("ch", T.StringType()),
    T.StructField("blockidx", T.IntegerType()),
    T.StructField("lineidx", T.IntegerType()),
    T.StructField("subidx", T.IntegerType()),
    T.StructField("ruby", T.IntegerType()),
    T.StructField("rubybase", T.IntegerType()),
    T.StructField("emphasis", T.IntegerType()),
    T.StructField("vertical", T.IntegerType()),
])
LINE_TYPE = T.StructType([
    T.StructField("x1", T.DoubleType()), T.StructField("y1", T.DoubleType()),
    T.StructField("x2", T.DoubleType()), T.StructField("y2", T.DoubleType()),
    T.StructField("blockidx", T.IntegerType()),
    T.StructField("lineidx", T.IntegerType()),
    T.StructField("text", T.StringType()),
])
BLOCK_TYPE = T.StructType([
    T.StructField("x1", T.DoubleType()), T.StructField("y1", T.DoubleType()),
    T.StructField("x2", T.DoubleType()), T.StructField("y2", T.DoubleType()),
    T.StructField("blockidx", T.IntegerType()),
    T.StructField("text", T.StringType()),
])

DOC_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("aozora", T.StringType()),
    T.StructField("noruby", T.StringType()),
    T.StructField("spans", T.ArrayType(SPAN_TYPE)),
    T.StructField("lines", T.ArrayType(LINE_TYPE)),
    T.StructField("blocks", T.ArrayType(BLOCK_TYPE)),
    T.StructField("path", T.StringType()),
    T.StructField("error", T.StringType()),   # null = extracted ok;
    # non-null rows ARE the quarantine (poison pills never fail a task)
])

# ---------------------------------------------------------------- pipeline


@F.pandas_udf(T.StringType())
def extract_html_udf(html: pd.Series) -> pd.Series:
    return extract_main_text_series(html)


# quarantine message for a null page cell: it has no magic bytes, so it
# settles on the html path
NULL_PAGE_ERROR = "NullPage: html column is null"


def is_html_col():
    """Column-side twin of the kernel's kind dispatch: true for the pages
    the HTML path takes — no raster or PDF magic bytes, or a null cell
    (quarantined there). Binary prefix probes, JVM-side, no decoded copy
    of the page."""
    html = F.col("html")
    return ((~F.startswith(html, F.lit(RASTER_MARKER))
             & ~F.startswith(html, F.lit(PDF_MAGIC)))
            | html.isNull())


def spread_pages(pages: DataFrame, num_partitions: int | None = None,
                 ) -> DataFrame:
    """Hash-repartition the input on ``url`` before the extraction kernel.

    Two jobs at once (SURVEY.md §4 "what needs explicit engineering"):
      * parallelism floor — a corpus written as few giant files (or one
        bench file) would otherwise run the whole UDF pipeline on a handful
        of cores; scan splits can't cross parquet row groups;
      * skew spread — url is unique, so hashing on it is the degenerate
        (perfect) case of salted-repartition by domain: a hot host's pages
        scatter uniformly instead of landing in one task.

    This is the plan's one shuffle; column pruning pushes through it, so
    only the columns the kernel reads cross the exchange.
    """
    if num_partitions is None:
        sc = pages.sparkSession.sparkContext
        num_partitions = sc.defaultParallelism * 4
    if num_partitions <= 0:
        return pages
    return pages.repartition(num_partitions, F.col("url"))


def _make_unified_batches(weights_path: str | None = None):
    """Factory: the single kind-dispatching extraction kernel — the
    distributed form of ``golden.extract_page_golden``'s dispatch. Within
    each Arrow batch, rows split by magic bytes: the HTML subset runs the
    batch-vectorized ``extract_main_text_series`` (whole batch first,
    row-at-a-time only if that throws, so one poison page costs one error
    row), PDF and raster subsets run their per-page kernels."""
    def _unified(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .operators.model_registry import get_detector_model

        get_detector_model(weights_path)  # per-worker singleton
        yield from _unified_impl(it, weights_path)
    return _unified


def _ruby_variants(text):
    if text is None:
        return None, None
    from .functions.ruby import decode_ruby

    return decode_ruby(text, "aozora"), decode_ruby(text, "noruby")


def _unified_impl(it: Iterator[pd.DataFrame], weights_path: str | None
                  ) -> Iterator[pd.DataFrame]:
    from .golden import extract_raster_page

    doc_cols = [f.name for f in DOC_SCHEMA.fields]
    empty = {"spans": [], "lines": [], "blocks": []}
    for pdf in it:
        recs: list[dict | None] = [None] * len(pdf)
        html_idx: list[int] = []
        for i, (url, blob) in enumerate(zip(pdf["url"], pdf["html"])):
            if blob is None:
                # a null page cell is malformed input, not a task failure
                # (ADVICE r4 medium): quarantine it like any poison row.
                # 'html' path label: a null has no magic bytes, so it
                # belongs to the catch-all kind (see ``is_html_col``).
                recs[i] = {"url": url, "text": None, "aozora": None,
                           "noruby": None, **empty, "path": "html",
                           "error": NULL_PAGE_ERROR}
                continue
            b = bytes(blob)
            if b.startswith(RASTER_MARKER):
                try:
                    rec = extract_raster_page(b, weights_path)
                    recs[i] = {"url": url, "text": rec["text"],
                               "aozora": rec["aozora"],
                               "noruby": rec["noruby"],
                               "spans": rec["spans"], "lines": rec["lines"],
                               "blocks": rec["blocks"], "path": "raster",
                               "error": None}
                except Exception as e:  # noqa: BLE001 — quarantine
                    recs[i] = {"url": url, "text": None, "aozora": None,
                               "noruby": None, "spans": None, "lines": None,
                               "blocks": None, "path": "raster",
                               "error": f"{type(e).__name__}: {e}"[:500]}
            elif b.startswith(PDF_MAGIC):
                try:
                    text = extract_pdf_text(b)
                    az, nr = _ruby_variants(text)
                    recs[i] = {"url": url, "text": text, "aozora": az,
                               "noruby": nr, **empty, "path": "pdf",
                               "error": None}
                except Exception as e:  # noqa: BLE001 — quarantine
                    recs[i] = {"url": url, "text": None, "aozora": None,
                               "noruby": None, **empty, "path": "pdf",
                               "error": f"{type(e).__name__}: {e}"[:500]}
            else:
                html_idx.append(i)
        if html_idx:
            sub = pdf["html"].iloc[html_idx]
            try:  # whole-batch vectorized kernel; per-row poison fallback
                texts = extract_main_text_series(sub).tolist()
                errs: list[str | None] = [None] * len(texts)
            except Exception:  # noqa: BLE001 — isolate the poison row
                texts, errs = [], []
                for b in sub:
                    try:
                        texts.append(extract_main_text_series(
                            pd.Series([b])).iloc[0])
                        errs.append(None)
                    except Exception as e:  # noqa: BLE001
                        texts.append(None)
                        errs.append(f"{type(e).__name__}: {e}"[:500])
            for i, text, err in zip(html_idx, texts, errs):
                az, nr = _ruby_variants(text)
                recs[i] = {"url": pdf["url"].iloc[i], "text": text,
                           "aozora": az, "noruby": nr, **empty,
                           "path": "html", "error": err}
        if recs:
            yield pd.DataFrame(recs)[doc_cols]


def extract_documents(pages: DataFrame,
                      num_partitions: int | None = None,
                      weights_path: str | None = None) -> DataFrame:
    """Full extraction, one output table (``error`` column null for clean
    docs — non-null rows are the in-pass quarantine): ONE scan → one
    url-hash spread → ONE kind-dispatching mapInPandas. ``weights_path``
    routes the raster path through the real-model forward
    (operators/models.py); on a cluster ship the file with
    ``spark-submit --files`` and pass ``SparkFiles.get(...)`` here."""
    return (spread_pages(pages, num_partitions).select("url", "html")
            .mapInPandas(_make_unified_batches(weights_path), DOC_SCHEMA))


def extract_documents_robust(pages: DataFrame,
                             num_partitions: int | None = None,
                             ) -> tuple[DataFrame, DataFrame]:
    """Poison-pill-safe extraction for unbounded corpora.

    The kernel handles its own failures IN-PASS (try/except per page,
    emitting error rows) — no separate validation probe, so nothing is
    parsed twice. Returns (docs, quarantine) views over the one combined
    frame; callers that materialize both should write the combined
    ``extract_documents`` output once (lineage.py does) instead of
    executing each view separately."""
    combined = extract_documents(pages, num_partitions)
    docs = combined.filter(F.col("error").isNull()).drop("error")
    quarantine = (combined.filter(F.col("error").isNotNull())
                  .select("url", "error"))
    return docs, quarantine


def pages_from_pandas(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])
    return spark.createDataFrame(pdf, schema=schema)
