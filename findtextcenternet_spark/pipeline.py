"""End-to-end Spark extraction pipeline (SURVEY.md §3.1 lifecycle).

One plan:

    pages ── spread(url) ── ONE kind-dispatching mapInPandas ── docs
             (1 scan, 1 shuffle, 2 stages, one kernel task per core)

The kernel splits each Arrow batch by magic bytes and runs the HTML
subset batch-vectorized, the PDF subset per-page, and the raster subset
page by page up to its windows, then ONE mask-predict decode over every
window of the batch — the distributed form of
``golden.extract_page_golden``, which stays one page at a time, so
"batched equals golden for each page" is a real differential check
(tests/test_raster_batch.py). Why one kernel and not a union of
per-kind legs over the spread: Catalyst pushes each leg's kind filter
BELOW its repartition, so such a union executes one source scan, one
exchange and one Python worker chain per kind.

Why one task per core: every Python task pays a fixed start of about
0.2 s (4 vCPU, pyspark 4.1, CPython 3.11) before its first row, mostly
``importlib.invalidate_caches()`` re-reading the zip archives on the
worker's ``sys.path``. Past one task per core, more tasks only add those
starts; ``spread_pages`` documents the measurement.

Skew: urls are unique, so hashing on the full url is the perfect case of
salted domain repartition (tests/test_skew.py). Poison pills are handled
IN-PASS: the kernel catches per-page failures and emits an ``error`` row
(null for clean docs) — no separate validation probe, nothing parsed
twice, and one malformed page out of 10^12 costs one quarantine row,
never a task.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .corpus import RASTER_MARKER
from .functions.html_extract import extract_main_text_series
from .operators.assemble import assemble_page
from .operators.decode import (
    emit_window,
    frame_window,
    mask_predict,
    segment_windows,
    tokenize_boxes,
)
from .operators.detect import detect_boxes, parse_layout
from .operators.group import order_boxes
from .operators.pdf import PDF_MAGIC, extract_pdf_text
from .sources import PAGES_SCHEMA

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


# quarantine message for a null page cell that carries no reader
# ``error`` (an archive reader's error row keeps its own text): it has no
# magic bytes, so it settles on the html path
NULL_PAGE_ERROR = "NullPage: html column is null"


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

    Default: ``sc.defaultParallelism`` partitions, one kernel task per
    core. Each Python task has a fixed start before its first row: the
    worker's ``importlib.invalidate_caches()`` re-reads every zip archive
    on its ``sys.path`` (16 zipimporters over pyspark.zip and the
    spark-core jar), 0.23 s median a task on 4 vCPU with pyspark 4.1 and
    CPython 3.11. There a trivial ``mapInPandas`` took 1.50 s over 16
    partitions and 0.45 s over 4, and the 163-page raster pass 3.45 s at
    4 tasks a core against 2.12 s at 1 (medians of 10 paired runs). The
    url hash balances row counts, and per-page cost variance averages out
    as pages per task grow, so tasks beyond one per core only add starts.

    This is the plan's one shuffle; column pruning pushes through it, so
    only the columns the kernel reads cross the exchange.
    """
    if num_partitions is None:
        num_partitions = pages.sparkSession.sparkContext.defaultParallelism
    if num_partitions <= 0:
        return pages
    return pages.repartition(num_partitions, F.col("url"))


def _make_unified_batches(weights_path: str | None = None):
    """Factory: the single kind-dispatching extraction kernel — the
    distributed form of ``golden.extract_page_golden``'s dispatch. Within
    each Arrow batch, rows split by magic bytes: the HTML subset runs the
    batch-vectorized ``extract_main_text_series`` (whole batch first,
    row-at-a-time only if that throws, so one poison page costs one error
    row), the raster subset runs ``_raster_records`` (one decode for the
    batch), PDF pages their per-page kernel."""
    def _unified(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield from _unified_impl(it, weights_path)
    return _unified


def _ruby_variants(text):
    if text is None:
        return None, None
    from .functions.ruby import decode_ruby

    return decode_ruby(text, "aozora"), decode_ruby(text, "noruby")


def _error(e: Exception) -> str:
    return f"{type(e).__name__}: {e}"[:500]


def _decode_codes(staged: list, head) -> list[list[np.ndarray]]:
    """Glyph codes of every window of every staged page, ``[page][window]``.

    The surrogate head is row-wise, so ONE ``mask_predict`` over the
    framed glyph rows of all windows gives each row the codes its own
    window's call gives (a row is re-predicted only while its own
    probability is under ``REMASK_P``). The real head's float32 matmul
    rounds differently as the row count changes, so it keeps one call per
    window, exactly as ``golden.extract_raster_page`` makes them."""
    framed = [frame_window(tokens[s:e])
              for _, tokens, _, wins in staged for s, e, _ in wins]
    if head is None and framed:
        codes, _ = mask_predict(np.concatenate(framed), None)
        parts = np.split(codes, np.cumsum([len(f) for f in framed])[:-1])
    else:
        parts = [mask_predict(f, head)[0] for f in framed]
    glyphs = iter(p[1:-1] for p in parts)
    return [[next(glyphs) for _ in wins] for *_, wins in staged]


def _raster_records(pages: list[tuple[str, bytes]], model, head
                    ) -> list[dict]:
    """The raster leg over one Arrow batch's raster pages, one record each:
    parse → detect → group → tokenize → segment page by page on arrays
    (no frames between the stages), then one ``_decode_codes`` for every
    window of the batch, then emit and assemble page by page —
    ``golden.extract_raster_page``'s steps with the decode batched. A
    page that raises in a per-page step gets its error row; if the
    batched decode raises, the pages decode one at a time, so only the
    failing page is quarantined."""
    recs: list[dict] = [{"url": url, "text": None, "aozora": None,
                         "noruby": None, "spans": None, "lines": None,
                         "blocks": None, "path": "raster", "error": None}
                        for url, _ in pages]
    staged = []  # (k, tokens, meta, windows)
    for k, (_, b) in enumerate(pages):
        try:
            boxes, ((line, _), (sep, sep_vals)) = detect_boxes(
                parse_layout(b), model)
            ordered = order_boxes(boxes, line, sep, sep_vals)
            ordered["feature"] = boxes["feature"][ordered["box_id"]]
            tokens, meta = tokenize_boxes(ordered)
            staged.append((k, tokens, meta, segment_windows(tokens)))
        except Exception as e:  # noqa: BLE001 — quarantine
            recs[k]["error"] = _error(e)
    try:
        codes = _decode_codes(staged, head)
    except Exception:  # noqa: BLE001 — isolate the poison page
        codes = None
    for j, (k, tokens, meta, wins) in enumerate(staged):
        try:
            page_codes = (codes[j] if codes is not None
                          else _decode_codes([staged[j]], head)[0])
            windows = []
            for (s, e, keep_back), c in zip(wins, page_codes):
                pred, tok_of = emit_window(tokens[s:e], c)
                windows.append({"pred": pred, "tok_of": tok_of,
                                "meta": meta[s:e], "keep_back": keep_back})
            rec = assemble_page(windows)
            recs[k].update({c: rec[c] for c in (
                "text", "aozora", "noruby", "spans", "lines", "blocks")})
        except Exception as e:  # noqa: BLE001 — quarantine
            recs[k]["error"] = _error(e)
    return recs


def _unified_impl(it: Iterator[pd.DataFrame], weights_path: str | None
                  ) -> Iterator[pd.DataFrame]:
    from .operators.model_registry import get_detector_model, get_residue_heads

    # per-worker singletons (model_registry): loaded by the first batch
    model = get_detector_model(weights_path)
    head = get_residue_heads(weights_path)
    doc_cols = [f.name for f in DOC_SCHEMA.fields]
    empty = {"spans": [], "lines": [], "blocks": []}
    for pdf in it:
        recs: list[dict | None] = [None] * len(pdf)
        html_idx: list[int] = []
        raster: dict[int, tuple[str, bytes]] = {}
        reader_errs = (pdf["error"] if "error" in pdf.columns
                       else [None] * len(pdf))
        for i, (url, blob, reader_err) in enumerate(
                zip(pdf["url"], pdf["html"], reader_errs)):
            if blob is None:
                # a null page cell is malformed input, not a task failure
                # (ADVICE r4 medium): quarantine it like any poison row,
                # under the archive reader's own error when it has one.
                # 'html' path label: a null has no magic bytes, so it
                # belongs to the catch-all kind.
                recs[i] = {"url": url, "text": None, "aozora": None,
                           "noruby": None, **empty, "path": "html",
                           "error": reader_err or NULL_PAGE_ERROR}
                continue
            b = bytes(blob)
            if b.startswith(RASTER_MARKER):
                raster[i] = (url, b)
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
                               "error": _error(e)}
            else:
                html_idx.append(i)
        for i, rec in zip(raster, _raster_records(list(raster.values()),
                                                  model, head)):
            recs[i] = rec
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
                        errs.append(_error(e))
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
    ``spark-submit --files`` and pass ``SparkFiles.get(...)`` here.
    An input ``error`` column (the archive readers' row-level error) is
    carried to the kernel, so a reader's error row is quarantined with
    the reader's own text."""
    cols = ["url", "html"] + (["error"] if "error" in pages.columns else [])
    return (spread_pages(pages, num_partitions).select(*cols)
            .mapInPandas(_make_unified_batches(weights_path), DOC_SCHEMA))


def pages_from_pandas(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    return spark.createDataFrame(pdf, schema=PAGES_SCHEMA)
