"""Structured Streaming increment (SURVEY.md §2.9).

The reference has no streaming operators; these are the Spark-native
analogues of its nearest patterns:

* unbounded ingest loop (make_traindata/make_traindata3.py:82-115, generate
  until covered)            → ``readStream`` file source + checkpointed sink;
* running Welford stats (loss_func.py:47-67 CoVWeightingLoss)
                            → ``applyInPandasWithState`` keyed state;
* byte-range resume of the shard downloader (downloader_src/main.cpp:50-71)
                            → checkpoint directory: a restarted query resumes
                              from the last committed micro-batch offset.

Extraction has one streaming form, the batch plan run once per
micro-batch: ``stream_extract`` takes any pages stream
(``read_pages_stream`` over a pages parquet dir, or
``sources/warc.read_warc_stream`` over a WARC landing dir) and hands
each micro-batch to ``extract_documents`` inside one idempotent
``foreachBatch`` sink. Every page kind (HTML, raster, PDF) is extracted
or quarantined there; none is filtered out of the stream.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources import PAGES_SCHEMA


# newly-landed pages parquet files one micro-batch takes at most
_FILES_PER_TRIGGER = 8


def read_pages_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream over a directory of pages parquet (the Iceberg
    analogue of incremental snapshot reads), at most
    ``_FILES_PER_TRIGGER`` files a micro-batch."""
    return (spark.readStream.schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", str(_FILES_PER_TRIGGER))
            .parquet(input_dir))


def _foreach_batch_idempotent(stream_df: DataFrame, out_dir: str,
                              checkpoint_dir: str, transform=None):
    """The ONE idempotent foreachBatch sink every heavy streaming job
    uses: each micro-batch (optionally transformed by the batch planner)
    writes its own ``batch_id=<id>`` partition with overwrite, so a
    replayed batch (crash between sink write and checkpoint commit)
    overwrites itself instead of duplicating — effectively-once."""
    import os

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}"))

    return (stream_df.writeStream.foreachBatch(_process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def stream_extract(pages: DataFrame, out_dir: str, checkpoint_dir: str,
                   quality_gate: bool = False):
    """Streaming main-content extraction: the streaming twin of
    ``lineage.run_extract(pages, ...)``. ``pages`` is a pages stream
    (``read_pages_stream`` or ``sources/warc.read_warc_stream``); each
    micro-batch runs the batch ``extract_documents`` plan over every page
    kind through :func:`_foreach_batch_idempotent`, so a replayed batch
    overwrites its own ``batch_id=<id>`` partition (effectively-once),
    and a restart on the same checkpoint resumes after the last
    committed batch.

    Error rows of the archive readers (null html) come out as quarantine
    rows under their own url with the reader's own ``error`` text, so a
    corrupt archive tail never stalls the stream. With ``quality_gate`` the per-doc gate (word floor +
    repetition ceiling, row-local, so micro-batch-safe) marks rejects as
    ``quality:<reason>`` error rows instead of dropping them."""
    from ..crawl import apply_quality_gate
    from ..pipeline import extract_documents

    def _extract(batch: DataFrame) -> DataFrame:
        docs = extract_documents(batch)
        return apply_quality_gate(docs) if quality_gate else docs

    return _foreach_batch_idempotent(pages, out_dir, checkpoint_dir,
                                     transform=_extract)


def stream_index_warc(spark: SparkSession, input_dir: str,
                      out_dir: str, checkpoint_dir: str):
    """Streaming crawl indexing: tail a WARC landing directory and append
    each micro-batch's CDX entries (sources/cdx.build_cdx_stream) to the
    index table under ``batch_id=<id>`` partitions — overwrite per batch,
    so a replayed batch (crash between sink write and checkpoint commit)
    overwrites itself instead of duplicating. Error rows (corrupt archive
    tails) land in the table with their per-archive key, so the index
    also records WHICH archives need re-fetching. The sorted CDXJ shards
    remain a batch compaction over this table (write_cdxj), mirroring the
    crawl's per-segment cdx → cluster index split."""
    from ..sources.cdx import build_cdx_stream

    entries = build_cdx_stream(spark, input_dir)
    return _foreach_batch_idempotent(entries, out_dir, checkpoint_dir)


def stream_quality_windows(spark: SparkSession, input_dir: str,
                           watermark: str = "10 minutes",
                           window: str = "1 hour"):
    """Watermarked tumbling-window corpus quality metrics: docs/sec-style
    counters per (window, lang) with late-data tolerance. Returns the
    aggregated streaming DataFrame (caller attaches a sink)."""
    pages = read_pages_stream(spark, input_dir)
    return (pages.withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("win"), "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.avg(F.length("text")).alias("avg_chars"),
                 F.sum(F.length("html")).alias("bytes_in")))


def stream_sessionize(spark: SparkSession, input_dir: str,
                      gap: str = "30 minutes",
                      watermark: str = "10 minutes"):
    """Gap sessionization as a native streaming session window
    (``F.session_window``): crawl activity per (session, lang). The batch
    analogue (lag + running sum) is the registered ``sessionize`` oracle
    query; this is the stateful streaming form with watermark-bounded
    state."""
    pages = read_pages_stream(spark, input_dir)
    return (pages.withWatermark("warc_ts", watermark)
            .groupBy(F.session_window("warc_ts", gap).alias("sess"), "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.length("text")).alias("chars")))


_WELFORD_STATE = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("mean", T.DoubleType()),
    T.StructField("m2", T.DoubleType()),
])
_WELFORD_OUT = T.StructType([
    T.StructField("lang", T.StringType()),
    T.StructField("n", T.LongType()),
    T.StructField("mean_chars", T.DoubleType()),
    T.StructField("var_chars", T.DoubleType()),
])


def _welford_update(key, pdf_iter: Iterator[pd.DataFrame],
                    state: GroupState) -> Iterator[pd.DataFrame]:
    """Chan/Welford parallel-merge update — the same running-stats math as
    the reference's CoVWeightingLoss (loss_func.py:47-67), keyed by lang."""
    (lang,) = key
    if state.exists:
        n, mean, m2 = state.get
    else:
        n, mean, m2 = 0, 0.0, 0.0
    for pdf in pdf_iter:
        x = pdf["n_chars"].astype("float64")
        bn = int(len(x))
        if bn == 0:
            continue
        bmean = float(x.mean())
        bm2 = float(((x - bmean) ** 2).sum())
        delta = bmean - mean
        tot = n + bn
        mean += delta * bn / tot
        m2 += bm2 + delta * delta * n * bn / tot
        n = tot
    state.update((n, mean, m2))
    var = m2 / (n - 1) if n > 1 else 0.0
    yield pd.DataFrame([{"lang": lang, "n": n, "mean_chars": mean,
                         "var_chars": var}])


def stream_welford_by_lang(spark: SparkSession, input_dir: str):
    """Stateful streaming aggregate: running mean/variance of document
    length per language via applyInPandasWithState (update mode)."""
    pages = read_pages_stream(spark, input_dir)
    chars = pages.select("lang", F.length("text").alias("n_chars"))
    return (chars.groupBy("lang")
            .applyInPandasWithState(_welford_update, _WELFORD_OUT,
                                    _WELFORD_STATE, "update",
                                    GroupStateTimeout.NoTimeout))


def stream_dedup_exact(spark: SparkSession, input_dir: str,
                       watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: the first capture of each payload digest
    passes through, every later re-capture inside the watermark horizon
    is dropped (``dropDuplicatesWithinWatermark`` — Spark's stateful
    dedup operator with bounded state).

    Scale shape: state is one entry per DISTINCT digest seen within the
    watermark horizon — the streaming analogue of ``dedup_exact``'s
    hash-groupBy, and the incremental form of the CDX pipeline's
    digest collapse (``latest_unique_captures``). An unbounded crawl
    needs the horizon: without a watermark the dedup map grows with the
    whole corpus; with one, cross-horizon re-captures fall to the batch
    near-dup pass downstream (``crawl.near_dup_filter``), which is
    exactly the two-tier layout real crawl pipelines use."""
    pages = read_pages_stream(spark, input_dir)
    fp = F.md5(F.coalesce(
        F.col("html"), F.encode(F.coalesce("text", F.lit("")), "utf-8")))
    return (pages.withColumn("fp", fp)
            .withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["fp"]))
