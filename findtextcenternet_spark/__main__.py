"""CLI driver — the engine's analogue of the reference's ``run_ocr.py IMG``
(reference: run_ocr.py:5-39 backend dispatch + glob loop).

    spark-submit --py-files pkg.zip -m findtextcenternet_spark ...   # or
    python -m findtextcenternet_spark INPUT OUT_DIR
        [--format parquet|warc|cdx] [--master local[32]] [--partitions N]
        [--run-id ID] [--streaming]
        [--index] [--cdx-mime TYPE] [--cdx-prefix SURT]
        [--cdx-diff OLD_IDX] [--cdx-dedup]
        [--near-dedup] [--para-dedup N] [--wet-out DIR]
        [--quality-gate] [--host-cap N] [--url-canon] [--pii-scrub]
        [--compact N]

Batch mode runs one resumable lineage-tracked extraction pass (re-invoking
with the same OUT_DIR extracts only not-yet-done urls). ``--format warc``
ingests crawl-native .warc/.warc.gz archives (sources/warc.py) instead of
a pages parquet; archives whose tails are corrupt land their error-marker
rows in the quarantine like any other poison page. ``--streaming``
instead tails INPUT as a file-source stream (a pages parquet dir, or with
``--format warc`` a crawl landing directory read archive by archive) and
runs the same batch extraction plan once per micro-batch
(streaming.stream_extract): every page kind is extracted or quarantined,
into checkpointed, idempotent (effectively-once) output; only the per-doc
``--quality-gate`` combines with it (``--partitions`` and ``--run-id``
are batch-only).

The index pair covers the crawl's two-phase flow at corpus scale: first
``--format warc --index`` walks archives ONCE and publishes sorted CDXJ
shards to OUT_DIR (one task per archive, ``--partitions`` = shard
count); later ``--format cdx`` runs extraction FROM an index, pruning by
``--cdx-mime`` / ``--cdx-prefix`` before any archive byte moves and
range-fetching only the selected records (sources/cdx.py). The
``--cdx-*`` flags require ``--format cdx``; ``--streaming`` neither
builds nor reads an index.

``--near-dedup`` / ``--para-dedup N`` / ``--wet-out DIR`` chain the
full crawl→corpus flagship (crawl.crawl_to_corpus): extraction stays
resumable, then paragraph-grain boilerplate drop, transitive near-dup
cluster dedup (one keeper per cluster), and a WET-shard corpus sink.
"""

from __future__ import annotations

import argparse
import json
import os


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="findtextcenternet_spark")
    ap.add_argument("input", help="pages parquet or WARC dir (file, dir, "
                                  "or glob)")
    ap.add_argument("out_dir", help="output root (docs/ + _lineage/)")
    ap.add_argument("--format", choices=("parquet", "warc", "cdx"),
                    default="parquet", dest="input_format")
    ap.add_argument("--master", default=None)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("--index", action="store_true",
                    help="with --format warc: build the CDX index of "
                         "INPUT into OUT_DIR instead of extracting")
    ap.add_argument("--cdx-mime", default=None,
                    help="with --format cdx: keep only this mime")
    ap.add_argument("--cdx-prefix", default=None,
                    help="with --format cdx: keep only urlkeys with "
                         "this SURT prefix")
    ap.add_argument("--cdx-diff", default=None, metavar="OLD_IDX",
                    help="with --format cdx: fetch only urls that are "
                         "new or content-changed vs the OLD_IDX snapshot "
                         "(incremental re-crawl)")
    ap.add_argument("--cdx-dedup", action="store_true",
                    help="with --format cdx: collapse re-captures to the "
                         "newest entry per payload digest before fetching")
    ap.add_argument("--near-dedup", action="store_true",
                    help="after extraction: MinHash-LSH + Jaccard-verified "
                         "transitive cluster dedup, keep one doc per "
                         "cluster (crawl.crawl_to_corpus)")
    ap.add_argument("--keep-best", action="store_true",
                    help="with --near-dedup: keep the cluster member "
                         "with the most tokens (tie: min id) instead of "
                         "the min-id member")
    ap.add_argument("--para-dedup", type=int, default=None, metavar="N",
                    help="after extraction: drop paragraphs occurring "
                         "more than N times corpus-wide (boilerplate)")
    ap.add_argument("--wet-out", default=None, metavar="DIR",
                    help="write the final (deduped) corpus as WET shards "
                         "to DIR")
    ap.add_argument("--quality-gate", action="store_true",
                    help="after extraction: drop too-short or "
                         "too-repetitive docs (Gopher-style gate). "
                         "Also valid with --streaming, where rejects "
                         "stay as quality:<reason> error rows instead "
                         "of being dropped")
    ap.add_argument("--host-cap", type=int, default=None, metavar="N",
                    help="after dedup: keep at most N docs per host "
                         "(md5-of-url order, deterministic)")
    ap.add_argument("--url-canon", action="store_true",
                    help="before dedup: collapse re-captures of the "
                         "same canonical URL (fragment/utm_* noise)")
    ap.add_argument("--pii-scrub", action="store_true",
                    help="before the sink: redact emails/IPv4s to "
                         "placeholder tokens (counted in the summary)")
    ap.add_argument("--compact", type=int, default=None, metavar="N",
                    help="after a batch run: fold all committed runs "
                         "into one compact run of N files (small-files "
                         "maintenance; crash-safe, resume-preserving)")
    args = ap.parse_args(argv)
    if args.index and args.input_format != "warc":
        ap.error("--index requires --format warc")
    if args.streaming and (args.index or args.input_format == "cdx"):
        ap.error("--streaming tails a pages parquet or WARC landing dir; "
                 "it cannot combine with --index or --format cdx")
    if args.streaming and (args.partitions is not None
                           or args.run_id is not None):
        ap.error("--streaming spreads each micro-batch over the default "
                 "parallelism and writes batch_id= partitions; it cannot "
                 "combine with --partitions or --run-id")
    if ((args.cdx_mime or args.cdx_prefix or args.cdx_dedup)
            and args.input_format != "cdx"):
        ap.error("--cdx-mime/--cdx-prefix/--cdx-dedup prune a CDX index; "
                 "they require --format cdx")
    if args.keep_best and not args.near_dedup:
        ap.error("--keep-best only changes the near-dedup keeper; "
                 "it requires --near-dedup")
    if args.cdx_diff and args.input_format != "cdx":
        ap.error("--cdx-diff compares two CDX snapshots; it requires "
                 "--format cdx")
    # the quality gate is per-doc (row-local), so it IS micro-batch-safe
    # and allowed under --streaming; the rest are corpus-wide passes
    batch_only_flags = (args.near_dedup or args.para_dedup is not None
                        or args.wet_out or args.host_cap is not None
                        or args.url_canon or args.pii_scrub)
    corpus_flags = batch_only_flags or args.quality_gate
    if batch_only_flags and args.streaming:
        ap.error("--near-dedup/--para-dedup/--wet-out/--host-cap are "
                 "corpus-wide batch passes; they cannot combine with "
                 "--streaming (run the batch flagship over the "
                 "streamed-out docs instead)")
    if args.compact is not None and (args.streaming or args.index):
        ap.error("--compact is a batch maintenance pass on the docs "
                 "store; it cannot combine with --streaming or --index")
    if corpus_flags and args.index:
        ap.error("--index only builds the CDX index; combine the corpus "
                 "flags with --format cdx on a second invocation")
    if args.cdx_dedup and corpus_flags:
        ap.error("--cdx-dedup is implied by the crawl-to-corpus path "
                 "(it always collapses re-captures per digest); drop "
                 "the flag")

    from pyspark.sql import SparkSession

    from .sources.session import get_spark

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app="findtextcenternet-extract", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    if args.streaming:
        from .sources.warc import read_warc_stream
        from .streaming import read_pages_stream, stream_extract

        read_stream = (read_warc_stream if args.input_format == "warc"
                       else read_pages_stream)
        q = stream_extract(
            read_stream(spark, args.input),
            out_dir=os.path.join(args.out_dir, "docs"),
            checkpoint_dir=os.path.join(args.out_dir, "_checkpoint"),
            quality_gate=args.quality_gate)
        q.awaitTermination()
        print(json.dumps({"mode": "streaming", "out": args.out_dir}))
        if owns_session:
            spark.stop()
        return 0

    if args.index:
        from .sources.cdx import build_cdx, write_cdxj

        manifest = write_cdxj(build_cdx(spark, args.input), args.out_dir,
                              num_shards=args.partitions or 1).toPandas()
        print(json.dumps({"mode": "index", "out": args.out_dir,
                          "shards": len(manifest),
                          "records": int(manifest["n_records"].sum())}))
        if owns_session:
            spark.stop()
        return 0

    if corpus_flags:
        # the end-to-end crawl→corpus flagship: indexed fetch → extract
        # (resumable) → paragraph boilerplate drop → transitive near-dup
        # cluster dedup → WET corpus, one invocation
        from .crawl import crawl_to_corpus

        summary = crawl_to_corpus(
            spark, args.input, args.out_dir,
            input_format=args.input_format,
            wet_dir=args.wet_out, cdx_mime=args.cdx_mime,
            cdx_prefix=args.cdx_prefix, cdx_diff_old=args.cdx_diff,
            near_dedup=args.near_dedup,
            near_dedup_keep_best=args.keep_best,
            para_dedup_max=args.para_dedup,
            quality_gate=args.quality_gate, host_cap=args.host_cap,
            url_canon=args.url_canon, pii_scrub=args.pii_scrub,
            num_partitions=args.partitions, run_id=args.run_id)
        if args.compact is not None:
            from .lineage import ParquetDirStore, compact_docs

            summary = {**summary, "compaction": compact_docs(
                ParquetDirStore(spark, args.out_dir),
                num_files=args.compact)}
        print(json.dumps({"mode": "crawl_to_corpus", **summary}))
        if owns_session:
            spark.stop()
        return 0

    from .lineage import run_extract
    from .sources import read_pages

    pages = read_pages(spark, args.input, args.input_format,
                       cdx_mime=args.cdx_mime, cdx_prefix=args.cdx_prefix,
                       cdx_diff_old=args.cdx_diff,
                       cdx_dedup=args.cdx_dedup)
    summary = run_extract(pages, args.out_dir, run_id=args.run_id,
                          num_partitions=args.partitions)
    if args.compact is not None:
        # maintenance pass: fold the accumulated incremental runs into
        # one compact run (re-invoking with an already-settled input
        # makes this a pure compaction — 0 new docs, then compact)
        from .lineage import ParquetDirStore, compact_docs

        summary = {**summary, "compaction": compact_docs(
            ParquetDirStore(spark, args.out_dir),
            num_files=args.compact)}
    print(json.dumps({"mode": "batch", **summary}))
    if owns_session:          # don't tear down a caller-provided session
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
