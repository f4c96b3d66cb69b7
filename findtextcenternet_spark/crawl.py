"""Crawl → corpus: the end-to-end flagship a real user runs first.

Chains the layers that exist separately into ONE pipeline (VERDICT r5
item 2): CDX-indexed selective fetch (only the addressed archive bytes
move) → resumable lineage-tracked extraction → URL-canonical collapse
(tracking-noise re-captures of one page) → paragraph-grain
boilerplate drop → Gopher-style quality gate (word floor + repetition
ceiling, rejects tagged with a reason) → near-dup transitive cluster
dedup (MinHash LSH → Jaccard verify → connected components, one
canonical keeper per cluster) → per-host cap (deterministic md5-of-url
draw) → PII scrub (emails/IPv4s → placeholders, counted) → WET shards
(the format Common Crawl publishes extracted text in).

Reference analogue: the repo's own training-data harvest loop
(train_data3/make_data.py and get_aozora.py — fetch, extract, save) is
the single-machine form of exactly this flow; it has no index, no dedup
and no resume, which is what corpus scale adds here.

Scale shape, stage by stage at 100 TB:
* index fetch moves ~0.01-1% of archive bytes (range GETs), banded so a
  hot archive never becomes a straggler (sources/cdx.py);
* extraction is the ONE-exchange mapInPandas kernel with lineage resume
  (lineage.run_extract) — a re-invocation extracts only missing urls;
* dedup shuffles md5 fingerprints and band keys, never document text,
  and the cluster step is O(log n) rounds (operators/cc.py);
* the WET sink writes one shard per partition with no extra shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .lineage import ParquetDirStore, run_extract
from .operators.cc import connected_components
from .plans.training_data import (
    drop_repeated_paragraphs,
    lsh_verified_pairs_df,
)
from .sources import read_pages
from .sources.session import observed


def near_dup_clusters(docs: DataFrame, id_col: str = "url",
                      text_col: str = "text",
                      threshold: float = 0.5) -> DataFrame:
    """(id, text, ...) → ``(url, keeper, cluster_size)`` — one row per
    doc that belongs to a transitive near-dup cluster, keeper = the
    cluster's lexicographic-min id. Ids are used directly as graph node
    labels (no hash-to-long step, no collision risk)."""
    ids = docs.select(F.col(id_col).alias("doc_id"),
                      F.col(text_col).alias("text"))
    pairs = lsh_verified_pairs_df(ids, threshold=threshold)
    return (connected_components(pairs)
            .select(F.col("doc_id").alias(id_col),
                    F.col("cluster_keeper").alias("keeper"),
                    "cluster_size"))


def near_dup_filter(docs: DataFrame, id_col: str = "url",
                    text_col: str = "text", threshold: float = 0.5,
                    keep_best: bool = False
                    ) -> tuple[DataFrame, Observation]:
    """(kept_docs, stats): drop every cluster member except its
    keeper; docs outside any cluster pass through untouched. The drop
    is a left join on the id plus a filter — text never shuffles twice.
    ``stats`` observes ``n`` (doc rows in a cluster) and ``drop`` (rows
    dropped), filled by the first action over ``kept_docs``: they sit
    above the join, not on the cluster frame, which AQE prunes when
    empty.

    ``keep_best=True`` keeps the cluster member with the MOST tokens
    (tie → min id) instead of the min-id member: the full article
    survives, the truncated syndication copy is dropped
    (plans.training_data.keep_best_per_cluster, the `dedup_keep_best`
    registry op)."""
    clusters = near_dup_clusters(docs, id_col, text_col, threshold)
    if keep_best:
        from .plans.training_data import keep_best_per_cluster

        lab = clusters.select(id_col,
                              F.col("keeper").alias("cluster_keeper"))
        decision = keep_best_per_cluster(
            docs.select(F.col(id_col), F.col(text_col).alias("text")),
            lab, id_col=id_col, include_singletons=False)
        # re-key on the quality keeper; a url captured twice has a
        # decision row per capture, each naming the same keeper
        clusters = decision.select(
            id_col, F.col("best_doc").alias("keeper")).distinct()
    stats = Observation()
    loser = F.col(id_col) != F.col("keeper")
    kept = (docs.join(clusters.select(id_col, "keeper"), id_col, "left")
            .observe(stats, F.count("keeper").alias("n"),
                     F.count(F.when(loser, 1)).alias("drop"))
            .filter(loser.isNull() | ~loser).drop("keeper"))
    return kept, stats


# Scripts written without word separators (kana, unified ideographs and
# compat forms, hangul syllables): for these, characters stand in for
# words in the quality floor — a whitespace split would count a whole
# Japanese paragraph as one "word" and gate perfectly good pages.
_CJK_CLASS = ("\u3040-\u30FF\u3400-\u4DBF\u4E00-\u9FFF"
              "\uF900-\uFAFF\uAC00-\uD7A3")


def effective_word_count(text_col) -> "F.Column":
    """Script-aware word count: whitespace-delimited tokens (any
    whitespace incl. the ideographic space U+3000) plus one word per
    CJK character. CJK runs also count once as a token — at the floor's
    5-word granularity the overlap is immaterial, and the estimate only
    needs to be conservative in the KEEP direction."""
    toks = F.filter(F.split(text_col, "[\\s　]+"),
                    lambda t: t != F.lit(""))
    cjk = F.length(F.regexp_replace(
        text_col, f"[^{_CJK_CLASS}]", ""))
    return F.size(toks) + cjk


def quality_gate_filter(docs: DataFrame, id_col: str = "url",
                        text_col: str = "text", min_words: int = 5,
                        max_top_bigram_frac: float = 0.2
                        ) -> tuple[DataFrame, DataFrame]:
    """(kept_docs, rejected): Gopher-style quality gate over any
    (id, text) frame — drop docs below a word-count floor or above a
    repetition ceiling (fraction of characters in the most frequent word
    bigram, :func:`repetition_stats_df`). The word floor is a row-local
    predicate and script-aware (:func:`effective_word_count`, so
    spaceless CJK pages are measured by characters, not whitespace);
    the repetition side joins only (id, frac) metadata back, so document
    text crosses the wire once at most (and the rejected frame carries
    a ``reason`` for auditability)."""
    from .plans.training_data import repetition_stats_df

    too_short = effective_word_count(F.col(text_col)) < min_words
    rep = repetition_stats_df(docs.filter(~too_short), id_col=id_col,
                              text_col=text_col)
    too_repetitive = (rep.filter(F.col("top_bigram_frac")
                                 > max_top_bigram_frac)
                      .select(id_col))
    short = (docs.filter(too_short)
             .select(id_col, F.lit("too_short").alias("reason")))
    repet = too_repetitive.select(
        id_col, F.lit("too_repetitive").alias("reason"))
    kept = (docs.filter(~too_short)
            .join(too_repetitive, id_col, "left_anti"))
    return kept, short.unionByName(repet)


def apply_quality_gate(docs: DataFrame, id_col: str = "url",
                       text_col: str = "text", min_words: int = 5,
                       max_top_bigram_frac: float = 0.2) -> DataFrame:
    """Schema-preserving form of :func:`quality_gate_filter`: rejected
    docs come back with ``error = 'quality:<reason>'`` instead of being
    dropped — the pipeline's quarantine idiom (pipeline.DOC_SCHEMA), so
    the gate composes with any sink that already routes error rows,
    including the streaming foreachBatch path where a dropped row would
    silently vanish from the effectively-once output."""
    clean = docs.filter(F.col("error").isNull())
    errs = docs.filter(F.col("error").isNotNull())
    kept, rejected = quality_gate_filter(
        clean, id_col=id_col, text_col=text_col, min_words=min_words,
        max_top_bigram_frac=max_top_bigram_frac)
    marked = (clean.drop("error")
              .join(rejected, id_col)
              .withColumn("error", F.concat(F.lit("quality:"),
                                            F.col("reason")))
              .drop("reason"))
    return (kept.unionByName(marked.select(*kept.columns))
            .unionByName(errs))


def url_canon_filter(docs: DataFrame, id_col: str = "url"
                     ) -> tuple[DataFrame, DataFrame]:
    """(kept_docs, collapsed): collapse re-captures of the same
    canonical URL (fragment/utm_*-noise variants of one page,
    functions/urlnorm.canonical_url_col) to the lexicographic-min id.
    Scale shape like host_cap_filter: the min-per-key agg runs over
    PROJECTED (id, canon) metadata only — one 16-byte-row shuffle —
    and survivors semi-join back; text never enters the exchange."""
    from .functions.urlnorm import canonical_url_col

    meta = docs.select(F.col(id_col),
                       canonical_url_col(F.col(id_col)).alias("_canon"))
    keep = (meta.groupBy("_canon")
            .agg(F.min(id_col).alias(id_col))
            .select(id_col))
    collapsed = meta.join(keep, id_col, "left_anti").select(id_col)
    return docs.join(keep, id_col, "left_semi"), collapsed


def pii_scrub_docs(docs: DataFrame, text_col: str = "text"
                   ) -> tuple[DataFrame, Observation]:
    """(scrubbed_docs, audit): redact emails/IPv4s in the text column
    (functions/urlnorm.scrub_pii_col, schema unchanged); ``audit``
    observes ``n_redactions`` on the pre-scrub text, filled by the
    first action over the scrubbed frame (the sink). Pure row-local
    map — zero shuffles and no extra job at any corpus size."""
    from .functions.urlnorm import (
        EMAIL_RE,
        IPV4_RE,
        pii_count_col,
        scrub_pii_col,
    )

    audit = Observation()
    docs = docs.observe(audit, F.sum(
        pii_count_col(F.col(text_col), EMAIL_RE)
        + pii_count_col(F.col(text_col), IPV4_RE)
    ).alias("n_redactions"))
    return docs.withColumn(text_col,
                           scrub_pii_col(F.col(text_col))), audit


def host_cap_filter(docs: DataFrame, cap: int, id_col: str = "url",
                    ) -> DataFrame:
    """Keep at most ``cap`` docs per host, drawn by md5-of-id order
    (deterministic, rerunnable — no rand()): the guard against one viral
    or boilerplate-heavy site dominating the corpus mix. Host =
    parse_url(url, 'HOST'); scheme-less or unparseable ids fall back to
    the id itself (each its own singleton "host", never dropped by the
    cap). Scale shape: the window runs over PROJECTED (id, host)
    metadata only — document text never enters the window sort's
    exchange — and the surviving ids semi-join back (broadcast when they
    fit). One host-partitioned window, no global sort; a hot host is
    one big partition of 16-byte rows, not of documents."""
    from pyspark.sql.window import Window

    host = F.coalesce(F.expr(f"parse_url({id_col}, 'HOST')"),
                      F.col(id_col))
    w = Window.partitionBy("_host").orderBy(
        F.md5(F.encode(F.col(id_col).cast("string"), "utf-8")))
    keep = (docs.select(F.col(id_col), host.alias("_host"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= cap)
            .select(id_col))
    return docs.join(keep, id_col, "left_semi")


def crawl_to_corpus(spark: SparkSession, input_path: str, out_dir: str, *,
                    input_format: str = "warc",
                    wet_dir: str | None = None,
                    cdx_mime: str | None = None,
                    cdx_prefix: str | None = None,
                    cdx_diff_old: str | None = None,
                    near_dedup: bool = True,
                    near_dedup_keep_best: bool = False,
                    para_dedup_max: int | None = None,
                    quality_gate: bool = False,
                    host_cap: int | None = None,
                    url_canon: bool = False,
                    pii_scrub: bool = False,
                    num_partitions: int | None = None,
                    run_id: str | None = None,
                    store=None) -> dict:
    """One invocation from crawl archives (or a CDX index) to a deduped
    WET corpus. Returns a summary dict.

    Input selection is :func:`sources.read_pages` (``input_format``,
    ``cdx_*``); from a CDX index, re-captures always collapse to the
    newest entry per payload digest before the range fetch.

    Extraction goes through ``lineage.run_extract`` (same OUT_DIR →
    resume; poison pages → quarantine). Dedup then runs over the WHOLE
    extracted store (not just this run's docs), so an incremental crawl
    re-dedups against everything already extracted — exactly what a
    rolling training-data pipeline needs.
    """
    pages = read_pages(spark, input_path, input_format, cdx_mime=cdx_mime,
                       cdx_prefix=cdx_prefix, cdx_diff_old=cdx_diff_old)
    store = store or ParquetDirStore(spark, out_dir)
    summary = run_extract(pages, out_dir, run_id=run_id,
                          num_partitions=num_partitions, store=store)
    summary = {**summary, "near_dup_clustered": 0, "near_dup_dropped": 0,
               "paragraphs_dropped": 0, "boilerplate_only": 0,
               "quality_rejected": 0,
               "host_capped": 0, "url_collapsed": 0, "pii_redactions": 0}

    # an input filter can legitimately select NOTHING (e.g. a mime with
    # no captures) — an empty store has no post-passes to run
    if not store.nonempty("docs"):
        summary["wet_shards"] = summary["wet_records"] = 0
        return summary

    # funnel counts are Observations on the main line, filled by the job
    # that builds the pins and by the sink: no job of their own
    read, para, pinned, gated, sink = (Observation() for _ in range(5))
    rows = F.count(F.lit(1)).alias("n")
    # corpus-wide post-passes read the WHOLE committed store through the
    # storage seam (snapshot read on a catalog, dir read on parquet)
    docs = (store.read("docs")
            .filter(F.col("error").isNull())
            .select("url", "text").observe(read, rows))

    if url_canon:
        # FIRST post-pass: collapse tracking-noise re-captures of one
        # page before any content pass spends work on them
        docs, _ = url_canon_filter(docs)

    if para_dedup_max is not None:
        cleaned = drop_repeated_paragraphs(docs, id_col="url",
                                           max_count=para_dedup_max)
        docs = (cleaned.observe(para, rows, F.sum("n_dropped").alias("drop"))
                .filter(F.col("clean_text").isNotNull())
                .select("url", F.col("clean_text").alias("text")))
    # pin the cleaned frame: the gate, the LSH/cluster pass and the sink
    # would otherwise each re-run the corpus-wide paragraph pass
    docs = docs.observe(pinned, rows).persist()
    pins = [docs]

    try:
        if quality_gate:
            # gate AFTER the boilerplate drop (repetition is measured on
            # the text that would actually be trained on); pin the gated
            # frame, which the LSH, the verify and the sink all read
            docs, _ = quality_gate_filter(docs)
            docs = docs.observe(gated, rows).persist()
            pins.append(docs)
        # build both pins with one job, the FIRST query over the
        # observations above: each keeps what its tasks added by the end
        # of that query, whatever later queries (the near-dup pins among
        # them) read the persisted frames
        docs.write.format("noop").mode("overwrite").save()
        kept = observed(gated if quality_gate else pinned)

        if near_dedup:
            docs, near = near_dup_filter(docs,
                                         keep_best=near_dedup_keep_best)

        if host_cap is not None:
            docs = host_cap_filter(docs, host_cap)
        docs = docs.observe(sink, rows)

        if pii_scrub:
            # LAST content pass, right before the sink: redaction must
            # not perturb the dedup fingerprints computed upstream
            docs, audit = pii_scrub_docs(docs)

        if wet_dir is not None:
            from .sources.warc import write_wet

            manifest = write_wet(docs, wet_dir).collect()
            summary["wet_shards"] = len(manifest)
            summary["wet_records"] = sum(r.n_records for r in manifest)
        else:
            summary["corpus_docs"] = docs.count()
    finally:
        for p in pins:
            p.unpersist()

    # rows each pass removed: rows in minus rows out
    summary["url_collapsed"] = observed(read) - observed(
        para if para_dedup_max is not None else pinned)
    if para_dedup_max is not None:
        summary["paragraphs_dropped"] = observed(para, "drop")
        # pages whose every paragraph was boilerplate
        summary["boilerplate_only"] = observed(para) - observed(pinned)
    summary["quality_rejected"] = observed(pinned) - kept
    if near_dedup:
        summary["near_dup_clustered"] = observed(near)
        summary["near_dup_dropped"] = observed(near, "drop")
    summary["host_capped"] = (kept - summary["near_dup_dropped"]
                              - observed(sink))
    if pii_scrub:
        summary["pii_redactions"] = observed(audit, "n_redactions")
    return summary
