"""Host-level web-graph operators: link derivation, degrees, PageRank.

The reference corpus is page-grain (no link structure survives its OCR
output), but a webtext engine that curates a crawl needs the host graph:
per-host in/out degree feeds spam and quality heuristics, and PageRank
(Page, Brin, Motwani, Winograd 1999) is the canonical iterative
web-scale computation — the same join-aggregate-per-round shape as the
dedup connected-components pass (operators/cc.py), but with float mass
instead of min-labels.

The ``documents`` table has a host-like ``source`` column and no URLs,
so the edge list is DERIVED deterministically from the table itself
(the same md5 trick the stratified sampler uses): each document emits
``_N_LINKS`` outlinks whose target host is a hex-byte of
``md5(doc_id || '|' || i)`` modulo the host count. Both engines compute
the identical graph, so every op below is value-hash-checked against
DuckDB. Self-loops are kept (intra-host links are real on the web and
PageRank handles them); every host has documents, hence outlinks, hence
there are no dangling nodes and no dangling-mass term.

Scale shape at 100 TB: the edge list is one map-side derivation plus
ONE shuffle on (src_host, dst_host); each PageRank round shuffles edge
contributions on dst_host while the rank table stays |hosts| rows
(broadcast-joinable); the transition matrix is pinned once
(``sources.session.pin``) so the per-round plan never replays the
derivation, and every round's rank table is pinned too (with no
metrics, so the next round's query stores it: no job of its own);
rounds are a fixed small constant (power iteration converges
geometrically at the damping rate). No driver-side per-edge or per-host
work anywhere.

Float discipline: transition probabilities are exact small rationals,
per-round sums are <= |hosts| doubles, so cross-engine drift is ~1e-15
after ``_PR_ITERS`` rounds — far under the round-6 hash grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..sources.session import pin
from .relational import _t, _t_raw, register

_N_LINKS = 3        # outlinks derived per document
_DAMP = 0.85        # classic damping factor
_PR_ITERS = 5       # fixed power-iteration rounds (unrolled in the oracle)


# ----------------------------------------------------------- hex helpers

def _hex_byte_col(hx, pos: int = 1):
    """First two hex digits of a hash column as an exact 0..255 int —
    the KMV sketch's digit-polynomial idiom (training_data.py), needed
    because DuckDB lacks conv()."""
    def d(p):
        return F.instr(F.lit("0123456789abcdef"),
                       F.substring(hx, p, 1)) - 1
    return (d(pos) * 16 + d(pos + 1)).cast("int")


def _hex_byte_sql(hx: str, pos: int = 1) -> str:
    def d(p):
        return f"(instr('0123456789abcdef', substr({hx}, {p}, 1)) - 1)"
    return f"({d(pos)} * 16 + {d(pos + 1)})"


# ------------------------------------------------- edge-list derivation

def host_link_edges_df(docs: DataFrame, n_hosts: int) -> DataFrame:
    """Per-document outlinks ``(src_host, dst_host)``: one row per
    (doc, i) for i in 1.._N_LINKS, target = 'src' || (hex-byte of
    md5(doc_id||'|'||i) % n_hosts). Pure per-row projection + a fixed
    3x explode — no shuffle until the caller aggregates."""
    dsts = [
        F.concat(
            F.lit("src"),
            (_hex_byte_col(
                F.md5(F.encode(
                    F.concat(F.col("doc_id").cast("string"),
                             F.lit(f"|{i}")), "utf-8")))
             % n_hosts).cast("string"))
        for i in range(1, _N_LINKS + 1)
    ]
    return docs.select(F.col("source").alias("src_host"),
                       F.explode(F.array(*dsts)).alias("dst_host"))


_LINKS_SQL_BODY = f"""
nh AS (SELECT count(DISTINCT source) AS k FROM documents),
links AS (
  SELECT source AS src_host,
         'src' || CAST(({_hex_byte_sql(
             "md5(CAST(doc_id AS VARCHAR) || '|' || CAST(l.i AS VARCHAR))")}
                        % nh.k) AS VARCHAR) AS dst_host
  FROM documents, nh, (VALUES (1), (2), (3)) AS l(i))
"""


def _n_hosts(docs: DataFrame) -> int:
    # driver-side scalar (one tiny agg action) — the same shape as the
    # IVF centroid collect: metadata, never data
    return docs.select("source").distinct().count()


@register("link_host_graph", f"""
WITH {_LINKS_SQL_BODY}
SELECT src_host, dst_host, count(*) AS n_links
FROM links GROUP BY src_host, dst_host
""")
def link_host_graph(spark, sf_dir):
    """Weighted host→host edge list from the derived per-doc outlinks:
    one map-side projection, one shuffle on the edge key."""
    docs = _t_raw(spark, sf_dir, "documents")
    return (host_link_edges_df(docs, _n_hosts(docs))
            .groupBy("src_host", "dst_host")
            .agg(F.count("*").alias("n_links")))


@register("host_degree", f"""
WITH {_LINKS_SQL_BODY},
o AS (SELECT src_host AS host, count(DISTINCT dst_host) AS out_deg,
             count(*) AS n_out
      FROM links GROUP BY src_host),
i AS (SELECT dst_host AS host, count(DISTINCT src_host) AS in_deg,
             count(*) AS n_in
      FROM links GROUP BY dst_host)
SELECT coalesce(o.host, i.host) AS host,
       CAST(coalesce(o.out_deg, 0) AS BIGINT) AS out_deg,
       CAST(coalesce(o.n_out, 0) AS BIGINT) AS n_out,
       CAST(coalesce(i.in_deg, 0) AS BIGINT) AS in_deg,
       CAST(coalesce(i.n_in, 0) AS BIGINT) AS n_in
FROM o FULL OUTER JOIN i ON o.host = i.host
""")
def host_degree(spark, sf_dir):
    """Per-host fan-in/fan-out: distinct-neighbor degree plus raw link
    counts, the first-order spam/quality signals of a crawl frontier.
    Two aggregations of the same derived edges, stitched with one full
    outer join on the (tiny) host key."""
    docs = _t_raw(spark, sf_dir, "documents")
    links = host_link_edges_df(docs, _n_hosts(docs))
    o = (links.groupBy(F.col("src_host").alias("host"))
         .agg(F.countDistinct("dst_host").alias("out_deg"),
              F.count("*").alias("n_out")))
    i = (links.groupBy(F.col("dst_host").alias("host"))
         .agg(F.countDistinct("src_host").alias("in_deg"),
              F.count("*").alias("n_in")))
    return (o.join(i, "host", "full_outer")
            .select("host",
                    F.coalesce("out_deg", F.lit(0)).cast("long")
                    .alias("out_deg"),
                    F.coalesce("n_out", F.lit(0)).cast("long")
                    .alias("n_out"),
                    F.coalesce("in_deg", F.lit(0)).cast("long")
                    .alias("in_deg"),
                    F.coalesce("n_in", F.lit(0)).cast("long")
                    .alias("n_in")))


# ----------------------------------------------------------- PageRank

def pagerank_from_edges(edges: DataFrame, hosts: DataFrame,
                        iters: int = _PR_ITERS,
                        damp: float = _DAMP,
                        n_hosts: int | None = None) -> DataFrame:
    """Fixed-round power iteration over a weighted edge list
    ``(src_host, dst_host, w)`` and a node table ``(host)``.

    Every host must appear as a src (no dangling nodes) — true by
    construction for the derived graph; callers with organic graphs
    add sink self-loops first. Per round: edges join the rank table on
    src (rank side is |hosts| rows — AQE broadcasts it), contributions
    aggregate on dst (ONE shuffle), and the new rank table is pinned
    (``sources.session.pin`` with no metrics: the next round's query
    stores it) so round N's plan does not replay rounds 1..N-1. The
    transition matrix is pinned once up front for the same reason.
    ``n_hosts`` lets a caller that already counted the host table skip
    the extra count job."""
    n = n_hosts if n_hosts is not None else hosts.count()
    out = edges.groupBy("src_host").agg(F.sum("w").alias("wout"))
    trans, _ = pin(edges.join(out, "src_host")
                   .select("src_host", "dst_host",
                           (F.col("w") / F.col("wout")).alias("p")))
    ranks = hosts.select("host", F.lit(1.0 / n).alias("pr"))
    base = (1.0 - damp) / n
    for _ in range(iters):
        contrib = (trans.join(ranks,
                              trans.src_host == ranks.host)
                   .groupBy("dst_host")
                   .agg(F.sum(F.col("p") * F.col("pr")).alias("c")))
        ranks, _ = pin(hosts.join(contrib, hosts.host == contrib.dst_host,
                                  "left")
                       .select("host",
                               (F.lit(base)
                                + damp * F.coalesce("c", F.lit(0.0)))
                               .alias("pr")))
    return ranks.select("host", F.round("pr", 6).alias("pagerank"))


def _pagerank_sql(iters: int = _PR_ITERS, damp: float = _DAMP) -> str:
    sql = f"""
WITH {_LINKS_SQL_BODY},
e AS (SELECT src_host, dst_host, CAST(count(*) AS DOUBLE) AS w
      FROM links GROUP BY src_host, dst_host),
ow AS (SELECT src_host, sum(w) AS wout FROM e GROUP BY src_host),
t AS (SELECT e.src_host, e.dst_host, e.w / ow.wout AS p
      FROM e JOIN ow USING (src_host)),
h AS (SELECT DISTINCT source AS host FROM documents),
r0 AS (SELECT host, 1.0 / nh.k AS pr FROM h, nh)"""
    for it in range(1, iters + 1):
        sql += f""",
c{it} AS (SELECT t.dst_host, sum(t.p * r{it - 1}.pr) AS c
          FROM t JOIN r{it - 1} ON r{it - 1}.host = t.src_host
          GROUP BY t.dst_host),
r{it} AS (SELECT h.host,
                 (1.0 - {damp}) / nh.k + {damp} * coalesce(c{it}.c, 0.0)
                 AS pr
          FROM h CROSS JOIN nh
          LEFT JOIN c{it} ON c{it}.dst_host = h.host)"""
    return sql + f"""
SELECT host, round(pr, 6) AS pagerank FROM r{iters}"""


@register("host_pagerank", _pagerank_sql())
def host_pagerank(spark, sf_dir):
    """Host-level PageRank over the derived link graph: {_PR_ITERS}
    power-iteration rounds at damping {_DAMP}. The DuckDB oracle unrolls
    the identical rounds as chained CTEs, so the fixpoint math itself is
    hash-checked, not just the plumbing."""
    docs = _t_raw(spark, sf_dir, "documents")
    n = _n_hosts(docs)
    edges = (host_link_edges_df(docs, n)
             .groupBy("src_host", "dst_host")
             .agg(F.count("*").cast("double").alias("w")))
    hosts = docs.select(F.col("source").alias("host")).distinct()
    return pagerank_from_edges(edges, hosts, n_hosts=n)


# --------------------------------------------------------------- HITS

_HITS_ITERS = 5


def hits_from_edges(edges: DataFrame, hosts: DataFrame,
                    iters: int = _HITS_ITERS,
                    n_hosts: int | None = None) -> DataFrame:
    """Kleinberg's HITS (1999) over a weighted edge list: per round,
    authority(v) = Σ_{u→v} w·hub(u), then hub(u) = Σ_{u→v} w·auth(v),
    each half-step L1-normalized (sum-to-one keeps every value an exact
    ratio of two double sums — the same cross-engine drift class as
    PageRank, ~1e-15 under round-6).

    Scale shape mirrors :func:`pagerank_from_edges`: the score tables
    stay |hosts| rows (AQE broadcasts them onto the edge side), each
    half-step is ONE shuffle on the aggregated endpoint, and every
    intermediate is pinned (``sources.session.pin``) so lineage stops
    at each half-step. The L1 total is an observed metric of the raw
    half-step's pin (so that pin is eager, one query): a driver-side
    double, with no aggregate frame joined back. ``n_hosts`` lets a
    caller that already counted the host table skip the extra count
    job."""
    n = n_hosts if n_hosts is not None else hosts.count()
    if n == 0:
        return hosts.select("host", F.lit(0.0).alias("hub"),
                            F.lit(0.0).alias("auth"))
    e, _ = pin(edges)
    hub = hosts.select("host", F.lit(1.0 / n).alias("hub"))
    auth = None
    for _ in range(iters):
        # the raw half-step's pin also observes its L1 total, so the
        # host re-join reads ONE materialization and the total is free;
        # an empty half-step's total reads 0 and divides as null (every
        # score null, as a SQL sum over no rows gives, not an ANSI
        # divide-by-zero)
        a_raw, tot = pin(e.join(hub, e.src_host == hub.host)
                         .groupBy("dst_host")
                         .agg(F.sum(F.col("w") * F.col("hub")).alias("a")),
                         F.sum("a").alias("t"))
        t = F.lit(tot["t"] or None)
        auth, _ = pin(hosts.join(a_raw, hosts.host == a_raw.dst_host, "left")
                      .select("host",
                              (F.coalesce("a", F.lit(0.0)) / t).alias("auth")))
        h_raw, tot = pin(e.join(auth, e.dst_host == auth.host)
                         .groupBy("src_host")
                         .agg(F.sum(F.col("w") * F.col("auth")).alias("v")),
                         F.sum("v").alias("t"))
        t = F.lit(tot["t"] or None)
        hub, _ = pin(hosts.join(h_raw, hosts.host == h_raw.src_host, "left")
                     .select("host",
                             (F.coalesce("v", F.lit(0.0)) / t).alias("hub")))
    return (hub.join(auth, "host")
            .select("host", F.round("hub", 6).alias("hub"),
                    F.round("auth", 6).alias("auth")))


def _hits_sql(iters: int = _HITS_ITERS) -> str:
    sql = f"""
WITH {_LINKS_SQL_BODY},
e AS (SELECT src_host, dst_host, CAST(count(*) AS DOUBLE) AS w
      FROM links GROUP BY src_host, dst_host),
h AS (SELECT DISTINCT source AS host FROM documents),
hub0 AS (SELECT host, 1.0 / nh.k AS hub FROM h, nh)"""
    # each CTE below is referenced EXACTLY once (the L1 total is a
    # window sum over the already-joined rows, not a second scan of the
    # aggregate): a planner that inlines multiply-referenced CTEs would
    # otherwise re-expand every half-step and go exponential in `iters`
    for it in range(1, iters + 1):
        sql += f""",
ar{it} AS (SELECT e.dst_host, sum(e.w * hub{it - 1}.hub) AS a
           FROM e JOIN hub{it - 1} ON hub{it - 1}.host = e.src_host
           GROUP BY e.dst_host),
auth{it} AS (SELECT h.host,
                    coalesce(r.a, 0.0)
                    / sum(coalesce(r.a, 0.0)) OVER () AS auth
             FROM h LEFT JOIN ar{it} r ON r.dst_host = h.host),
hr{it} AS (SELECT e.src_host, sum(e.w * auth{it}.auth) AS v
           FROM e JOIN auth{it} ON auth{it}.host = e.dst_host
           GROUP BY e.src_host),
hub{it} AS (SELECT h.host,
                   coalesce(r.v, 0.0)
                   / sum(coalesce(r.v, 0.0)) OVER () AS hub
            FROM h LEFT JOIN hr{it} r ON r.src_host = h.host)"""
    return sql + f"""
SELECT hub{iters}.host, round(hub{iters}.hub, 6) AS hub,
       round(auth{iters}.auth, 6) AS auth
FROM hub{iters} JOIN auth{iters} ON auth{iters}.host = hub{iters}.host"""


@register("host_hits", _hits_sql())
def host_hits(spark, sf_dir):
    """Host-level HITS hub/authority scores over the derived link graph:
    {_HITS_ITERS} mutually-recursive rounds, L1-normalized per half-step.
    The DuckDB oracle unrolls the identical half-steps as chained CTEs,
    hash-checking the fixpoint math like the PageRank entry."""
    docs = _t_raw(spark, sf_dir, "documents")
    n = _n_hosts(docs)
    edges = (host_link_edges_df(docs, n)
             .groupBy("src_host", "dst_host")
             .agg(F.count("*").cast("double").alias("w")))
    hosts = docs.select(F.col("source").alias("host")).distinct()
    return hits_from_edges(edges, hosts, n_hosts=n)


# -------------------------------------- DSIR importance-resampling weight

_DSIR_BUCKETS = 256  # hashed-unigram feature space (one hex byte)


@register("dsir_weights", f"""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
  FROM documents),
tok2 AS (
  SELECT doc_id, lang, {_hex_byte_sql("md5(t)")} AS bkt
  FROM tok WHERE t <> ''),
raw AS (SELECT bkt, CAST(count(*) AS DOUBLE) AS cr
        FROM tok2 GROUP BY bkt),
tgt AS (SELECT bkt, CAST(count(*) AS DOUBLE) AS ct
        FROM tok2 WHERE lang = 'en' GROUP BY bkt),
tots AS (SELECT CAST(count(*) AS DOUBLE) AS nr,
                CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                     AS DOUBLE) AS nt
         FROM tok2),
w AS (SELECT raw.bkt,
             ln((coalesce(tgt.ct, 0.0) + 1.0) / (tots.nt + {_DSIR_BUCKETS}.0))
             - ln((raw.cr + 1.0) / (tots.nr + {_DSIR_BUCKETS}.0)) AS logw
      FROM raw LEFT JOIN tgt USING (bkt) CROSS JOIN tots)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(sum(logw), 6) AS dsir_logw
FROM tok2 JOIN w USING (bkt)
GROUP BY doc_id
""")
def dsir_weights(spark, sf_dir):
    """Data Selection via Importance Resampling (Xie et al. 2023):
    score every document by the log-likelihood ratio of a TARGET
    distribution (here the lang='en' stratum) vs the RAW corpus over
    hashed unigram features — the standard cheap proxy for "select raw
    web data that looks like the curated target". Features are one hex
    byte of md5(token) (256 buckets, add-one smoothing), so both
    engines build bit-identical count tables.

    Scale shape: tokens hash map-side; the two count tables are at most
    {_DSIR_BUCKETS} rows each (broadcast back onto the token stream);
    the only full shuffle is the final per-doc sum."""
    docs = _t(spark, sf_dir, "documents")
    tok = (docs.select("doc_id", "lang",
                       F.explode(F.split("text", " ")).alias("t"))
           .filter(F.col("t") != ""))
    b = tok.select("doc_id", "lang",
                   _hex_byte_col(F.md5(F.encode("t", "utf-8")))
                   .alias("bkt"))
    # ONE aggregation pass computes the raw and target count tables
    # together (ct = conditional count, identical to the oracle's separate
    # tgt CTE after its coalesce-to-0), and the totals fold over the
    # 256-row result instead of re-scanning the token stream — the
    # guide-§2.3 "aggregate before you shuffle" shape: the explode+md5
    # subtree runs twice (counts pass + per-doc scoring pass), not four
    # times. All counts are integers < 2^53 held in doubles, so the
    # arithmetic is bit-identical to the four-pass form.
    cnt = b.groupBy("bkt").agg(
        F.count("*").cast("double").alias("cr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("double").alias("ct"))
    tots = cnt.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    nb = float(_DSIR_BUCKETS)
    w = (cnt.crossJoin(F.broadcast(tots))
         .select("bkt",
                 (F.log((F.col("ct") + 1.0)
                        / (F.col("nt") + nb))
                  - F.log((F.col("cr") + 1.0) / (F.col("nr") + nb)))
                 .alias("logw")))
    return (b.join(F.broadcast(w), "bkt")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.round(F.sum("logw"), 6).alias("dsir_logw")))


# --------------------------------------------- anchor-text aggregation

_TOP_ANCHORS = 3


@register("host_anchor_terms", f"""
WITH nh AS (SELECT count(DISTINCT source) AS k FROM documents),
links AS (
  SELECT lower(string_split(text, ' ')[1]) AS term,
         'src' || CAST(({_hex_byte_sql(
             "md5(CAST(doc_id AS VARCHAR) || '|' || CAST(l.i AS VARCHAR))")}
                        % nh.k) AS VARCHAR) AS dst_host
  FROM documents, nh, (VALUES (1), (2), (3)) AS l(i)
  WHERE length(text) > 0),
c AS (SELECT dst_host, term, count(*) AS n
      FROM links GROUP BY dst_host, term),
r AS (SELECT dst_host, term, n,
             row_number() OVER (PARTITION BY dst_host
                                ORDER BY n DESC, term ASC) AS rk
      FROM c)
SELECT dst_host, term, CAST(n AS BIGINT) AS n, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= {_TOP_ANCHORS}
""")
def host_anchor_terms(spark, sf_dir):
    """Anchor-text aggregation: what the web SAYS a host is. Each
    derived outlink carries an anchor term from the LINKING document
    (deterministically its first token, lowercased — both engines slice
    identically); per target host, keep the top {_TOP_ANCHORS} terms by
    link count (tie → lexicographic). The classic search/corpus signal
    (anchor text describes the target better than the target itself)
    and a quality feature for host-level curation.

    Scale shape: anchors ride ON the edge rows (no join back to the
    source doc — the projection happens before the explode), so the op
    is one map-side derivation, one (dst_host, term) count shuffle, and
    a per-host top-k window whose partitions are at most |terms per
    host| rows. At 100 TB the count table after partial aggregation is
    tiny relative to the edge stream; a viral host with millions of
    distinct anchors still windows on its own partition only — AQE
    skew-split applies, and no global sort exists anywhere."""
    from pyspark.sql.window import Window

    all_docs = _t_raw(spark, sf_dir, "documents")
    n = _n_hosts(all_docs)     # host space from the FULL table, like nh
    docs = all_docs.where(F.length("text") > 0)
    term = F.lower(F.element_at(F.split("text", " "), 1))
    dsts = [
        F.concat(
            F.lit("src"),
            (_hex_byte_col(
                F.md5(F.encode(
                    F.concat(F.col("doc_id").cast("string"),
                             F.lit(f"|{i}")), "utf-8")))
             % n).cast("string"))
        for i in range(1, _N_LINKS + 1)
    ]
    links = docs.select(term.alias("term"),
                        F.explode(F.array(*dsts)).alias("dst_host"))
    counts = (links.groupBy("dst_host", "term")
              .agg(F.count("*").alias("n")))
    w = Window.partitionBy("dst_host").orderBy(F.desc("n"), F.asc("term"))
    return (counts.withColumn("rk", F.row_number().over(w).cast("long"))
            .where(F.col("rk") <= _TOP_ANCHORS)
            .select("dst_host", "term", "n", "rk"))
