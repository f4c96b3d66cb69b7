"""Distributed connected components over a pair graph.

The transitive-closure step every real training-data dedup ends with:
LSH + verify emits *pairs* (doc_a ~ doc_b), but a duplicate CLUSTER is
the connected component of that graph — one doc can bridge two LSH
buckets, and both halves must collapse to ONE canonical keeper.

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
and Beyond", SoCC'14). Each round is two groupBy-min shuffles over the
edge set; the edge set converges to a star forest whose centers are the
component minima in O(log^2 n) rounds (O(log n) in practice — duplicate
clusters are near-cliques, which finish in 2-3 rounds). There is NO
per-edge driver work: each round's edge set is pinned
(``sources.session.pin``: one eager query that truncates the lineage,
so round N's plan does not replay rounds 1..N-1), and that same query
observes the round's fingerprint (count + two order-independent hash
sums), which is all the driver loop compares. One SQL query per round,
plus one for the initial edge set.

Scale shape at 100 TB: the edge set after LSH+verify is ~0.01% of the
pair space and shrinks monotonically toward one edge per non-keeper doc;
every round's shuffle is on the node id (long), so AQE handles skew from
a viral duplicate (one doc duplicated millions of times → one huge star,
which large-star splits across its neighbors by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..sources.session import pin


def _norm(e: DataFrame, dedup: bool = True) -> DataFrame:
    """Canonical undirected edge set: (a=min, b=max), no self loops.
    ``dedup=False`` skips the distinct — used mid-round, where the next
    star step's groupBy-min is idempotent under duplicate edges, so the
    intermediate exchange the distinct would cost buys nothing (each
    round still ends in a full dedup so the edge set cannot grow)."""
    out = (e.where(F.col("a") != F.col("b"))
           .select(F.least("a", "b").alias("a"),
                   F.greatest("a", "b").alias("b")))
    return out.distinct() if dedup else out


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to u's neighborhood
    minimum (incl. u itself). Output is normalized but NOT deduped: the
    only consumer is _small_star, whose groupBy-min tolerates duplicate
    edges (min is idempotent) and whose own _norm dedups the round's
    result — one exchange per round saved."""
    d = (e.select(F.col("a").alias("u"), F.col("b").alias("v"))
         .union(e.select(F.col("b").alias("u"), F.col("a").alias("v"))))
    m = (d.groupBy("u").agg(F.min("v").alias("mnv"))
         .select("u", F.least("u", "mnv").alias("m")))
    return _norm(d.join(m, "u")
                 .where(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("a"), F.col("m").alias("b")),
                 dedup=False)


def _small_star(e: DataFrame) -> DataFrame:
    """Connect every smaller-or-equal neighbor of u (and u) to the
    minimum of u's smaller neighborhood."""
    d = e.select(F.greatest("a", "b").alias("u"),
                 F.least("a", "b").alias("v"))        # v < u by _norm
    m = d.groupBy("u").agg(F.min("v").alias("m"))
    return _norm(d.join(m, "u")
                 .select(F.col("v").alias("a"), F.col("m").alias("b"))
                 .union(m.select(F.col("u").alias("a"),
                                 F.col("m").alias("b"))))


def _pin_edges(e: DataFrame) -> tuple[DataFrame, tuple]:
    """Pin an edge set and read its order-independent fingerprint off
    the pin's own query. bit_xor never overflows (ANSI-safe) and xor
    over a DISTINCT edge set is collision-resistant enough paired with
    the count + both hashes."""
    e, v = pin(e, F.count(F.lit(1)).alias("n"),
               F.expr("bit_xor(xxhash64(a, b))").alias("h1"),
               F.expr("bit_xor(xxhash64(b, a))").alias("h2"))
    return e, (v["n"], v["h1"], v["h2"])


def cc_edges(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b",
             max_rounds: int = 50) -> tuple[DataFrame, int]:
    """Pair graph → (star-forest edge set ``(a=root, b=member)``, rounds
    run). Exposed separately so tests can assert the log-round bound."""
    # ids keep their incoming type: longs for doc_ids, strings for urls
    # (least/greatest/min are lexicographic there — still a total order,
    # so the keeper is deterministic and no hash-to-long collision risk)
    # every pin is one query: it builds the edge set AND reads its
    # fingerprint, so the convergence check costs no action of its own
    e, fp = _pin_edges(_norm(pairs.select(F.col(a).alias("a"),
                                          F.col(b).alias("b"))))
    rounds = 0
    converged = fp[0] == 0             # empty edge set is trivially done
    for rounds in range(1, max_rounds + 1):
        e, nfp = _pin_edges(_small_star(_large_star(e)))
        if nfp == fp:
            converged = True
            break
        fp = nfp
    if not converged:
        # a silently non-converged edge set is NOT a star forest — the
        # labels read off it would drop whole clusters (incl. keepers)
        # from a dedup with no error. log-squared rounds bound means a
        # legitimate graph never gets here at max_rounds=50.
        raise RuntimeError(
            f"connected components did not converge in {max_rounds} "
            f"rounds ({fp[0]} edges remain)")
    return e, rounds


def connected_components(pairs: DataFrame, a: str = "doc_a",
                         b: str = "doc_b", max_rounds: int = 50
                         ) -> DataFrame:
    """(doc_a, doc_b) pair graph → one row per node:
    ``(doc_id, cluster_keeper, cluster_size)`` with ``cluster_keeper`` =
    the component's minimum node id (the canonical doc every transitive
    duplicate cluster keeps) and ``cluster_size`` = nodes in the
    component. Only nodes that appear in the pair graph are returned —
    unpaired docs are trivially their own keeper and need no row."""
    e, _ = cc_edges(pairs, a, b, max_rounds)
    labels = (e.select(F.col("b").alias("doc_id"),
                       F.col("a").alias("cluster_keeper"))
              .union(e.select(F.col("a").alias("doc_id"),
                              F.col("a").alias("cluster_keeper")))
              .distinct())
    w = Window.partitionBy("cluster_keeper")
    return labels.select(
        "doc_id", "cluster_keeper",
        F.count("*").over(w).alias("cluster_size"))
