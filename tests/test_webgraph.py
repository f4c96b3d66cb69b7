"""Host web-graph ops (plans/webgraph.py): link derivation, degrees,
PageRank, DSIR weights — property checks beyond the DuckDB hash gate."""

import math

import pandas as pd
from pyspark.sql import functions as F

from findtextcenternet_spark.plans.webgraph import (
    _DAMP,
    _N_LINKS,
    host_link_edges_df,
    pagerank_from_edges,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_edge_derivation_shape_and_determinism(spark):
    docs = _docs(spark)
    n_hosts = docs.select("source").distinct().count()
    edges = host_link_edges_df(docs, n_hosts)
    n_docs = docs.count()
    assert edges.count() == n_docs * _N_LINKS
    # derived deterministically → two evaluations are identical
    a = sorted(map(tuple, edges.collect()))
    b = sorted(map(tuple, host_link_edges_df(docs, n_hosts).collect()))
    assert a == b
    # every dst is a real host label of the same universe
    hosts = {r.source for r in docs.select("source").distinct().collect()}
    assert {r.dst_host for r in edges.collect()} <= hosts


def test_pagerank_mass_conservation(spark):
    """With no dangling nodes (true by construction), total PageRank mass
    is exactly 1 every round."""
    docs = _docs(spark)
    n = docs.select("source").distinct().count()
    edges = (host_link_edges_df(docs, n)
             .groupBy("src_host", "dst_host")
             .agg(F.count("*").cast("double").alias("w")))
    hosts = docs.select(F.col("source").alias("host")).distinct()
    pr = pagerank_from_edges(edges, hosts)
    rows = pr.collect()
    assert len(rows) == n
    assert math.isclose(sum(r.pagerank for r in rows), 1.0, abs_tol=1e-4)
    assert all(r.pagerank > 0 for r in rows)


def test_pagerank_uniform_graph_fixpoint(spark):
    """A symmetric ring (every node: one out-edge, one in-edge, equal
    weight) has the uniform distribution as its exact fixpoint — the
    iteration must not drift off it."""
    n = 8
    ring = [(f"h{i}", f"h{(i + 1) % n}", 1.0) for i in range(n)]
    edges = spark.createDataFrame(
        pd.DataFrame(ring, columns=["src_host", "dst_host", "w"]))
    hosts = spark.createDataFrame(
        pd.DataFrame({"host": [f"h{i}" for i in range(n)]}))
    pr = pagerank_from_edges(edges, hosts).collect()
    for r in pr:
        assert math.isclose(r.pagerank, 1.0 / n, abs_tol=1e-9), r


def test_pagerank_sink_heavy_node_ranks_higher(spark):
    """A node every other node points at must out-rank the pointers
    (the defining property of the measure)."""
    spokes = [(f"h{i}", "hub", 1.0) for i in range(1, 6)]
    # hub links back to one spoke so there are no dangling nodes
    edges = spark.createDataFrame(
        pd.DataFrame(spokes + [("hub", "h1", 1.0)],
                     columns=["src_host", "dst_host", "w"]))
    hosts = spark.createDataFrame(
        pd.DataFrame({"host": ["hub"] + [f"h{i}" for i in range(1, 6)]}))
    pr = {r.host: r.pagerank for r in
          pagerank_from_edges(edges, hosts).collect()}
    assert pr["hub"] > max(v for k, v in pr.items() if k != "hub")
    # damping floor: every rank >= (1-d)/n
    assert min(pr.values()) >= (1.0 - _DAMP) / 6 - 1e-12


def test_hits_l1_norm_and_positivity(spark):
    """Each HITS half-step L1-normalizes, so hub and auth each sum to 1
    on the derived corpus graph (every host reachable both ways)."""
    from findtextcenternet_spark.plans.webgraph import host_hits

    rows = host_hits(spark, SF).collect()
    assert math.isclose(sum(r.hub for r in rows), 1.0, abs_tol=1e-4)
    assert math.isclose(sum(r.auth for r in rows), 1.0, abs_tol=1e-4)
    assert all(r.hub >= 0 and r.auth >= 0 for r in rows)


def test_hits_hub_and_authority_split(spark):
    """The defining asymmetry: a node all others point AT gets the top
    authority (and no hub mass — it has no informative outlinks), while
    the pointers split the hub mass."""
    from findtextcenternet_spark.plans.webgraph import hits_from_edges

    spokes = [(f"h{i}", "hub", 1.0) for i in range(1, 6)]
    edges = spark.createDataFrame(
        pd.DataFrame(spokes + [("hub", "h1", 1.0)],
                     columns=["src_host", "dst_host", "w"]))
    hosts = spark.createDataFrame(
        pd.DataFrame({"host": ["hub"] + [f"h{i}" for i in range(1, 6)]}))
    s = {r.host: (r.hub, r.auth) for r in
         hits_from_edges(edges, hosts).collect()}
    assert s["hub"][1] > max(a for k, (_, a) in s.items() if k != "hub")
    assert max(h for k, (h, _) in s.items() if k != "hub") > s["hub"][0]
    # h2..h5 are pure hubs with identical structure → identical scores
    assert len({s[f"h{i}"][0] for i in range(2, 6)}) == 1


def test_hits_edgeless_graph_reads_null(spark, deadline):
    """Hosts with no edge between them: each half-step sums over no
    rows, so every score is null (a sum over no rows is null), with no
    divide-by-zero error under ANSI mode."""
    from findtextcenternet_spark.plans.webgraph import hits_from_edges

    edges = spark.createDataFrame([], "src_host string, dst_host string, "
                                      "w double")
    hosts = spark.createDataFrame(pd.DataFrame({"host": ["a", "b", "c"]}))
    with deadline(300):
        rows = hits_from_edges(edges, hosts).collect()
    assert sorted((r.host, r.hub, r.auth) for r in rows) == [
        ("a", None, None), ("b", None, None), ("c", None, None)]


def test_dsir_target_stratum_scores_higher(spark):
    """DSIR log-weights measure similarity to the lang='en' target: the
    en stratum's mean per-token log-ratio must exceed the rest's."""
    from findtextcenternet_spark.plans.webgraph import dsir_weights

    docs = _docs(spark)
    w = dsir_weights(spark, SF).join(docs.select("doc_id", "lang"),
                                     "doc_id")
    rows = (w.groupBy(F.col("lang") == "en")
            .agg(F.avg(F.col("dsir_logw") / F.col("n_tokens")).alias("m"))
            .collect())
    m = {r[0]: r.m for r in rows}
    assert m[True] > m[False]
