"""Transitive dedup clustering (operators/cc.py) + paragraph-grain dedup."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from findtextcenternet_spark.operators.cc import cc_edges, connected_components
from findtextcenternet_spark.plans.training_data import (
    drop_repeated_paragraphs,
)


def _pairs(spark, edges):
    return spark.createDataFrame(
        pd.DataFrame(edges, columns=["doc_a", "doc_b"]).astype("int64"))


def _labels(spark, edges):
    out = connected_components(_pairs(spark, edges)).collect()
    return {r.doc_id: (r.cluster_keeper, r.cluster_size) for r in out}


def test_bridge_doc_gets_one_keeper(spark):
    """VERDICT r5 top item: one doc bridging two LSH buckets (pair sets
    {1,2} and {2,3} share only doc 2) still collapses to exactly ONE
    keeper for the whole transitive cluster."""
    lab = _labels(spark, [(1, 2), (2, 3)])
    assert lab == {1: (1, 3), 2: (1, 3), 3: (1, 3)}


def test_multiple_components_and_order_insensitivity(spark):
    # two components + reversed/duplicated pair rows must not matter
    edges = [(10, 7), (7, 12), (12, 10),      # triangle, min 7
             (100, 101), (101, 100),          # dup + reverse
             (5, 50), (50, 500)]              # chain, min 5
    lab = _labels(spark, edges)
    assert {d: k for d, (k, _) in lab.items()} == {
        7: 7, 10: 7, 12: 7, 100: 100, 101: 100, 5: 5, 50: 5, 500: 5}
    assert lab[10][1] == 3 and lab[101][1] == 2 and lab[500][1] == 3


def test_path_graph_converges_in_log_rounds(spark):
    """Large-star/small-star is O(log n) rounds, not O(diameter): a
    64-node path (worst case for naive min-propagation, which needs ~63
    rounds) must finish in well under 20."""
    n = 64
    edges = [(i, i + 1) for i in range(n - 1)]
    star, rounds = cc_edges(_pairs(spark, edges))
    assert rounds < 20, rounds
    rows = star.collect()
    assert all(r.a == 0 for r in rows)           # every edge points at min
    assert sorted(r.b for r in rows) == list(range(1, n))


def test_self_loops_and_singletons_excluded(spark):
    lab = _labels(spark, [(4, 4), (8, 9)])
    assert lab == {8: (8, 2), 9: (8, 2)}


def test_cc_empty_pair_frame(spark, deadline):
    """An empty pair graph is 0 edges, with no hang and no error, both
    from an empty local relation and from pairs that a shuffle filters
    to nothing at run time. Every pin there reads an Observation whose
    node may have been pruned as empty; a read that waited for a task
    which never runs would hang, hence the deadline."""
    for pairs in (spark.createDataFrame([], "doc_a long, doc_b long"),
                  _pairs(spark, [(1, 2), (2, 3)]).distinct()
                  .filter(F.col("doc_a") > 99)):
        with deadline(300):
            star, rounds = cc_edges(pairs)
            assert star.count() == 0
            assert rounds == 1
            assert connected_components(pairs).count() == 0


def test_drop_repeated_paragraphs_golden_footer(spark):
    """VERDICT r5 item 6: a shared footer paragraph is removed
    corpus-wide without touching unique text."""
    footer = "contact us | terms of service | © example"
    docs = pd.DataFrame({
        "url": [f"u{i}" for i in range(4)],
        "text": [f"unique body {i}\nsecond line {i}\n{footer}"
                 for i in range(3)] + [footer],   # doc 3 is ONLY footer
    })
    out = drop_repeated_paragraphs(
        spark.createDataFrame(docs), max_count=1).collect()
    got = {r.url: (r.clean_text, r.n_dropped) for r in out}
    for i in range(3):
        assert got[f"u{i}"] == (f"unique body {i}\nsecond line {i}", 1)
    assert got["u3"] == (None, 1)                 # all-boilerplate doc


def test_drop_repeated_paragraphs_threshold(spark):
    """max_count>1 keeps paragraphs repeated up to the threshold."""
    docs = pd.DataFrame({
        "url": ["a", "b", "c"],
        "text": ["twice\nown a", "twice\nown b", "own c"],
    })
    out = drop_repeated_paragraphs(
        spark.createDataFrame(docs), max_count=2).collect()
    got = {r.url: r.clean_text for r in out}
    assert got == {"a": "twice\nown a", "b": "twice\nown b", "c": "own c"}


def test_cc_random_graph_scale_smoke(spark):
    """Structured-random graph (10k edges over 8k nodes, long chain-y
    components — the worst shape for min-propagation): rounds stay
    within the large-star/small-star O(log^2 n) bound, far below the
    O(diameter) a naive propagation would need. (A 100k-edge/60k-node
    run converges in 12 rounds — recorded in COVERAGE.md.)"""
    import numpy as np

    rng = np.random.default_rng(7)
    a = rng.integers(0, 8000, 10000)
    b = (a + rng.integers(1, 50, 10000)) % 8000
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": a, "doc_b": b}).astype("int64"))
    star, rounds = cc_edges(pairs)
    assert rounds <= 20, rounds
    rows = star.toPandas()
    # star-forest invariant: roots never appear as members
    assert not (set(rows["a"]) & set(rows["b"]))
    # cross-check component count against a driver-side union-find
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(a.tolist(), b.tolist()):
        if u == v:
            continue
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    want_roots = {find(x) for x in parent}
    assert set(rows["a"].unique()) == want_roots
    # every member's root is its component's true minimum
    comp = {x: find(x) for x in parent}
    want_min = {}
    for x, r in comp.items():
        want_min[r] = min(want_min.get(r, x), x)
    got = dict(zip(rows["b"], rows["a"]))
    for x, r in comp.items():
        if x != want_min[r]:
            assert got[x] == want_min[r], (x, got[x], want_min[r])


def test_drop_repeated_paragraphs_metachar_separator(spark):
    """Review r6: sep is a LITERAL separator, not a Java regex — '|'
    must not split between every character."""
    docs = pd.DataFrame({
        "url": ["a", "b"],
        "text": ["shared|own a", "shared|own b"],
    })
    out = drop_repeated_paragraphs(
        spark.createDataFrame(docs), sep="|", max_count=1).collect()
    got = {r.url: (r.clean_text, r.n_dropped) for r in out}
    assert got == {"a": ("own a", 1), "b": ("own b", 1)}


def test_keep_best_per_cluster_quality_beats_min_id(spark):
    """Keeper selection is by quality (token count), NOT min doc_id: in
    cluster {1,2,3} the longest doc (3) wins; ties fall back to min id
    (cluster {10,11}); singletons (99) are their own keeper, kept."""
    from findtextcenternet_spark.plans.training_data import (
        keep_best_per_cluster,
    )

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": pd.array([1, 2, 3, 10, 11, 99], dtype="int64"),
        "text": ["one two", "one", "one two three four",
                 "same len a", "same len b", "alone here"],
    }))
    lab = spark.createDataFrame(pd.DataFrame({
        "doc_id": pd.array([1, 2, 3, 10, 11], dtype="int64"),
        "cluster_keeper": pd.array([1, 1, 1, 10, 10], dtype="int64"),
    }))
    rows = {r.doc_id: r for r in keep_best_per_cluster(docs, lab).collect()}
    assert {d: r.best_doc for d, r in rows.items()} == {
        1: 3, 2: 3, 3: 3, 10: 10, 11: 10, 99: 99}
    assert {d for d, r in rows.items() if r.keep} == {3, 10, 99}
    assert rows[99].cluster_keeper == 99


def test_a11_long_run_matches_oracle(spark, tmp_path):
    """The registry's A11 query on a 40-node same-nation chain (39 hops
    from its far end to the minimum) plus 10 alternating-nation
    singletons must equal its DuckDB oracle: one 40-node component and
    ten singletons — a propagation that stops early splits the chain."""
    import sys

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, "scripts")
    from check_oracle import canon

    from findtextcenternet_spark.plans import full_registry

    keys = list(range(1, 51))
    nations = [1] * 40 + [2 if i % 2 == 0 else 3 for i in range(10)]
    pq.write_table(pa.table({
        "s_suppkey": pa.array(keys, pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in keys],
        "s_nationkey": pa.array(nations, pa.int32()),
        "s_acctbal": pa.array([0.0] * 50, pa.float64()),
    }), str(tmp_path / "supplier.parquet"))

    fn, sql = full_registry()["a11_connected_components"]
    got = canon(fn(spark, str(tmp_path)).toPandas())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW supplier AS SELECT * FROM "
                f"'{tmp_path}/supplier.parquet'")
    want = canon(con.execute(sql).df())
    assert len(want) == 11
    assert want.loc[want["component"] == 1, "n_nodes"].item() == 40
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
