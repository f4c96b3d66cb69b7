"""Small-files compaction (lineage.compact_docs): many incremental runs
→ one compact run, byte-identical row multiset, resume and post-passes
unaffected, crash windows healed in both directions."""

import os

import pytest
from pyspark.sql import functions as F

from findtextcenternet_spark.corpus import generate_pages
from findtextcenternet_spark.lineage import (
    InMemoryCatalogStore,
    ParquetDirStore,
    compact_docs,
    heal_compaction,
    run_extract,
)
from findtextcenternet_spark.pipeline import pages_from_pandas


def _docs_sorted(store):
    return (store.read("docs")
            .select("url", "text", "error")
            .toPandas()
            .sort_values("url")
            .reset_index(drop=True))


def _extract_in_runs(spark, out_dir, store, n_runs=3, n_pages=30):
    pdf = generate_pages(n_pages)
    per = n_pages // n_runs
    for i in range(n_runs):
        run_pages = pages_from_pandas(spark, pdf.iloc[i * per:(i + 1) * per])
        run_extract(run_pages, out_dir, run_id=f"r{i}", store=store)
    return pdf


def test_compact_parquet_store_roundtrip(spark, tmp_path):
    out = str(tmp_path / "o")
    store = ParquetDirStore(spark, out)
    _extract_in_runs(spark, out, store)
    before = _docs_sorted(store)
    assert store.committed_run_ids() == {"r0", "r1", "r2"}
    n_files_before = sum(
        f.endswith(".parquet")
        for _r, _d, fs in os.walk(store.docs_dir) for f in fs)

    s = compact_docs(store, num_files=2)
    assert s["compacted_runs"] == 3
    ids = store.committed_run_ids()
    assert len(ids) == 1 and next(iter(ids)).startswith("compact-")
    n_files_after = sum(
        f.endswith(".parquet")
        for _r, _d, fs in os.walk(store.docs_dir) for f in fs)
    assert n_files_after == 2 < n_files_before
    # row multiset byte-identical
    after = _docs_sorted(store)
    assert before.equals(after)

    # compacting an already-compact store is a no-op
    s2 = compact_docs(store, num_files=2)
    assert s2["compacted_runs"] == 0
    assert _docs_sorted(store).equals(before)


def test_resume_after_compaction_extracts_nothing(spark, tmp_path):
    out = str(tmp_path / "o")
    store = ParquetDirStore(spark, out)
    pdf = _extract_in_runs(spark, out, store)
    compact_docs(store, num_files=2)
    # the done-set survived compaction under the ORIGINAL run ids: a
    # re-run over the same pages extracts zero new docs
    s = run_extract(pages_from_pandas(spark, pdf), out, store=store)
    assert s["n_docs"] == 0 and s["n_quarantined"] == 0
    assert len(_docs_sorted(store)) == len(pdf)


def test_crash_before_marker_rolls_back(spark, tmp_path):
    """Compact run committed, marker never written → healing drops the
    orphan compact run; nothing is duplicated, nothing is lost."""
    out = str(tmp_path / "o")
    store = ParquetDirStore(spark, out)
    pdf = _extract_in_runs(spark, out, store)
    before = _docs_sorted(store)

    # simulate the crash window: the compact partition lands (and is
    # even marked done) but record_compaction never ran
    rewritten = (store.read("docs").repartition(2)
                 .withColumn("run_id", F.lit("compact-crashed")))
    store.append("docs", rewritten)
    store.mark_done(["compact-crashed"])
    assert len(_docs_sorted(store)) == 2 * len(before)   # duplicated!

    healed = heal_compaction(store)
    assert healed["rolled_back"] == 1
    assert store.committed_run_ids() == {"r0", "r1", "r2"}
    assert _docs_sorted(store).equals(before)

    # the SAME healing runs implicitly inside a resume: plant another
    # orphan compact partition, then just run run_extract
    store.append("docs", store.read("docs").repartition(1)
                 .withColumn("run_id", F.lit("compact-crash2")))
    s = run_extract(pages_from_pandas(spark, pdf), out, store=store)
    assert s["n_docs"] == 0
    assert store.committed_run_ids() == {"r0", "r1", "r2"}
    assert _docs_sorted(store).equals(before)


def test_crash_after_marker_rolls_forward(spark, tmp_path):
    """Marker written, replaced runs not yet dropped → healing finishes
    the drop; the compact run is the only survivor."""
    out = str(tmp_path / "o")
    store = ParquetDirStore(spark, out)
    _extract_in_runs(spark, out, store)
    before = _docs_sorted(store)

    rewritten = (store.read("docs").repartition(2)
                 .withColumn("run_id", F.lit("compact-abc")))
    store.append("docs", rewritten)
    store.mark_done(["compact-abc"])
    store.record_compaction("compact-abc", ["r0", "r1", "r2"])
    # crash HERE: drop_runs never ran — docs are transiently duplicated

    healed = heal_compaction(store)
    assert healed["rolled_forward"] == 1
    assert store.committed_run_ids() == {"compact-abc"}
    assert _docs_sorted(store).equals(before)
    # idempotent: a second heal changes nothing
    assert heal_compaction(store) == {"rolled_forward": 0,
                                      "rolled_back": 0}


def test_compact_memory_store(spark, tmp_path):
    """The same protocol through the catalog-style store — compaction is
    a seam-level operation, not a filesystem trick."""
    out = str(tmp_path / "o")
    store = InMemoryCatalogStore(spark)
    pdf = _extract_in_runs(spark, out, store, n_runs=2, n_pages=16)
    before = _docs_sorted(store)
    s = compact_docs(store, num_files=1)
    assert s["compacted_runs"] == 2
    assert len(store.committed_run_ids()) == 1
    assert _docs_sorted(store).equals(before)
    s2 = run_extract(pages_from_pandas(spark, pdf), out, store=store)
    assert s2["n_docs"] == 0


def test_cli_compact_after_batch(tmp_path):
    """--compact N: the second invocation (same out_dir, same input)
    extracts nothing and folds the store into N files."""
    import json
    import subprocess
    import sys

    from findtextcenternet_spark.corpus import write_pages_parquet

    # two incremental crawls: the second input is a superset, so run 2
    # extracts only the 8 new pages (a second committed run)
    pages_a, pages_b = str(tmp_path / "pa"), str(tmp_path / "pb")
    write_pages_parquet(pages_a, 8)
    write_pages_parquet(pages_b, 16)
    out = str(tmp_path / "out")

    def run(pages, *extra):
        r = subprocess.run(
            [sys.executable, "-m", "findtextcenternet_spark", pages, out,
             "--master", "local[4]", "--partitions", "4", *extra],
            capture_output=True, text=True, timeout=600)
        assert r.returncode == 0, r.stderr[-2000:]
        return json.loads(r.stdout.strip().splitlines()[-1])

    assert run(pages_a)["n_docs"] == 8
    assert run(pages_b)["n_docs"] == 8             # only the new half
    summary = run(pages_b, "--compact", "2")
    assert summary["n_docs"] == 0                  # resume: nothing new
    assert summary["compaction"]["compacted_runs"] == 2
    docs_dir = os.path.join(out, "docs")
    n_files = sum(f.endswith(".parquet")
                  for _r, _d, fs in os.walk(docs_dir) for f in fs)
    assert n_files == 2


def test_compact_prefix_guards(spark, tmp_path):
    """The compact- prefix is load-bearing for crash recovery: a custom
    compact_id without it, or an extraction run named with it, is
    rejected up front."""
    store = InMemoryCatalogStore(spark)
    with pytest.raises(ValueError, match="compact_id must start"):
        compact_docs(store, compact_id="nightly-rewrite")
    pages = pages_from_pandas(spark, generate_pages(4))
    with pytest.raises(ValueError, match="reserved for compact_docs"):
        run_extract(pages, str(tmp_path / "o"), run_id="compact-r1",
                    store=store)
