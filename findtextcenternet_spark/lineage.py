"""Per-partition lineage + idempotent resume (SURVEY.md §7 Stage 5).

The reference's resumability is byte-range resume in its shard downloader
(downloader_src/main.cpp:50-71). At corpus scale the equivalent contract is:

* every completed run appends its docs to the output table plus one lineage
  row per output partition (partition id, doc count, bytes, run id, wall);
* every run also appends its settled urls to the compact ``_done_urls``
  side table (url + run_id only, url-hash-clustered files);
* a restarted job anti-joins the input against that side table and
  processes only the remainder — resume cost is O(done-set strings), not
  a scan over everything ever written.

Crash-window healing (the "never re-extracts" contract): the docs append
and the done-set append are two writes; only the docs append is the
commit point. On every resume the done-set is RECONCILED against the set
of committed docs run_ids (a partition listing, not a data scan): any
run committed to docs whose done append is not known COMPLETE — a crash
between or DURING the two appends — has its urls backfilled from that
run's pruned partition. Completeness is a per-run ``done marker`` written
only AFTER the run's last append commits (``DocStore.mark_done``): a
partially-visible done append (multi-file job crashed mid-commit) has no
marker, so its run is backfilled in full rather than trusted on sight
(ADVICE r4 — trusting the mere presence of a run_id in the done DATA
would skip the backfill and re-extract that run's missing urls into
duplicate doc rows). The backfill may duplicate (url, run_id) rows inside
``_done_urls`` itself; that is harmless — the resume anti-join is
set-semantics — and doc rows, the table that matters, are never
duplicated.

Storage seam: all physical I/O goes through :class:`DocStore` — three
table-generic methods over the four tables (docs, done, quarantine,
lineage), three per-run ones (committed runs, one run's rows, drop),
the done markers and the compaction log. :class:`ParquetDirStore` is
the real store (parquet directories, partition dirs as commit markers);
:class:`InMemoryCatalogStore` is a catalog-style test double whose run
membership is metadata, proving the logic above the seam is
directory-free. The resume/healing contract matrix
(tests/test_lineage_stores.py) is written once and runs over both. A
catalog-backed store (Iceberg: one snapshot commit per append, the
partitions metadata table for ``committed_run_ids``) would implement the
same ten methods; none ships, because the repository carries no Iceberg
Spark runtime to test it against.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import extract_documents
from .sources.session import pin


def _dir_nonempty(path: str) -> bool:
    if not os.path.isdir(path):
        return False
    for root, _dirs, files in os.walk(path):
        if "_temporary" in root:
            continue
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


TABLES = ("docs", "done", "quarantine", "lineage")


class DocStore:
    """Physical storage for one extraction output: four append-only
    tables (``TABLES``) plus run-level metadata. Subclass per storage
    shape; run_extract, the resume healing and compaction are
    storage-agnostic above this interface.

    ``docs`` holds every doc row (errors included) partitioned by
    run_id; ``done`` the settled (url, run_id) pairs; ``quarantine`` the
    mirror of the error rows; ``lineage`` one row per output partition.
    """

    def append(self, table: str, df: DataFrame) -> None:
        """Append ``df`` to ``table``; a ``docs`` append is one run's
        commit point."""
        raise NotImplementedError

    def read(self, table: str) -> DataFrame:
        """Every committed row of ``table`` (``docs``: across all runs —
        the input of corpus-wide post-passes)."""
        raise NotImplementedError

    def nonempty(self, table: str) -> bool:
        raise NotImplementedError

    def committed_run_ids(self) -> set[str]:
        """run_ids whose docs append committed (partition metadata, not
        a data scan)."""
        raise NotImplementedError

    def read_run(self, run_id: str) -> DataFrame:
        """Every doc row of one committed run — partition-pruned."""
        raise NotImplementedError

    def drop_runs(self, run_ids: list[str]) -> None:
        """Remove committed runs from the docs table. Dropping a run_id
        that no longer exists is a no-op — the healing pass replays
        drops idempotently."""
        raise NotImplementedError

    def mark_done(self, run_ids: list[str]) -> None:
        """Record that these runs are FULLY recorded — done set,
        quarantine mirror and lineage; called only after those appends
        return."""
        raise NotImplementedError

    def done_run_ids(self) -> set[str]:
        """run_ids whose done append is known complete (see mark_done).
        A run_id merely present in the done DATA is not enough: a
        multi-file append observed mid-crash can be partial, and trusting
        it would skip the healing backfill (ADVICE r4)."""
        raise NotImplementedError

    def record_compaction(self, compact_id: str,
                          replaced: list[str]) -> None:
        """Atomically record that ``compact_id`` supersedes ``replaced``
        — the compaction's commit point: present → roll forward (drop
        leftovers of ``replaced``); absent → roll back (drop the
        unmarked compact run)."""
        raise NotImplementedError

    def compaction_log(self) -> dict[str, list[str]]:
        """compact_id → replaced run_ids, every compaction ever
        recorded."""
        raise NotImplementedError



class ParquetDirStore(DocStore):
    """Parquet directories under ``out_dir``: partition directories under
    docs/ are the commit markers (Spark's output committer renames them
    in atomically from _temporary)."""

    def __init__(self, spark: SparkSession, out_dir: str) -> None:
        self.spark = spark
        self.out_dir = out_dir
        self.docs_dir = os.path.join(out_dir, "docs")
        self.done_dir = os.path.join(out_dir, "_done_urls")
        self.dirs = {"docs": self.docs_dir, "done": self.done_dir,
                     "quarantine": os.path.join(out_dir, "_quarantine"),
                     "lineage": os.path.join(out_dir, "_lineage")}

    def append(self, table: str, df: DataFrame) -> None:
        if table == "done":
            # url-hash-clustered files, as many as AQE coalesces them to
            df = df.repartition("url")
        w = df.write.mode("append")
        if table == "docs":
            w = w.partitionBy("run_id")
        w.parquet(self.dirs[table])

    def read(self, table: str) -> DataFrame:
        runs = sorted(self.committed_run_ids()) if table == "docs" else []
        if not runs:
            return self.spark.read.parquet(self.dirs[table])
        # run_id values stay strings: inferred, an all-digit id reads
        # back as a number (leading zeros lost) and one such as
        # "8e4912345678" parses as a decimal with a 4.9e9 exponent,
        # whose scaling never finishes. Naming the partition column's
        # type turns inference off for it alone.
        schema = (self.spark.read.parquet(
            os.path.join(self.docs_dir, f"run_id={runs[0]}")).schema
            .add("run_id", "string"))
        return self.spark.read.schema(schema).parquet(self.docs_dir)

    def nonempty(self, table: str) -> bool:
        return _dir_nonempty(self.dirs[table])

    def committed_run_ids(self) -> set[str]:
        if not os.path.isdir(self.docs_dir):
            return set()
        return {e.split("=", 1)[1] for e in os.listdir(self.docs_dir)
                if e.startswith("run_id=")
                and _dir_nonempty(os.path.join(self.docs_dir, e))}

    def read_run(self, run_id: str) -> DataFrame:
        # the partition directory itself: pruned by construction
        part = os.path.join(self.docs_dir, f"run_id={run_id}")
        return (self.spark.read.parquet(part)
                .withColumn("run_id", F.lit(run_id)))

    def drop_runs(self, run_ids: list[str]) -> None:
        for rid in run_ids:
            part = os.path.join(self.docs_dir, f"run_id={rid}")
            if os.path.isdir(part):
                shutil.rmtree(part)

    def mark_done(self, run_ids: list[str]) -> None:
        # leading underscore: Spark's parquet reader treats the marker
        # as a hidden/metadata file and never tries to parse it
        os.makedirs(self.done_dir, exist_ok=True)
        for rid in run_ids:
            with open(os.path.join(self.done_dir, f"_run_{rid}.done"),
                      "w"):
                pass

    def done_run_ids(self) -> set[str]:
        if not os.path.isdir(self.done_dir):
            return set()
        return {e[len("_run_"):-len(".done")]
                for e in os.listdir(self.done_dir)
                if e.startswith("_run_") and e.endswith(".done")}

    def record_compaction(self, compact_id: str,
                          replaced: list[str]) -> None:
        d = os.path.join(self.out_dir, "_compactions")
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{compact_id}.json.tmp")
        with open(tmp, "w") as f:
            json.dump({"compact_id": compact_id,
                       "replaced": sorted(replaced)}, f)
        # atomic publish: the marker either exists complete or not at all
        os.replace(tmp, os.path.join(d, f"{compact_id}.json"))

    def compaction_log(self) -> dict[str, list[str]]:
        d = os.path.join(self.out_dir, "_compactions")
        if not os.path.isdir(d):
            return {}
        out = {}
        for e in sorted(os.listdir(d)):
            if e.endswith(".json") and not e.startswith("."):
                with open(os.path.join(d, e)) as f:
                    rec = json.load(f)
                out[rec["compact_id"]] = rec["replaced"]
        return out


class InMemoryCatalogStore(DocStore):
    """Catalog-style second implementation of the storage seam (VERDICT
    r4 item 7): run membership lives in METADATA — a committed-runs dict
    keyed by run_id, like a catalog's partitions metadata table — so
    ``committed_run_ids`` does no listing and ``read_run`` is a
    metadata-keyed lookup, not a path scan. Rows are held as collected
    Spark Rows + schema (this store is a test double; the point is that
    ``run_extract`` and the healing pass run UNCHANGED through a storage
    shape with none of ParquetDirStore's directory semantics — no
    partition dirs, no marker files)."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._runs: dict[str, tuple] = {}      # run_id -> (schema, rows)
        self._parts: dict[str, list[tuple]] = {
            t: [] for t in TABLES if t != "docs"}
        self._done_marked: set[str] = set()
        self._compactions: dict[str, list[str]] = {}

    def _table(self, table: str) -> list[tuple]:
        return (list(self._runs.values()) if table == "docs"
                else self._parts[table])

    def append(self, table: str, df: DataFrame) -> None:
        schema, rows = df.schema, df.collect()
        if table != "docs":
            self._parts[table].append((schema, rows))
            return
        for r in rows:
            self._runs.setdefault(r["run_id"], (schema, []))[1].append(r)

    def read(self, table: str) -> DataFrame:
        parts = self._table(table)
        return self.spark.createDataFrame(
            [r for _s, rs in parts for r in rs], schema=parts[0][0])

    def nonempty(self, table: str) -> bool:
        return any(rows for _s, rows in self._table(table))

    def committed_run_ids(self) -> set[str]:
        return {rid for rid, (_s, rows) in self._runs.items() if rows}

    def read_run(self, run_id: str) -> DataFrame:
        schema, rows = self._runs[run_id]
        return self.spark.createDataFrame(rows, schema=schema)

    def drop_runs(self, run_ids: list[str]) -> None:
        for rid in run_ids:
            self._runs.pop(rid, None)

    def mark_done(self, run_ids: list[str]) -> None:
        self._done_marked.update(run_ids)

    def done_run_ids(self) -> set[str]:
        return set(self._done_marked)

    def record_compaction(self, compact_id: str,
                          replaced: list[str]) -> None:
        self._compactions[compact_id] = sorted(replaced)

    def compaction_log(self) -> dict[str, list[str]]:
        return dict(self._compactions)


def _settled_urls(store: DocStore) -> DataFrame | None:
    """Urls already settled in the output — extracted OR quarantined (a
    poison page is quarantined exactly once per output directory, never
    re-validated on every resume).

    Reconciles the compact ``_done_urls`` side table against the
    committed docs run_ids: any run committed to docs but not marked
    done (a crash between or during the post-docs appends) contributes
    its urls from a partition-pruned read and is backfilled into
    ``_done_urls`` (and its error rows into the quarantine mirror) so
    the NEXT resume is O(done-set) again. Returns None when nothing is
    settled.
    """
    # a compaction that crashed mid-window can leave the docs table with
    # BOTH the compacted run and (some of) the runs it replaced —
    # duplicate rows for every post-pass. Settle it first: marker
    # present → roll forward; unmarked compact run → roll back.
    heal_compaction(store)

    done_any = store.nonempty("done")
    if not done_any and not store.nonempty("docs"):
        return None

    done = store.read("done").select("url") if done_any else None
    # trust only runs whose done append is KNOWN complete (marker written
    # after the append commits) — a run_id visible in the done data could
    # be a partially-committed append, and skipping its backfill would
    # re-extract the missing urls into duplicate doc rows (ADVICE r4)
    done_ids = store.done_run_ids() if done_any else set()
    missing = sorted(store.committed_run_ids() - done_ids)
    if not missing:
        return done

    backfill = functools.reduce(DataFrame.unionByName,
                                [store.read_run(rid) for rid in missing])
    # distinct() collapses exact (url, run_id) duplicate rows within this
    # backfill; a url re-extracted under TWO run_ids still lands twice —
    # tolerated, the resume anti-join is set-semantics
    store.append("done", backfill.select("url", "run_id").distinct())
    # the quarantine MIRROR is also post-docs state: rebuild it for the
    # backfilled runs from their committed error rows, skipping urls
    # already mirrored (quarantined exactly once per output dir)
    errors = (backfill.filter(F.col("error").isNotNull())
              .select("url", "error", "run_id"))
    if store.nonempty("quarantine"):
        errors = errors.join(store.read("quarantine").select("url"),
                             "url", "left_anti")
    errors, seen = pin(errors, F.count(F.lit(1)).alias("n"))
    if seen["n"]:
        store.append("quarantine", errors)
    store.mark_done(missing)
    return store.read("done").select("url")


def run_extract(pages: DataFrame, out_dir: str,
                run_id: str | None = None,
                num_partitions: int | None = None,
                store: DocStore | None = None) -> dict:
    """One resumable extraction run — single pass, no full-output rescans.

    Anti-joins pages already settled (resume, with done-set healing —
    see module docstring), runs the extraction pipeline (poison pills
    become in-pass error rows, never task failures), pins the combined
    frame once (``sources.session.pin`` — the docs write, done-set,
    quarantine and lineage all derive from the SAME materialization, and
    the pin's own query counts its rows and error rows; nothing re-reads
    the docs table, the 100 TB listing killer), and appends:
    docs (the commit point), then _done_urls, then _quarantine/_lineage.
    A crash after the docs append is healed by the next resume's
    reconciliation — no re-extraction, no duplicates.
    """
    spark = pages.sparkSession
    store = store or ParquetDirStore(spark, out_dir)
    run_id = run_id or uuid.uuid4().hex[:12]
    if run_id.startswith(COMPACT_PREFIX):
        # the prefix is reserved for compaction rewrites: an extraction
        # run named compact-* would be rolled back as an orphan by the
        # next heal_compaction (deleting real docs)
        raise ValueError(
            f"run_id must not start with {COMPACT_PREFIX!r} "
            "(reserved for compact_docs rewrites)")

    done = _settled_urls(store)
    todo = pages if done is None else pages.join(done, "url", "left_anti")

    t0 = time.time()
    combined = extract_documents(todo, num_partitions)
    # pin ONE materialization: part_id comes from spark_partition_id, so
    # every consumer below must see the same physical run, and the docs
    # write must not recompute the extraction a second time
    out, counts = pin(combined
                      .withColumn("part_id", F.spark_partition_id())
                      .withColumn("run_id", F.lit(run_id)),
                      F.count(F.lit(1)).alias("n"),
                      F.count("error").alias("n_quarantined"))
    n_quarantined = counts["n_quarantined"]
    n_docs = counts["n"] - n_quarantined
    store.append("docs", out)
    wall = time.time() - t0

    # this run's settled urls (docs AND quarantine rows) → compact
    # done-set side table: resume reads O(done-set), one string
    # column, instead of the url column of everything ever written
    store.append("done", out.select("url", "run_id"))

    if n_quarantined:
        store.append("quarantine",
                     out.filter(F.col("error").isNotNull())
                     .select("url", "error", "run_id"))

    good = out.filter(F.col("error").isNull())
    lineage = (good.groupBy("part_id")
               .agg(F.count("*").alias("n_docs"),
                    # BYTES, not characters: CJK text is ~3 B/char
                    F.sum(F.octet_length("text")).alias("text_bytes"),
                    F.sum(F.when(F.col("path") == "raster", 1)
                          .otherwise(0)).alias("n_raster"))
               .withColumn("run_id", F.lit(run_id))
               .withColumn("wall_sec", F.lit(round(wall, 3)))
               .withColumn("committed_at", F.current_timestamp()))
    store.append("lineage", lineage)
    # the marker means the run is FULLY recorded — done set,
    # quarantine mirror AND lineage — so it is written LAST: a crash
    # anywhere above leaves the run unmarked and the next resume's
    # healing pass rebuilds the done set and the quarantine mirror
    # from the committed docs (re-extraction never happens either
    # way; docs are the commit point and the anti-join sees the
    # backfilled done rows)
    store.mark_done([run_id])
    return {"run_id": run_id, "n_docs": n_docs,
            "n_quarantined": n_quarantined, "wall_sec": round(wall, 3),
            "docs_dir": os.path.join(out_dir, "docs"),
            "lineage_dir": os.path.join(out_dir, "_lineage"),
            "quarantine_dir": os.path.join(out_dir, "_quarantine")}


# ---------------------------------------------- small-files compaction

COMPACT_PREFIX = "compact-"


def heal_compaction(store: DocStore) -> dict:
    """Settle any compaction interrupted mid-window (idempotent; a
    no-op costs one metadata scan). Two crash shapes:

    * marker present, replaced runs still committed → the compaction
      COMMITTED (the marker is the commit point) but the drop was cut
      short: roll FORWARD by re-dropping the leftovers;
    * compact-prefixed run committed with NO marker → the compaction
      never committed: roll BACK by dropping the orphan compact run
      (every row it holds is still in the original runs).

    ``run_extract``'s healing calls this before the resume anti-join, so
    a crashed compaction can never feed duplicate rows to a post-pass.
    """
    committed = store.committed_run_ids()
    log = store.compaction_log()
    healed = {"rolled_forward": 0, "rolled_back": 0}
    for cid, replaced in log.items():
        leftovers = set(replaced) & committed
        if cid in committed and leftovers:
            store.drop_runs(sorted(leftovers))
            healed["rolled_forward"] += 1
    orphans = sorted(
        rid for rid in store.committed_run_ids()
        if rid.startswith(COMPACT_PREFIX) and rid not in log)
    if orphans:
        store.drop_runs(orphans)
        healed["rolled_back"] = len(orphans)
    return healed


def compact_docs(store: DocStore, num_files: int = 8,
                 compact_id: str | None = None) -> dict:
    """Rewrite every committed run into ONE compact run of ``num_files``
    files — the small-files maintenance pass an incremental crawl needs:
    ten thousand resumed runs × 32 part files each turns every
    corpus-wide post-pass into a listing/open storm; compaction restores
    O(num_files) scans without touching a single row's content.

    Crash-safe by marker (see :func:`heal_compaction`): write the
    compact run (atomic per-partition commit) → mark it done (its urls
    are already settled under the original runs, so the resume healing
    must not backfill them a second time) → record the compaction
    marker (the commit point) → drop the replaced runs. History is
    preserved where it lives: ``_done_urls`` and ``_lineage`` keep the
    ORIGINAL run_ids; only the physical docs layout changes.

    A catalog has an engine-native equivalent (Iceberg's
    ``CALL rewrite_data_files``); this seam-level version lets the
    parquet-dir and catalog-style stores share one tested protocol.

    Returns a summary dict; a store with ≤1 committed run is already
    compact (no-op)."""
    if compact_id is not None and not compact_id.startswith(COMPACT_PREFIX):
        # the prefix is how heal_compaction recognizes an unmarked
        # compact run to roll back — without it a crashed compaction
        # would survive as duplicate rows
        raise ValueError(
            f"compact_id must start with {COMPACT_PREFIX!r}")
    heal_compaction(store)
    old = sorted(store.committed_run_ids())
    if len(old) <= 1:
        return {"compacted_runs": 0, "compact_id": None, "n_docs": 0}
    cid = compact_id or (COMPACT_PREFIX + uuid.uuid4().hex[:12])
    rewritten = (store.read("docs")
                 .repartition(num_files)
                 .withColumn("run_id", F.lit(cid)))
    store.append("docs", rewritten)
    store.mark_done([cid])
    store.record_compaction(cid, old)      # <- the commit point
    store.drop_runs(old)
    n_docs = store.read("docs").count()
    return {"compacted_runs": len(old), "compact_id": cid,
            "n_docs": n_docs}
