"""The four workloads: inputs, one pass, and the correctness checks.

Every workload runs as a closed loop with one client: the driver submits
one pass at a time and waits for its complete result at the sink.

Interface: ``prepare(seed, work)`` makes (or reuses) the seeded inputs,
``open(spark)`` binds them to a session, ``checked_run(spark)`` is an
untimed pass whose output is checked and returns ``(attempted, failed)``,
``run(spark, tracer)`` is one timed pass and returns the work units it
found wrong, ``settle()`` (``crawl_corpus`` only) measures and frees what
the last pass wrote, and ``replay_pages()`` gives the kernel-replay sample.
``units`` counts the work of one pass (documents, or queries for
``curate_queries``); ``docs`` counts the input documents of one pass.
"""

from __future__ import annotations

import contextlib
import gzip
import io
import json
import os
import shutil
import sys

import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen

# the 18 curation queries of the frozen bench.py headline
CURATION_QUERIES = [
    "q1_pricing_summary", "a14_dense_rank", "j6_asof_next_line",
    "sessionize", "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_clusters", "dedup_paragraph", "ann_cosine_topk",
    "ann_lsh_buckets", "lang_id", "quality_score", "token_count_total",
    "pii_scrub", "url_canonical_dedup", "host_pagerank", "dsir_weights",
]
RASTER_SAMPLE = 24
_SCRIPTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
MAX_KNOWN_DEFECTS = 2
WEB_SAMPLE = 300


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextlib.contextmanager
def _nospan(name):
    yield {}


def _dir_bytes(path: str, skip: tuple[str, ...] = ()) -> tuple[int, int]:
    """(files, bytes) under ``path``, skipping top-level entries in
    ``skip``."""
    n = size = 0
    for root, dirs, files in os.walk(path):
        if root == path:
            dirs[:] = [d for d in dirs if d not in skip]
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


class Extract:
    """``extract_raster`` / ``extract_web``: ``pipeline.extract_documents``
    over a pages table into the noop sink."""

    last: dict = {}
    min_passes = 2

    def __init__(self, name: str, build, sample):
        self.name, self._build, self._sample = name, build, sample

    def prepare(self, seed: int, work: str) -> None:
        self.seed = seed
        self.dir = self._build(seed)
        self.expected = pq.read_table(
            os.path.join(self.dir, "expected.parquet")).to_pandas()
        self.units = self.docs = len(self.expected)
        self.spark_text: dict[str, str] = {}

    def open(self, spark) -> None:
        from findtextcenternet_spark.pipeline import extract_documents

        self._extract = extract_documents
        self.pages = spark.read.parquet(os.path.join(self.dir, "pages"))

    def run(self, spark, tracer=None) -> int:
        _noop(self._extract(self.pages))
        return 0

    def checked_run(self, spark) -> tuple[int, int]:
        """The pass, collected: every url's text must equal the
        generator's expected text, and exactly the poison pages must come
        back as quarantine (error) rows."""
        got = (self._extract(self.pages).select("url", "text", "error")
               .toPandas())
        exp = self.expected.set_index("url")
        failed = abs(len(got) - len(exp))
        wrong = []
        for url, text, err in zip(got["url"], got["text"], got["error"]):
            if url not in exp.index:
                failed += 1
            elif exp.at[url, "poison"]:
                failed += err is None
            elif err is not None:
                failed += 1
            else:
                self.spark_text[url] = text
                if text != exp.at[url, "text"]:
                    wrong.append(url)
        self.known_defects = self._known_defects(wrong)
        failed += len(wrong) - len(self.known_defects)
        return self.units, int(min(failed, self.units))

    def _known_defects(self, wrong: list[str]) -> list[str]:
        """Pages whose text differs from the generator's but equals the
        single-process reference kernels' (``golden``): a defect of the
        kernels themselves, which the distributed run reproduces. The
        seeded corpora hit one in about 1,300 raster pages; up to
        ``MAX_KNOWN_DEFECTS`` such pages are reported, not failed, so a
        kernel change that breaks more pages still fails the run."""
        if not wrong or len(wrong) > MAX_KNOWN_DEFECTS:
            return []
        from findtextcenternet_spark.golden import extract_page_golden

        pages = pq.read_table(os.path.join(self.dir, "pages"),
                              columns=["url", "html"],
                              filters=[("url", "in", wrong)]).to_pylist()
        return [p["url"] for p in pages
                if extract_page_golden(p["url"], p["html"])["text"]
                == self.spark_text[p["url"]]]

    def replay_pages(self) -> tuple[str, list[tuple[str, bytes]], dict]:
        """(kernel kind, [(url, page bytes)], url -> expected text): the
        first pages of this workload's own input."""
        pdf = self._sample(self.seed)
        return ("raster" if self.name == "extract_raster" else "web",
                [(u, bytes(h)) for u, h in zip(pdf["url"], pdf["html"])],
                dict(zip(pdf["url"], pdf["text"])))


class Crawl:
    """``crawl_corpus``: index the seeded WARC archives
    (``build_cdx``/``write_cdxj``), then ``crawl.crawl_to_corpus`` from
    the CDX index with every post-pass, into a fresh output directory."""

    name = "crawl_corpus"
    min_passes = 1
    known_defects: list = []

    def prepare(self, seed: int, work: str) -> None:
        self.seed = seed
        self.dir = gen.build_crawl_corpus(seed)
        with open(os.path.join(self.dir, "expected.json")) as f:
            self.expected = json.load(f)
        self.units = self.docs = self.expected["summary"]["n_docs"]
        self.warc = os.path.join(self.dir, "warc")
        self.input_bytes = _dir_bytes(self.warc)[1]
        self.out_root = os.path.join(work, "crawl")
        shutil.rmtree(self.out_root, ignore_errors=True)
        self.n = 0
        self.last: dict = {}
        self.spark_text: dict[str, str] = {}

    def open(self, spark) -> None:
        pass

    def run(self, spark, tracer=None) -> int:
        """One pass; its summary funnel must equal the injected counts."""
        from findtextcenternet_spark.crawl import crawl_to_corpus
        from findtextcenternet_spark.sources.cdx import build_cdx, write_cdxj

        span = tracer.span if tracer else _nospan
        self.n += 1
        out = os.path.join(self.out_root, f"pass-{self.n}")
        self.last = {"out": out}
        idx = os.path.join(out, "_cdx")
        with span("index"):
            write_cdxj(build_cdx(spark, self.warc), idx, num_shards=4
                       ).collect()
        with span("crawl"):
            summary = crawl_to_corpus(
                spark, idx, out, input_format="cdx",
                wet_dir=os.path.join(out, "wet"), near_dedup=True,
                para_dedup_max=gen.PARA_DEDUP_MAX, quality_gate=True,
                host_cap=gen.HOST_CAP, url_canon=True, pii_scrub=True)
        want = self.expected["summary"]
        return self.units if any(summary.get(k) != v
                                 for k, v in want.items()) else 0

    def settle(self) -> dict:
        """Untimed, after a pass: what it wrote, then free its disk."""
        out = self.last.pop("out")
        size = _dir_bytes(out)[1]
        store_files, store_bytes = _dir_bytes(out, skip=("wet", "_cdx"))
        idx = os.path.join(out, "_cdx")
        fetched = _fetched_bytes(idx) if os.path.isdir(idx) else 0
        shutil.rmtree(out, ignore_errors=True)
        return {"write_amp": size / self.input_bytes,
                "store_files": store_files, "store_bytes": store_bytes,
                "fetch_bytes": fetched}

    def checked_run(self, spark) -> tuple[int, int]:
        """A pass whose summary funnel, extracted docs (read back from the
        doc store) and WET corpus are compared with the generator's."""
        failed = self.run(spark)
        out = self.last["out"]
        docs = ds.dataset(os.path.join(out, "docs"), format="parquet",
                          partitioning="hive").to_table(
            columns=["url", "text", "error"]).to_pandas()
        want = self.expected["extracted"]
        failed += abs(len(docs) - len(want))
        for url, text, err in zip(docs["url"], docs["text"], docs["error"]):
            self.spark_text[url] = text
            failed += err is not None or want.get(url) != text
        wet = _read_wet(os.path.join(out, "wet"))
        want = self.expected["wet"]
        failed += abs(len(wet) - len(want))
        failed += sum(want.get(u) != t for u, t in wet.items())
        self.settle()
        return self.units, int(min(failed, self.units))

    def replay_pages(self) -> tuple[str, list[tuple[str, bytes]], dict]:
        caps, _ = gen.crawl_captures(self.seed)
        return ("web", [(c["url"], c["html"]) for c in caps],
                {c["url"]: c["text"] for c in caps})


def _fetched_bytes(idx_dir: str) -> int:
    """Archive bytes the range fetch reads: the entries of the CDX index,
    newest capture per payload digest."""
    newest: dict[str, tuple[str, int]] = {}
    for name in sorted(os.listdir(idx_dir)):
        if not name.endswith(".cdx.gz"):
            continue
        with gzip.open(os.path.join(idx_dir, name), "rt") as f:
            for line in f:
                _key, ts, meta = line.split(" ", 2)
                m = json.loads(meta)
                if ts >= newest.get(m["digest"], ("", 0))[0]:
                    newest[m["digest"]] = (ts, int(m["length"]))
    return sum(n for _, n in newest.values())


def _read_wet(wet_dir: str) -> dict[str, str]:
    from findtextcenternet_spark.sources.warc import iter_warc_records

    out = {}
    for name in sorted(os.listdir(wet_dir)):
        if not name.endswith(".warc.wet.gz"):
            continue
        with open(os.path.join(wet_dir, name), "rb") as f:
            blob = f.read()
        for hdr, body in iter_warc_records(
                gzip.GzipFile(fileobj=io.BytesIO(blob))):
            if hdr.get("warc-type") == "conversion":
                out[hdr.get("warc-target-uri", "")] = body.decode("utf-8")
    return out


class Curate:
    """``curate_queries``: the 18 headline registry queries over seeded
    tables, each into the noop sink; checked against its DuckDB oracle."""

    name = "curate_queries"
    last: dict = {}
    min_passes = 1
    known_defects: list = []

    def prepare(self, seed: int, work: str) -> None:
        self.dir = gen.build_curate_queries(seed)
        self.units = len(CURATION_QUERIES)
        self.docs = gen.N_DOCUMENTS

    def open(self, spark) -> None:
        from findtextcenternet_spark.plans import full_registry

        self.registry = full_registry()

    def run(self, spark, tracer=None) -> int:
        span = tracer.span if tracer else _nospan
        for name in CURATION_QUERIES:
            fn, _sql = self.registry[name]
            with span(name):
                _noop(fn(spark, self.dir))
        return 0

    def checked_run(self, spark) -> tuple[int, int]:
        """Each query collected and compared with its DuckDB oracle SQL
        (row count, column names, order-insensitive values)."""
        import duckdb

        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.dir)):
                if f.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                                f"SELECT * FROM '{os.path.join(self.dir, f)}'")
            failed = 0
            for name in CURATION_QUERIES:
                fn, sql = self.registry[name]
                failed += not _same_rows(fn(spark, self.dir).toPandas(),
                                         con.execute(sql).df())
        finally:
            con.close()
        return self.units, failed

    def replay_pages(self):
        return None, [], {}


def _same_rows(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Row count, column names and order-insensitive values, as the oracle
    gate (``scripts/check_oracle.py``) compares them."""
    if _SCRIPTS not in sys.path:
        sys.path.insert(0, _SCRIPTS)
    from check_oracle import canon

    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    return canon(got).equals(canon(want))


WORKLOADS = {
    "extract_raster": lambda: Extract(
        "extract_raster", gen.build_extract_raster,
        lambda seed: gen.raster_pages(seed).head(RASTER_SAMPLE)),
    "extract_web": lambda: Extract(
        "extract_web", gen.build_extract_web,
        lambda seed: gen.web_pages(seed, 0, WEB_SAMPLE)),
    "crawl_corpus": Crawl,
    "curate_queries": Curate,
}
