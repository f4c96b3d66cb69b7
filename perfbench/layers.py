"""Per-layer tracing for the traced run: spans recorded from the benchmark's
own files, a Spark event-log reducer, and the single-process kernel replay.

Spans. :class:`Tracer` keeps a stack of span names; entering a span sets
the Spark job description to the stack path (``pass-2/crawl/lineage``),
so every job the event log records carries the span it ran under. While
tracing, DataFrame and reader/writer actions are wrapped: each outermost
action becomes a ``site`` record (wall time plus the crawl post-pass whose
source block issued it, found from the stack frame in ``crawl.py`` and the
``if <flag>:`` block around that line), and a few public product functions
(``crawl.run_extract``, ``operators.cc.cc_edges``) are wrapped to open a
span. All wrappers are removed when tracing ends; the product is unchanged.
"""

from __future__ import annotations

import ast
import contextlib
import glob
import json
import os
import statistics
import sys
import time
from collections import defaultdict

# crawl_to_corpus post-pass blocks, by the flag that guards each one
CRAWL_PASSES = {"url_canon": "url_canon", "para_dedup_max": "para_dedup",
                "quality_gate": "quality_gate", "near_dedup": "near_dup",
                "host_cap": "host_cap", "pii_scrub": "pii_scrub",
                "wet_dir": "wet_write"}


def crawl_block_map() -> tuple[str, list[tuple[int, int, str]]]:
    """(crawl.py path, [(first line, last line, pass)]) for the ``if``
    blocks of ``crawl_to_corpus`` guarded by a post-pass flag."""
    from findtextcenternet_spark import crawl

    path = crawl.__file__
    with open(path) as f:
        tree = ast.parse(f.read())
    blocks = []
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef) and fn.name == "crawl_to_corpus":
            for node in ast.walk(fn):
                if not isinstance(node, ast.If):
                    continue
                names = {n.id for n in ast.walk(node.test)
                         if isinstance(n, ast.Name)}
                hit = [CRAWL_PASSES[n] for n in names if n in CRAWL_PASSES]
                if len(hit) == 1:
                    blocks.append((node.lineno, node.end_lineno, hit[0]))
    return path, blocks


class Tracer:
    """Span stack + action wrappers for one traced Spark session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.stack: list[str] = []
        self.spans: list[tuple[str, float, float, dict]] = []
        self.sites: list[tuple[str, str, float]] = []   # (span, pass, s)
        self._depth = 0
        self._patches: list[tuple[object, str, object]] = []
        self._crawl_path, self._blocks = crawl_block_map()

    # -- spans ---------------------------------------------------------
    def path(self) -> str:
        return "/".join(self.stack)

    @contextlib.contextmanager
    def span(self, name: str):
        """Time a block under ``name``; yields a dict the block may fill
        with counts recorded alongside the span."""
        self.stack.append(name)
        self.sc.setJobDescription(self.path())
        rec: dict = {}
        t0 = time.time()
        try:
            yield rec
        finally:
            t1 = time.time()
            self.spans.append((self.path(), t0, t1, rec))
            self.stack.pop()
            self.sc.setJobDescription(self.path() or None)

    # -- wrappers ------------------------------------------------------
    def _crawl_pass(self) -> str | None:
        f = sys._getframe(2)
        while f is not None:
            if f.f_code.co_filename == self._crawl_path and \
                    f.f_code.co_name == "crawl_to_corpus":
                line = f.f_lineno
                inner = [b for b in self._blocks if b[0] <= line <= b[1]]
                if inner:
                    return max(inner, key=lambda b: b[0])[2]
                return None
            f = f.f_back
        return None

    def _wrap_action(self, cls, name: str) -> None:
        orig = cls.__dict__.get(name)
        if orig is None:
            return
        tracer = self

        def action(*args, **kwargs):
            if tracer._depth:
                return orig(*args, **kwargs)
            tracer._depth += 1
            crawl_pass = tracer._crawl_pass()
            if crawl_pass:
                tracer.sc.setJobDescription(
                    f"{tracer.path()}@{crawl_pass}")
            t0 = time.time()
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.sites.append((tracer.path(), crawl_pass or "",
                                     time.time() - t0))
                tracer.sc.setJobDescription(tracer.path() or None)
                tracer._depth -= 1

        self._patches.append((cls, name, orig))
        setattr(cls, name, action)

    def _wrap_function(self, module, name: str, span: str,
                       record=None) -> None:
        orig = getattr(module, name, None)
        if orig is None:
            return
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(span) as rec:
                out = orig(*args, **kwargs)
                if record is not None:
                    record(rec, out)
                return out

        self._patches.append((module, name, orig))
        setattr(module, name, wrapped)

    def __enter__(self):
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        from findtextcenternet_spark import crawl
        from findtextcenternet_spark.operators import cc

        for m in ("collect", "count", "toPandas", "take", "head", "first",
                  "isEmpty", "localCheckpoint", "checkpoint", "foreach",
                  "foreachPartition"):
            self._wrap_action(DataFrame, m)
        for m in ("save", "parquet", "json", "csv", "text", "insertInto",
                  "saveAsTable"):
            self._wrap_action(DataFrameWriter, m)
        for m in ("load", "parquet", "json", "csv", "text", "table"):
            self._wrap_action(DataFrameReader, m)
        self._wrap_function(crawl, "run_extract", "lineage")
        self._wrap_function(cc, "cc_edges", "cc",
                            record=lambda rec, out: rec.update(rounds=out[1]))
        return self

    def __exit__(self, *exc):
        for owner, name, orig in reversed(self._patches):
            setattr(owner, name, orig)
        self._patches.clear()
        self.sc.setJobDescription(None)
        return False


# ------------------------------------------------------------ event log

def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (uncompressed, possibly rolling) event logs under
    ``log_dir``, in file order."""
    events = []
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                        recursive=True)
                   if os.path.isfile(p) and "appstatus" not in
                   os.path.basename(p))
    for path in files:
        with open(path) as f:
            for line in f:
                if line.strip():
                    events.append(json.loads(line))
    return events


class EventLog:
    """Jobs, stages and tasks of one application, keyed by the job
    description the tracer set (the span path)."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stage_desc: dict[int, str] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.blocks: dict[str, dict[str, int]] = defaultdict(dict)
        active: list[str] = []
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get(
                    "spark.job.description") or ""
                self.jobs[e["Job ID"]] = {"desc": desc,
                                          "start": e["Submission Time"],
                                          "end": None}
                active.append(desc)
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(e["Job ID"])
                if job is not None:
                    job["end"] = e["Completion Time"]
                    if job["desc"] in active:
                        active.remove(job["desc"])
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                self.stage_desc[info["Stage ID"]] = (
                    (e.get("Properties") or {}).get(
                        "spark.job.description") or "")
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                self.stages[info["Stage ID"]] = {
                    "start": info.get("Submission Time"),
                    "end": info.get("Completion Time"),
                    "n_tasks": info.get("Number of Tasks", 0)}
            elif kind == "SparkListenerTaskEnd":
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                acc = {a.get("Name"): a.get("Update")
                       for a in ti.get("Accumulables", [])}
                sw = tm.get("Shuffle Write Metrics") or {}
                self.tasks[e["Stage ID"]].append({
                    "dur_ms": ti["Finish Time"] - ti["Launch Time"],
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                    "spill": tm.get("Disk Bytes Spilled", 0),
                    "py_run_ms": float(acc.get("time to run Python workers")
                                       or 0),
                    "py_sent": float(acc.get("data sent to Python workers")
                                     or 0)})
            elif kind == "SparkListenerBlockUpdated":
                info = e["Block Updated Info"]
                bid = info["Block ID"]
                if bid.startswith("rdd_") and active:
                    size = info.get("Memory Size", 0) + info.get(
                        "Disk Size", 0)
                    owner = self.blocks[active[-1]]
                    owner[bid] = max(owner.get(bid, 0), size)

    def job_ids(self, match) -> list[int]:
        return [j for j, job in self.jobs.items() if match(job["desc"])]

    def stage_ids(self, match) -> list[int]:
        return [s for s, d in self.stage_desc.items()
                if match(d) and s in self.tasks]

    def pinned_bytes(self, match) -> int:
        return sum(sum(b.values()) for d, b in self.blocks.items()
                   if match(d))

    def pass_profile(self, prefix: str, wall: tuple[float, float]) -> dict:
        """Spark-level profile of one traced pass (jobs under ``prefix``);
        ``wall`` is the pass span in epoch seconds."""
        mine = lambda d: d == prefix or d.startswith(prefix + "/") \
            or d.startswith(prefix + "@")  # noqa: E731
        jobs = [self.jobs[j] for j in self.job_ids(mine)]
        stages = self.stage_ids(mine)
        tasks = [t for s in stages for t in self.tasks[s]]
        # wall time with no job running: driver round trips and planning
        ivals = sorted((j["start"] / 1e3, (j["end"] or j["start"]) / 1e3)
                       for j in jobs)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivals:
            s, e = max(s, wall[0]), min(e, wall[1])
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        skew = 1.0
        timed = [s for s in stages if self.stages.get(s, {}).get("end")]
        if timed:
            longest = max(timed, key=lambda s: self.stages[s]["end"]
                          - self.stages[s]["start"])
            durs = [t["dur_ms"] for t in self.tasks[longest]]
            med = statistics.median(durs)
            skew = max(durs) / med if med > 0 else 1.0
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": len(tasks),
            "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "spark.shuffle_write_mb": sum(t["shuffle_w"] for t in tasks)
            / 1e6,
            "spark.spill_mb": sum(t["spill"] for t in tasks) / 1e6,
            "spark.task_skew": skew,
            "spark.driver_gap_s": max(0.0, (wall[1] - wall[0]) - covered),
        }

    def python_profile(self, match) -> dict:
        """Python-UDF side of the stages whose description matches."""
        stages = self.stage_ids(match)
        tasks = [t for s in stages for t in self.tasks[s]]
        return {"udf_s": sum(t["py_run_ms"] for t in tasks) / 1e3,
                "tasks": len(tasks),
                "shuffle_mb": sum(t["shuffle_w"] for t in tasks) / 1e6,
                "py_sent_mb": sum(t["py_sent"] for t in tasks) / 1e6}


# ------------------------------------------------------------ kernel replay

def replay_raster(pages) -> tuple[dict, dict]:
    """Single-process replay of raster pages through the public kernels,
    step by step as ``golden.extract_raster_page`` runs them. Returns
    (per-layer totals, url -> text)."""
    from findtextcenternet_spark.operators.assemble import assemble_page
    from findtextcenternet_spark.operators.decode import (
        expand_window,
        segment_windows,
        tokenize_page,
    )
    from findtextcenternet_spark.operators.detect import (
        detect_page,
        parse_layout,
    )
    from findtextcenternet_spark.operators.group import group_page
    from findtextcenternet_spark.operators.model_registry import (
        get_detector_model,
        get_residue_heads,
    )

    model, head = get_detector_model(None), get_residue_heads(None)
    tot = defaultdict(float)
    texts = {}
    clock = time.perf_counter
    for url, html in pages:
        t0 = clock()
        layout = parse_layout(html)
        t1 = clock()
        boxes, runs = detect_page(layout, model)
        t2 = clock()
        ordered = group_page(boxes, runs)
        t3 = clock()
        tokens, meta = tokenize_page(ordered)
        windows = []
        for start, end, keep_back in segment_windows(tokens):
            pred, tok_of = expand_window(tokens[start:end], meta[start:end],
                                         head)
            windows.append({"pred": pred, "tok_of": tok_of,
                            "meta": meta[start:end], "keep_back": keep_back})
        t4 = clock()
        rec = assemble_page(windows)
        t5 = clock()
        tot["parse"] += t1 - t0
        tot["detect"] += t2 - t1
        tot["group"] += t3 - t2
        tot["decode"] += t4 - t3
        tot["assemble"] += t5 - t4
        tot["boxes"] += len(boxes)
        tot["lines"] += len(ordered[["block", "idx"]].drop_duplicates())
        tot["windows"] += len(windows)
        tot["pages"] += 1
        texts[url] = rec["text"]
    return dict(tot), texts


def replay_web(pages) -> tuple[dict, dict]:
    """Single-process replay of HTML and PDF pages: the batch HTML kernel
    over all HTML pages at once, the PDF kernel page by page, and the ruby
    variants for each text, as the pipeline's kernel runs them."""
    import pandas as pd

    from findtextcenternet_spark.functions.html_extract import (
        extract_main_text_series,
    )
    from findtextcenternet_spark.functions.ruby import decode_ruby
    from findtextcenternet_spark.operators.pdf import extract_pdf_text

    tot = defaultdict(float)
    texts = {}
    clock = time.perf_counter
    html = [(u, b) for u, b in pages if not b.startswith(b"%PDF-")]
    pdfs = [(u, b) for u, b in pages if b.startswith(b"%PDF-")]
    t0 = clock()
    out = extract_main_text_series(pd.Series([b for _, b in html],
                                             dtype=object))
    for t in out:
        decode_ruby(t, "aozora"), decode_ruby(t, "noruby")
    tot["html"] = clock() - t0
    tot["html_pages"] = len(html)
    tot["html_bytes"] = sum(len(b) for _, b in html)
    texts.update(zip((u for u, _ in html), out))
    for url, blob in pdfs:
        t0 = clock()
        text = extract_pdf_text(blob)
        decode_ruby(text, "aozora"), decode_ruby(text, "noruby")
        tot["pdf"] += clock() - t0
        texts[url] = text
    tot["pdf_pages"] = len(pdfs)
    return dict(tot), texts


def kernel_metrics(raster: dict, web: dict) -> dict:
    """Per-page kernel metrics from the two replays (zero for a kernel the
    workload's pages never reach)."""
    def per(d, key, n_key, scale=1e3):
        n = d.get(n_key, 0)
        return d.get(key, 0.0) * scale / n if n else 0.0

    n_pages = raster.get("pages", 0) + web.get("html_pages", 0) \
        + web.get("pdf_pages", 0)
    busy = sum(raster.get(k, 0.0) for k in
               ("parse", "detect", "group", "decode", "assemble")) \
        + web.get("html", 0.0) + web.get("pdf", 0.0)
    return {
        "parse.ms_per_page": per(raster, "parse", "pages"),
        "detect.ms_per_page": per(raster, "detect", "pages"),
        "detect.boxes_per_page": per(raster, "boxes", "pages", 1),
        "group.ms_per_page": per(raster, "group", "pages"),
        "group.lines_per_page": per(raster, "lines", "pages", 1),
        "decode.ms_per_page": per(raster, "decode", "pages"),
        "decode.windows_per_page": per(raster, "windows", "pages", 1),
        "assemble.ms_per_page": per(raster, "assemble", "pages"),
        "html.ms_per_page": per(web, "html", "html_pages"),
        "html.kb_per_page": per(web, "html_bytes", "html_pages", 1 / 1024),
        "pdf.ms_per_page": per(web, "pdf", "pdf_pages"),
        "kernel.docs_per_s": n_pages / busy if busy else 0.0,
    }
