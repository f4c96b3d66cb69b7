#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One driver process on ``local[nproc]``
runs the workload as a closed loop with one client: set up (fresh JVM,
session, one untimed pass whose output is checked), then timed passes,
one Spark submission at a time, until ``--seconds`` have passed (at least the
workload's ``min_passes``). The last stdout line is the result object; the line
before it is a readable report with every sample.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` starts Spark
with the event log on, runs the same set-up and timed passes, then as many
passes again under the span tracer (``layers.py``), replays a sample of
the workload's pages through the kernels in this process, and reports the
per-layer metrics, including the tracing overhead (traced minus untraced
median pass time).

Inputs are generated from the seed and cached under ``perfbench/.cache``;
everything a run writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")


def _process_start() -> float:
    """Wall-clock start of this process (survives the exec below)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def _reexec() -> None:
    """Re-run this script once with a fixed environment: deterministic
    Python hashing (WARC record ids use ``hash()``), the checkout on the
    workers' import path, and every temporary file inside ``.work``."""
    if os.environ.get("PERFBENCH_CHILD") == "1":
        return
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PERFBENCH_CHILD": "1",
        "PYTHONHASHSEED": "0",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        # spark-submit's launcher JVM: no perf-data file under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    os.execve(sys.executable, [sys.executable, os.path.abspath(__file__),
                               *sys.argv[1:]], env)


# ------------------------------------------------------------ process tree

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional resident size: pages shared with other processes
    (a forked worker's copy-on-write pages) count once across them."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


class PeakRss(threading.Thread):
    """Samples the resident memory (PSS) of this process and all its
    descendants (driver, JVM, Python workers) from /proc; keeps the peak
    total and its split at that moment."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval, self.peak, self.parts = interval, 0, {}
        self._halt = threading.Event()

    def sample(self) -> None:
        parts = {"driver": 0, "jvm": 0, "workers": 0}
        n_workers = 0
        me = os.getpid()
        for pid in [me, *descendants(me)]:
            try:
                pss = _pss_bytes(pid)
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except (OSError, ValueError, IndexError):
                continue
            key = ("driver" if pid == me else
                   "jvm" if comm == "java" else "workers")
            parts[key] += pss
            n_workers += key == "workers"
        total = sum(parts.values())
        if total > self.peak:
            self.peak = total
            self.parts = {k: v / 2**20 for k, v in parts.items()}
            self.parts["n_workers"] = n_workers

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.sample()
        return self.peak / 2**20


# ------------------------------------------------------------ spark session

def start_spark(event_log: str | None = None):
    """A fresh JVM and session from the product's session factory, with
    scratch paths (and, when tracing, the uncompressed event log) passed
    through ``PYSPARK_SUBMIT_ARGS``."""
    tmp = os.path.join(WORK, "tmp")
    args = ["--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "--conf", f"spark.sql.warehouse.dir={WORK}/warehouse",
            "--conf", "spark.ui.showConsoleProgress=false"]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.logBlockUpdates.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{event_log}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    from findtextcenternet_spark.sources.session import get_spark

    spark = get_spark(app="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until every process the
    session started has exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in procs if _alive(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            os.kill(p, 9)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ------------------------------------------------------------ measurement

class Tally:
    def __init__(self):
        self.attempted = self.failed = 0

    def add(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed


def timed_passes(wl, spark, seconds: float, tally: Tally,
                 tracer=None) -> tuple[list[float], list[dict]]:
    """Closed loop: one pass at a time until ``seconds`` have passed and
    at least ``wl.min_passes`` completed. Returns (pass seconds, per-pass
    settle records)."""
    times, settles = [], []
    t_end = time.time() + seconds
    errors = 0
    i = 0
    while (len(times) < wl.min_passes or time.time() < t_end) \
            and errors < 3:
        i += 1
        t0 = time.time()
        try:
            if tracer is None:
                failed = wl.run(spark)
            else:
                with tracer.span(f"pass-{i}"):
                    failed = wl.run(spark, tracer)
            times.append(time.time() - t0)
        except Exception:  # noqa: BLE001 — a failed pass is failed work
            traceback.print_exc()
            errors += 1
            failed = wl.units
        tally.add(wl.units, failed)
        if wl.last:
            settles.append(wl.settle())
    return times, settles


def measure(wl, seconds: float, tally: Tally, proc_start: float,
            gen_s: float, trace: bool) -> dict:
    """The set-up (timed from process start, less input generation), then
    the timed passes; when tracing, passes for the same time again under
    the span tracer, and the per-layer metrics from the event log."""
    import layers as tr

    log_dir = os.path.join(WORK, "eventlog") if trace else None
    if log_dir:
        shutil.rmtree(log_dir, ignore_errors=True)
    spark = start_spark(log_dir)
    try:
        wl.open(spark)
        tally.add(*wl.checked_run(spark))
        setup_s = time.time() - proc_start - gen_s
        times, settles = timed_passes(wl, spark, seconds, tally)
        if trace:
            with tr.Tracer(spark) as tracer:
                ttimes, tsettles = timed_passes(wl, spark, seconds, tally,
                                                tracer)
    finally:
        stop_spark(spark)
    out = {"setup_s": setup_s, "job_s": times, "settles": settles}
    if trace:
        ev = tr.EventLog(tr.read_event_log(log_dir))
        shutil.rmtree(log_dir, ignore_errors=True)
        out["traced_job_s"] = ttimes
        out["layers"] = layer_metrics(wl, ev, tracer, tsettles)
    return out


def _under(prefix: str):
    return lambda d: (d == prefix or d.startswith(prefix + "/")
                      or d.startswith(prefix + "@"))


def layer_metrics(wl, ev, tracer, settles: list[dict]) -> dict:
    """Per-layer metrics of each traced pass; the median over passes."""
    import layers as tr
    from workloads import CURATION_QUERIES

    spans = tracer.spans
    per_pass: list[dict] = []
    top = [(p, t0, t1) for p, t0, t1, _ in spans if "/" not in p]
    for k, (path, t0, t1) in enumerate(top):
        m = ev.pass_profile(path, (t0, t1))

        def wall(name):
            return sum(b - a for p, a, b, _ in spans if p == f"{path}/{name}")

        def jobs(prefix):
            return len(ev.job_ids(_under(f"{path}/{prefix}")))

        if wl.name.startswith("extract"):
            py = ev.python_profile(_under(path))
        elif wl.name == "crawl_corpus":
            py = ev.python_profile(_under(f"{path}/crawl/lineage"))
        else:
            py = {"udf_s": 0.0, "tasks": 0, "shuffle_mb": 0.0,
                  "py_sent_mb": 0.0}
        m.update({"pipeline.udf_s": py["udf_s"],
                  "pipeline.tasks": py["tasks"],
                  "pipeline.spread_shuffle_mb": py["shuffle_mb"],
                  "pipeline.py_sent_mb": py["py_sent_mb"]})

        settle = settles[k] if k < len(settles) else {}
        m.update({
            "sources.index_s": wall("index"),
            "sources.index_jobs": jobs("index"),
            "sources.fetch_mb": settle.get("fetch_bytes", 0) / 1e6,
            "lineage.run_extract_s": wall("crawl/lineage"),
            "lineage.jobs": jobs("crawl/lineage"),
            "lineage.files_written": settle.get("store_files", 0),
            "lineage.bytes_written_mb": settle.get("store_bytes", 0) / 1e6,
            "crawl.jobs": jobs("crawl"),
            "crawl.persist_mb": ev.pinned_bytes(_under(f"{path}/crawl"))
            / 1e6,
            "crawl.write_amp": settle.get("write_amp", 0.0),
        })
        for name in tr.CRAWL_PASSES.values():
            m[f"crawl.{name}_s"] = sum(
                s for p, cp, s in tracer.sites
                if cp == name and _under(path)(p))
        cc = [(b - a, rec.get("rounds", 0)) for p, a, b, rec in spans
              if _under(path)(p) and p.endswith("/cc")]
        m.update({"cc.rounds": sum(r for _, r in cc),
                  "cc.s": sum(s for s, _ in cc),
                  "cc.jobs": len(ev.job_ids(
                      lambda d: _under(path)(d) and "/cc" in d))})
        for q in CURATION_QUERIES:
            m[f"plans.{q}_s"] = wall(q)
            m[f"plans.{q}.jobs"] = jobs(q)
        per_pass.append(m)
    return {k: statistics.median(p[k] for p in per_pass)
            for k in per_pass[0]} if per_pass else {}


def replay(wl, tally: Tally) -> dict:
    """Kernel replay of a sample of the workload's own pages; its text
    must equal the generator's and the Spark output's for those urls."""
    import layers as tr

    kind, pages, expected = wl.replay_pages()
    raster, web = {}, {}
    if kind == "raster":
        raster, texts = tr.replay_raster(pages)
    elif kind == "web":
        web, texts = tr.replay_web(pages)
    else:
        texts = {}
    spark_text = getattr(wl, "spark_text", {})
    bad = sum((t != expected.get(u) and u not in wl.known_defects)
              or (u in spark_text and spark_text[u] != t)
              for u, t in texts.items())
    tally.add(len(texts), bad)
    return tr.kernel_metrics(raster, web)


# ------------------------------------------------------------ main

def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    proc_start = _process_start()
    _reexec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = load_spec()
    try:
        import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2

    wl = workloads.WORKLOADS[args.workload]()
    t0 = time.time()
    wl.prepare(args.seed, WORK)
    gen_s = time.time() - t0
    rss = PeakRss()
    rss.start()
    tally = Tally()
    run = measure(wl, args.seconds, tally, proc_start, gen_s,
                  bool(args.trace))
    peak_mb = rss.stop()
    job_s = statistics.median(run["job_s"]) if run["job_s"] else None
    report = {"workload": wl.name, "seed": args.seed, "gen_s": gen_s,
              "setup_s": run["setup_s"], "job_s": run["job_s"],
              "units": wl.units, "docs": getattr(wl, "docs", wl.units),
              "attempted": tally.attempted, "failed": tally.failed,
              "failed_frac": tally.failed / max(1, tally.attempted),
              "known_defects": wl.known_defects, "peak_rss_mb": peak_mb,
              "peak_rss_parts_mb": rss.parts}
    if run["settles"]:
        report["write_amp"] = statistics.median(
            s["write_amp"] for s in run["settles"])

    if args.trace:
        ttimes, layers = run["traced_job_s"], run["layers"]
        layers.update(replay(wl, tally))
        layers["trace.overhead_s"] = (statistics.median(ttimes) - job_s
                                      if ttimes and job_s else 0.0)
        report["traced_job_s"] = ttimes
        report["layers"] = layers
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        e2e = {"setup_s": run["setup_s"],
               "job_s": job_s,
               "docs_per_s": (report["docs"] / job_s) if job_s else None,
               "peak_rss_mb": peak_mb}
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    shutil.rmtree(os.path.join(WORK, "crawl"), ignore_errors=True)
    report["failed_frac"] = tally.failed / max(1, tally.attempted)
    ok = (tally.failed == 0 and tally.attempted > 0
          and all(v["value"] is not None for v in metrics.values()))
    print(json.dumps(report))
    print(json.dumps({"correct": ok, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
