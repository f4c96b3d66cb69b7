"""SparkSession factory with the engine's scale-oriented defaults, and
``pin``: the one way the engine pins an intermediate.

Tuned for correctness parity with the DuckDB oracle (UTC session timezone)
and for Arrow-batched Python exchange. At cluster scale the same settings
apply; only master/memory come from spark-submit.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession


def get_spark(app: str = "findtextcenternet-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        # oracle parity: duckdb timestamps are UTC-naive
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate adds a `size(e)>0 AND isnotnull(e)`
        # pre-filter for every explode(e); predicate pushdown then sinks
        # it below exchanges to the scan, where the generator's full input
        # expression (word-split + per-gram slice/join transforms over
        # document text) is re-evaluated a SECOND time — on the scan
        # tasks, which the single-row-group sf fixtures serialize to one
        # core (measured: a 1.25M-row posexplode at sf1.0 took 5.6 s with
        # the rule and 0.8 s without; the rule only early-skips rows whose
        # generator input is empty, which our corpora essentially never
        # hit). Excluding an optimizer rule cannot change query results.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow exchange for pandas UDF stages
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        # corpus rows carry multi-KB binary html: the default 4096-row
        # columnar batch × many concurrent readers exhausts the heap at
        # high local parallelism; 512 keeps per-reader buffers ~MB-scale
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        # scan split size (guide §6): the sf fixtures are single files
        # whose row groups are ~22 MB, so the 128 MB default packs a whole
        # 6-row-group table into 1-2 splits and serializes the scan; 16 MB
        # aligns splits with row groups (measured: q1 0.49→0.39 s, j6
        # 0.76→0.63 s at sf1.0). Cluster runs on real multi-file inputs
        # should raise this to 512m-1g via the env knob for fewer, larger
        # map tasks feeding each shuffle (guide §2.2).
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return b.getOrCreate()


def observed(obs: Observation, key: str = "n") -> int:
    """Count or sum ``key`` of ``obs`` once an action over it ends (blocks
    until then); a node AQE pruned as empty ran no task and reads 0."""
    return int(obs._jo.getRow().size() and obs.get[key] or 0)


def pin(df: DataFrame, *metrics: Column) -> tuple[DataFrame, dict]:
    """The one way to pin an intermediate: ``(pinned, values)``. Later
    actions read the pinned blocks and never replay ``df``'s plan; the
    blocks live on executor-local storage, so a lost executor loses
    them.

    With ``metrics`` (aggregate columns with aliases) the pin is an
    EAGER ``localCheckpoint`` of ``df`` observed with them: one SQL
    query that runs every stage below it. ``values`` maps each alias to
    what that query saw, read once it has ended; an aggregate over no
    rows reads 0, whether AQE pruned the node as empty or not.

    Without metrics there is nothing to read, and the pin is a lazy
    ``localCheckpoint``: under AQE it runs the map stages below it now,
    and the first action that reads it runs the last stage and stores
    the blocks. That saves the eager pin's own job, which a loop that
    pins every round (PageRank's rank tables) would pay each round.

    ``pinned.unpersist()`` does not free a ``localCheckpoint``'s blocks
    (the checkpoint RDD stays in ``getRDDStorageInfo`` after
    ``unpersist(blocking=True)``), where it frees a ``persist``ed
    frame's; so no caller unpersists a pin."""
    if not metrics:
        return df.localCheckpoint(eager=False), {}
    obs = Observation()
    pinned = df.observe(obs, *metrics).localCheckpoint(eager=True)
    # a node AQE pruned as empty ran no task: its row has no fields
    values = (obs.get if obs._jo.getRow().size()
              else dict.fromkeys(df.select(*metrics).columns))
    return pinned, {k: 0 if v is None else v for k, v in values.items()}
