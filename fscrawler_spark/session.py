"""SparkSession factory tuned for the extraction workload.

Local-mode testing stands in for a multi-executor cluster; all knobs are
chosen to also be the right ones at 1000-executor scale:

* AQE on (runtime coalesce + skew-join splitting) — the scale answer to
  mega-conversation skew alongside explicit salting (SURVEY §4).
* Arrow batches bounded so a Python-UDF batch of ~100KB-payload turns
  stays well inside executor memory (the reference's 64KB spool threshold
  analog, TikaDocParser.java:93).
* shuffle partitions sized to cores locally; on a real cluster AQE
  coalesces from a high initial number.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


@contextmanager
def dynamic_partition_overwrite(spark: SparkSession):
    """Force partitionOverwriteMode=dynamic for the enclosed writes,
    restoring the caller's value afterwards.

    Every partitioned overwrite in this engine (wave writes in
    plans/pipeline.py, bucket rewrites in operators/deletes.py) REQUIRES
    dynamic mode: under Spark's default 'static' mode an overwrite drops
    ALL existing partitions, so the first wave of a resumed run would
    silently delete every previously completed bucket while the manifest
    still marks them done — permanent data loss. get_spark() sets the
    conf, but these functions accept any SparkSession, so they must not
    depend on who built it.
    """
    key = "spark.sql.sources.partitionOverwriteMode"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, "dynamic")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def widen(df, target: int | None = None):
    """Give a narrow input plan at least ``target`` partitions (default:
    the session's defaultParallelism) before CPU-amplified work.

    The shingle/token operators multiply per-row work ~w× (one input doc
    explodes to ~w shingle rows), but Spark sizes input splits by BYTES:
    a small-but-CPU-dense parquet file (or any unsplittable source) plans
    1-2 tasks and strands the other cores — measured at sf0.1/local[32]:
    minhash signatures 5.25s on the file's 2 natural splits vs 1.40s
    widened. At 100 TB the scan already has far more splits than cores,
    ``getNumPartitions() >= target`` holds, and this is a NO-OP — the
    round-robin exchange (of the slim projection only; callers widen
    AFTER pruning columns) is paid exactly when the input is small enough
    for it to be cheap, or pathological (one giant unsplittable file)
    where the redistribution is what you want anyway.

    Shuffle-derived inputs are left UNTOUCHED, for two reasons: their
    parallelism is already set by spark.sql.shuffle.partitions / AQE
    (never the byte-sized-split starvation this fixes), and — the sharp
    edge — under AQE ``df.rdd`` EXECUTES every upstream shuffle stage at
    plan time (AdaptiveSparkPlanExec materializes query stages to pick
    the final plan) and that work would be thrown away. The probe
    therefore runs only on Exchange-free plans, where ``.rdd`` compiles
    without running jobs (verified: 0 jobs for a scan, 2 for a join).

    Caveat (cluster deployments): defaultParallelism is read at CALL
    time — under dynamic allocation right after session start it can
    reflect only the executors registered so far. The floor below takes
    spark.sql.shuffle.partitions as a second opinion; callers that know
    their cluster width can pass ``target`` explicitly."""
    spark = df.sparkSession
    try:
        if "Exchange" in df._jdf.queryExecution().executedPlan().toString():
            return df
        n = df.rdd.getNumPartitions()
    except Exception:
        # a plan that refuses physical planning / RDD conversion will
        # raise again at the real action with the right stack trace;
        # widening is an optimization, never a requirement, so let the
        # action be the one to report it
        return df
    if target:
        tgt = target
    else:
        try:
            shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            shuffle_parts = 0
        tgt = max(spark.sparkContext.defaultParallelism, shuffle_parts)
    return df.repartition(tgt) if n < tgt else df


def widen_slim(df, *cols: str):
    """The shared shape of every widened operator: prune to exactly the
    columns the operator reads FIRST (the round-robin exchange must
    never carry columns it does not need), then widen. Keeps the
    original column names; callers alias afterwards."""
    from pyspark.sql import functions as F

    return widen(df.select(*[F.col(c) for c in cols]))


def materialize(df):
    """Materialize a DataFrame and cut its lineage, durably when possible.

    Reliable checkpoint() when the session has a checkpoint dir set
    (HDFS/S3 on a real cluster: the materialized blocks survive executor
    loss, so a 100-TB iteration or incremental tick does not restart
    because one executor died), else localCheckpoint (executor-local
    blocks — fine in local mode / short jobs). Shared by
    dedup.connected_components and the incremental tick so the
    durability policy cannot drift between operators."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def get_spark(
    app: str = "fscrawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 2_000,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if not cpus.isdigit():
        cpus = "32"
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash join when its size
        # conditions hold (guide §3.1/§9): the band-bucket self-joins and
        # id-keyed verify joins skip the per-partition sort; sort-merge
        # remains the fallback whenever the build side might not fit, and
        # AQE skew handling applies to both. Interleaved battery A/B at
        # 50k docs/local[32]: 25.9s -> 24.1s over 10 columns, no column
        # regressing beyond noise.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # reliable checkpoints (dedup.connected_components when a
        # checkpoint dir is set) are deleted on RDD GC only with this on;
        # default-false would orphan one snapshot per CC iteration
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ship the package to Python workers (spark-submit --py-files analog)
    from fscrawler_spark.artifact import ensure_shipped

    ensure_shipped(spark)
    return spark
