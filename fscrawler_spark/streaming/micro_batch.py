"""Structured-Streaming form of the extraction job.

The reference is a micro-batch poller: rescan every ``update_rate``
(default 15m), wake early on checkpoint nextCheck (FsParser.java:488-556).
The Spark-native equivalent is a file-source readStream with
Trigger.AvailableNow — each trigger drains whatever new transcript files
landed, runs the identical extraction plan, and commits exactly-once via
the streaming checkpoint. Late/changed data (W2) is handled upstream by
the watermark predicate in operators.incremental.changed_since.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from fscrawler_spark.config import ExtractSettings
from fscrawler_spark.operators.extract import extract_transcripts

# ONE source of truth for the record contract: the batch reader's schema
# (a hand-maintained copy here had already drifted on nullability)
from fscrawler_spark.sources.transcripts import TRANSCRIPT_SCHEMA, validate_schema


def _reject_unpartitioned_legacy_output(spark: SparkSession, output_dir: str) -> None:
    """A pre-partitionBy output dir has part-*.parquet files at the ROOT;
    appending part_bucket=N/ dirs next to them leaves mixed leaf depths
    and partition discovery fails with 'Conflicting directory structures'
    on the NEXT read — fail at the write with a migration hint instead."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(output_dir)
    try:
        fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(root):
            return
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if st.isFile() and name.startswith("part-") and name.endswith(".parquet"):
                raise ValueError(
                    f"{output_dir} holds an UNPARTITIONED (pre-round-3) "
                    "streaming output; appending partitioned data would mix "
                    "layouts. Compact it (read + write partitionBy "
                    "'part_bucket' elsewhere) or point at a fresh dir."
                )
    except Py4JJavaError:
        # unreadable store: let the sink raise its own, better error
        return


def run_streaming_extraction(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    settings: ExtractSettings | None = None,
    await_termination: bool = True,
):
    """One AvailableNow drain: new parquet files -> extraction -> append.

    Exactly-once across restarts comes from the streaming checkpoint
    (source offsets + file sink log) — the streaming twin of the batch
    CheckpointManifest.
    """
    settings = settings or ExtractSettings()
    _reject_unpartitioned_legacy_output(spark, output_dir)
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )
    # same cast/projection preflight as the batch path (pure projection,
    # streaming-safe) so batch and streaming outputs share one schema
    docs = extract_transcripts(validate_schema(stream), settings)
    q = (
        docs.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        # same docs/part_bucket=N/ DIRECTORY layout as the batch sink
        # (partition-pruned reads work identically). Two deliberate
        # divergences from full batch parity: (1) this dir is OWNED by
        # the file sink's _spark_metadata log — the batch bucket-swap /
        # delete machinery refuses it (stage_and_swap_buckets guard) and
        # a compaction to a plain table is the migration path; (2) the
        # O1 within-file (conv_id, turn_idx) ordering is NOT guaranteed:
        # Spark disallows sort on streaming DataFrames, so byte-stable
        # listing output requires the batch job.
        .partitionBy("part_bucket")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def compact_streaming_output(
    spark: SparkSession,
    streaming_dir: str,
    output_dir: str,
    settings: ExtractSettings | None = None,
) -> dict:
    """One-way migration: streaming file-sink output -> plain batch table.

    The streaming sink's directory is OWNED by its `_spark_metadata`
    transaction log: batch mutation machinery (bucket swaps, deletes,
    incremental ticks) refuses it, because file-level changes would
    desync the log (stage_and_swap_buckets guard). This is the documented
    migration path out: read the sink THROUGH its log (so uncommitted /
    orphaned files are excluded — a crashed trigger's leftovers must not
    resurrect), rewrite as a normal partitioned table WITH the batch
    sink's stable (conv_id, turn_idx) within-partition ordering (O1 —
    the one guarantee streaming cannot give, Spark disallows streaming
    sort), and stamp a COMPLETED checkpoint manifest so every batch
    operator (tick, deletes, resume, REST status) works on the result.

    ``settings`` must be the settings the stream ran with: they are
    recorded in the manifest fingerprint that guards later ticks (we
    cannot re-derive them from the data — same trusted-caller contract
    as resuming any run). Refuses a torn mid-restart target, a target
    dir that already holds ANY table state (docs parquet, manifest, or
    metrics — stale bookkeeping must never merge under a fresh table),
    and a source dir that is not a streaming sink.

    Scale shape: one pass — log-driven scan, ONE full-corpus hash
    repartition on part_bucket (the price of one sorted file per bucket,
    exactly like a batch wave write), sortWithinPartitions, write.
    Lineage is written BEFORE the manifest flips to COMPLETED (same
    crash invariant as run_extraction_job: a COMPLETED table always has
    its metric rows), and the row count is folded from the lineage rows
    — no second corpus scan. Reference analog: none — the reference has
    no streaming mode; this completes the Spark-native W1 loop back
    into the batch lifecycle.
    """
    from fscrawler_spark.plans.pipeline import _JobLock, _refuse_mid_restart

    settings = settings or ExtractSettings()
    _refuse_mid_restart(output_dir)
    with _JobLock(output_dir, "compact"):
        return _compact_locked(spark, streaming_dir, output_dir, settings)


def _compact_locked(spark, streaming_dir, output_dir, settings):
    import os

    from fscrawler_spark.operators.deletes import _fs_for, has_parquet_files
    from fscrawler_spark.plans import bucketed as snap
    from fscrawler_spark.plans.checkpoint import CheckpointManifest
    from fscrawler_spark.plans.pipeline import _write_lineage
    import uuid as _uuid

    HPath, fs = _fs_for(spark, streaming_dir)
    if not fs.exists(HPath(streaming_dir.rstrip("/") + "/_spark_metadata")):
        raise ValueError(
            f"{streaming_dir} is not a streaming file-sink output "
            "(_spark_metadata absent) — nothing to compact; batch tables "
            "are already in their final layout"
        )
    out_data = os.path.join(output_dir, "docs")
    out_metrics = os.path.join(output_dir, "metrics")
    # "fresh directory" means NO prior table state at all: an emptied
    # docs dir with a leftover manifest/metrics would pass a parquet-only
    # probe and silently merge new rows under stale bookkeeping
    if (
        has_parquet_files(spark, out_data)
        or has_parquet_files(spark, out_metrics)
        or os.path.exists(os.path.join(output_dir, "_checkpoint.json"))
    ):
        raise ValueError(
            f"{output_dir} already holds a docs table, metrics, or a "
            "checkpoint manifest — compact into a fresh directory (the "
            "tick/delete machinery owns existing ones)"
        )

    # the log-driven read: Spark routes this through FileStreamSinkLog
    # because _spark_metadata exists at the exact path queried
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        docs = spark.read.parquet(streaming_dir)
    except AnalysisException as e:
        # Spark 4 surfaces schema-inference failure for an empty sink as
        # the legacy condition 1134 ("Unable to infer schema for
        # Parquet"); match the condition first, message as fallback
        cond = getattr(e, "getCondition", lambda: None)()
        if cond == "_LEGACY_ERROR_TEMP_1134" or "Unable to infer schema" in str(e):
            raise ValueError(
                f"{streaming_dir} holds no committed streaming files yet — "
                "run the stream before compacting"
            ) from e
        raise  # any OTHER analysis failure is real; never rebrand it
    run_id = f"compact-{_uuid.uuid4().hex[:12]}"
    (
        docs.repartition(settings.num_buckets, "part_bucket")
        .sortWithinPartitions("part_bucket", "conv_id", "turn_idx")
        .write.mode("overwrite")
        .partitionBy("part_bucket")
        .parquet(out_data)
    )
    # any pre-existing snapshot index for this path (e.g. an emptied-and-
    # reused output dir) now describes the WRONG table — same lifecycle
    # rule as every other mutation entry point
    snap.drop_snapshot(spark, output_dir)
    # lineage FIRST (crash between here and finish() leaves an
    # un-finished manifest, which a rerun refuses — never a COMPLETED
    # table with no metric rows); row count folds from the lineage rows
    mrows = _write_lineage(
        spark, out_data, out_metrics, run_id, list(range(settings.num_buckets))
    )
    rows = int(sum(r["turn_count"] for r in mrows))
    manifest = CheckpointManifest.load_or_create(
        os.path.join(output_dir, "_checkpoint.json"),
        num_buckets=settings.num_buckets,
        settings_fingerprint=settings.fingerprint(),
    )
    manifest.mark_completed(list(range(settings.num_buckets)), rows=rows)
    manifest.finish()
    return {"run_id": run_id, "rows": rows, "buckets": len(mrows)}
