"""J2 sink side: apply the deletion set to the output table (+ F4
subtree pruning).

Reference: deletion detection reads back indexed filenames, diffs against
the live listing, and issues ES deletes (FsParser.java:1010-1057); the
.fscrawlerignore marker prunes whole subtrees (FsParser.java:99,896-906).

Spark shape: with an Iceberg catalog this is `MERGE/DELETE WHERE key IN
(delete_set)`; on plain partitioned parquet we rewrite ONLY the buckets
that contain deleted keys — partition-scoped rewrite, the same I/O shape
Iceberg's copy-on-write DELETE performs.

Crash safety (the poor man's snapshot commit): surviving rows are staged
in a side directory, then each live bucket dir is moved ASIDE (into the
stage dir) before the staged dir is renamed in; the aside copies are
dropped only after every bucket swapped. Nothing is deleted while it is
the only copy, so every crash window leaves a recoverable state, and
``_recover_stale_stage`` (run at the start of every apply_deletes)
finishes or rolls back an interrupted swap deterministically.

SINGLE-WRITER contract: like every mutation of a plain-parquet table
(including run_extraction_job itself), at most one apply_deletes may run
against an output table at a time — a second concurrent call would treat
the first's in-flight stage dir as crashed state and recover it from
under it. On a real deployment this entire module is an Iceberg
copy-on-write DELETE, whose optimistic snapshot commit provides the
multi-writer story.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_STAGE_MARK = "__delete_stage_"


def _fs_for(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm.org.apache.hadoop.fs.Path, hpath.getFileSystem(spark._jsc.hadoopConfiguration())


def _recover_stale_stage(spark: SparkSession, output_docs: str) -> None:
    """Finish or roll back swaps interrupted by a crash. For every bucket
    found in an orphaned stage dir: if the live dir is missing, restore
    it — preferring the STAGED (post-delete) copy, falling back to the
    ASIDE (pre-delete) copy; then drop the stage dir. Idempotent.

    Restored state is CONSISTENT per bucket but the interrupted delete
    may end half-applied (swapped buckets post-delete, rolled-back
    buckets pre-delete). That converges because callers in the job flow
    derive the delete set from the CURRENT table each time (J2
    deleted_keys recomputes the full set, not a delta), so the next call
    re-covers any rolled-back keys. A rename failure raises and leaves
    the stage dir in place — the only copy of a bucket is never deleted.
    """
    HPath, fs = _fs_for(spark, output_docs)
    parent = HPath(output_docs).getParent()
    name = HPath(output_docs).getName()
    if parent is None or not fs.exists(parent):
        return
    for st in fs.listStatus(parent):
        sname = st.getPath().getName()
        if not sname.startswith(name + _STAGE_MARK):
            continue
        stage = st.getPath()
        for entry in fs.listStatus(stage):
            ename = entry.getPath().getName()
            for prefix in ("part_bucket=", "aside_part_bucket="):
                if ename.startswith(prefix):
                    b = ename[len(prefix):]
                    live = HPath(f"{output_docs}/part_bucket={b}")
                    staged = HPath(f"{stage}/part_bucket={b}")
                    aside = HPath(f"{stage}/aside_part_bucket={b}")
                    if not fs.exists(live):
                        src = staged if fs.exists(staged) else (aside if fs.exists(aside) else None)
                        if src is not None and not fs.rename(src, live):
                            # do NOT fall through to the stage delete: the
                            # stage still holds the only copy of this bucket
                            raise IOError(
                                f"delete-stage recovery: failed to restore {src} -> {live}; "
                                "stage dir left in place"
                            )
                    break
        fs.delete(stage, True)


def recover_stale_stage(spark: SparkSession, output_docs: str) -> None:
    """Public recovery entry: callers that READ the table before mutating
    it (run_incremental_update) must recover interrupted swaps FIRST, or
    a crashed bucket's rows are invisible to their snapshot reads."""
    _recover_stale_stage(spark, output_docs)


def has_parquet_files(spark: SparkSession, path: str) -> bool:
    """True when any COMMITTED parquet data file exists under ``path`` —
    via the Hadoop FileSystem API so non-local URIs (s3a://, hdfs://)
    probe the real store (an os.walk would silently say False there;
    same scheme-agnostic rationale as _fs_for). Shared by the pipeline's
    lineage read-backs and apply_deletes' emptied-table no-op.

    Files under hidden path components (`_temporary/`, `.staging/`, any
    `_`/`.`-prefixed dir — the same convention Spark's reader uses to
    ignore them) do NOT count: a crashed in-flight write leaves ONLY
    such files, and answering True for them sends callers into
    `spark.read.parquet` which then raises Unable-to-infer-schema on a
    dir the reader considers empty."""
    HPath, fs = _fs_for(spark, path)
    hpath = HPath(path)
    if not fs.exists(hpath):
        return False
    base = str(fs.makeQualified(hpath)).rstrip("/")
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        fpath = str(it.next().getPath())
        if not fpath.endswith(".parquet"):
            continue
        rel = fpath[len(base):].lstrip("/") if fpath.startswith(base) else fpath
        if any(seg.startswith(("_", ".")) for seg in rel.split("/")):
            continue  # uncommitted/hidden: invisible to the reader
        return True
    return False


def apply_deletes(
    spark: SparkSession,
    output_docs: str,
    delete_keys: DataFrame,
    return_details: bool = False,
):
    """Remove (conv_id, turn_idx) keys from the docs table by rewriting
    only affected part_bucket partitions. Returns #rows deleted (or a
    {deleted, buckets} dict with ``return_details``).
    Re-running with the same keys is a no-op; an interrupted run is
    recovered by the next call (see _recover_stale_stage)."""
    _recover_stale_stage(spark, output_docs)
    if not has_parquet_files(spark, output_docs):
        # a prior delete emptied the whole table (no bucket dirs left):
        # re-running, or a tick over a vanished input, is a documented
        # no-op — reading the empty dir would AnalysisException instead
        return {"deleted": 0, "buckets": []} if return_details else 0
    docs = spark.read.parquet(output_docs)
    # duplicate keys in the delete set must not inflate the deleted count
    keys = delete_keys.select("conv_id", "turn_idx").distinct()
    # ONE job yields both the affected buckets and the deleted count
    # (previously: three jobs — affected collect + before.count + kept.count)
    hits = (
        docs.join(keys, ["conv_id", "turn_idx"])
        .groupBy("part_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if hits:
        # this is a PUBLIC mutation entry point: any snapshot index /
        # cached plan count derived from the docs table is stale the
        # moment buckets rewrite (invalidate_snapshot's contract — the
        # tick re-commits its marker AFTER its own apply_deletes call,
        # so the order stays correct there)
        from fscrawler_spark.functions.embeddings import clear_count_cache
        from fscrawler_spark.plans.bucketed import invalidate_snapshot

        invalidate_snapshot(os.path.dirname(output_docs.rstrip("/")))
        clear_count_cache()
    if not hits:
        return {"deleted": 0, "buckets": []} if return_details else 0
    affected = [r["part_bucket"] for r in hits]
    deleted = sum(r["n"] for r in hits)

    kept = (
        docs.filter(F.col("part_bucket").isin(affected))
        .join(keys, ["conv_id", "turn_idx"], "left_anti")
    )
    stage_and_swap_buckets(spark, output_docs, kept, affected)
    return {"deleted": deleted, "buckets": sorted(affected)} if return_details else deleted


def stage_and_swap_buckets(
    spark: SparkSession, output_docs: str, rows: DataFrame, buckets: list
) -> None:
    """Copy-on-write replacement of ``buckets`` with ``rows`` (which may
    lazily READ from output_docs — the write goes to a fresh staging
    directory, never the path being read).

    Staging preserves the stable within-partition turn ordering invariant
    (north_rule O1) and needs no partitionOverwriteMode. The swap runs
    per bucket via the Hadoop FileSystem API (scheme-agnostic: file:/,
    s3a://, hdfs:// all work; os-level moves would no-op on URIs). Order
    matters: the live dir moves ASIDE (same stage dir) before the staged
    result renames in, and aside copies are deleted only after ALL
    buckets swapped — no crash window deletes the only copy of a row. A
    bucket with no surviving rows has no staged dir; its aside move alone
    removes it from the table (dynamic partition overwrite could never
    empty it).

    REFUSES a directory owned by a Structured Streaming file sink
    (``_spark_metadata`` present): reads of such a dir go through the
    sink's transaction log, not directory listing, so swapped files
    would be invisible (or stale files resurrected) to every downstream
    read. Compact the streaming output into a plain batch table first.
    """
    HPath, fs = _fs_for(spark, output_docs)
    meta = HPath(output_docs.rstrip("/") + "/_spark_metadata")
    if fs.exists(meta):
        raise ValueError(
            f"{output_docs} is a Structured Streaming sink output "
            "(_spark_metadata present); bucket swaps would desync the "
            "sink log from the files. Compact it first: "
            "streaming.micro_batch.compact_streaming_output."
        )
    staging = output_docs.rstrip("/") + _STAGE_MARK + uuid.uuid4().hex[:8]
    (
        rows.repartition(max(1, len(buckets)), "part_bucket")
        .sortWithinPartitions("part_bucket", "conv_id", "turn_idx")
        .write.mode("overwrite")
        .partitionBy("part_bucket")
        .parquet(staging)
    )
    for b in buckets:
        live = HPath(f"{output_docs}/part_bucket={b}")
        staged = HPath(f"{staging}/part_bucket={b}")
        aside = HPath(f"{staging}/aside_part_bucket={b}")
        if fs.exists(live) and not fs.rename(live, aside):
            raise IOError(f"bucket swap: failed to move {live} aside")
        if fs.exists(staged) and not fs.rename(staged, live):
            raise IOError(f"bucket swap: failed to swap in {staged}")
    fs.delete(HPath(staging), True)
